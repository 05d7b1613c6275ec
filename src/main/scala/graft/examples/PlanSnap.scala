package graft.examples

import java.nio.file.{Files, Paths}

import graft.Sessions

/** Snapshot `explain("formatted")` of every SparkEntry query into one file
  * per query — the before/after plan evidence for optimization rounds.
  *
  * Usage: sbt 'runMain graft.examples.PlanSnap <outDir> <suffix> [sfDir] [q...]'
  * writes <outDir>/<query>_<suffix>.txt for each query.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    val names = if (args.length > 3) args.drop(3).toSeq
                else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local(4, "graft-plan-snap")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), plan)
        println(s"PLAN $n -> $outDir/${n}_$suffix.txt")
      } catch { case e: Throwable =>
        println(s"PLAN $n FAILED: ${e.getMessage}")
      }
      graft.Caches.release(spark)
      spark.catalog.clearCache()
    }
    Sessions.stop(spark)
  }
}
