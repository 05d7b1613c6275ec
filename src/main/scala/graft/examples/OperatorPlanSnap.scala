package graft.examples

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.Sessions
import graft.dedup.{DedupConfig, DedupPipeline}
import graft.io.SyntheticCorpus

/** Plan captures for operator internals that the query-level snapshots
  * cannot show: q_minhash_lsh_dedup and the flagship pipeline run their
  * LSH/verify/CC machinery eagerly (checkpointed) during query
  * CONSTRUCTION, so plans/r06/q_minhash_* only contains the final
  * assignment join. This runs the flagship's stage graph
  * (`DedupPipeline.stages`) with a hold that dumps the formatted plan of
  * each stage's builder before truncating it — signatures, scored
  * (candidate generation + the stacked verify join), substr_edges,
  * assign, flags — plus the LSH overflow count, over the synthetic
  * corpus. Files are `op_<stage>_<suffix>.txt`. Usage: runMain
  * graft.examples.OperatorPlanSnap <outDir> <suffix> [nDocs] */
object OperatorPlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val n = if (args.length > 2) args(2).toLong else 20000L
    val spark = Sessions.local(4, "graft-operator-plan-snap")
    Files.createDirectories(Paths.get(outDir))
    val cfg = DedupConfig(allowedLangs = Some(Set("en")))
    def snap(name: String, df: DataFrame): Unit = {
      Files.writeString(Paths.get(outDir, s"op_${name}_$suffix.txt"),
        df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      println(s"PLAN op_$name -> $outDir/op_${name}_$suffix.txt")
    }
    val st = DedupPipeline.stages(SyntheticCorpus.pages(spark, n), cfg) { (name, build) =>
      val df = build()
      snap(name, df)
      graft.Caches.truncate(df)
    }
    snap("lsh_overflow", st.overflow)
    Sessions.stop(spark)
  }
}
