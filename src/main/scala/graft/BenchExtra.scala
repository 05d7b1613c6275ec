package graft

/** Extra benchmark main (guide §1.4) — NOT the driver's harness
  * (`graft.Bench` is frozen): times named SparkEntry queries (all if none
  * named) on an sf dir with the noop sink, repeated `SPARK_GRAFT_EXTRA_REPS`
  * times (default 2), reporting every sample and the min. One untimed
  * warmup pass over the same queries at sf0.001 mirrors the frozen
  * harness's JVM warmup so numbers are comparable to bench.json's.
  *
  * Usage: sbt 'runMain graft.BenchExtra /root/testdata/sf0.1 [q1 q2 ...]'
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val reps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "2").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus, "graft-bench-extra")

    val warmDir = sys.env.getOrElse("SPARK_GRAFT_EXTRA_WARMUP_DIR", "/root/testdata/sf0.001")
    if (warmDir != sfDir && java.nio.file.Files.isDirectory(java.nio.file.Paths.get(warmDir))) {
      names.foreach { n =>
        try SparkEntry.queries(n)(spark, warmDir)
          .write.mode("overwrite").format("noop").save()
        catch { case e: Throwable => System.err.println(s"[extra] warmup $n: ${e.getMessage}") }
      }
      Caches.release(spark)
      spark.catalog.clearCache()
    }

    val out = names.map { n =>
      val samples = (1 to reps).map { _ =>
        spark.sparkContext.setJobDescription(s"extra: $n")
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        val t = (System.nanoTime() - t0) / 1e9
        Caches.release(spark)
        spark.catalog.clearCache()
        t
      }
      println(f"EXTRA $n min=${samples.min}%.3f samples=${samples.map(s => f"$s%.3f").mkString(",")}")
      n -> samples.min
    }
    println(f"EXTRA_TOTAL min-sum=${out.map(_._2).sum}%.3f over ${out.size} queries, reps=$reps")
    Sessions.stop(spark)
  }
}
