package graft.examples
import org.apache.spark.sql.{functions => F}
import graft.Sessions
import graft.dedup.{DedupConfig, DedupPipeline}
import graft.io.SyntheticCorpus

/** Dup-pair recall of the flagship pipeline vs planted ground truth at an
  * arbitrary corpus size — regenerates the ≥0.99 recall evidence:
  * `runMain graft.examples.RecallProbe <nDocs>`. A planted (donor, dup)
  * pair counts as recalled iff both land in the same cluster. */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    val spark = Sessions.local(32, "graft-recall-probe", "spark.local.dir" ->
      sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"))

    val res = DedupPipeline.run(SyntheticCorpus.pages(spark, n),
      DedupConfig(allowedLangs = Some(Set("en"))))
    // url → planted id (the generator's key), joined to cluster ids
    val clusters = res.clusters
      .select(F.regexp_extract(F.col("url"), "page(\\d+)$", 1).cast("long").as("pid"),
        F.col("cluster_id"))
    val truth = SyntheticCorpus.truthPairs(spark, n)
    val joined = truth
      .join(clusters.withColumnRenamed("pid", "donor_id")
        .withColumnRenamed("cluster_id", "c_donor"), Seq("donor_id"), "left")
      .join(clusters.withColumnRenamed("pid", "dup_id")
        .withColumnRenamed("cluster_id", "c_dup"), Seq("dup_id"), "left")
    val perKind = joined.groupBy("kind").agg(
      F.count(F.lit(1)).as("pairs"),
      F.sum(F.when(F.col("c_donor").isNotNull &&
        F.col("c_donor") === F.col("c_dup"), 1L).otherwise(0L)).as("recalled"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    perKind.foreach { case (k, p, r) =>
      println(f"RECALL-KIND $k pairs=$p recalled=$r recall=${r.toDouble / p}%.6f")
    }
    val (pairs, recalled) = (perKind.map(_._2).sum, perKind.map(_._3).sum)
    println(f"RECALL n=$n pairs=$pairs recalled=$recalled recall=${recalled.toDouble / pairs}%.6f")
    res.cleanup()
    Sessions.stop(spark)
  }
}
