package graft.examples

import org.apache.spark.sql.{functions => F}
import graft.Sessions
import graft.dedup.{DedupConfig, DedupPipeline}
import graft.io.SyntheticCorpus

/** Example / verification driver: run the flagship near-dup pipeline on
  * the deterministic synthetic corpus and print the stage report.
  *
  * Usage: sbt 'runMain graft.examples.FlagshipDemo [nDocs]'
  */
object FlagshipDemo {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000L)
    val spark = Sessions.local(8, "graft-flagship-demo",
      sys.env.get("SPARK_GRAFT_MASTER").map("spark.master" -> _).toSeq: _*)

    // SQL surface: every custom expression callable from spark.sql
    graft.functions.GraftFunctions.register(spark)
    val pages = SyntheticCorpus.pages(spark, n)
    pages.createOrReplaceTempView("pages")
    spark.sql(
      """SELECT url, simhash64(shingle_hashes(text, 9)) AS simhash,
        |       size(minhash_signature(shingle_hashes(text, 9), 128)) AS mh_len
        |FROM pages WHERE length(text) > 0 LIMIT 3""".stripMargin)
      .show(truncate = false)
    val res = DedupPipeline.run(pages, DedupConfig(allowedLangs = Some(Set("en"))))
    res.metrics.show(30, truncate = false)
    println("sample duplicate clusters:")
    res.clusters.where(!F.col("is_canonical")).show(5, truncate = false)
    println(s"deduped=${res.deduped.count()} duplicates=${res.duplicates.count()} " +
      s"rejects=${res.rejects.count()} near_misses=${res.nearMisses.count()}")

    // routed multi-way sink (one pass, hive-style route partitions)
    val outDir = java.nio.file.Files.createTempDirectory("graft-demo-out-").toString
    graft.io.DedupOutputs.writeRouted(res, outDir)
    val routed = spark.read.parquet(s"$outDir/pages_routed")
    routed.groupBy("route").count().orderBy("route").collect()
      .foreach(r => println(s"ROUTE ${r.getString(0)}=${r.getLong(1)}"))

    // minimal-schema run (url, text, lang only)
    val slim = pages.select("url", "text", "lang")
    val res2 = DedupPipeline.run(slim, DedupConfig(substringPass = false))
    println(s"slim-run deduped=${res2.deduped.count()}")

    // degenerate input: everything rejected
    val junk = spark.sql("select 'u://x' as url, '' as text, 'en' as lang")
    val res3 = DedupPipeline.run(junk, DedupConfig())
    println(s"junk rejects=${res3.rejects.count()} deduped=${res3.deduped.count()}")

    println("FLAGSHIP-DEMO-DONE")
    Sessions.stop(spark)
  }
}
