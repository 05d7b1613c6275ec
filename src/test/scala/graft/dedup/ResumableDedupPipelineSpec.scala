package graft.dedup

import java.nio.file.{Files, Path}
import java.util.Comparator

import graft.SparkSpec
import graft.io.{StageStore, SyntheticCorpus}
import org.apache.spark.sql.{functions => F}

/** Kill-resume discipline tests — the analog of the reference's atomic
  * tmp-rename + txn-batching durability (SURVEY.md §5 test plan (c)). */
class ResumableDedupPipelineSpec extends SparkSpec {

  private def tmpDir(): Path = Files.createTempDirectory("graft-stage-")
  private def rmRf(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  private val cfg = DedupConfig(allowedLangs = Some(Set("en")))

  test("StageStore: committed stage is reloaded, builder never re-evaluated") {
    val spark2 = spark
    import spark2.implicits._
    val root = tmpDir()
    try {
      val store = new StageStore(spark, root.toString)
      val first = store.runStaged("s1")(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      assert(first.count() === 2)
      val second = store.runStaged("s1") {
        fail("builder must not run for a committed stage"): org.apache.spark.sql.DataFrame
      }
      assert(second.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
      // lineage recorded: per-partition counts sum to table count
      val lin = store.lineage().where(F.col("stage") === "s1")
      assert(lin.agg(F.sum("row_count")).head().getLong(0) === 2)
    } finally rmRf(root)
  }

  test("StageStore: a stage dir without _SUCCESS (killed mid-write) is rebuilt") {
    val spark2 = spark
    import spark2.implicits._
    val root = tmpDir()
    try {
      val store = new StageStore(spark, root.toString)
      // simulate a kill: data dir exists, no _SUCCESS marker
      Files.createDirectories(root.resolve("s2"))
      Files.writeString(root.resolve("s2/part-garbage"), "partial")
      assert(!store.isCommitted("s2"))
      val df = store.runStaged("s2")(Seq((7L, "x")).toDF("id", "v"))
      assert(df.count() === 1)
      assert(store.isCommitted("s2"))
    } finally rmRf(root)
  }

  test("pipeline resumes mid-run: later stages rebuilt from committed earlier stages") {
    val root = tmpDir()
    try {
      val pages = SyntheticCorpus.pages(spark, 600)
      val store = new StageStore(spark, root.toString)
      val full = ResumableDedupPipeline.run(pages, cfg, store)
      val expected = full.clusters.collect()
        .map(r => (r.getString(0), r.getLong(2), r.getBoolean(3))).sorted.toSeq

      // simulate a job killed after 'scored' committed: drop later stages
      rmRf(root.resolve("assign"))
      rmRf(root.resolve("flags"))
      def mtimes(stage: String): Map[String, Long] = {
        val d = root.resolve(stage)
        Files.list(d).toArray.map(_.asInstanceOf[Path])
          .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis)
          .toMap
      }
      val sigMt = mtimes("signatures")
      val scoredMt = mtimes("scored")
      val resumed = ResumableDedupPipeline.run(pages, cfg, store)
      val got = resumed.clusters.collect()
        .map(r => (r.getString(0), r.getLong(2), r.getBoolean(3))).sorted.toSeq
      assert(got === expected)
      // committed stages were served from store, not rewritten
      assert(mtimes("signatures") === sigMt)
      assert(mtimes("scored") === scoredMt)
      assert(store.isCommitted("assign") && store.isCommitted("flags"))
    } finally rmRf(root)
  }

  test("resumable result matches the non-resumable pipeline, nearMisses included") {
    val root = tmpDir()
    try {
      val pages = SyntheticCorpus.pages(spark, 600)
      val store = new StageStore(spark, root.toString)
      val res = ResumableDedupPipeline.run(pages, cfg, store)
      val ref = DedupPipeline.run(pages, cfg)
      def pairs(df: org.apache.spark.sql.DataFrame) = df
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(pairs(res.nearMisses) === pairs(ref.nearMisses))
      assert(res.nearMisses.columns.sorted === ref.nearMisses.columns.sorted)
      def clus(df: org.apache.spark.sql.DataFrame) = df
        .select("url", "cluster_id", "is_canonical").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).sorted.toSeq
      assert(clus(res.clusters) === clus(ref.clusters))
      ref.cleanup()
    } finally rmRf(root)
  }

  test("metric parity: plain run, cold resumable run, full resume and the store's table agree") {
    val root = tmpDir()
    try {
      // three more copies of page 0 make a 4-page group whose band
      // buckets exceed a cap of 3: the LSH overflow counters are non-zero,
      // so the full resume must re-count them from the stored signatures
      val base = SyntheticCorpus.pages(spark, 600)
      val page0 = base.where(F.col("url") === "https://example.org/site0/page0")
      val pages = (1 to 3).map(i => page0.withColumn("url", F.concat(F.col("url"), F.lit(s"-copy$i"))))
        .foldLeft(base)(_ unionByName _)
      val capped = cfg.copy(maxBucketSize = 3)
      def table(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
        df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      val plain = DedupPipeline.run(pages, capped)
      val ref = table(plain.metrics)
      plain.cleanup()
      val keys = ref.map(_._1).toSet
      assert(Set("pages_total", "rejects", "reject_lang", "clusters_multi",
        "lsh_overflow_buckets", "lsh_overflow_rows").subsetOf(keys))
      assert(ref.toMap.apply("lsh_overflow_buckets") > 0)

      val store = new StageStore(spark, root.toString)
      val cold = ResumableDedupPipeline.run(pages, capped, store)
      assert(table(cold.metrics) === ref)
      assert(table(store.metrics()) === ref)

      // full resume: every stage is committed, so no builder runs
      val stages = Seq("signatures", "scored", "substr_edges", "assign", "flags")
      assert(stages.forall(store.isCommitted))
      val committed = stages.map(st => st -> Files.getLastModifiedTime(root.resolve(st).resolve("_SUCCESS")).toMillis)
      val resumed = ResumableDedupPipeline.run(pages, capped, new StageStore(spark, root.toString))
      assert(table(resumed.metrics) === ref)
      assert(stages.map(st => st -> Files.getLastModifiedTime(root.resolve(st).resolve("_SUCCESS")).toMillis) === committed)
      // one table per run, each equal to the plain run's
      val stored = store.metrics()
      assert(stored.select("run").distinct().count() === 2L)
      assert(table(stored.where(F.col("run") === 1)) === ref)
      assert(table(stored.where(F.col("run") === 2)) === ref)
      resumed.cleanup()
    } finally rmRf(root)
  }

  test("store binding: resume with a changed config or input fails fast") {
    val root = tmpDir()
    try {
      val store = new StageStore(spark, root.toString)
      ResumableDedupPipeline.run(SyntheticCorpus.pages(spark, 300), cfg, store)
      // changed config, same store → refuse (would mix stale stages)
      val e1 = intercept[IllegalArgumentException] {
        ResumableDedupPipeline.run(SyntheticCorpus.pages(spark, 300),
          cfg.copy(tau = 0.5), store)
      }
      assert(e1.getMessage.contains("bound to a different run"))
      // changed input, same store → refuse
      val e2 = intercept[IllegalArgumentException] {
        ResumableDedupPipeline.run(SyntheticCorpus.pages(spark, 320), cfg, store)
      }
      assert(e2.getMessage.contains("bound to a different run"))
      // same config + input → resumes cleanly
      val again = ResumableDedupPipeline.run(SyntheticCorpus.pages(spark, 300), cfg, store)
      assert(again.clusters.count() > 0)
    } finally rmRf(root)
  }

  test("store binding: a store bound without the layout tag is refused") {
    val root = tmpDir()
    try {
      val pages = SyntheticCorpus.pages(spark, 300)
      val store = new StageStore(spark, root.toString)
      ResumableDedupPipeline.run(pages, cfg, store)
      val binding = root.resolve("_binding")
      val tag = ResumableDedupPipeline.StoreLayout + " "
      val bound = Files.readString(binding)
      assert(bound.startsWith(tag))
      // a store bound before the layout tag existed
      Files.writeString(binding, bound.stripPrefix(tag))
      val e = intercept[IllegalArgumentException] {
        ResumableDedupPipeline.run(pages, cfg, store)
      }
      assert(e.getMessage.contains("bound to a different run"))
    } finally rmRf(root)
  }
}
