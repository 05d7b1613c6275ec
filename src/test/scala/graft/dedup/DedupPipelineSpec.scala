package graft.dedup

import graft.SparkSpec
import graft.io.SyntheticCorpus
import org.apache.spark.sql.{functions => F}

/** End-to-end pipeline tests on the planted synthetic corpus — the analog
  * of the reference's golden-output dedup tests
  * (reference/dupliganger/test/test_dedup.py): planted dups must cluster,
  * rejects must route, emission must preserve text bytes per url, and the
  * result must be identical across partitionings. */
class DedupPipelineSpec extends SparkSpec {

  private val n = 1000L
  private val cfg = DedupConfig(allowedLangs = Some(Set("en")))

  private lazy val corpus = SyntheticCorpus.generate(spark, n).toDF().cache()
  private lazy val pages = corpus.select("url", "warc_ts", "html", "text", "lang")
  private lazy val result = {
    val r = DedupPipeline.run(pages, cfg)
    DedupResult(r.flagged.cache(), r.deduped.cache(), r.duplicates.cache(),
      r.clusters.cache(), r.nearMisses.cache(), r.rejects.cache(), r.metrics.cache())
  }

  private def idOfUrl(url: String): Long = url.split("page").last.toLong

  test("dup-pair recall = 1.0 on planted exact/near/substring pairs") {
    val clusterOf = result.clusters.collect()
      .map(r => idOfUrl(r.getString(0)) -> r.getLong(2)).toMap
    val truth = SyntheticCorpus.truthPairs(spark, n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val missed = truth.filterNot { case (donor, dup, _) =>
      clusterOf.get(donor).isDefined && clusterOf.get(donor) == clusterOf.get(dup)
    }
    assert(missed.isEmpty,
      s"missed ${missed.length}/${truth.length} planted pairs: ${missed.take(5).mkString(",")}")
  }

  test("no false merges: docs in one cluster share a planted lineage") {
    // ground-truth component = the donor id for dups, own id for uniques
    val truthRoot = (0L until n).map { id =>
      val d = SyntheticCorpus.donorOf(id)
      id -> (if (d >= 0) d else id)
    }.toMap
    val byCluster = result.clusters.collect()
      .map(r => (idOfUrl(r.getString(0)), r.getLong(2)))
      .groupBy(_._2).values
    byCluster.foreach { members =>
      val roots = members.map(m => truthRoot(m._1)).distinct
      assert(roots.length === 1,
        s"false merge: cluster with members ${members.map(_._1).mkString(",")}")
    }
  }

  test("exactly one canonical winner per cluster; deduped = canonicals") {
    val perCluster = result.clusters.groupBy("cluster_id")
      .agg(F.sum(F.when(F.col("is_canonical"), 1).otherwise(0)).as("wins"))
    assert(perCluster.where(F.col("wins") =!= 1).count() === 0)
    assert(result.deduped.count() ===
      result.clusters.select("cluster_id").distinct().count())
  }

  test("rejects routed: empty text and lang!=en, with reasons") {
    val rejectIds = result.rejects.collect().map(r =>
      idOfUrl(r.getAs[String]("url"))).toSet
    val expected = (0L until n).filter(id => SyntheticCorpus.kindOf(id) == "reject").toSet
    assert(rejectIds === expected)
    val reasons = result.rejects.select("reject_reason").distinct().collect()
      .map(_.getString(0)).toSet
    assert(reasons.subsetOf(Set("empty_text", "lang", "null_text", "no_content", "dup_url")))
    // rejects never reach any dedup output
    assert(result.flagged.join(result.rejects.select("url"), Seq("url")).count() === 0)
  }

  test("per-row invariant: byte-identical text and html per url in every output") {
    val orig = pages.select(F.col("url"), F.col("text").as("t0"), F.col("html").as("h0"))
    for (out <- Seq(result.flagged, result.deduped, result.duplicates)) {
      val bad = out.join(orig, "url")
        .where(F.col("text") =!= F.col("t0") || F.md5(F.col("html")) =!= F.md5(F.col("h0")))
      assert(bad.count() === 0)
    }
  }

  test("counts: duplicates_removed = planted dup count; outputs partition pages") {
    val planted = (0L until n).count(id =>
      Set("exact", "near", "substr").contains(SyntheticCorpus.kindOf(id)))
    assert(result.duplicates.count() === planted)
    assert(result.deduped.count() + result.duplicates.count() +
      result.rejects.count() === n)
  }

  test("near-miss tags ride emission: flagged rows of near-miss docs carry their closest miss") {
    val nm = result.nearMisses.select("a", "b", "est_jaccard").collect()
      .flatMap(r => Seq(r.getLong(0) -> (r.getLong(1), r.getDouble(2)),
        r.getLong(1) -> (r.getLong(0), r.getDouble(2))))
    val bestEst = nm.groupBy(_._1).view.mapValues(_.map(_._2._2).max).toMap
    val tagged = result.flagged
      .select("doc_id", "near_miss_id", "near_miss_est_jaccard").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getDouble(2))))).toMap
    // every doc in a near-miss pair is tagged with its best est-Jaccard...
    bestEst.foreach { case (id, best) =>
      assert(tagged.get(id).flatten.isDefined, s"doc $id lost its near-miss tag")
      assert(tagged(id).get._2 === best,
        s"doc $id tagged with ${tagged(id).get._2}, best miss is $best")
    }
    // ...and docs with no near miss stay untagged (left join, not inner)
    val untagged = tagged.filter(_._2.isEmpty).keySet
    assert(untagged.nonEmpty)
    assert(untagged.intersect(bestEst.keySet).isEmpty)
  }

  test("determinism: identical clusters across input partitionings") {
    val r2 = DedupPipeline.run(pages.repartition(17), cfg)
    val a = result.clusters.select("url", "cluster_id", "is_canonical")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).sorted.toSeq
    val b = r2.clusters.select("url", "cluster_id", "is_canonical")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).sorted.toSeq
    assert(a === b)
  }

  test("metrics report the stage counters") {
    val m = result.metrics.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("pages_total") === n)
    assert(m("rejects") === result.rejects.count())
    assert(m("verified_pairs") >= 1L)
    assert(m("substring_pairs") >= 1L)
    assert(m("lsh_overflow_rows") === 0L)
  }

  test("distance histograms: 8 buckets per family, totals = candidate pairs") {
    val m = result.metrics.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ej = (0 until 8).map(b => m(s"hist_est_jaccard_$b"))
    val hm = (0 until 8).map(b => m(s"hist_sim_hamming_$b"))
    assert(ej.sum === m("candidate_pairs"))
    assert(hm.sum === m("candidate_pairs"))
    // verified pairs have est ≥ τ = 0.8 → buckets 6 (est < 0.875) and 7
    assert(ej(6) + ej(7) >= m("verified_pairs"))
  }

  test("windowed-quality gate: garbage-run docs route to rejects('low_quality')") {
    val spark2 = spark
    import spark2.implicits._
    val now = new java.sql.Timestamp(1700000000000L)
    val rows = Seq(
      ("https://q.example/clean", "perfectly clean english prose with many good alpha words here", "en"),
      ("https://q.example/spam", "good start then 00 11 22 33 44 55 66 77 and recovery words after", "en"))
      .map { case (u, t, l) => (u, now, t.getBytes("UTF-8"), t, l) }
    val df = rows.toDF("url", "warc_ts", "html", "text", "lang")
    val r = DedupPipeline.run(df,
      DedupConfig(minWindowQualityPm = 300, qualityWin = 4, substringPass = false))
    val rej = r.rejects.select("url", "reject_reason").collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(rej === Map("https://q.example/spam" -> "low_quality"))
    assert(r.flagged.select("url").collect().map(_.getString(0)).toSet
      === Set("https://q.example/clean"))
    // the reject is counted in the report like every other gate reason
    val m = r.metrics.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(m("reject_low_quality") === 1L)
    assert(m("pages_total") === 2L)
  }

  test("NULL lang is rejected when a language whitelist is set") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq(
      ("https://x/1", "the quick brown fox jumps over the lazy dog again", "en"),
      ("https://x/2", "the quick brown fox jumps over the lazy dog again", null),
      ("https://x/3", "otra pagina distinta con palabras suficientes aqui", "es"))
      .toDF("url", "text", "lang")
      .withColumn("warc_ts", F.current_timestamp())
      .withColumn("html", F.encode(F.col("text"), "UTF-8"))
    val (sigsAll, rejects) = DedupPipeline.signatures(
      rows, DedupConfig(allowedLangs = Some(Set("en"))))
    val rej = rejects.select("url", "reject_reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rej === Map("https://x/2" -> "lang", "https://x/3" -> "lang"))
    assert(sigsAll.where(F.col("reject_reason").isNull)
      .select("url").collect().map(_.getString(0)).toSeq === Seq("https://x/1"))
  }

  test("empty_text gate: empty after trim is rejected, one character is not") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq(
      ("https://x/empty", ""),
      ("https://x/spaces", "   "),
      // every Unicode whitespace counts alike, not only U+0020
      ("https://x/tab", "  \t "),
      ("https://x/nbsp", "\u00A0"),
      ("https://x/one", "x"))
      .toDF("url", "text")
      .withColumn("lang", F.lit("en"))
      .withColumn("warc_ts", F.current_timestamp())
      .withColumn("html", F.encode(F.col("text"), "UTF-8"))
    val res = DedupPipeline.run(rows, DedupConfig())
    try {
      val rej = res.rejects.select("url", "reject_reason").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(rej === Map("https://x/empty" -> "empty_text",
        "https://x/spaces" -> "empty_text", "https://x/tab" -> "empty_text",
        "https://x/nbsp" -> "empty_text"))
      assert(res.deduped.select("url").collect().map(_.getString(0)).toSeq
        === Seq("https://x/one"))
    } finally res.cleanup()
  }

  test("duplicate input urls are rejected as dup_url (contract enforcement)") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq(
      ("https://x/same", "first copy of the page text here", "en"),
      ("https://x/same", "second copy different text even", "en"),
      ("https://x/other", "an unrelated page with words", "en"))
      .toDF("url", "text", "lang")
      .withColumn("warc_ts", F.current_timestamp())
      .withColumn("html", F.encode(F.col("text"), "UTF-8"))
    val (sigsAll, rejects) = DedupPipeline.signatures(rows, DedupConfig())
    assert(rejects.where(F.col("reject_reason") === "dup_url").count() === 2)
    assert(sigsAll.where(F.col("reject_reason").isNull)
      .select("url").collect().map(_.getString(0)).toSeq
      === Seq("https://x/other"))
  }

  test("hash-collision remap: non-min-url row gets a salted id, all docs kept") {
    val spark2 = spark
    import spark2.implicits._
    // synthetic doc_ids (the remap branch is unreachable from real data —
    // xxhash64 collisions cannot be fabricated): a/b collide, c is clean
    val hashed = Seq(
      ("https://x/a", 7L), ("https://x/b", 7L), ("https://x/c", 9L))
      .toDF("url", "doc_id")
    val cfg = DedupConfig()
    val out = DedupPipeline.enforceIds(hashed, cfg)
      .select("url", "doc_id", "dup_url").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.values.forall(!_._2), "no dup_url flags expected")
    assert(out("https://x/a")._1 === 7L, "min-url row keeps its id")
    assert(out("https://x/c")._1 === 9L, "clean row untouched")
    val remapped = out("https://x/b")._1
    assert(remapped !== 7L)
    val expected = spark.sql(s"SELECT xxhash64(${cfg.seed + 1}L, 'https://x/b')")
      .head().getLong(0)
    assert(remapped === expected, "remap must be the salted rehash of the url")
  }

  test("hash-collision remap round 2: a remapped id that collides again is re-salted") {
    val spark2 = spark
    import spark2.implicits._
    val cfg = DedupConfig()
    // plant row c so its id equals b's ROUND-1 remap target: round 1
    // resolves {a,b} but creates {b,c}; round 2 must resolve that too
    val round1OfB = spark.sql(s"SELECT xxhash64(${cfg.seed + 1}L, 'https://x/b')")
      .head().getLong(0)
    val hashed = Seq(
      ("https://x/a", 7L), ("https://x/b", 7L), ("https://x/c", round1OfB))
      .toDF("url", "doc_id")
    val out = DedupPipeline.enforceIds(hashed, cfg)
      .select("url", "doc_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.values.toSeq.distinct.size === 3, s"ids not unique after 2 rounds: $out")
    assert(out("https://x/a") === 7L)
    // the min url of the round-2 collision group {b, c} keeps round1OfB,
    // the other gets the round-2 salt — both pure functions of the url
    val round2 = Seq("https://x/b", "https://x/c").map { u =>
      u -> spark.sql(s"SELECT xxhash64(${cfg.seed + 2}L, '$u')").head().getLong(0)
    }.toMap
    assert(out("https://x/b") === round1OfB, "min url of round-2 group keeps its id")
    assert(out("https://x/c") === round2("https://x/c"))
  }

  test("NULL url is rejected (cannot be keyed; would share one doc_id)") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq(
      (Some("https://x/ok"), "a fine page with enough words"),
      (None, "first orphan page text here"),
      (None, "second orphan page text here"))
      .toDF("url", "text")
      .withColumn("lang", F.lit("en"))
      .withColumn("warc_ts", F.current_timestamp())
      .withColumn("html", F.encode(F.col("text"), "UTF-8"))
    val (sigsAll, rejects) = DedupPipeline.signatures(rows, DedupConfig())
    assert(rejects.where(F.col("reject_reason") === "null_url").count() === 2)
    assert(sigsAll.where(F.col("reject_reason").isNull).count() === 1)
  }

  test("dedupeByUrl keeps one row per url (latest crawl), deterministically") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq(
      ("https://x/a", "old text", "en", 1000L),
      ("https://x/a", "new text", "en", 2000L),
      ("https://x/b", "only row", "en", 1500L))
      .toDF("url", "text", "lang", "ms")
      .withColumn("warc_ts", F.timestamp_millis(F.col("ms"))).drop("ms")
      .withColumn("html", F.encode(F.col("text"), "UTF-8"))
    val out = DedupPipeline.dedupeByUrl(rows)
      .select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out === Map("https://x/a" -> "new text", "https://x/b" -> "only row"))
  }

  test("cleanup releases engine-tracked caches") {
    val r = DedupPipeline.run(pages, cfg)
    r.metrics.collect() // materialize
    r.cleanup()
    // result frames remain usable after cleanup (recompute, not failure)
    assert(r.clusters.count() > 0)
  }
}
