package graft.analysis

import graft.SparkSpec
import org.apache.spark.sql.{functions => F}

class AnalysisSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("brute-force top-k: self excluded, k rows per id, deterministic") {
    val top3 = Similarity.bruteForceTopK(emb, 3).cache()
    assert(top3.where(F.col("vec_id") === F.col("nn_id")).count() === 0)
    val counts = top3.groupBy("vec_id").count().select("count").distinct().collect()
    assert(counts.map(_.getLong(0)).toSet === Set(3L))
    val a = top3.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val b = Similarity.bruteForceTopK(emb.repartition(7), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(a === b)
  }

  test("blockedTopK: identical output to the brute-force oracle, any blocking") {
    val exact = Similarity.bruteForceTopK(emb, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    for (blocks <- Seq(1, 5, 16)) {
      val blocked = Similarity.blockedTopK(emb, 3, numBlocks = blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(blocked === exact, s"numBlocks=$blocks diverged from oracle")
    }
  }

  test("LSH ANN: same-bucket recall@1 substantial; multi-probe lifts it") {
    val exact = Similarity.bruteForceTopK(emb, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    def recallAt(probes: Int): Double = {
      val approx = Similarity.lshTopK(emb, 1, numPlanes = 2, probes = probes)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(approx.size <= exact.size)
      approx.count { case (id, nn) => exact.get(id).contains(nn) }.toDouble / exact.size
    }
    val r1 = recallAt(1)
    val r4 = recallAt(4)
    // one probe of a 4-bucket partition: P(NN shares bucket) ≈
    // (1-θ/π)^planes ≈ 0.44 for near-orthogonal data; 4 independent plane
    // sets push the miss rate toward (1-0.44)^4 ≈ 0.1
    assert(r1 > 0.25, s"recall@1 single-probe=$r1")
    assert(r4 > r1, s"multi-probe did not lift recall: $r4 <= $r1")
    assert(r4 > 0.6, s"recall@1 4-probe=$r4")
  }

  test("IVF ANN: substantial recall@1, lifted by nProbe, all results real") {
    val exact = Similarity.bruteForceTopK(emb, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    def recallAt(nProbe: Int): Double = {
      val approx = Similarity.ivfTopK(emb, 1, numCentroids = 16, nProbe = nProbe)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(approx.size <= exact.size)
      approx.count { case (id, nn) => exact.get(id).contains(nn) }.toDouble / exact.size
    }
    val r1 = recallAt(1)
    val r4 = recallAt(4)
    // near-orthogonal corpus: P(NN shares cell) ≈ 1/16 without structure;
    // the measured single-probe recall (~0.22) is 3.5× that baseline
    assert(r1 > 2.0 / 16, s"recall@1 nProbe=1 is $r1")
    assert(r4 > r1, s"nProbe did not lift recall: $r4 <= $r1")
    assert(r4 > 0.4, s"recall@1 nProbe=4 is $r4")
  }

  test("LSH ANN: degenerate hot bucket is dropped by the cap, job completes") {
    val spark2 = spark
    import spark2.implicits._
    // 300 identical vectors — one mega-bucket in every probe — plus the
    // real corpus; a cap below 300 must drop them without quadratic work
    val degen = spark.range(2000000L, 2000300L)
      .select(F.col("id").as("vec_id"),
        F.typedLit(Array.fill(64)(0.5f)).as("embedding"))
    val mixed = emb.select("vec_id", "embedding").unionByName(degen)
    val out = Similarity.lshTopK(mixed, 1, numPlanes = 6, probes = 2, maxBucket = 100)
      .select("vec_id").as[Long].collect().toSet
    assert(out.intersect((2000000L until 2000300L).toSet).isEmpty,
      "capped bucket members leaked into results")
    assert(out.nonEmpty, "cap wiped out the regular corpus too")
  }

  test("embedding near-dup pairs: planted copies found, nothing else (oracle + bucketed)") {
    val withCopies = emb.select("vec_id", "embedding").unionByName(
      emb.where(F.col("vec_id") % 10 === 0)
        .select((F.col("vec_id") + 1000000L).as("vec_id"), F.col("embedding")))
    val expected = (0L until 500L by 10L).map(i => (i, i + 1000000L)).toSet
    val pairs = Similarity.nearDupPairs(withCopies, 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === expected)
    // scale path: identical vectors share every bucket, exact verify —
    // must find exactly the same pairs with no driver collect
    val bucketed = Similarity.nearDupPairsBucketed(withCopies, 0.999,
      numPlanes = 6, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed === expected)
  }

  test("multimodal: stub decode matches byte arithmetic; binary survives round trip") {
    val media = docs.select(F.col("doc_id"), F.encode(F.col("text"), "UTF-8").as("payload"))
    val meta = Multimodal.extractMeta(media).toDF()
    val joined = meta.join(docs, "doc_id")
      .where(F.col("n_bytes") =!= F.length(F.encode(F.col("text"), "UTF-8")) ||
        F.col("width") =!= F.lit(320) + F.col("n_bytes") % 1280 ||
        F.col("height") =!= F.lit(240) + F.col("n_bytes") % 720)
    assert(joined.count() === 0)
    assert(meta.count() === docs.count())
  }

  test("text analysis: langid/fingerprint/token stats behave on hand-built rows") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "el gato y la casa de los perros"),
      (3L, "zzz qqq www"),
      (4L, "One  Two\tTwo")).toDF("doc_id", "text")
    val scores = TextAnalysis.langScores(F.col("text")).toMap
    val out = df.select(F.col("doc_id"),
      TextAnalysis.tokenCount(F.col("text")).as("nt"),
      TextAnalysis.distinctTokenCount(F.col("text")).as("nd"),
      TextAnalysis.fingerprint(F.col("text")).as("fp"),
      scores("en").as("en"), scores("es").as("es"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("en") === 5) // the*3, and, of
    assert(out(1L).getAs[Long]("es") === 0)
    assert(out(2L).getAs[Long]("es") === 3) // el, la, los
    assert(out(3L).getAs[Long]("en") === 0)
    // single-space tokenizer (oracle-aligned): tab does NOT split
    assert(out(4L).getAs[Long]("nt") === 2)
    assert(out(4L).getAs[Long]("nd") === 2)
    // fingerprint is whitespace/case insensitive
    val fpA = out(4L).getAs[String]("fp")
    val fpB = df.where($"doc_id" === 4).select(
      TextAnalysis.fingerprint(F.lit("one two two"))).collect()(0).getString(0)
    assert(fpA === fpB)
  }

  test("windowedMinQualityPermille: hand-computed windows, degenerate short docs, garbage runs") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      // 4 tokens, win=3 → starts 0,1: windows (aa,bb,cc)=6/6, (bb,cc,123)=4/7
      (1L, "aa bb cc 123"),
      // fewer tokens than win → one all-token window: 2 alpha / 6 chars
      (2L, "ab 1234"),
      // clean prose everywhere → every window 1000
      (3L, "all clean alpha words here"),
      // a 3-token garbage run inside clean text → min window = 0
      (4L, "good words here 11 ## 22 more good words"),
      // no tokens → absent from output
      (5L, "   ")).toDF("doc_id", "text")
    val out = TextAnalysis.windowedMinQualityPermille(df, win = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === math.min(1000 * 6 / 6, 1000 * 4 / 7)) // 571
    assert(out(2L) === 1000 * 2 / 6) // 333
    assert(out(3L) === 1000)
    assert(out(4L) === 0)
    assert(!out.contains(5L))
    // partition-invariant (window is per-doc)
    val out7 = TextAnalysis.windowedMinQualityPermille(df.repartition(7), win = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out7 === out)
  }
}
