package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
class StreamingDedupSpec extends SparkSpec {

  private def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  test("dedupStream: first arrival wins across micro-batches, watermark bounds state") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, Timestamp)]
    val docs = input.toDF().toDF("url", "text", "ts")
    val q = StreamingDedup.dedupStream(docs, "ts", "10 minutes")
      .select("url")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()

    input.addData(("u1", "hello world doc one", ts(0)),
      ("u2", "totally different text", ts(1)),
      ("u3", "hello world doc one", ts(2))) // dup of u1, same batch
    q.processAllAvailable()
    input.addData(("u4", "Hello   WORLD doc one", ts(3))) // dup after normalization
    q.processAllAvailable()
    input.addData(("u5", "brand new content here", ts(4)))
    q.processAllAvailable()
    q.stop()

    val kept = spark.table("dedup_out").collect().map(_.getString(0)).toSet
    assert(kept === Set("u1", "u2", "u5"))
  }

  test("flagStream: copies flagged as duplicates, originals pass") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, Timestamp)]
    val docs = input.toDF().toDF("url", "text", "ts")
    val q = StreamingDedup.flagStream(docs, "ts", "10 minutes")
      .writeStream.format("memory").queryName("flag_out")
      .outputMode("append").start()

    input.addData(("a1", "the quick brown fox", ts(0)),
      ("a2", "the quick brown fox", ts(1)),
      ("a3", "jumps over the lazy dog", ts(1)))
    q.processAllAvailable()
    input.addData(("a4", "the quick brown fox", ts(2)))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("flag_out").collect()
      .map(r => r.getAs[String]("url") -> r.getAs[Boolean]("is_duplicate")).toMap
    assert(rows === Map("a1" -> false, "a2" -> true, "a3" -> false, "a4" -> true))
  }

  test("nearDupPairsStreamKeyed: 3 shuffled micro-batches emit exactly the brute-force band + est-Jaccard pair oracle") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.DedupConfig
    import graft.functions.{bandBuckets, minhash, shingles}
    import graft.io.SyntheticCorpus
    import org.apache.spark.sql.{functions => F}

    // 200 planted pages (exact, near and substring copies among them),
    // arriving in a shuffled order with shuffled event times: a later
    // batch often brings the OLDER member of a pair. All event times lie
    // inside one watermark, so the operator promises every pair.
    val cfg = DedupConfig(allowedLangs = None)
    val rnd = new scala.util.Random(7)
    val minutes = rnd.shuffle((0 until 200).toVector)
    val arrivals = rnd.shuffle((0 until 200).toVector).map { i =>
      val p = SyntheticCorpus.pageAt(42L, i.toLong)
      (p.url, p.text, ts(minutes(i)))
    }
    val batches = arrivals.grouped(67).toSeq
    assert(batches.length === 3)

    // oracle: batch signatures and band buckets, every pair brute-forced
    val sigRows = arrivals.toDF("url", "text", "ts")
      .select($"url", F.xxhash64(F.lit(cfg.seed), $"url").as("doc_id"),
        minhash(shingles($"text", cfg.shingleK, cfg.seed), cfg.numHashes, cfg.seed)
          .as("minhash"))
      .where($"minhash".isNotNull)
      .select($"url", $"doc_id", $"minhash",
        bandBuckets($"minhash", cfg.bands, cfg.rowsPerBand).as("buckets"))
      .as[(String, Long, Array[Long], Array[Long])].collect()
    val maxBucketState = 64
    val bucketSizes = sigRows.flatMap { case (_, id, _, bs) => bs.distinct.map(_ -> id) }
      .groupBy(_._1).values.map(_.length)
    assert(bucketSizes.max <= maxBucketState, "the cap would bias the comparison")
    val oracle = (for {
      i <- sigRows.indices; j <- sigRows.indices if i < j
      (_, ia, ma, ba) = sigRows(i); (_, ib, mb, bb) = sigRows(j)
      if ba.exists(bb.contains)
      est = ma.indices.count(k => ma(k) == mb(k)).toDouble / ma.length
      if est >= cfg.tau
    } yield (math.min(ia, ib), math.max(ia, ib)) -> est).toMap
    assert(oracle.size >= 20, s"too few planted pairs: ${oracle.size}")

    // the ordering the candidate stamp must survive: some pair's later
    // arrival carries the older event time
    val urlOf = sigRows.map(r => r._2 -> r._1).toMap
    val arrival = batches.zipWithIndex.flatMap { case (b, k) =>
      b.map(r => r._1 -> (k, r._3.getTime)) }.toMap
    assert(oracle.keys.exists { case (a, b) =>
      val ((ka, ta), (kb, tb)) = (arrival(urlOf(a)), arrival(urlOf(b)))
      ka != kb && (ka < kb) == (ta > tb)
    }, "no pair has its later arrival older in event time")

    val input = MemoryStream[(String, String, Timestamp)]
    val docs = input.toDF().toDF("url", "text", "ts")
    val q = StreamingDedup.withStatefulCheckDisabled(spark) {
      StreamingDedup.distinctPairs(
        StreamingDedup.nearDupPairsStreamKeyed(docs, "ts", "6 hours", cfg, maxBucketState))
        .writeStream.format("memory").queryName("near_oracle_out")
        .outputMode("append").start()
    }
    batches.foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()

    val rows = spark.table("near_oracle_out")
      .select("id_a", "id_b", "est_jaccard").as[(Long, Long, Double)].collect()
    assert(rows.length === rows.map(r => (r._1, r._2)).distinct.length,
      "a pair was emitted twice")
    val got = rows.map(r => (r._1, r._2) -> r._3).toMap
    assert(got.keySet -- oracle.keySet === Set.empty, "pairs the oracle does not have")
    assert(oracle.keySet -- got.keySet === Set.empty, "oracle pairs the stream missed")
    assert(got === oracle)
  }

  test("nearDupPairsStreamKeyed: cross-batch discovery, an out-of-order partner, one emission per pair") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.DedupConfig
    import graft.io.SyntheticCorpus

    def page(id: Long, min: Int): (String, String, Timestamp) = {
      val p = SyntheticCorpus.pageAt(42L, id)
      (p.url, p.text, ts(min))
    }
    val cfg = DedupConfig(allowedLangs = None)
    val input = MemoryStream[(String, String, Timestamp)]
    val docs = input.toDF().toDF("url", "text", "ts")
    // scoped escape hatch (see the operator's scaladoc): the analyzer
    // flags any stateful op after fMGWS; the operator upholds the
    // watermark contract, and the helper restores the conf after start.
    // distinctPairs chained on top = ONE emission per pair per window.
    val checkKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    spark.conf.set(checkKey, "true")
    val q = StreamingDedup.withStatefulCheckDisabled(spark) {
      StreamingDedup.distinctPairs(
        StreamingDedup.nearDupPairsStreamKeyed(docs, "ts", "30 minutes", cfg))
        .writeStream.format("memory").queryName("near_keyed_out")
        .outputMode("append").start()
    }
    // the helper restored the session conf; only the started query is exempt
    assert(spark.conf.get(checkKey) === "true")

    input.addData(page(11, 10), page(13, 11), page(0, 11), page(1, 12))
    q.processAllAvailable()
    // dups arrive in LATER micro-batches → candidates via ids-only bucket
    // state, signatures recovered through the doc_id-keyed join state.
    // page 16 arrives OUT OF ORDER (event time min 5, OLDER than its
    // stored partner 11 at min 10, still inside the watermark): the
    // candidate must be stamped with the newest member time or the
    // verify interval join silently drops the pair.
    input.addData(page(16, 5), page(14, 12))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("near_keyed_out").collect()
    // cross-band dedup folded in: exactly one row per pair, not one per
    // shared band bucket
    assert(rows.length === 2, s"expected 2 deduped emissions, got ${rows.length}")
    val ids = rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val hash = Seq(11L, 13L, 16L, 14L).map { i =>
      i -> spark.sql(
        s"SELECT xxhash64(${cfg.seed}L, '${SyntheticCorpus.pageAt(42L, i).url}')")
        .head().getLong(0)
    }.toMap
    def pair(a: Long, b: Long) =
      (math.min(hash(a), hash(b)), math.max(hash(a), hash(b)))
    assert(ids.contains(pair(11, 16)), s"missing near pair in $ids")
    assert(ids.contains(pair(13, 14)), s"missing exact pair in $ids")
    assert(ids.size === 2, s"unexpected extra pairs: $ids")
    val js = rows.map(_.getAs[Double]("est_jaccard"))
    assert(js.forall(_ >= cfg.tau))
  }
}
