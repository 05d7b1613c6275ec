package graft.dedup

import graft.SparkSpec
import graft.io.SyntheticCorpus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import graft.functions._

class LshSpec extends SparkSpec {

  private def sigsOf(n: Long) = {
    val cfg = DedupConfig()
    SyntheticCorpus.pages(spark, n)
      .where(F.length(F.trim(F.col("text"))) > 0)
      .select(F.xxhash64(F.lit(cfg.seed), F.col("url")).as("doc_id"),
        minhash(shingles(F.col("text"), cfg.shingleK, cfg.seed), cfg.numHashes, cfg.seed).as("minhash"),
        simhash(shingles(F.col("text"), cfg.shingleK, cfg.seed), cfg.seed).as("simhash"))
      .where(F.col("minhash").isNotNull)
  }

  /** Brute-force candidate generation over collected rows: bucket sizes
    * counted over the exploded (doc_id, bucket) rows as a multiset,
    * buckets with 2..cap rows kept, every a < b pair of their members
    * emitted once. Returns (pairs, overflow_buckets, overflow_rows). */
  private def oracle(sigs: DataFrame, cap: Int): (Seq[(Long, Long)], Long, Long) = {
    val cfg = DedupConfig()
    val rows = sigs.where(F.col("minhash").isNotNull)
      .select(F.col("doc_id"), bandBuckets(F.col("minhash"), cfg.bands, cfg.rowsPerBand))
      .collect()
      .flatMap(r => r.getSeq[Long](1).map(bucket => (bucket, r.getLong(0))))
    val members = rows.groupBy(_._1).values.map(_.map(_._2).toSeq).toSeq
    val (fit, over) = members.partition(_.size <= cap)
    val pairs = fit.filter(_.size >= 2)
      .flatMap(ms => for (a <- ms; b <- ms if a < b) yield (a, b))
      .distinct.sorted
    (pairs, over.size.toLong, over.map(_.size.toLong).sum)
  }

  private def overflowCounts(overflow: DataFrame): (Long, Long) = {
    val o = overflow.head()
    (o.getAs[Long]("overflow_buckets"), o.getAs[Long]("overflow_rows"))
  }

  /** Lsh.candidatePairs at `cap` as (pairs, overflow_buckets, overflow_rows). */
  private def engine(sigs: DataFrame, cap: Int): (Seq[(Long, Long)], Long, Long) = {
    val (pairs, overflow) = Lsh.candidatePairs(sigs, DedupConfig(maxBucketSize = cap))
    val (buckets, rows) = overflowCounts(overflow)
    (pairs.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq, buckets, rows)
  }

  /** The same triple from a HotKeyForms reference over the exploded band
    * buckets, pairs emitted from its groups in plain Scala. */
  private def reference(sigs: DataFrame, cap: Int,
      form: HotKeyForms.Form): (Seq[(Long, Long)], Long, Long) = {
    val (groups, overflow) =
      form(Lsh.explodeBuckets(sigs, DedupConfig()), "bucket", F.col("doc_id"), cap)
    val pairs = groups.collect().toSeq.flatMap { r =>
      val ms = r.getSeq[Long](r.fieldIndex("members"))
      for (a <- ms; b <- ms if a < b) yield (a, b)
    }.distinct.sorted
    val (buckets, rows) = overflowCounts(overflow)
    (pairs, buckets, rows)
  }

  /** Asserts Lsh.candidatePairs equals the oracle (pairs and both overflow
    * counters) at `cap`; returns the engine's (pairs, overflow_buckets,
    * overflow_rows). */
  private def checkOracle(sigs: DataFrame, cap: Int): (Seq[(Long, Long)], Long, Long) = {
    val got = engine(sigs, cap)
    assert(got === oracle(sigs, cap), s"cap=$cap")
    got
  }

  /** Planted corpus: mega group of 30 docs sharing one signature → every
    * band bucket holds 30 members = 15× a cap of 2; pair groups: 2-member
    * signatures sit exactly at that cap → their pairs must still be
    * emitted, so parity is checked against a NONEMPTY pair set while the
    * mega bucket is dropped. */
  private def plantedSigs: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val mega = (0 until 30).map(i => (100L + i, Array.fill(128)(7L)))
    val pairGroups = (0 until 5).flatMap(g => Seq(
      (200L + 2 * g, Array.fill(128)(1000L + g)),
      (201L + 2 * g, Array.fill(128)(1000L + g))))
    (mega ++ pairGroups).toDF("doc_id", "minhash")
  }
  private val plantedPairs = (0 until 5).map(g => (200L + 2 * g, 201L + 2 * g))

  test("salted and window hot-bucket strategies emit identical candidate pairs") {
    // the engine's one form against the window and salted forms it
    // replaced (now test references): same pairs, same overflow counts
    val sigs = sigsOf(800).cache()
    val cap = DedupConfig().maxBucketSize
    val got = engine(sigs, cap)
    assert(got._1.nonEmpty)
    assert(reference(sigs, cap, HotKeyForms.window) === got)
    assert(reference(sigs, cap, HotKeyForms.salted) === got)
    sigs.unpersist()
  }

  test("candidate pairs and overflow match the brute-force bucket oracle on a calm corpus") {
    val sigs = sigsOf(800).cache()
    assert(checkOracle(sigs, DedupConfig().maxBucketSize)._1.nonEmpty)
    sigs.unpersist()
  }

  test("cap 1: every multi-member bucket overflows, as the oracle counts") {
    val sigs = sigsOf(800).cache()
    val (pairs, _, overflowRows) = checkOracle(sigs, cap = 1)
    assert(pairs.isEmpty)
    assert(overflowRows > 0)
    sigs.unpersist()
  }

  test("planted mega-bucket is dropped and reported, pairs at the cap kept, as the oracle says") {
    val sigs = plantedSigs.cache()
    val (pairs, overflowBuckets, _) = checkOracle(sigs, cap = 2)
    assert(pairs === plantedPairs)
    assert(!pairs.exists { case (a, _) => a >= 100L && a < 130L }) // mega dropped
    assert(overflowBuckets >= 32L) // the mega bucket, reported at every band
    sigs.unpersist()
  }

  test("planted mega-bucket at cap 2 matches the window and salted references, calm pairs intact") {
    // the engine's one form must emit the window and salted reference
    // forms' pairs and overflow counts on a bucket 15× over the cap
    val sigs = plantedSigs.cache()
    val got = engine(sigs, cap = 2)
    assert(got._1 === plantedPairs) // calm pairs intact, mega dropped
    assert(got._2 >= 32L)
    assert(reference(sigs, 2, HotKeyForms.salted) === got)
    assert(reference(sigs, 2, HotKeyForms.window) === got)
    sigs.unpersist()
  }

  test("verifyPairs stacked form matches the round-5 semi-join + two-join chain") {
    val cfg = DedupConfig()
    val sigs = sigsOf(800).cache()
    val (pairs, _) = Lsh.candidatePairs(sigs, cfg)
    val p = pairs.cache()
    // the round-5 chain, reconstructed verbatim
    val memberIds = p.select(F.col("a").as("doc_id"))
      .union(p.select(F.col("b").as("doc_id")))
    val needed = sigs.join(memberIds, Seq("doc_id"), "left_semi")
      .select("doc_id", "minhash", "simhash")
    val sa = needed.select(F.col("doc_id").as("a"),
      F.col("minhash").as("ma"), F.col("simhash").as("sa"))
    val sb = needed.select(F.col("doc_id").as("b"),
      F.col("minhash").as("mb"), F.col("simhash").as("sb"))
    val old = p.join(sa.hint("shuffle_hash"), "a")
      .join(sb.hint("shuffle_hash"), "b")
      .withColumn("est_jaccard", estJaccard(F.col("ma"), F.col("mb")))
      .withColumn("sim_hamming", hammingDistance(F.col("sa"), F.col("sb")))
      .withColumn("verified", F.col("est_jaccard") >= cfg.tau)
      .select("a", "b", "est_jaccard", "sim_hamming", "verified")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3), r.getBoolean(4))).sorted.toSeq
    val newRows = rows(Lsh.verifyPairs(p, sigs, cfg))
    assert(newRows.nonEmpty)
    assert(newRows === rows(old))
    // a pair member absent from sigs drops the pair (inner-join semantics)
    val spark2 = spark
    import spark2.implicits._
    val firstId = p.select("a").head().getLong(0)
    val ghost = Seq((firstId, -999L)).toDF("a", "b")
    assert(Lsh.verifyPairs(ghost, sigs, cfg).count() === 0)
    p.unpersist(); sigs.unpersist()
  }
}
