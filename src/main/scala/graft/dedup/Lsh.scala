package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import graft.functions._

/** MinHash-LSH banding: signature → band buckets → candidate pairs →
  * verified near-duplicate edges.
  *
  * Re-expression of the reference's bucket algebra: band bucketing plays
  * `loc_db[location_key].append(id)` (reference/dupliganger/db.py:400-439),
  * and threshold verification plays the 1-error-tolerant whitelist match
  * inside each bucket (reference/dupliganger/dedup.py:230-269). Differences
  * forced by web text: a doc lands in `bands` buckets (not 1), so edges
  * must be de-duplicated across bands and merged by connected components
  * downstream; and mega-buckets (boilerplate pages) are a first-class skew
  * hazard, not an error path.
  *
  * Scale design (10^12 docs):
  *  - bucket sizes are counted BEFORE any member list is materialized —
  *    the count aggregation is partial-agg (map-side combine) friendly, so
  *    a boilerplate bucket with 10^8 members costs a counter per task, not
  *    a collect_list OOM. Oversized buckets never reach pair generation;
  *    their dropped volume is reported (`lsh_overflow_*` metrics).
  *  - the eligible buckets (2..cap members) are joined back onto the
  *    exploded (doc_id, bucket) rows, each bucket's members are collected
  *    into one array and pairs are expanded from it ([[memberPairs]]);
  *    AQE chooses the join (broadcast when few buckets are eligible) and
  *    handles residual skew below the cap.
  *  - verification re-joins the two signature columns by doc id
  *    ([[endpointJoin]]) instead of carrying signatures through the
  *    bucket shuffle `bands` times.
  *
  * [[cappedGroups]], [[memberPairs]] and [[endpointJoin]] are the shared
  * pieces of every dedup operator: `SubstringDedup` uses all three,
  * `SimHashJoin` the first two, `NgramJaccard.indexed` the pair expansion.
  */
object Lsh {

  /** (doc_id, bucket) — one row per band per doc. The band index is
    * already folded into the 64-bit bucket key (xxhash64(band, slice)),
    * so carrying a separate band column would only widen the explode —
    * the biggest shuffle in the pipeline — by 50%. */
  def explodeBuckets(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    sigs
      .where(F.col("minhash").isNotNull)
      .select(F.col("doc_id"),
        F.explode(bandBuckets(F.col("minhash"), cfg.bands, cfg.rowsPerBand))
          .as("bucket"))

  /** Groups of `member` per key (the `keys` columns), keys held by fewer
    * than 2 or more than `cap` rows dropped. Returns (groups, overflow):
    * groups has the key columns and `members` (the collected array, at
    * most `cap` long); overflow is one row (overflow_buckets,
    * overflow_rows) counting the keys over the cap and their rows. Both
    * frames are lazy.
    *
    * The one hot-key form of the engine's unbounded key spaces, shared by
    * the LSH band buckets, the winnow posting lists and the SimHash chunk
    * keys. Key sizes are counted first: the count aggregates map-side, so
    * a key held by 10^8 rows costs one partial counter per map task, never
    * a co-located group. The 2..cap filter then drops hot keys and
    * singletons BEFORE the only shuffle that co-locates a key's rows (the
    * join back + collect_list). The join carries no hint: AQE broadcasts
    * the eligible keys when they are few (calm corpora) and keeps a
    * shuffle join otherwise. (The RHP and IVF caps in
    * `graft.analysis.Similarity` broadcast key sets bounded by
    * 2^planes·probes and by the codebook size, a different join policy.) */
  private[dedup] def cappedGroups(rows: DataFrame, keys: Seq[String], member: Column,
      cap: Long): (DataFrame, DataFrame) = {
    val counts = rows.groupBy(keys.map(F.col): _*).count()
    val overflow = counts.where(F.col("count") > cap)
      .agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0L)).as("overflow_buckets"),
        F.coalesce(F.sum("count"), F.lit(0L)).as("overflow_rows"))
    val eligible = counts.where(F.col("count").between(2, cap)).select(keys.map(F.col): _*)
    val groups = rows.join(eligible, keys)
      .groupBy(keys.map(F.col): _*).agg(F.collect_list(member).as("members"))
    (groups, overflow)
  }

  /** Every ordered pair of a group's `members` array, self-pairs
    * included, as columns `x` and `y` (or the names given): two explodes,
    * no join. Each
    * caller keeps its own order filter (a < b, the (len, id) order of the
    * substring pass, x.id < y.id) and its own de-duplication. */
  private[graft] def memberPairs(groups: DataFrame, x: String = "x",
      y: String = "y"): DataFrame =
    groups.select(F.explode(F.col("members")).as(x), F.col("members"))
      .select(F.col(x), F.explode(F.col("members")).as(y))

  /** Attach `side`'s `payload` columns to both endpoints of every (a, b)
    * pair: output a, b, the `carried` pair columns (max per pair), then
    * `<col>_a` and `<col>_b` for each payload column. A pair with an
    * endpoint absent from `side` is dropped; a present endpoint with a
    * null payload keeps a null. Precondition: `side` has at most one row
    * per doc_id (such pairs would otherwise be dropped).
    *
    * Stacked single-join form (round 6; guide §2.4 "remove shuffles
    * outright"): each pair explodes into one row per endpoint keyed by
    * the member doc_id, ONE hash join attaches the payload (the inner
    * join IS the member reduction — non-member rows of `side` drop at the
    * join), and an (a, b) aggregation pivots the two endpoints back onto
    * one row. The round-5 chain — member-id union, left_semi reduction,
    * then two id-keyed hash joins — cost 7 exchanges and moved the payload
    * through a shuffle three times; this costs 3 exchanges (stack, side,
    * pivot) and shuffles the payload once. The npresent = 2 filter
    * reproduces the two inner joins exactly (parity-tested in LshSpec).
    * The build side is the STACKED pair frame (2 narrow rows per pair),
    * hinted shuffle-hash: the payload rows (kilobyte signatures or texts)
    * stream and probe the small build table (guide §3.2 "hash-join build
    * side = the smaller input"); the round-6.0 form built from the payload
    * side, and sort-merge would sort kilobytes per row to equality-match
    * an 8-byte id. */
  private[dedup] def endpointJoin(pairs: DataFrame, side: DataFrame,
      payload: Seq[String], carried: Seq[String] = Nil): DataFrame = {
    val stacked = pairs.select((Seq("a", "b") ++ carried).map(F.col) :+
      F.explode(F.array(F.col("a"), F.col("b"))).as("doc_id"): _*)
    def at(end: String, c: String) =
      F.first(F.when(F.col("doc_id") === F.col(end), F.col(c)), ignoreNulls = true)
        .as(s"${c}_$end")
    val aggs = carried.map(c => F.max(F.col(c)).as(c)) ++
      (F.count(F.lit(1)).as("npresent") +: payload.map(at("a", _))) ++ payload.map(at("b", _))
    stacked.hint("shuffle_hash")
      .join(side.select(("doc_id" +: payload).map(F.col): _*), Seq("doc_id"))
      .groupBy("a", "b").agg(aggs.head, aggs.tail: _*)
      .where(F.col("npresent") === 2)
      .drop("npresent")
  }

  /** Candidate pairs (a < b by doc_id) from band buckets holding 2 to
    * `maxBucketSize` docs ([[cappedGroups]]). Returns (pairs, overflow):
    * overflow is the one-row (overflow_buckets, overflow_rows) count of
    * the buckets over the cap, reported as the `lsh_overflow_*` metrics.
    * Both frames are lazy; callers that discard the overflow frame
    * (q_minhash_lsh_dedup) never run its aggregate. */
  def candidatePairs(sigs: DataFrame, cfg: DedupConfig): (DataFrame, DataFrame) = {
    val (buckets, overflow) = cappedGroups(explodeBuckets(sigs, cfg), Seq("bucket"),
      F.col("doc_id"), cfg.maxBucketSize)
    val pairs = memberPairs(buckets, "a", "b").where(F.col("a") < F.col("b")).distinct()
    (pairs, overflow)
  }

  /** Attach signatures to pairs ([[endpointJoin]]) and score them.
    * Output columns: a, b, est_jaccard, sim_hamming, verified. */
  def verifyPairs(pairs: DataFrame, sigs: DataFrame, cfg: DedupConfig): DataFrame =
    endpointJoin(pairs, sigs, Seq("minhash", "simhash"))
      .withColumn("est_jaccard", estJaccard(F.col("minhash_a"), F.col("minhash_b")))
      .withColumn("sim_hamming", hammingDistance(F.col("simhash_a"), F.col("simhash_b")))
      .withColumn("verified", F.col("est_jaccard") >= cfg.tau)
      .select("a", "b", "est_jaccard", "sim_hamming", "verified")
}
