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
  *    into one array and pairs are exploded from it; AQE chooses the
  *    join (broadcast when few buckets are eligible) and handles residual
  *    skew below the cap.
  *  - verification re-joins the two signature columns by doc id instead of
  *    carrying signatures through the bucket shuffle `bands` times.
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

  /** Groups of `member` per `key`, keys held by fewer than 2 or more than
    * `cap` rows dropped. Returns (groups, overflow): groups has columns
    * `key` and `members` (the collected array, at most `cap` long);
    * overflow is one row (overflow_buckets, overflow_rows) counting the
    * keys over the cap and their rows. Both frames are lazy.
    *
    * The one hot-key form of the engine, shared by the LSH band buckets
    * and the winnow posting lists. Key sizes are counted first: the count
    * aggregates map-side, so a key held by 10^8 rows costs one partial
    * counter per map task, never a co-located group. The 2..cap filter
    * then drops hot keys and singletons BEFORE the only shuffle that
    * co-locates a key's rows (the join back + collect_list). The join
    * carries no hint: AQE broadcasts the eligible keys when they are few
    * (calm corpora) and keeps a shuffle join otherwise. */
  private[dedup] def cappedGroups(rows: DataFrame, key: String, member: Column,
      cap: Int): (DataFrame, DataFrame) = {
    val counts = rows.groupBy(key).count()
    val overflow = counts.where(F.col("count") > cap)
      .agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0L)).as("overflow_buckets"),
        F.coalesce(F.sum("count"), F.lit(0L)).as("overflow_rows"))
    val eligible = counts.where(F.col("count").between(2, cap)).select(key)
    val groups = rows.join(eligible, Seq(key))
      .groupBy(key).agg(F.collect_list(member).as("members"))
    (groups, overflow)
  }

  /** Candidate pairs (a < b by doc_id) from band buckets holding 2 to
    * `maxBucketSize` docs ([[cappedGroups]]). Returns (pairs, overflow):
    * overflow is the one-row (overflow_buckets, overflow_rows) count of
    * the buckets over the cap, reported as the `lsh_overflow_*` metrics.
    * Both frames are lazy; callers that discard the overflow frame
    * (q_minhash_lsh_dedup) never run its aggregate. */
  def candidatePairs(sigs: DataFrame, cfg: DedupConfig): (DataFrame, DataFrame) = {
    val (buckets, overflow) =
      cappedGroups(explodeBuckets(sigs, cfg), "bucket", F.col("doc_id"), cfg.maxBucketSize)
    val pairs = buckets
      .select(F.explode(F.col("members")).as("a"), F.col("members"))
      .select(F.col("a"), F.explode(F.col("members")).as("b"))
      .where(F.col("a") < F.col("b"))
      .distinct()
    (pairs, overflow)
  }

  /** Attach signatures to pairs and score them. Output columns:
    * a, b, est_jaccard, sim_hamming, verified.
    *
    * Stacked single-join form (round 6; guide §2.4 "remove shuffles
    * outright"): each pair explodes into one row per endpoint keyed by
    * the member doc_id, ONE hash join attaches the signature payload (the
    * inner join IS the member reduction — non-member signatures drop at
    * the join), and a (a, b) aggregation pivots the two endpoints back
    * onto one scored row. The round-5 chain — member-id union, left_semi
    * reduction, then two id-keyed hash joins — cost 7 exchanges and moved
    * the signature table through a shuffle three times (once full for the
    * semi, twice reduced); this costs 3 exchanges (stack, signature
    * build, pivot) and shuffles the signature table once. The
    * npresent = 2 filter reproduces the inner-join semantics exactly: a
    * pair member absent from `sigs` drops the pair, a present member with
    * null columns scores null, bit-for-bit like the old joins
    * (parity-tested in LshSpec). Precondition (holds for every signature
    * builder in the engine): `sigs` has at most one row per doc_id — the
    * old join form would have multiplied scored rows on duplicate
    * signature rows, this form drops such pairs. Signature side stays shuffle-hash
    * hinted — sort-merge would sort a kilobyte of signature per row to
    * equality-match an 8-byte id. */
  def verifyPairs(pairs: DataFrame, sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    val stacked = pairs.select(F.col("a"), F.col("b"),
      F.explode(F.array(F.col("a"), F.col("b"))).as("doc_id"))
    // build side = the STACKED pair frame (2 narrow rows per candidate
    // pair), not the signature table: the round-6.0 form hinted the
    // signature side, building a hash table of kilobyte signature rows
    // per task while streaming the tiny pair frame past it — backwards.
    // Signature rows now stream and probe the small build table (round
    // 6; guide §3.2 "hash-join build side = the smaller input").
    val joined = stacked.hint("shuffle_hash").join(
      sigs.select("doc_id", "minhash", "simhash"),
      Seq("doc_id"))
    joined.groupBy("a", "b").agg(
        F.count(F.lit(1)).as("npresent"),
        F.first(F.when(F.col("doc_id") === F.col("a"), F.col("minhash")),
          ignoreNulls = true).as("ma"),
        F.first(F.when(F.col("doc_id") === F.col("a"), F.col("simhash")),
          ignoreNulls = true).as("sa"),
        F.first(F.when(F.col("doc_id") === F.col("b"), F.col("minhash")),
          ignoreNulls = true).as("mb"),
        F.first(F.when(F.col("doc_id") === F.col("b"), F.col("simhash")),
          ignoreNulls = true).as("sb"))
      .where(F.col("npresent") === 2)
      .withColumn("est_jaccard", estJaccard(F.col("ma"), F.col("mb")))
      .withColumn("sim_hamming", hammingDistance(F.col("sa"), F.col("sb")))
      .withColumn("verified", F.col("est_jaccard") >= cfg.tau)
      .select("a", "b", "est_jaccard", "sim_hamming", "verified")
  }
}
