package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{functions => F}

import graft.analysis.TextAnalysis
import graft.dedup.DedupConfig

/** Per-fingerprint streaming state: the first-seen document. (Top-level —
  * the state encoder's generated code needs a public constructor.) */
final case class SeenState(firstUrl: String)

/** One LSH-bucket member in near-dup streaming state: id + event time
  * only — the signature lives in the doc_id-keyed join state instead. */
final case class IdMember(id: Long, tsMs: Long)

/** Per-bucket ids-only streaming state ([[StreamingDedup.nearDupPairsStreamKeyed]]). */
final case class BucketIdState(members: Array[IdMember])

/** An unverified streaming candidate pair (id_a < id_b; ts = the newer
  * member's event time). */
final case class StreamCandidate(id_a: Long, id_b: Long, ts: java.sql.Timestamp)

/** Streaming ingestion dedup — the event-time re-expression of the
  * reference's "second scan + dup_db membership check" emission pass
  * (reference/dupliganger/dedup.py:742-803): instead of a batch anti-join
  * against a prebuilt loser set, the loser set IS streaming state keyed by
  * content fingerprint, bounded by a watermark.
  *
  * Two operators:
  *  - [[dedupStream]]: keep only the first arrival per fingerprint within
  *    the watermark — built-in `dropDuplicatesWithinWatermark` (state
  *    bounded, scales with distinct keys in the watermark window).
  *  - [[flagStream]]: keep every row but mark late copies
  *    `is_duplicate` — custom state via `flatMapGroupsWithState`
  *    (the FLAG|=0x400 analog, reference dedup.py:783-789, as a column),
  *    with event-time timeout so state is dropped once the watermark
  *    passes (10^12-scale discipline: state size is windowed, never
  *    corpus-sized).
  */
object StreamingDedup {

  private val CheckCorrectnessKey =
    "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"

  /** Scoped escape hatch for [[nearDupPairsStreamKeyed]] (and any chain
    * that appends a stateful operator behind flatMapGroupsWithState):
    * disables the analyzer's stateful-operator correctness check, runs
    * `start` — which must START the streaming query, since the check
    * fires at query analysis — and RESTORES the previous conf value.
    * A query keeps the analysis-time setting for its lifetime, so the
    * started query stays exempt while every OTHER streaming query in the
    * session — started outside this scope — keeps its analyzer guard
    * (the session-global footgun this helper exists to remove). */
  def withStatefulCheckDisabled[T](spark: org.apache.spark.sql.SparkSession)
                                  (start: => T): T = {
    val prev = spark.conf.getOption(CheckCorrectnessKey)
    spark.conf.set(CheckCorrectnessKey, "false")
    try start
    finally prev match {
      case Some(v) => spark.conf.set(CheckCorrectnessKey, v)
      case None => spark.conf.unset(CheckCorrectnessKey)
    }
  }

  /** Cross-band pair dedup for the near-dup pair stream: one emission
    * per (id_a, id_b) per watermark window — the streaming analog of the
    * batch pass's `distinct()`, folded onto the operator output
    * ([[nearDupPairsStreamKeyed]] emits once per SHARED band bucket
    * otherwise). State is watermark-bounded on the pair key; the input
    * must already carry an event-time watermark (the keyed operator's
    * output does — re-declaring one here would be a disallowed watermark
    * redefinition). Adds a stateful operator behind the candidate fMGWS,
    * so the chained query must start inside
    * [[withStatefulCheckDisabled]] — sound because the keyed operator's
    * emitted `ts` is provably ≥ the watermark. */
  def distinctPairs(pairs: DataFrame): DataFrame =
    pairs.dropDuplicatesWithinWatermark("id_a", "id_b")

  /** Normalized content fingerprint used as the dedup key. */
  def withFingerprint(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("fp", TextAnalysis.fingerprint(F.col(textCol)))

  /** First arrival per fingerprint wins; later copies within the
    * watermark are dropped. `tsCol` must be an event-time column. */
  def dedupStream(docs: DataFrame, tsCol: String, watermark: String): DataFrame =
    withFingerprint(docs)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  final case class FlaggedDoc(url: String, fp: String, ts: java.sql.Timestamp,
                              is_duplicate: Boolean)

  /** Every row passes through; copies of an already-seen fingerprint are
    * flagged. State per fingerprint expires at the watermark. */
  def flagStream(docs: DataFrame, tsCol: String, watermark: String): Dataset[FlaggedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // project first, watermark last: a projection that re-casts the
    // event-time column would strip the watermark tag the stateful
    // operator needs
    val keyed = withFingerprint(docs)
      .select(F.col("url"), F.col("fp"), F.col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[(String, String, java.sql.Timestamp)]
      .groupByKey(_._2)
    keyed.flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (fp: String, rows: Iterator[(String, String, java.sql.Timestamp)],
       state: GroupState[SeenState]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          // deterministic processing order inside the batch
          val sorted = rows.toSeq.sortBy(r => (r._3.getTime, r._1))
          val out = sorted.iterator.map { case (url, _, ts) =>
            val dup = state.exists
            if (!dup) state.update(SeenState(url))
            FlaggedDoc(url, fp, ts, dup)
          }
          val result = out.toVector
          state.getCurrentWatermarkMs() // watermark available ⇒ set timeout
          state.setTimeoutTimestamp(
            sorted.map(_._3.getTime).max, watermark)
          result.iterator
        }
    }
  }

  /** Streaming NEAR-duplicate detection — the event-time form of the
    * batch LSH pass, sharing its exact signature/banding/verification
    * expressions (`minhash`, `bandBuckets`, `estJaccard`, same
    * `DedupConfig`). The 10^12-docs/day layout: the bucket operator's
    * state is ids-only (16 bytes/member, never the ~1 KiB signature once
    * per band) and signatures live in the doc_id-keyed state of two
    * stream-stream verification joins — stored ~2× total, independent of
    * `bands`:
    *
    *  1. CANDIDATES — `flatMapGroupsWithState` keyed by band bucket, state
    *     = recent (doc_id, ts) members, same double bounding as the batch
    *     cap discipline (event-time timeout + `maxBucketState` + in-batch
    *     heap cap — overflow degrades recall, never memory); emits
    *     unverified (id_a, id_b, ts) pairs.
    *  2. VERIFY — the candidate stream re-watermarks on its `ts` and
    *     equi-joins the signature stream twice (id_a, then id_b) under a
    *     time-interval bound (signature ts within [cand ts − delay,
    *     cand ts]), so join state evicts with the watermark; est-Jaccard
    *     ≥ τ filters exactly as in the batch pass.
    *
    * Watermark-interval contract: pairs whose members' event times lie
    * within one `watermark` delay verify exactly as the batch pass would.
    * A candidate pair whose members lie MORE than `watermark` apart —
    * possible when an arrival jumps far ahead while the older member
    * still sits in bucket state — is dropped (the older signature falls
    * outside [cts − watermark, cts]): widening the interval would hold
    * signature state beyond the watermark.
    *
    * Emission: a pair sharing several bands can emit once per shared band
    * bucket (buckets cannot see each other's emissions); chain
    * [[distinctPairs]] for one emission per pair per watermark window
    * (the batch pass's `distinct()`). Input contract as in the batch
    * pipeline: (url, text, event-time) columns, ids are
    * `xxhash64(seed, url)`, and url is THE document key — a url
    * re-crawled within the watermark window fans out the verify joins
    * (route re-crawls through ingest dedup first, as batch callers do via
    * dedupeByUrl).
    *
    * REQUIRES the stateful-operator correctness check disabled AT QUERY
    * START — use [[withStatefulCheckDisabled]], which scopes the conf to
    * this query and restores it: the analyzer flags ANY stateful
    * operator after flatMapGroupsWithState because it cannot reason
    * about emitted timestamps. Here the pattern is provably within the
    * watermark contract: candidates are stamped with the NEWEST member's
    * event time, and arrivals already behind the watermark are dropped
    * inside the operator (below) — so no emitted row is ever older than
    * the global watermark, and the joins can discard nothing that
    * on-time data produced. */
  def nearDupPairsStreamKeyed(docs: DataFrame, tsCol: String, watermark: String,
                              cfg: DedupConfig = DedupConfig(),
                              maxBucketState: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.functions.{bandBuckets, estJaccard, minhash, shingles}
    val sigs = docs
      .select(
        F.xxhash64(F.lit(cfg.seed), F.col("url")).as("doc_id"),
        minhash(shingles(F.col("text"), cfg.shingleK, cfg.seed),
          cfg.numHashes, cfg.seed).as("minhash"),
        F.col(tsCol).cast("timestamp").as("ts"))
      .where(F.col("minhash").isNotNull)
      .withWatermark("ts", watermark)

    // ids-only bucket stream: the ONLY per-band replication is 16 bytes
    val keyed = sigs
      .select(F.col("doc_id"), F.col("ts"),
        F.explode(bandBuckets(F.col("minhash"), cfg.bands, cfg.rowsPerBand))
          .as("bucket"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._3)

    val candidates = keyed.flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (bucket: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
       state: GroupState[BucketIdState]) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          val wmMs = state.getCurrentWatermarkMs()
          var members = state.getOption.map(_.members).getOrElse(Array.empty)
            .filter(_.tsMs >= wmMs) // evict past-watermark members eagerly
          // In-batch twin of maxBucketState: a mega-bucket burst within ONE
          // micro-batch must degrade recall, never memory — keep only the
          // batchCap smallest (ts, id) arrivals via a bounded max-heap
          // (deterministic selection), instead of materializing them all.
          val batchCap = maxBucketState * 4
          val heap = scala.collection.mutable.PriorityQueue
            .empty[(Long, java.sql.Timestamp)](Ordering.by(r => (r._2.getTime, r._1)))
          // drop already-late arrivals HERE (fMGWS does not): emitted
          // candidates then carry timestamps ≥ the global watermark, the
          // invariant that makes the downstream joins lossless (scaladoc)
          rows.foreach { case (id, ts, _) =>
            if (ts.getTime >= wmMs) {
              heap.enqueue((id, ts))
              if (heap.size > batchCap) heap.dequeue()
            }
          }
          val sorted = heap.dequeueAll.reverse // ascending (ts, id)
          val out = Vector.newBuilder[StreamCandidate]
          val seenInBatch = scala.collection.mutable.HashSet.empty[(Long, Long)]
          sorted.foreach { case (id, ts) =>
            members.foreach { m =>
              if (m.id != id) {
                val pair = (math.min(m.id, id), math.max(m.id, id))
                if (seenInBatch.add(pair))
                  // stamp with the NEWEST member's event time, not the
                  // arrival's: an out-of-order arrival older than the
                  // stored member would otherwise produce a cts the
                  // verify interval (sig ts ≤ cts) rejects for the
                  // stored member, silently dropping a valid pair
                  out += StreamCandidate(pair._1, pair._2,
                    new java.sql.Timestamp(math.max(m.tsMs, ts.getTime)))
              }
            }
            if (!members.exists(_.id == id)) {
              members = members :+ IdMember(id, ts.getTime)
              if (members.length > maxBucketState)
                members = members.sortBy(m => (-m.tsMs, m.id)).take(maxBucketState)
            }
          }
          if (members.isEmpty) {
            // every stored member aged out and every arrival was late —
            // nothing to keep, nothing was paired (an arrival that passes
            // the late guard always joins `members`)
            state.remove()
            Iterator.empty
          } else {
            state.update(BucketIdState(members))
            state.setTimeoutTimestamp(
              math.max(wmMs + 1, members.map(_.tsMs).max), watermark)
            out.result().iterator
          }
        }
    }.toDF("id_a", "id_b", "cts")
      // event-time is re-declared on the operator output so the verify
      // joins downstream can evict their state (watermark propagation)
      .withWatermark("cts", watermark)

    val sa = sigs.select(F.col("doc_id").as("a_id"),
      F.col("minhash").as("mh_a"), F.col("ts").as("ts_a"))
    val sb = sigs.select(F.col("doc_id").as("b_id"),
      F.col("minhash").as("mh_b"), F.col("ts").as("ts_b"))
    candidates
      .join(sa, F.col("id_a") === F.col("a_id") &&
        F.expr(s"ts_a BETWEEN cts - INTERVAL $watermark AND cts"))
      .join(sb, F.col("id_b") === F.col("b_id") &&
        F.expr(s"ts_b BETWEEN cts - INTERVAL $watermark AND cts"))
      .withColumn("est_jaccard", estJaccard(F.col("mh_a"), F.col("mh_b")))
      .where(F.col("est_jaccard") >= cfg.tau)
      .select(F.col("id_a"), F.col("id_b"), F.col("est_jaccard"),
        F.col("cts").as("ts"))
  }
}
