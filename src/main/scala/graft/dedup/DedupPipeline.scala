package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import graft.functions._

/** Results of a dedup run — the analog of the reference's five output
  * files + report (reference/dupliganger/dedup.py:21-34, 677-803):
  *  - `flagged`   ≈ dups_flagged.sam: every admitted page + cluster id +
  *                  is_duplicate flag (the FLAG|=0x400 analog as a column)
  *                  + nullable near-miss tag columns (near_miss_id /
  *                  near_miss_est_jaccard / near_miss_hamming — the
  *                  at-emission annotation append, dedup.py:765-776)
  *  - `deduped`   ≈ dups_removed.sam: anti-join of pages against losers
  *  - `duplicates`≈ duplicates.sam: the loser rows only
  *  - `clusters`  ≈ dup_groups.samlike: (url, cluster_id, is_canonical)
  *  - `nearMisses`≈ umi_errors.sam: candidate pairs that failed
  *                  verification (close but below τ)
  *  - `rejects`   ≈ hard-clip/quality rejects (db.py:431-439)
  *  - `metrics`   ≈ report_db counter dump (constants.py:67-88)
  *
  * Per-row invariant: `text`/`html` bytes pass through joins untouched —
  * every output row is a projection of an input row (the verbatim-emission
  * invariant, dedup.py:783-797).
  */
final case class DedupResult(
    flagged: DataFrame,
    deduped: DataFrame,
    duplicates: DataFrame,
    clusters: DataFrame,
    nearMisses: DataFrame,
    rejects: DataFrame,
    metrics: DataFrame) {

  /** Release every cache the engine pinned in this session (call once all
    * results are materialized; see graft.Caches for scope). */
  def cleanup(): Unit = graft.Caches.release(flagged.sparkSession)
}

/** The flagship pipeline: pages → quality gate → signatures → LSH
  * candidates → verification → (optional) substring pass → connected
  * components → canonical winner → emission. Mirrors the reference's five
  * sequential ops (reference/dupliganger/dedup.py:864-1072) as Spark
  * stages; see SURVEY.md §3.1 for the op-by-op trace.
  */
object DedupPipeline {

  /** Stage 0+1 — quality gate + signatures, ONE source pass. Returns
    * (sigsAll, rejects):
    *  - sigsAll = EVERY keyed row (gate rejects included) with a
    *    `reject_reason` column (null = admitted) and minhash/simhash
    *    (computed only on admitted rows, so minhash.isNotNull ⇔ signed;
    *    an admitted row with null minhash had no shingleable content).
    *    Callers materialize one narrow projection of this frame
    *    (Caches.truncate in [[run]]) and derive sigs, no-content rejects
    *    AND all gate metrics from it — counting rejects never re-scans
    *    (or re-generates) the source, which at 100 TB would be a whole
    *    extra text pass.
    *  - rejects = the wide gate-reject rows (no_content excluded; callers
    *    derive it from sigsAll). */
  def signatures(pages: DataFrame, cfg: DedupConfig): (DataFrame, DataFrame) = {
    val hashed = pages.withColumn("doc_id", F.xxhash64(F.lit(cfg.seed), F.col("url")))
    // Input contract: url is THE document key (doc_id = hash(url)).
    // Enforcement (see [[enforceIds]]) separates two failure modes, both
    // detected by narrow (doc_id, url) aggregations — no wide row
    // shuffles:
    //  - duplicate urls (contract violation): indistinguishable by key,
    //    so ALL copies route to rejects("dup_url") — pre-clean such
    //    inputs with [[dedupeByUrl]];
    //  - 64-bit birthday collisions between DISTINCT urls (~n²/2^65
    //    pairs; ~10⁴ at 10^12 docs): the min-url row keeps its id, every
    //    other row is remapped to a salt-rehashed id. The remap is a pure
    //    function of the url — deterministic across runs/partitionings —
    //    and keeps all documents in the run. Residual risk (a remapped id
    //    colliding again) is ~collisions·n/2^64 ≈ 10⁻³ corpus-wide at
    //    10^12 docs — documented, not re-checked.
    val base =
      if (!cfg.enforceUniqueIds) hashed.withColumn("dup_url", F.lit(false))
      else enforceIds(hashed, cfg)
    val langOk = cfg.allowedLangs match {
      case Some(ls) => F.col("lang").isin(ls.toSeq: _*)
      case None => F.lit(true)
    }
    // null url cannot be keyed at all (joins and the remap are null-blind;
    // admitting several null-url rows would share one doc_id) → reject
    val reason = F.when(F.col("url").isNull, "null_url")
      .when(F.col("dup_url"), "dup_url")
      .when(F.col("text").isNull, "null_text")
      .when(F.length(F.trim(F.col("text"))) < cfg.minTextChars, "empty_text")
      // NULL lang is a reject when a whitelist is set: isin() is
      // three-valued (NULL lang → NULL), so compare null-safely to true
      .when(F.not(langOk <=> F.lit(true)), "lang")
    val gated0 = base.withColumn("reject_reason", reason).drop("dup_url")
    // windowed-quality gate (off by default): the low-quality id set is
    // narrow (ids of failing docs only) and folds into reject_reason via
    // a doc_id join — AQE broadcasts it when small, the common case
    val gated =
      if (cfg.minWindowQualityPm <= 0) gated0
      else {
        // tracked cache, like enforceIds' tables: the low-quality id set
        // sits in the lineage of EVERY downstream frame, and uncached it
        // would re-run the whole-corpus token-explode aggregation on each
        // re-evaluation of the gated plan
        val lowQ = graft.Caches.track(graft.analysis.TextAnalysis
          .windowedMinQualityPermille(
            gated0.where(F.col("reject_reason").isNull)
              .select("doc_id", "text"), cfg.qualityWin)
          .where(F.col("min_window_quality_pm") < cfg.minWindowQualityPm)
          .select(F.col("doc_id"), F.lit(true).as("_lowq")))
        gated0.join(lowQ, Seq("doc_id"), "left")
          .withColumn("reject_reason", F.coalesce(F.col("reject_reason"),
            F.when(F.col("_lowq"), "low_quality")))
          .drop("_lowq")
      }
    // signatures only where admitted: shingles(null) → null → null
    // minhash/simhash, so reject rows never pay signature compute and
    // minhash.isNotNull still means "signed" downstream
    val admittedText = F.when(F.col("reject_reason").isNull, F.col("text"))
    val sigsAll = gated
      .withColumn("shingles", shingles(admittedText, cfg.shingleK, cfg.seed))
      .withColumn("minhash", minhash(F.col("shingles"), cfg.numHashes, cfg.seed))
      .withColumn("simhash", simhash(F.col("shingles"), cfg.seed))
      .drop("shingles")
    (sigsAll, gated.where(F.col("reject_reason").isNotNull))
  }

  /** Id-uniqueness enforcement over a frame that already carries
    * doc_id = xxhash64(seed, url): flags duplicate urls (`dup_url`
    * column; the caller rejects them) and salt-rehashes the non-min-url
    * rows of distinct-url hash collisions. Package-private so the remap
    * branch — unreachable from real data, since xxhash64 collisions
    * cannot be fabricated at will — is testable against synthetic
    * doc_ids.
    *
    * Cost shape (this is on the serial-floor path of every pipeline run):
    * ONE stacked narrow aggregation over (doc_id, url) — both levels
    * partial-agg friendly, so a contract-violating url flood combines
    * map-side — yields a TINY cached anomaly table (birthday math bounds
    * real collisions; even adversarial k-way xxhash64 multi-collisions
    * cost ≥ 2^43 hash evaluations for k=3, so per-id url lists stay
    * single-digit). All resolution then happens on tiny cached frames,
    * and the corpus pays at most ONE broadcast apply-join — zero joins
    * when the corpus is clean, the overwhelmingly common case. Later
    * remap rounds probe the corpus ONLY when the previous round actually
    * remapped something (never, on real data) — the old form paid a
    * corpus-wide aggregation + join per configured round unconditionally.
    *
    * NOTE: eager, like Lsh's auto-strategy probe — the anomaly
    * aggregation runs a small Spark job at call time so the clean-corpus
    * case can skip the apply-join at plan level. */
  private[dedup] def enforceIds(hashed: DataFrame, cfg: DedupConfig): DataFrame = {
    val spark = hashed.sparkSession
    import spark.implicits._
    // P1 — the one corpus-wide pass: per-url copy counts, rolled up per
    // doc_id. n > 1 ⇔ the id has either a duplicated url or a collision.
    val anomalies = graft.Caches.track(
      hashed.select($"doc_id", $"url")
        .groupBy($"doc_id", $"url").agg(F.count(F.lit(1)).as("nu"))
        .groupBy($"doc_id").agg(
          F.sum($"nu").as("n"),
          F.count(F.when($"nu" === 1, true)).as("n_clean"),
          F.min(F.when($"nu" === 1, $"url")).as("keep_url"),
          F.sort_array(F.collect_list(F.when($"nu" > 1, $"url"))).as("dup_urls"),
          F.sort_array(F.collect_list(F.when($"nu" === 1, $"url"))).as("clean_urls"))
        .where($"n" > 1))

    // Round-1 resolution, tiny-frame algebra only: every url of a
    // duplicated-url group routes to rejects; in a collision group the
    // min clean url keeps the id, the rest are salt-rehashed (a pure
    // function of (salt, url) — deterministic across partitionings).
    val dupResolved = anomalies
      .select(F.explode($"dup_urls").as("url"))
      .select($"url", F.lit(true).as("dup_url"),
        F.lit(null).cast("long").as("new_id"))
    def remapWith(groups: DataFrame, salt: Long): DataFrame = groups
      .select($"keep_url", F.explode($"clean_urls").as("url"))
      .where($"url" =!= $"keep_url")
      .select($"url", F.lit(false).as("dup_url"),
        F.xxhash64(F.lit(salt), $"url").as("new_id"))
    var resolved = graft.Caches.track(
      dupResolved.unionByName(remapWith(anomalies.where($"n_clean" > 1), cfg.seed + 1)))
    var lastRemapped = resolved.where($"new_id".isNotNull)
    // dup_urls (contract violations) bound `resolved`, not birthday math:
    // a self-unioned crawl makes it corpus-sized. The size is known
    // eagerly (tiny cached count), so the broadcast hint is applied only
    // when it actually fits — beyond that the apply-join degrades to a
    // url-keyed shuffle under AQE instead of an OOM'd broadcast build.
    val nResolved = resolved.count()
    val broadcastable = nResolved <= 4000000L
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (broadcastable) F.broadcast(df) else df

    // Rounds 2..idRemapRounds: a fresh remap target can collide with an
    // untouched existing id (or another fresh target). The probe joins
    // the corpus against the broadcast remap set — a narrow scan, paid
    // ONLY when the previous round remapped anything. Groups resolve as
    // before: min url keeps its current id, the rest take this round's
    // salt. See DedupConfig.idRemapRounds for the residual-risk
    // arithmetic that makes round 2 the last one that matters.
    var round = 2
    while (round <= cfg.idRemapRounds && !lastRemapped.isEmpty) {
      val rIds = lastRemapped.select($"new_id".as("doc_id"), $"url")
      val existing = hashed.select($"doc_id", $"url")
        .where($"url".isNotNull)
        .join(maybeBroadcast(resolved.select($"url", F.lit(true).as("_r"))),
          Seq("url"), "left")
        .where($"_r".isNull).drop("_r")
        .join(F.broadcast(rIds.select($"doc_id")), Seq("doc_id"), "left_semi")
      val groups = graft.Caches.track(
        existing.unionByName(rIds.select($"doc_id", $"url"))
          .groupBy($"doc_id").agg(
            F.count(F.lit(1)).as("ng"),
            F.min($"url").as("keep_url"),
            F.sort_array(F.collect_list($"url")).as("clean_urls"))
          .where($"ng" > 1))
      val delta = remapWith(groups, cfg.seed + round)
      resolved = graft.Caches.track(
        resolved.join(delta.select($"url", F.lit(true).as("_upd")), Seq("url"), "left_anti")
          .unionByName(delta))
      lastRemapped = delta
      round += 1
    }

    // Apply — at most one broadcast join against the tiny resolution
    // table; skipped outright (plan-level) when the corpus is clean.
    if (nResolved == 0L) hashed.withColumn("dup_url", F.lit(false))
    else hashed
      .join(maybeBroadcast(resolved), Seq("url"), "left")
      .withColumn("dup_url", F.coalesce($"dup_url", F.lit(false)))
      .withColumn("doc_id", F.coalesce($"new_id", $"doc_id"))
      .drop("new_id")
  }

  /** Pre-clean for inputs that violate the unique-url contract: one row
    * per url, keeping the latest crawl (ties broken by html digest —
    * deterministic). Wide-row shuffle on url; run it once at ingest, not
    * per pipeline run. */
  def dedupeByUrl(pages: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("url")
      .orderBy(F.col("warc_ts").desc, F.md5(F.col("html")))
    pages.withColumn("_rn", F.row_number().over(w))
      .where(F.col("_rn") === 1).drop("_rn")
  }

  /** The 16 aggregate columns behind [[distanceHistograms]], exposed so
    * callers can fold them into an existing pass over the scored pairs
    * (one aggregation job instead of two). */
  def distanceHistogramAggs: Seq[org.apache.spark.sql.Column] =
    (0 until 8).map(b => F.coalesce(F.sum(F.when(
      F.least(F.floor(F.col("est_jaccard") * 8), F.lit(7L)) === b, 1L)
      .otherwise(0L)), F.lit(0L))) ++
      (0 until 8).map(b => F.coalesce(F.sum(F.when(
        F.least(F.col("sim_hamming"), F.lit(7)) === b, 1L)
        .otherwise(0L)), F.lit(0L)))

  /** Histogram metric names, positionally matching [[distanceHistogramAggs]]. */
  val distanceHistogramLabels: Seq[String] =
    (0 until 8).map(b => s"hist_est_jaccard_$b") ++
      (0 until 8).map(b => s"hist_sim_hamming_$b")

  /** 8-bucket distance histograms over scored candidate pairs — the
    * analog of the reference's mismatch-distance report counters
    * (reference/dupliganger/constants.py:67-88, incremented at
    * dedup.py:442-458): est-Jaccard bucket = min(floor(est·8), 7),
    * SimHash-Hamming bucket = min(hamming, 7). */
  def distanceHistograms(scored: DataFrame): Seq[(String, Long)] = {
    val aggs = distanceHistogramAggs
    val row = scored.agg(aggs.head, aggs.tail: _*).head()
    distanceHistogramLabels.zipWithIndex.map { case (l, i) => l -> row.getLong(i) }
  }

  /** Winner flags per doc: (doc_id, cluster_id, is_canonical,
    * is_duplicate) from a cluster assignment (id, component). Pure hash
    * rank (deterministic across partitionings; replaces seeded RNG,
    * reference dedup.py:197-223). */
  def winnerFlags(docIds: DataFrame, assign: DataFrame, cfg: DedupConfig): DataFrame = {
    val spark = docIds.sparkSession
    import spark.implicits._
    val withCluster = docIds.select($"doc_id").join(
      assign.select($"id".as("doc_id"), $"component"), Seq("doc_id"), "left")
      .withColumn("cluster_id", F.coalesce($"component", $"doc_id"))
      .drop("component")
    val ranked = withCluster.withColumn("rank",
      F.xxhash64(F.lit(cfg.canonicalSeed), $"doc_id"))
    // window min_by, not groupBy+join-back: the join would reshuffle the
    // ranked table on cluster_id anyway — co-locating each cluster in one
    // task exactly like the window does — so the separate winner
    // aggregation bought no skew protection, only a second full exchange
    // and a join (serial-floor jobs per run, and a full id-table shuffle
    // saved at 10^12 docs)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    ranked
      .withColumn("winner_id",
        F.min_by($"doc_id", F.struct($"rank", $"doc_id")).over(w))
      .withColumn("is_canonical", $"doc_id" === $"winner_id")
      .withColumn("is_duplicate", !$"is_canonical")
      .select("doc_id", "cluster_id", "is_canonical", "is_duplicate")
  }

  /** Per-doc best near-miss tags from the scored-pair table — the analog
    * of the reference appending tolerant-match annotations onto emitted
    * rows (reference/dupliganger/dedup.py:765-776): for every doc that
    * appears in a failed-verification pair, its closest miss
    * (near_miss_id, near_miss_est_jaccard, near_miss_hamming), best =
    * highest est-Jaccard, ties by lower Hamming then smaller partner id
    * (deterministic across partitionings). Narrow ids+scores only — the
    * emission join attaches it to wide rows without an extra wide
    * shuffle (same doc_id key as the flag join). */
  def nearMissTags(nearMisses: DataFrame): DataFrame = {
    val cols = Seq("est_jaccard", "sim_hamming").map(F.col)
    val dirA = nearMisses.select(
      F.col("a").as("doc_id") +: F.col("b").as("nm_id") +: cols: _*)
    val dirB = nearMisses.select(
      F.col("b").as("doc_id") +: F.col("a").as("nm_id") +: cols: _*)
    dirA.unionByName(dirB)
      .groupBy("doc_id")
      .agg(F.min_by(
        F.struct(F.col("nm_id").as("near_miss_id"),
          F.col("est_jaccard").as("near_miss_est_jaccard"),
          F.col("sim_hamming").as("near_miss_hamming")),
        F.struct((-F.col("est_jaccard")).as("k1"),
          F.col("sim_hamming").as("k2"), F.col("nm_id").as("k3"))).as("best"))
      .select(F.col("doc_id"), F.col("best.near_miss_id"),
        F.col("best.near_miss_est_jaccard"), F.col("best.near_miss_hamming"))
  }

  /** Verified near-dup edges (LSH ∪ substring): the CC input. The
    * signature columns are cached here because candidate generation (and
    * under the default "auto" strategy, its eager size probe), the
    * verification joins and the substring pass each re-evaluate them —
    * uncached, the most expensive expressions in the engine would run
    * several extra times. */
  def dupEdges(sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    // lineage-truncating checkpoint, not a columnar persist: the payload
    // is the 128-long minhash array per row — columnar encode costs more
    // than a signature recompute (see the q_minhash entry in SparkEntry)
    val sigCols = graft.Caches.truncate(sigs.select("doc_id", "minhash", "simhash"))
    val (pairs, _) = Lsh.candidatePairs(sigCols, cfg)
    val verified = Lsh.verifyPairs(pairs, sigCols, cfg)
      .where($"verified").select($"a", $"b")
    val substr =
      if (cfg.substringPass)
        SubstringDedup.substringEdges(sigs.select($"doc_id", $"text"), cfg)
          .select($"a", $"b")
      else spark.emptyDataset[(Long, Long)].toDF("a", "b")
    verified.union(substr)
  }

  /** Full run. `pages` must have columns (url, text, lang [, warc_ts, html]). */
  def run(pages: DataFrame, cfg: DedupConfig = DedupConfig()): DedupResult = {
    val spark = pages.sparkSession
    import spark.implicits._

    // Op1 — signatures (reference Op1: build_read_and_loc_dbs).
    // Payload discipline for 100 TB inputs: only (doc_id, text, minhash,
    // simhash) is materialized (lineage-truncating lazy checkpoint — see
    // Caches.truncate: re-analysis of deep lineage at every downstream
    // action is the pipeline's serial floor) and shuffled through the
    // compute stages; the wide row (html binary, timestamps) stays in the
    // source scan and crosses exactly one shuffle — the final flag join
    // at emission.
    val (sigsAllRaw, gateRejects) = signatures(pages, cfg)
    val sigsAll = graft.Caches.truncate(sigsAllRaw
      .select("doc_id", "text", "minhash", "simhash", "reject_reason"))
    val sigs = sigsAll.where($"minhash".isNotNull)
    val admittedWide = sigsAllRaw.where($"reject_reason".isNull)
      .drop("minhash", "simhash", "reject_reason")
    val noContent = admittedWide.join(
      sigsAll.where($"reject_reason".isNull && $"minhash".isNull)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .withColumn("reject_reason", F.lit("no_content"))
    val rejects = gateRejects.unionByName(noContent, allowMissingColumns = true)
    val sigCols = sigs.select("doc_id", "minhash", "simhash")

    // Op2 — LSH buckets → candidates → verification (reference Op2:
    // write_to_dup_group_db with the tolerant in-bucket match)
    val (pairs, overflow) = Lsh.candidatePairs(sigCols, cfg)
    val scored = graft.Caches.truncate(Lsh.verifyPairs(pairs, sigCols, cfg))
    val verified = scored.where($"verified").select($"a", $"b")
    val nearMisses = scored.where(!$"verified")

    // Op2b — exact-substring pass (north_star suffix-array analog)
    val substr = graft.Caches.truncate(
      if (cfg.substringPass)
        SubstringDedup.substringEdges(sigs.select($"doc_id", $"text"), cfg)
          .select($"a", $"b")
      else spark.emptyDataset[(Long, Long)].toDF("a", "b"))

    // Op2c — group merge = connected components (reference put_dup_groups).
    // The two edge sources are independent given the signature checkpoint,
    // so their first-touch materializations run CONCURRENTLY instead of
    // back-to-back inside CC's first action: each branch is a serial chain
    // of AQE stage-submission round-trips (~21 jobs LSH-verify, ~26
    // substring), and overlapping the chains removes min(t_lsh, t_substr)
    // of executor-count-independent latency from every run — on a real
    // cluster the same submission overlap also fills otherwise-idle
    // executors. Race discipline (same as the report futures below): each
    // future first-touches a DIFFERENT lazy checkpoint, and their shared
    // upstream (sigsAll) is forced to be materialized first, on this
    // thread.
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      if (!org.apache.spark.sql.graftshim.GraftSqlShim.isMaterializedLocalCheckpoint(sigsAll))
        sigsAll.count()
      val scoredF = Future(scored.count())
      val substrF = Future(substr.count())
      Await.result(scoredF, Duration.Inf)
      Await.result(substrF, Duration.Inf)
    }
    val edges = verified.union(substr)
    val assign = ConnectedComponents.run(edges) // (id, component)

    // Op3 — winner per cluster (narrow: ids only — no payload in the
    // winner shuffles)
    val flags = winnerFlags(sigs, assign, cfg)

    // Op5 prep — the ONE wide join: flags back onto full admitted rows.
    // shuffle_hash: the hash table builds from the narrow flags side and
    // the wide (html-bearing) rows stream through — sort-merge would sort
    // kilobytes of payload per row to equality-match an 8-byte id.
    // Near-miss tags ride the same doc_id-keyed join (left: most docs
    // have none) — emitted rows carry their closest-miss annotation, the
    // reference's at-emission tag append (dedup.py:765-776).
    val flagged = graft.Caches.truncateTagged(
      admittedWide.join(flags.hint("shuffle_hash"), "doc_id")
        .join(nearMissTags(nearMisses).hint("shuffle_hash"), Seq("doc_id"), "left"),
      tag = "flagship-emission")

    // Op5 — emission (reference write_output_files_pe: anti/semi routing)
    val deduped = flagged.where($"is_canonical")
      .drop("is_canonical", "is_duplicate", "cluster_id")
    val duplicates = flagged.where($"is_duplicate")
      .drop("is_canonical", "is_duplicate")
    val clusters = flagged.select($"url", $"doc_id", $"cluster_id", $"is_canonical")

    // Report — consolidated into 5 aggregate jobs (one per stage frame),
    // not a count() per counter, with the four that read ALREADY
    // MATERIALIZED stage checkpoints (sigsAll/scored/substr were forced
    // by earlier actions; overflow is a local relation) submitted
    // CONCURRENTLY: the driver awaits them together, so their scheduler
    // round-trips overlap instead of paying serial latencies (on a
    // cluster the independent jobs also fill otherwise-idle executors).
    // flagStats stays on the caller thread — it is the FIRST action on
    // flagged's lazy checkpoint, and concurrent first-touch of an
    // unmaterialized checkpoint races on its SQL-metric accumulators
    // (observed: "attempted to access non-existent accumulator"). ALL
    // gate numbers (pages_total, per-reason rejects, signed/admitted)
    // come from ONE aggregation of the stage signature frame — no job
    // ever re-scans the source.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // Enforced (not assumed): every frame a future first-touches must be a
    // MATERIALIZED checkpoint before submission. The guard below is what
    // keeps that first touch safe: it forces, with a cheap count() on this
    // thread, whichever of the three no earlier action has (the overlap
    // block above normally forced all three; ConnectedComponents.run
    // reads only scored and substr, never sigsAll), so a reordered or
    // shortened stage path cannot reopen the accumulator race.
    Seq(sigsAll, scored, substr).foreach { f =>
      if (!org.apache.spark.sql.graftshim.GraftSqlShim.isMaterializedLocalCheckpoint(f))
        f.count()
    }
    val gateStatsF = Future(sigsAll.groupBy("reject_reason")
      .agg(F.count(F.lit(1)).as("n"), F.count($"minhash").as("nsig")).collect())
    val pairAggs = Seq(
      F.count(F.lit(1)),
      F.coalesce(F.sum(F.when($"verified", 1L).otherwise(0L)), F.lit(0L))) ++
      distanceHistogramAggs
    val pairStatsF = Future(scored.agg(pairAggs.head, pairAggs.tail: _*).head())
    val substrPairsF = Future(substr.count())
    val overflowF = Future(overflow.head())
    val flagStats = flagged.agg(
      F.coalesce(F.sum(F.when($"is_duplicate", 1L).otherwise(0L)), F.lit(0L)),
      F.countDistinct(F.when($"is_duplicate", $"cluster_id"))).head()

    val gateStats = Await.result(gateStatsF, Duration.Inf)
    val admittedRow = gateStats.filter(_.isNullAt(0))
    // n counts every gate-admitted row; nsig counts the signed subset
    // (non-null minhash) — the names mirror the counts they hold
    val docsGateAdmitted = admittedRow.map(_.getLong(1)).sum
    val docsSigned = admittedRow.map(_.getLong(2)).sum
    val pagesTotal = gateStats.map(_.getLong(1)).sum
    val gateRejectRows = gateStats.filter(!_.isNullAt(0))
      .map(r => r.getString(0) -> r.getLong(1))
    val pairStats = Await.result(pairStatsF, Duration.Inf)
    val (candPairs, verifiedPairs) = (pairStats.getLong(0), pairStats.getLong(1))
    val hists = distanceHistogramLabels.zipWithIndex
      .map { case (l, i) => l -> pairStats.getLong(i + 2) }
    val substrPairs = Await.result(substrPairsF, Duration.Inf)
    val (dupsRemoved, clustersMulti) = (flagStats.getLong(0), flagStats.getLong(1))
    val o = Await.result(overflowF, Duration.Inf)

    val metrics = Seq(
      "pages_total" -> pagesTotal,
      "rejects" -> (pagesTotal - docsSigned),
      "docs_admitted" -> docsSigned,
      "no_content_rejects" -> (docsGateAdmitted - docsSigned),
      "candidate_pairs" -> candPairs,
      "verified_pairs" -> verifiedPairs,
      "near_miss_pairs" -> (candPairs - verifiedPairs),
      "substring_pairs" -> substrPairs,
      "clusters_multi" -> clustersMulti,
      "duplicates_removed" -> dupsRemoved,
      "lsh_overflow_buckets" -> o.getLong(0),
      "lsh_overflow_rows" -> o.getLong(1)
    ).++(hists)
      .++(gateRejectRows.map { case (reason, n) => s"reject_$reason" -> n })
      .toDF("metric", "value").orderBy("metric")

    DedupResult(flagged, deduped, duplicates, clusters, nearMisses, rejects, metrics)
  }
}
