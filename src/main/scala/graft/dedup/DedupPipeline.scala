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
  *
  * The frames are lazy (`metrics` excepted: its values are computed by
  * the run). `flagged` is a lazy checkpoint that the run does not fill;
  * the caller's first action on `flagged`, `deduped`, `duplicates` or
  * `clusters` fills it. A concurrent first touch of an unfilled lazy
  * checkpoint races on its SQL-metric accumulators, so touch `flagged`
  * once (for example `flagged.count()`) before handing the frames to
  * concurrent writers.
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
    //    and keeps all documents in the run. Residual risk: see the
    //    round-2 comment in [[enforceIds]].
    val base = enforceIds(hashed, cfg)
    // null url cannot be keyed at all (joins and the remap are null-blind;
    // admitting several null-url rows would share one doc_id) → reject
    val contentReason = F.when(F.col("url").isNull, "null_url")
      .when(F.col("dup_url"), "dup_url")
      .when(F.col("text").isNull, "null_text")
      // no character outside Unicode White_Space ((?U) gives \S that
      // meaning): tabs, newlines and no-break spaces count like U+0020,
      // the only character Spark's trim strips
      .when(!F.col("text").rlike("(?U)\\S"), "empty_text")
    // the lang clause exists only under a whitelist. NULL lang is a reject
    // there: isin() is three-valued (NULL lang → NULL), so compare
    // null-safely to true
    val langReason = cfg.allowedLangs.fold(contentReason)(ls => contentReason
      .when(F.not(F.col("lang").isin(ls.toSeq: _*) <=> F.lit(true)), "lang"))
    // windowed-quality gate (off by default): a per-row kernel, so one
    // more clause of the same chain (a null score, no window, passes)
    val reason =
      if (cfg.minWindowQualityPm <= 0) langReason
      else langReason.when(
        windowedMinQuality(F.col("text"), cfg.qualityWin) < cfg.minWindowQualityPm,
        "low_quality")
    val gated = base.withColumn("reject_reason", reason).drop("dup_url")
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
    * single-digit). All resolution then happens on tiny frames over that
    * cache, and the corpus pays at most ONE broadcast apply-join — zero
    * joins when the corpus is clean, the overwhelmingly common case. The
    * round-2 probe reads the corpus ONLY when round 1 remapped something
    * (never, on real data).
    *
    * NOTE: eager — one count of the round-1 resolution runs at call time
    * (it fills the anomaly cache), so the clean-corpus case can skip the
    * apply-join at plan level. */
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
    val round1 =
      dupResolved.unionByName(remapWith(anomalies.where($"n_clean" > 1), cfg.seed + 1))
    // The one action: round 1's size and how many of its rows it remaps.
    // dup_urls (contract violations) bound that size, not birthday math:
    // a self-unioned crawl makes it corpus-sized. Knowing it eagerly, the
    // broadcast hint is applied only when it actually fits — beyond that
    // the apply-join degrades to a url-keyed shuffle under AQE instead of
    // an OOM'd broadcast build.
    val sizes = round1.agg(F.count(F.lit(1)), F.count($"new_id")).head()
    val (nResolved, nRemapped) = (sizes.getLong(0), sizes.getLong(1))
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (nResolved <= 4000000L) F.broadcast(df) else df

    // Round 2: a fresh remap target can collide with an untouched existing
    // id (or another fresh target). The probe joins the corpus against
    // the broadcast remap set — a narrow scan, paid ONLY when round 1
    // remapped anything. Groups resolve as in round 1: min url keeps its
    // current id, the rest take the round-2 salt. Residual risk: round 1
    // leaves a ~n_coll·n/2^64 ≈ 5·10⁻⁴ corpus-wide chance (at 10^12 docs)
    // that a REMAPPED id collides again; a further round multiplies that
    // by n/2^64 (≈ 5·10⁻⁸), so round 2 retires it (~3·10⁻¹¹) for one
    // extra narrow (doc_id, url) aggregation + broadcast join — the reason
    // neither a third round nor a 128-bit id type (and its fatter shuffles
    // everywhere) is needed.
    val resolved = if (nRemapped == 0L) round1 else {
      val rIds = round1.where($"new_id".isNotNull).select($"new_id".as("doc_id"), $"url")
      val existing = hashed.select($"doc_id", $"url")
        .where($"url".isNotNull)
        .join(maybeBroadcast(round1.select($"url")), Seq("url"), "left_anti")
        .join(F.broadcast(rIds.select($"doc_id")), Seq("doc_id"), "left_semi")
      val groups = existing.unionByName(rIds)
        .groupBy($"doc_id").agg(
          F.count(F.lit(1)).as("ng"),
          F.min($"url").as("keep_url"),
          F.sort_array(F.collect_list($"url")).as("clean_urls"))
        .where($"ng" > 1)
      val delta = remapWith(groups, cfg.seed + 2)
      round1.join(delta.select($"url"), Seq("url"), "left_anti").unionByName(delta)
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
      F.xxhash64(F.lit(cfg.seed), $"doc_id"))
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

  /** How one stage's output is held for the stages that read it: given
    * the stage name and its builder, return the frame later stages read.
    * The shape of `StageStore.runStaged`. [[run]] truncates lineage
    * (`Caches.truncate`); `ResumableDedupPipeline` commits each stage to
    * parquet; `graft.Bench` truncates, counts and times each stage. A
    * hold may skip the builder (a resume reloads committed bytes). */
  private[graft] type Hold = (String, () => DataFrame) => DataFrame

  /** The stage frames of one run, as the hold returned them, plus what
    * emission needs from outside the holds: the raw signature frame (wide
    * admitted rows), the gate rejects and the lazy LSH overflow count. */
  private[graft] final case class Stages(
      sigsAllRaw: DataFrame,
      gateRejects: DataFrame,
      overflow: DataFrame,
      sigsAll: DataFrame,
      scored: DataFrame,
      substr: DataFrame,
      assign: DataFrame,
      flags: DataFrame)

  /** The stage graph, written once: `signatures` → `scored` (every LSH
    * candidate pair with its est-Jaccard / Hamming / verified verdict) →
    * `substr_edges` (a, b, containment) → `assign` (id, component) →
    * `flags` (winner flags). Each stage's builder goes through `hold`; the
    * hold is the only thing the plain, resumable and benchmark runs
    * change. Mirrors the reference's sequential ops
    * (reference/dupliganger/dedup.py:864-1072).
    *
    * Payload discipline for 100 TB inputs: only (doc_id, text, minhash,
    * simhash) is held and shuffled through the compute stages; the wide
    * row (html binary, timestamps) stays in the source scan and crosses
    * exactly one shuffle — the flag join at emission ([[emit]]). */
  private[graft] def stages(pages: DataFrame, cfg: DedupConfig)(hold: Hold): Stages = {
    val spark = pages.sparkSession
    import spark.implicits._
    def held(name: String)(build: => DataFrame): DataFrame = hold(name, () => build)

    // Op1 — signatures (reference Op1: build_read_and_loc_dbs)
    val (sigsAllRaw, gateRejects) = signatures(pages, cfg)
    val sigsAll = held("signatures")(sigsAllRaw
      .select("doc_id", "text", "minhash", "simhash", "reject_reason"))
    val sigs = sigsAll.where($"minhash".isNotNull)
    val sigCols = sigs.select("doc_id", "minhash", "simhash")

    // Op2 — LSH buckets → candidates → verification (reference Op2:
    // write_to_dup_group_db with the tolerant in-bucket match). Both
    // candidate frames are lazy: a resume that reloads `scored` never
    // runs `pairs`, and `overflow` re-counts the buckets from the held
    // signatures for the report.
    val (pairs, overflow) = Lsh.candidatePairs(sigCols, cfg)
    val scored = held("scored")(Lsh.verifyPairs(pairs, sigCols, cfg))

    // Op2b — exact-substring pass (north_star suffix-array analog)
    val substr = held("substr_edges") {
      if (cfg.substringPass)
        SubstringDedup.substringEdges(sigs.select($"doc_id", $"text"), cfg)
      else spark.emptyDataset[(Long, Long, Double)].toDF("a", "b", "containment")
    }

    // Op2c — group merge = connected components (reference put_dup_groups)
    val edges = scored.where($"verified").select($"a", $"b")
      .union(substr.select($"a", $"b"))
    val assign = held("assign")(ConnectedComponents.run(edges))

    // Op3 — winner per cluster (narrow: ids only — no payload in the
    // winner shuffles)
    val flags = held("flags")(winnerFlags(sigs, assign, cfg))

    Stages(sigsAllRaw, gateRejects, overflow, sigsAll, scored, substr, assign, flags)
  }

  /** Emission and report over held stages: the one wide join (flags and
    * near-miss tags back onto the admitted source rows), the anti/semi
    * routing into the result frames, and the metrics table. The wide rows
    * come from the source scan, so every output row is a projection of an
    * input row whichever hold produced the stages. */
  private[graft] def emit(st: Stages): DedupResult = {
    val spark = st.sigsAll.sparkSession
    import spark.implicits._
    import st.{sigsAll, scored, substr, assign, flags, overflow}

    val admittedWide = st.sigsAllRaw.where($"reject_reason".isNull)
      .drop("minhash", "simhash", "reject_reason")
    val noContent = admittedWide.join(
      sigsAll.where($"reject_reason".isNull && $"minhash".isNull)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .withColumn("reject_reason", F.lit("no_content"))
    val rejects = st.gateRejects.unionByName(noContent, allowMissingColumns = true)
    val nearMisses = scored.where(!$"verified")

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

    // Report — one aggregate per held stage, run one after another on
    // this thread, not a count() per counter. Each reads a narrow held
    // stage (or, for overflow, re-counts the band buckets from sigsAll);
    // none touches the wide flagged checkpoint. ALL gate numbers
    // (pages_total, per-reason rejects, signed/admitted) come from ONE
    // aggregation of the signature stage — no job ever re-scans the
    // source.
    val gateStats = sigsAll.groupBy("reject_reason")
      .agg(F.count(F.lit(1)).as("n"), F.count($"minhash").as("nsig")).collect()
    val (admittedRow, gateRejectRows) = gateStats.partition(_.isNullAt(0))
    // n counts every gate-admitted row; nsig counts the signed subset
    // (non-null minhash) — the names mirror the counts they hold
    val docsGateAdmitted = admittedRow.map(_.getLong(1)).sum
    val docsSigned = admittedRow.map(_.getLong(2)).sum
    val pagesTotal = gateStats.map(_.getLong(1)).sum
    // One aggregate over the scored pairs: candidate and verified counts
    // and the 8-bucket distance histograms, the analog of the reference's
    // mismatch-distance counters (reference/dupliganger/constants.py:67-88,
    // incremented at dedup.py:442-458): est-Jaccard bucket =
    // min(floor(est·8), 7), SimHash-Hamming bucket = min(hamming, 7).
    val histAggs = for {
      (name, bucket) <- Seq(
        "hist_est_jaccard" -> F.least(F.floor($"est_jaccard" * 8), F.lit(7L)),
        "hist_sim_hamming" -> F.least($"sim_hamming", F.lit(7)))
      b <- 0 until 8
    } yield s"${name}_$b" -> F.count(F.when(bucket === b, true))
    val pairStats = scored.agg(F.count(F.lit(1)),
      F.count(F.when($"verified", true)) +: histAggs.map(_._2): _*).head()
    val (candPairs, verifiedPairs) = (pairStats.getLong(0), pairStats.getLong(1))
    val substrPairs = substr.count()
    val o = overflow.head()
    // Cluster counts from the narrow assign stage. assign holds exactly the
    // docs of multi-doc clusters, each cluster's min id once as its own row
    // (id = component), on both CC paths. That needs two facts that hold by
    // construction: the edges have no self-loops (scored has a < b, substr
    // has a ≠ b), so every assign node shares a cluster with another doc;
    // and every assign node is a signed doc, so winnerFlags keeps it. Each
    // cluster's non-winners are its duplicates: rows − clusters.
    val assignStats = assign.agg(F.count(F.lit(1)),
      F.count(F.when($"id" === $"component", true))).head()
    val clustersMulti = assignStats.getLong(1)
    val dupsRemoved = assignStats.getLong(0) - clustersMulti

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
    ).++(histAggs.indices.map(i => histAggs(i)._1 -> pairStats.getLong(i + 2)))
      .++(gateRejectRows.map(r => s"reject_${r.getString(0)}" -> r.getLong(1)))
      .toDF("metric", "value").orderBy("metric")

    DedupResult(flagged, deduped, duplicates, clusters, nearMisses, rejects, metrics)
  }

  /** Full run. `pages` must have columns (url, text, lang [, warc_ts, html]).
    *
    * The [[stages]] graph with every stage held by a lineage-truncating
    * lazy checkpoint (`Caches.truncate`: re-analysis of deep lineage at
    * every downstream action is the pipeline's serial floor), then
    * [[emit]]. `ResumableDedupPipeline.run` is the same graph and the same
    * emission with stages committed to parquet instead. */
  def run(pages: DataFrame, cfg: DedupConfig = DedupConfig()): DedupResult =
    emit(stages(pages, cfg)((_, build) => graft.Caches.truncate(build())))
}
