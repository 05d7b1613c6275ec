package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import graft.functions._

/** Exact-substring duplicate pass — the north_star's "suffix-array pass",
  * re-expressed for distribution as winnowed-fingerprint containment
  * (Schleimer et al., SIGMOD'03) + literal verification.
  *
  * A per-group suffix array (the literal reading) needs all group text in
  * one task — a memory wall at web scale. Winnowing gives the same
  * guarantee distributively: any shared substring of length ≥ w + win − 1
  * shares a selected fingerprint, so "text(A) occurs inside text(B)"
  * implies containment(A→B) = |fp(A)∩fp(B)| / |fp(A)| ≈ 1. Candidate
  * directed pairs come from the fingerprint posting lists, capped and
  * collected like LSH buckets ([[Lsh.cappedGroups]]) and expanded by
  * [[Lsh.memberPairs]]; containment is scored by a count aggregation, and
  * candidates are then verified EXACTLY with `contains(text_b, text_a)`
  * on texts attached by [[Lsh.endpointJoin]] — so the emitted edges carry
  * no approximation (what the suffix array would have certified, restored
  * at the pair level where the join is cheap).
  *
  * Scale: posting-list cap before any pairing (partial-agg count, same
  * discipline as Lsh); containment scoring is a groupBy on (small, large)
  * pair keys; the exact `contains` runs only on surviving candidates —
  * the only place full text crosses a shuffle, bounded by candidate count.
  */
object SubstringDedup {

  /** Directed verified edges (a "contained-in" b, emitted as undirected
    * (a, b) for clustering) among docs: columns a, b, containment.
    *
    * Exact-duplicate reduction: the pass runs over ONE representative per
    * distinct text (min doc_id). Identical texts have identical MinHash
    * signatures, land in identical LSH bands and are always verified at
    * est-Jaccard 1.0, so the LSH pass links every exact sibling to the
    * representative and connected components merges the substring edges
    * transitively — except where an exact group is larger than
    * `maxBucketSize`: then every band bucket it fills overflows, LSH emits
    * no pair for it, and its siblings stay unlinked to the representative
    * (ROADMAP item 7; `dup_heavy`'s two 2,050-copy groups). On dup-heavy
    * corpora the reduction removes the densest fingerprint buckets
    * outright (every exact pair shares ALL fingerprints). Callers
    * composing substringEdges WITHOUT the LSH pass must expand edges over
    * exact-text groups themselves. */
  def substringEdges(docs: DataFrame, cfg: DedupConfig): DataFrame = {
    // Representative selection shuffles IDS ONLY (16 B/row): min doc_id
    // per text-hash, joined back to the scan. The direct
    // groupBy(text).first(text) form would push every text byte through
    // the exchange and hold it in aggregation state; here the wide column
    // stays in the scan and AQE turns the join into a broadcast when the
    // rep-id table is small enough.
    val repIds = graft.Caches.track(docs
      .select(F.col("doc_id"), F.xxhash64(F.col("text")).as("th"))
      .groupBy("th").agg(F.min(F.col("doc_id")).as("doc_id"))
      .select("doc_id")) // ids only; consumed by both reps uses below
    val reps = docs.join(repIds, Seq("doc_id"), "left_semi")
    // lineage-truncating checkpoint, not a columnar persist (round 6):
    // the frame is consumed twice (the posting-size counts and the
    // eligibility join's probe side), but its payload is fp ARRAYS —
    // columnar cache encoding of array<long> columns measured ~2.5× the
    // winnow recompute itself at 100k docs; the checkpoint writes
    // UnsafeRows (memcpy) once and both consumers scan it
    val eligible = graft.Caches.truncate(reps
      .where(F.length(F.col("text")) >= cfg.minSubstringChars)
      .select(F.col("doc_id"),
        winnowedFingerprints(F.col("text"), cfg.winnowW, cfg.winnowWin, cfg.seed).as("fp"),
        F.length(F.col("text")).as("len"))
      .withColumn("nfp", F.size(F.col("fp")))
      .where(F.col("nfp") > 0))
    val buckets = cappedPostingBuckets(eligible, cfg)

    // directed candidates: shorter doc (a) potentially inside longer (b);
    // shared-fingerprint count / |fp(a)| = containment estimate
    val cand = Lsh.memberPairs(buckets)
      .where(F.col("x.len") < F.col("y.len") ||
        (F.col("x.len") === F.col("y.len") && F.col("x.doc_id") < F.col("y.doc_id")))
      .groupBy(F.col("x.doc_id").as("a"), F.col("y.doc_id").as("b"))
      .agg(F.count(F.lit(1)).as("shared"), F.first(F.col("x.nfp")).as("nfp_a"))
      .withColumn("containment", F.col("shared").cast("double") / F.col("nfp_a"))
      .where(F.col("containment") >= cfg.containmentThreshold)
      .select("a", "b", "containment")

    // exact verification: literal substring occurrence, folded with the
    // SAME ASCII-only A-Z→a-z fold the fingerprints sampled (F.lower is
    // full Unicode and can change string length — e.g. 'İ' — so the
    // verified predicate would not be the sampled one on non-ASCII text).
    // The folded texts reach the pairs through Lsh.endpointJoin (reps is
    // unique per doc_id by construction); the candidate frame is consumed
    // once, so it is not cached.
    val folded = reps.select(F.col("doc_id"),
      F.translate(F.col("text"), "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")
        .as("text"))
    Lsh.endpointJoin(cand, folded, Seq("text"), carried = Seq("containment"))
      .where(F.col("text_b").contains(F.col("text_a")))
      .select("a", "b", "containment")
  }

  /** Capped posting-list buckets (f → `members` array of (doc_id, len,
    * nfp)): fingerprints shared by 2 to `maxFingerprintPostings` docs,
    * through the same hot-key form as the LSH band buckets
    * ([[Lsh.cappedGroups]]). A site-wide boilerplate block ≥
    * winnowW+winnowWin−1 chars shared by 10^8 pages is exactly the
    * mega-key this pass meets at web scale. The pass reports no posting
    * overflow, so the overflow frame is discarded unevaluated. */
  private def cappedPostingBuckets(eligible: DataFrame, cfg: DedupConfig): DataFrame = {
    val postings = eligible.select(F.col("doc_id"), F.col("len"), F.col("nfp"),
      F.explode(F.col("fp")).as("f"))
    Lsh.cappedGroups(postings, Seq("f"),
      F.struct(F.col("doc_id"), F.col("len"), F.col("nfp")), cfg.maxFingerprintPostings)._1
  }
}
