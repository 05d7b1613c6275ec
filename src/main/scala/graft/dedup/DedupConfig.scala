package graft.dedup

import graft.functions.HashUtil

/** Fixed configuration of the near-duplicate pipeline — the analog of the
  * reference's strategy selection + constants block
  * (reference/dupliganger/dedup.py:933-959, constants.py:120-159): one
  * immutable object decides signature family, bucket layout, tolerance
  * threshold and determinism seed for the whole run.
  *
  * Defaults follow SURVEY.md §7.1: 9-word shingles, 128 MinHashes in
  * 32 bands × 4 rows, est-Jaccard τ = 0.8. At τ = 0.8 the banding S-curve
  * gives candidate-recall 1 − (1 − 0.8⁴)³² ≈ 1 − 5·10⁻⁸ — the ≥0.99 target
  * is met by construction for CANDIDATE recall only. Verification keeps a
  * pair when its 128-hash estimate is ≥ τ, a binomial tail: a pair of
  * true Jaccard 0.80 survives with probability ≈ 0.50, 0.85 with ≈ 0.94,
  * 0.88 with ≈ 0.995 — dup-pair recall ≥ 0.99 holds only for J ≳ 0.88.
  */
final case class DedupConfig(
    shingleK: Int = 9,
    numHashes: Int = 128,
    bands: Int = 32,
    rowsPerBand: Int = 4,
    tau: Double = 0.8,
    /** Band buckets larger than this are dropped from pair generation
      * (boilerplate mega-buckets); dropped volume is reported in metrics.
      * The hot-bucket cap from SURVEY.md §4. */
    maxBucketSize: Int = 2000,
    /** Winnowing window sizes for the exact-substring pass: any shared
      * substring of ≥ winnowW + winnowWin − 1 chars shares a fingerprint.
      * win also sets the sampling density (~2/(win+1) of all grams): the
      * posting volume knob — at 10^12 docs this is the dominant shuffle. */
    winnowW: Int = 48,
    winnowWin: Int = 96,
    /** Fraction of the contained doc's fingerprints that must appear in the
      * container before the literal `contains` verification runs. */
    containmentThreshold: Double = 0.8,
    /** Docs shorter than this many chars can't be substring-dedup
      * subjects. Must be ≥ winnowW + winnowWin − 1 (the winnowing
      * guarantee floor), enforced below. */
    minSubstringChars: Int = 143,
    /** Fingerprints shared by more than this many docs are dropped from
      * substring candidate generation (boilerplate guard). */
    maxFingerprintPostings: Int = 1000,
    /** Enforce doc_id uniqueness at ingest (input contract: url is THE
      * document key). 64-bit ids birthday-collide at ~n²/2^65 (≈10⁴ pairs
      * at 10^12 docs); without enforcement a collision fans out the flag
      * join and corrupts counts. When on: duplicate input urls (contract
      * violation) route to rejects("dup_url") — pre-clean with
      * DedupPipeline.dedupeByUrl — and distinct-url hash collisions are
      * resolved by salt-rehashing the non-min-url rows (all docs kept).
      * Costs narrow (doc_id, url) shuffles + broadcast joins back.
      * Disable only when the corpus is known collision-free. */
    enforceUniqueIds: Boolean = true,
    /** Salt-rehash rounds for distinct-url hash collisions under
      * [[enforceUniqueIds]]. One round leaves a ~n_coll·n/2^64 ≈ 5·10⁻⁴
      * corpus-wide chance (at 10^12 docs) that a REMAPPED id collides
      * again; each further round multiplies the residual by n/2^64
      * (≈ 5·10⁻⁸), so the default 2 retires it (~3·10⁻¹¹) for the cost
      * of one extra narrow (doc_id, url) aggregation + broadcast join —
      * the reason a 128-bit id type (and its fatter shuffles everywhere)
      * is not needed. */
    idRemapRounds: Int = 2,
    /** Languages admitted past the quality gate; None = admit all. */
    allowedLangs: Option[Set[String]] = None,
    /** Minimum text length (chars) past the quality gate. */
    minTextChars: Int = 1,
    /** Sliding-window quality floor (permille, 0 = off): reject docs whose
      * minimum `qualityWin`-token window alpha-density drops below this —
      * the literal analog of the reference's windowed quality filter
      * (barcode_split_quality_filter_umi_anno.py:378-403). Enabling costs
      * one narrow token-explode aggregation plus a doc_id join of the
      * (small) low-quality id set back onto the gate. */
    minWindowQualityPm: Int = 0,
    /** Token window size for [[minWindowQualityPm]]. */
    qualityWin: Int = 8,
    /** Engine seed (shingles/minhash/simhash). */
    seed: Long = HashUtil.DefaultSeed,
    /** Canonical-winner ranking seed — role of the reference's
      * `random.seed('Little Ashes')` (constants.py:159), realized as a pure
      * hash rank so it is stable across partitionings and runs. */
    canonicalSeed: Long = HashUtil.DefaultSeed,
    /** Run the winnowing substring pass (north_star suffix-array analog). */
    substringPass: Boolean = true
) {
  require(numHashes == bands * rowsPerBand,
    s"numHashes ($numHashes) must equal bands*rowsPerBand (${bands * rowsPerBand})")
  require(idRemapRounds >= 1, s"idRemapRounds must be >= 1, got $idRemapRounds")
  require(minSubstringChars >= winnowW + winnowWin - 1,
    s"minSubstringChars ($minSubstringChars) below the winnowing guarantee " +
      s"floor winnowW+winnowWin-1 (${winnowW + winnowWin - 1}): docs shorter " +
      "than the floor can share no fingerprint with their container")
}
