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
  *
  * Fixed, not settable: the band layout (`bands`, `rowsPerBand`, and
  * `numHashes` = their product), the substring containment threshold, the
  * substring length floor (`minSubstringChars` = the winnowing guarantee
  * floor) and the engine seed, which also ranks the canonical winner.
  * The reference fixes the same kind of values in its constants block,
  * its winner draw included (`random.seed('Little Ashes')`,
  * constants.py:159), and no run of this engine sets them otherwise.
  */
final case class DedupConfig(
    shingleK: Int = 9,
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
    /** Fingerprints shared by more than this many docs are dropped from
      * substring candidate generation (boilerplate guard). */
    maxFingerprintPostings: Int = 1000,
    /** Languages admitted past the quality gate; None = admit all. */
    allowedLangs: Option[Set[String]] = None,
    /** Sliding-window quality floor (permille, 0 = off): reject docs whose
      * minimum `qualityWin`-token window alpha-density drops below this —
      * the literal analog of the reference's windowed quality filter
      * (barcode_split_quality_filter_umi_anno.py:378-403). Enabling adds
      * one per-row kernel and one clause to the reject-reason chain. */
    minWindowQualityPm: Int = 0,
    /** Token window size for [[minWindowQualityPm]]. */
    qualityWin: Int = 8,
    /** Run the winnowing substring pass (north_star suffix-array analog). */
    substringPass: Boolean = true
) {
  val bands: Int = 32
  val rowsPerBand: Int = 4
  val numHashes: Int = bands * rowsPerBand
  /** Fraction of the contained doc's fingerprints that must appear in the
    * container before the literal `contains` verification runs. */
  val containmentThreshold: Double = 0.8
  /** Docs shorter than this can't be substring-dedup subjects: the
    * winnowing guarantee floor, below which a doc can share no
    * fingerprint with its container. */
  val minSubstringChars: Int = winnowW + winnowWin - 1
  /** Engine seed (shingles/minhash/simhash, doc ids) and canonical-winner
    * rank — role of the reference's `random.seed('Little Ashes')`
    * (constants.py:159), realized as a pure hash rank so it is stable
    * across partitionings and runs. */
  val seed: Long = HashUtil.DefaultSeed
}
