package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** SQL registration for the engine's custom expressions, so every
  * operator is reachable from `spark.sql(...)` as well as the Column API
  * (the engine's "UDF surface", SURVEY.md §2.7 — native expressions, not
  * UDFs).
  *
  * {{{
  *   GraftFunctions.register(spark)
  *   spark.sql("""
  *     SELECT url, minhash_signature(shingle_hashes(text, 9), 128) AS mh
  *     FROM pages""")
  * }}}
  */
object GraftFunctions {

  private def intArg(e: Expression, name: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a literal INT, got $other")
  }

  private def longArg(e: Expression, name: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a literal BIGINT, got $other")
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry

    reg.createOrReplaceTempFunction("shingle_hashes", exprs => exprs match {
      case Seq(text) => ShingleHashes(text, 9, HashUtil.DefaultSeed)
      case Seq(text, k) => ShingleHashes(text, intArg(k, "k"), HashUtil.DefaultSeed)
      case Seq(text, k, seed) =>
        ShingleHashes(text, intArg(k, "k"), longArg(seed, "seed"))
      case _ => throw new IllegalArgumentException(
        "shingle_hashes(text[, k[, seed]])")
    }, "scala_udf")

    reg.createOrReplaceTempFunction("minhash_signature", exprs => exprs match {
      case Seq(sh) => MinHashSignature(sh, 128, HashUtil.DefaultSeed)
      case Seq(sh, n) => MinHashSignature(sh, intArg(n, "numHashes"), HashUtil.DefaultSeed)
      case Seq(sh, n, seed) => MinHashSignature(sh, intArg(n, "numHashes"),
        longArg(seed, "seed"))
      case _ => throw new IllegalArgumentException(
        "minhash_signature(shingles[, numHashes[, seed]])")
    }, "scala_udf")

    reg.createOrReplaceTempFunction("simhash64", exprs => exprs match {
      case Seq(sh) => SimHash64(sh, HashUtil.DefaultSeed)
      case Seq(sh, seed) => SimHash64(sh, longArg(seed, "seed"))
      case _ => throw new IllegalArgumentException("simhash64(shingles[, seed])")
    }, "scala_udf")

    reg.createOrReplaceTempFunction("winnowed_fingerprints", exprs => exprs match {
      case Seq(text) =>
        val cfg = graft.dedup.DedupConfig()
        WinnowedFingerprints(text, cfg.winnowW, cfg.winnowWin, cfg.seed)
      case Seq(text, w, win) => WinnowedFingerprints(text,
        intArg(w, "w"), intArg(win, "win"), HashUtil.DefaultSeed)
      case Seq(text, w, win, seed) => WinnowedFingerprints(text,
        intArg(w, "w"), intArg(win, "win"), longArg(seed, "seed"))
      case _ => throw new IllegalArgumentException(
        "winnowed_fingerprints(text[, w, win[, seed]])")
    }, "scala_udf")
  }
}
