package graft.functions

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec

/** Parity: the per-row window kernels must reproduce the exploded
  * window-shuffle forms they replaced row-for-row (both layouts are
  * SQL-oracle-pinned, so equality must be exact). The old forms are
  * reconstructed inline, verbatim from the round-5 code. */
class TextWindowExpressionsSpec extends SparkSpec {
  import graft.functions.{md5WinnowedFingerprints, windowedMinQuality, winnowedFingerprints}

  private val edgeTexts = Seq(
    "",                              // no tokens / no grams
    " ",                             // separators only
    "a",                             // single 1-char token
    "ab cd  ef   gh",                // multi-space separators
    "the quick brown fox jumps over the lazy dog again and again",
    "x" * 23,                        // one char short of winnowW=24
    "x" * 24,                        // exactly one gram
    "x" * 50,                        // repeated grams (dup fingerprints)
    "abcdefghij " * 40,              // numGrams >> win
    "word" * 10,                     // no separators at all
    "a1b2 c3d4 !!! ??? 12345 mixed UPPER lower"
  )

  private lazy val docs: DataFrame = {
    import spark.implicits._
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(F.col("doc_id"), F.col("text"))
    val edges = edgeTexts.zipWithIndex
      .map { case (t, i) => (1000000L + i, t) }.toDF("doc_id", "text")
    real.unionByName(edges)
  }

  // ---- old exploded forms (round-5 code, verbatim) -----------------------

  private def explodedWindowQuality(in: DataFrame, win: Int): DataFrame = {
    def tokens(c: org.apache.spark.sql.Column) = F.filter(F.split(c, " "), t => t =!= "")
    val w = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.currentRow, win - 1)
    in.select(F.col("doc_id"), tokens(F.col("text")).as("ws"))
      .where(F.size(F.col("ws")) >= 1)
      .select(F.col("doc_id"), F.size(F.col("ws")).as("nt"),
        F.posexplode(F.col("ws")).as(Seq("i", "tok")))
      .select(F.col("doc_id"), F.col("nt"), F.col("i"),
        F.length(F.col("tok")).cast("long").as("l"),
        F.regexp_count(F.col("tok"), F.lit("[A-Za-z]")).cast("long").as("a"))
      .withColumn("wa", F.sum("a").over(w))
      .withColumn("wl", F.sum("l").over(w))
      .where(F.col("i") <= F.greatest(F.col("nt") - win, F.lit(0)))
      .select(F.col("doc_id"), F.expr("(1000 * wa) div wl").as("q"))
      .groupBy("doc_id").agg(F.min("q").as("min_window_quality_pm"))
  }

  private def explodedMd5Winnow(in: DataFrame, w: Int, win: Int): DataFrame = {
    val wnd = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.currentRow, win - 1)
    in.select(F.col("doc_id"), F.col("text"),
        (F.length(F.col("text")) - w + 1).as("ng"))
      .where(F.col("ng") >= 1)
      .select(F.col("doc_id"), F.col("text"), F.col("ng"),
        F.explode(F.sequence(F.lit(1), F.col("ng"))).as("i"))
      .select(F.col("doc_id"), F.col("ng"), F.col("i"),
        F.expr(s"cast(conv(substring(md5(encode(substring(text, cast(i as int), $w), 'utf-8')), 1, 15), 16, 10) as bigint)").as("hv"))
      .withColumn("wmin", F.min("hv").over(wnd))
      .where(F.col("i") <= F.greatest(F.col("ng") - win + 1, F.lit(1)))
      .select(F.col("doc_id"), F.col("wmin").as("fp"))
      .distinct()
  }

  // the production kernel's layout with each gram hashed directly (no
  // rolling update): polynomial over the ASCII-folded UTF-16 chars, then
  // mix64 with the seed; windows and minima in SQL as above
  private def explodedWinnow(in: DataFrame, w: Int, win: Int): DataFrame = {
    val gramHashes = F.udf((text: String) => (0 to text.length - w).map { i =>
      var h = 0L
      text.substring(i, i + w).foreach { c =>
        h = h * 0x100000001B3L + (if (c >= 'A' && c <= 'Z') c + 32 else c.toInt)
      }
      HashUtil.mix64(h ^ HashUtil.DefaultSeed)
    })
    val wnd = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.currentRow, win - 1)
    in.select(F.col("doc_id"), gramHashes(F.col("text")).as("g"))
      .select(F.col("doc_id"), F.size(F.col("g")).as("ng"),
        F.posexplode(F.col("g")).as(Seq("i", "hv")))
      .withColumn("wmin", F.min("hv").over(wnd))
      .where(F.col("i") <= F.greatest(F.col("ng") - win, F.lit(0)))
      .select(F.col("doc_id"), F.col("wmin").as("fp"))
      .distinct()
  }

  private def asSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("windowedMinQuality matches the posexplode+window form (win=8 and 3)") {
    for (win <- Seq(8, 3, 1)) {
      val newForm = docs
        .select(F.col("doc_id"), windowedMinQuality(F.col("text"), win).as("q"))
        .where(F.col("q").isNotNull)
      val oldForm = explodedWindowQuality(docs, win)
      assert(asSet(newForm) == asSet(oldForm), s"mismatch at win=$win")
    }
  }

  test("md5WinnowedFingerprints matches the explode+window form (24/16)") {
    val newForm = docs.select(F.col("doc_id"),
      F.explode(md5WinnowedFingerprints(F.col("text"), 24, 16)).as("fp"))
    val oldForm = explodedMd5Winnow(docs, 24, 16)
    assert(asSet(newForm) == asSet(oldForm))
  }

  test("ngrams (WordNgrams) matches the HOF transform/array_distinct form") {
    // the round-5 form, verbatim (incl. its null-text -> empty coalesce)
    def hofNgrams(text: org.apache.spark.sql.Column, n: Int) = {
      val ws = F.filter(F.split(text, " "), t => t =!= "")
      F.when(F.size(ws) >= n,
        F.array_distinct(F.transform(F.sequence(F.lit(0), F.size(ws) - n),
          i => F.concat_ws(" ", (0 until n).map(j => F.element_at(ws, i + j + 1)): _*))))
        .otherwise(F.array().cast("array<string>"))
    }
    import spark.implicits._
    val withNull = docs.unionByName(
      Seq((2000000L, Option.empty[String])).toDF("doc_id", "text"))
    for (n <- Seq(3, 1, 5)) {
      val cmp = withNull.select(
        graft.analysis.NgramJaccard.ngrams(F.col("text"), n).as("a"),
        hofNgrams(F.col("text"), n).as("b"))
      cmp.collect().foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n")
      }
    }
  }

  test("md5WinnowedFingerprints matches at degenerate sizes (w=2, win=1)") {
    val newForm = docs.select(F.col("doc_id"),
      F.explode(md5WinnowedFingerprints(F.col("text"), 2, 1)).as("fp"))
    val oldForm = explodedMd5Winnow(docs, 2, 1)
    assert(asSet(newForm) == asSet(oldForm))
  }

  test("winnowedFingerprints (production) matches the explode+window form") {
    for ((w, win) <- Seq((48, 96), (2, 1), (24, 16))) {
      val newForm = docs.select(F.col("doc_id"), F.explode(
        winnowedFingerprints(F.col("text"), w, win, HashUtil.DefaultSeed)).as("fp"))
      val oldForm = explodedWinnow(docs.where(F.col("text").isNotNull), w, win)
      assert(asSet(newForm) == asSet(oldForm), s"mismatch at w=$w win=$win")
    }
  }
}
