package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row text-window kernels (guide §1.2 step 1: remove shuffles
  * outright). Both expressions here replace an explode → window → aggregate
  * pipeline — a full exchange of every token/gram row keyed by doc — with a
  * single whole-stage-codegen pass over the row's own text: the sliding
  * windows a document's score needs never leave the row, so the operators
  * become zero-Exchange projections at any corpus size. Output values are
  * bit-identical to the exploded forms (parity-tested in
  * TextWindowExpressionsSpec; both were SQL-oracle-pinned already).
  */

/** Sliding-window minimum alpha-density permille — the per-row form of
  * TextAnalysis.windowedMinQualityPermille's scoring (P8):
  * tokens = text split on single spaces (empties dropped), per-token
  * score = ASCII-letter count, window statistic = (1000·Σalpha) div Σchars
  * over `win` consecutive tokens, result = minimum over all window starts
  * (a doc with fewer than `win` tokens scores its single all-token
  * window). Null iff the doc has no tokens — such docs are absent from
  * the operator's output, exactly like the exploded form. All-integer
  * arithmetic; `div` is the same truncating BIGINT division the SQL
  * oracle replays. */
case class WindowedMinQuality(child: Expression, win: Int)
    extends UnaryExpression {
  require(win >= 1, s"win must be >= 1, got $win")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects STRING, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "windowed_min_quality"

  override def nullSafeEval(input: Any): Any =
    evalOrNull(input.asInstanceOf[UTF8String])

  def evalOrNull(text: UTF8String): java.lang.Long =
    WindowedMinQuality.compute(text.toString, win)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("winQuality", this, classOf[WindowedMinQuality].getName)
    val r = ctx.freshName("winQualityRes")
    nullSafeCodeGen(ctx, ev, c => s"""
      |java.lang.Long $r = $ref.evalOrNull($c);
      |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): WindowedMinQuality =
    copy(child = newChild)
}

object WindowedMinQuality {
  /** null iff no tokens. Single pass: per-token (alpha, len) then an
    * O(numTokens) running-sum slide — no per-window rescans. Token length
    * counts CODE POINTS (the semantics of `length()` in both engines). */
  def compute(text: String, win: Int): java.lang.Long = {
    val n = text.length
    // per-token alpha counts and code-point lengths
    val alphas = new java.util.ArrayList[Integer]()
    val lens = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < n) {
      while (i < n && text.charAt(i) == ' ') i += 1
      if (i < n) {
        var a = 0
        var l = 0
        while (i < n && text.charAt(i) != ' ') {
          val c = text.charAt(i)
          if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) a += 1
          // count code points: skip low surrogates (they extend the
          // preceding high surrogate's code point)
          if (!Character.isLowSurrogate(c)) l += 1
          i += 1
        }
        alphas.add(a)
        lens.add(l)
      }
    }
    val nt = alphas.size()
    if (nt == 0) return null
    val w = math.min(win, nt) // single all-token window below win tokens
    var wa = 0L
    var wl = 0L
    var t = 0
    while (t < w) { wa += alphas.get(t); wl += lens.get(t); t += 1 }
    var best = 1000L * wa / wl
    var s = 1
    while (s + w <= nt) {
      wa += alphas.get(s + w - 1) - alphas.get(s - 1)
      wl += lens.get(s + w - 1) - lens.get(s - 1)
      val q = 1000L * wa / wl
      if (q < best) best = q
      s += 1
    }
    java.lang.Long.valueOf(best)
  }
}

/** Distinct word n-grams of a text column (`array<string>`, first-
  * occurrence order) — the codegen twin of
  * `array_distinct(transform(sequence(0, size(ws)-n), i ->
  *    concat_ws(" ", ws[i+1] ... ws[i+n])))`
  * over space-split non-empty tokens. The higher-order chain is
  * CodegenFallback: every gram walked an interpreted
  * transform/element_at/concat_ws/array_distinct tree — measured 4.6-6.8 s
  * for 250k grams on the single scan task q_ngram_jaccard_pairs reads
  * (sf0.1, round-6 measurement, OPTIMIZATION_r06.md §1); this is one pass
  * with a dedup set. Fewer than n tokens yields an empty array; null
  * propagates (callers that need the old "null text → empty array"
  * coalesce at the column level — see NgramJaccard.ngrams). */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n-gram n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects STRING, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override def nullSafeEval(input: Any): Any =
    evalNonNull(input.asInstanceOf[UTF8String])

  def evalNonNull(text: UTF8String): ArrayData =
    WordNgrams.compute(text.toString, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordNgrams", this, classOf[WordNgrams].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalNonNull($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

object WordNgrams {
  def compute(text: String, n: Int): ArrayData = {
    val grams = distinct(text, n)
    val out = new Array[Any](grams.size)
    val it = grams.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The distinct space-token n-grams of `text` in first-occurrence order
    * (exactly array_distinct's): tokens are the maximal runs between ' '
    * separators, empties dropped (NOT general whitespace — mirrors
    * filter(split(text, " "), _ != "")), and a gram is n consecutive
    * tokens joined by one space. Empty iff fewer than n tokens. */
  def distinct(text: String, n: Int): java.util.LinkedHashSet[String] = {
    val tokens = new java.util.ArrayList[String]()
    val len = text.length
    var i = 0
    while (i < len) {
      while (i < len && text.charAt(i) == ' ') i += 1
      if (i < len) {
        val start = i
        while (i < len && text.charAt(i) != ' ') i += 1
        tokens.add(text.substring(start, i))
      }
    }
    val nt = tokens.size()
    val seen = new java.util.LinkedHashSet[String](math.max(16, nt * 2))
    val sb = new java.lang.StringBuilder(64)
    var g = 0
    while (g <= nt - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tokens.get(g + j))
        j += 1
      }
      seen.add(sb.toString)
      g += 1
    }
    seen
  }
}

/** Winnowed md5-gram fingerprints — the per-row form of the
  * q_winnow_fingerprints layout: gram hash at position i = value of the
  * first 15 hex digits of md5(utf8(substring(text, i, w))), fingerprints =
  * the distinct minima of every `win`-window of consecutive gram hashes
  * (documents with fewer than `win` grams keep the single global min;
  * texts shorter than `w` chars yield an empty array). md5 derivation
  * keeps the whole layout SQL-replayable — the production signature is
  * [[WinnowedFingerprints]]'s rolling-hash chain.
  *
  * The previous shape exploded every gram position (one row per char of
  * the corpus), shuffled them on doc_id for a windowed min, and
  * de-duplicated with one more exchange; this computes the same distinct
  * fingerprint set inside the scan projection. */
case class Md5WinnowedFingerprints(child: Expression, w: Int, win: Int)
    extends UnaryExpression {
  require(w >= 1 && win >= 1, s"need w>=1, win>=1; got w=$w win=$win")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects STRING, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_winnowed_fingerprints"

  override def nullSafeEval(input: Any): Any =
    evalNonNull(input.asInstanceOf[UTF8String])

  def evalNonNull(text: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      Md5WinnowedFingerprints.compute(text, w, win))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("md5Winnow", this, classOf[Md5WinnowedFingerprints].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalNonNull($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Md5WinnowedFingerprints =
    copy(child = newChild)
}

object Md5WinnowedFingerprints {
  /** Sorted distinct fingerprint minima ([[HashUtil.winnow]]); empty for
    * texts under w chars. Gram windows count CODE POINTS (both engines'
    * substring semantics); each gram is hashed from its UTF-8 byte slice
    * ([[HashUtil.md5Prefix60]]) — no per-gram string allocation. */
  def compute(text: UTF8String, w: Int, win: Int): Array[Long] = {
    val bytes = text.getBytes
    val nb = bytes.length
    // code-point start offsets (UTF-8 continuation bytes are 10xxxxxx)
    var numChars = 0
    var i = 0
    while (i < nb) { if ((bytes(i) & 0xC0) != 0x80) numChars += 1; i += 1 }
    if (numChars < w) return Array.emptyLongArray
    val offs = new Array[Int](numChars + 1)
    var c = 0
    i = 0
    while (i < nb) {
      if ((bytes(i) & 0xC0) != 0x80) { offs(c) = i; c += 1 }
      i += 1
    }
    offs(numChars) = nb
    val grams = Array.tabulate(numChars - w + 1)(g =>
      HashUtil.md5Prefix60(bytes, offs(g), offs(g + w) - offs(g)))
    HashUtil.winnow(grams, win)
  }
}
