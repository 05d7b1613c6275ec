package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import HashUtil._

/** Text → distinct hashed k-word shingles (`array<long>`, sorted).
  *
  * The per-document signature subject: the web-text analog of the
  * reference's `location_key` inputs (reference/dupliganger/sam.py:55-80 —
  * there the signature is built from alignment coordinates; here from
  * k-gram content). Tokenization: maximal runs of letters/digits,
  * ASCII-case-folded; each word FNV-1a+mix64 hashed; a shingle is the
  * mix64-finalized polynomial combination of k consecutive word hashes.
  * Documents with fewer than k words yield one shingle over all words;
  * empty text yields an empty array (routed to rejects upstream).
  *
  * Single pass, allocation-light (ring buffer + open-address long set);
  * `doGenCode` keeps the whole projection inside whole-stage codegen (the
  * generated code calls this instance's [[evalNonNull]] directly — no
  * InternalRow boxing, no fallback eval path).
  */
case class ShingleHashes(child: Expression, k: Int, seed: Long)
    extends UnaryExpression {
  require(k >= 1, s"shingle k must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects STRING, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    evalNonNull(input.asInstanceOf[UTF8String])

  def evalNonNull(text: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(ShingleHashes.compute(text.toString, k, seed))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleHashes", this, classOf[ShingleHashes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalNonNull($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  private val Prime = 0x100000001B3L

  def compute(text: String, k: Int, seed: Long): Array[Long] = {
    val n = text.length
    val ring = new Array[Long](k)
    var words = 0
    val set = new LongSet(math.max(16, n / 6))
    var i = 0
    while (i < n) {
      // skip separators
      while (i < n && !Character.isLetterOrDigit(text.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && Character.isLetterOrDigit(text.charAt(i))) i += 1
        ring(words % k) = hashWord(text, start, i)
        words += 1
        if (words >= k) {
          // polynomial combine of the last k word hashes, oldest first
          var h = seed
          var j = words - k
          while (j < words) { h = h * Prime + ring(j % k); j += 1 }
          set.add(mix64(h))
        }
      }
    }
    if (words > 0 && words < k) {
      var h = seed
      var j = 0
      while (j < words) { h = h * Prime + ring(j); j += 1 }
      set.add(mix64(h))
    }
    set.toSortedArray
  }
}

/** Shingle-hash array → MinHash signature (`array<long>`, length `numHashes`).
  *
  * The signature column of the north_star: h_i(s) = a_i * mix64(s) + b_i
  * with (a_i odd, b_i) drawn from a splitmix64 stream seeded at `seed` —
  * a standard multiply-add universal family; signed-long comparison gives a
  * consistent total order, which is all MinHash needs. Single pass over the
  * shingle array updating all `numHashes` minima (the fast path vs
  * numHashes re-scans). Empty shingle array → null signature (doc has no
  * content to sign; upstream rejects handle it).
  *
  * Plays the role of the reference's UMI annotation stage
  * (reference/dupliganger/remove_umi.py:183-251): lift a per-record random
  * tag out of the payload into a typed key column.
  */
case class MinHashSignature(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression {
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == ArrayType(LongType, false) || child.dataType == ArrayType(LongType, true))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects ARRAY<BIGINT>, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"

  @transient private lazy val coeffA: Array[Long] = {
    val a = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) { a(i) = streamAt(seed, 2L * i) | 1L; i += 1 }
    a
  }
  @transient private lazy val coeffB: Array[Long] = {
    val b = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) { b(i) = streamAt(seed, 2L * i + 1); i += 1 }
    b
  }

  override def nullSafeEval(input: Any): Any =
    evalOrNull(input.asInstanceOf[ArrayData])

  def evalOrNull(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    if (m == 0) return null
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val a = coeffA; val b = coeffB
    var j = 0
    while (j < m) {
      val s = mix64(arr.getLong(j))
      var i = 0
      while (i < numHashes) {
        val h = a(i) * s + b(i)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minHash", this, classOf[MinHashSignature].getName)
    // freshName: with a non-nullable child, nullSafeCodeGen inlines this
    // body without a brace scope — a fixed local name would collide when
    // the expression appears twice in one generated method (silent
    // whole-stage fallback to interpreted eval).
    val r = ctx.freshName("minhashRes")
    nullSafeCodeGen(ctx, ev, c => s"""
      |org.apache.spark.sql.catalyst.util.ArrayData $r = $ref.evalOrNull($c);
      |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Shingle-hash array → 64-bit SimHash fingerprint (`long`).
  *
  * Charikar fingerprint over unweighted shingle features: per bit,
  * +1 / −1 vote from each shingle hash; result bit = sign of the vote sum.
  * Near-duplicate test downstream is popcount(x ^ y) ≤ h (`bit_count` is a
  * Spark built-in). Empty array → null.
  */
case class SimHash64(child: Expression, seed: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == ArrayType(LongType, false) || child.dataType == ArrayType(LongType, true))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects ARRAY<BIGINT>, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() == 0) null else evalNonEmpty(arr)
  }

  def isEmpty(arr: ArrayData): Boolean = arr.numElements() == 0

  def evalNonEmpty(arr: ArrayData): Long = {
    // Bit-sliced vote count (round 6, guide §1.2-2 per-task work): the
    // ±1 vote sum per bit is votes(b) = 2·ones(b) − m, so only the
    // per-bit-position ones counts are needed. Instead of a 64-iteration
    // shift/mask loop per shingle (≈256 ops/element), each hash word is
    // ripple-carry-added into a transposed 8-bit counter — planes(k) bit
    // b holds bit k of the running count for bit position b — at ~2–4
    // ops/element amortized, flushed into ones(·) every 255 words before
    // the counters can overflow. Output is bit-identical to the old
    // voting loop (SimHashKernelSpec proves it against the reference
    // form over real-corpus shingle arrays).
    val m = arr.numElements()
    val ones = new Array[Int](64)
    val planes = new Array[Long](8)
    var inBlock = 0
    var j = 0
    while (j < m) {
      var carry = mix64(arr.getLong(j) ^ seed)
      var k = 0
      while (carry != 0L && k < 8) {
        val t = planes(k) & carry
        planes(k) ^= carry
        carry = t
        k += 1
      }
      inBlock += 1
      if (inBlock == 255) { // flush before the 8-bit counters overflow
        var b = 0
        while (b < 64) {
          var c = 0
          var p = 0
          while (p < 8) { c |= (((planes(p) >>> b) & 1L).toInt) << p; p += 1 }
          ones(b) += c
          b += 1
        }
        java.util.Arrays.fill(planes, 0L)
        inBlock = 0
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      var c = ones(b)
      var p = 0
      while (p < 8) { c += (((planes(p) >>> b) & 1L).toInt) << p; p += 1 }
      // votes(b) = 2·c − m > 0  ⟺  bit set (ties clear, as before)
      if (2 * c > m) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simHash", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      |if ($ref.isEmpty($c)) { ${ev.isNull} = true; }
      |else { ${ev.value} = $ref.evalNonEmpty($c); }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Text → SimHash over md5-hashed distinct word n-grams (`long`, low
  * `bits` bits) — the SQL-REPLAYABLE signature family: md5 exists in
  * every engine, so the whole fingerprint replays verbatim in DuckDB
  * (`('0x' || substring(md5(gram), 1, 15))::BIGINT` + per-bit vote sums),
  * unlike the production [[SimHash64]]'s FNV/mix64 chain which needs the
  * HUGEINT mod-2^64 machinery.
  *
  * Semantics (bit-for-bit the q_simhash_dup_pairs oracle):
  * tokens = text split on single spaces, empties dropped; grams = the
  * DISTINCT runs of `n` consecutive tokens joined by one space; per gram
  * hv = value of the first 15 hex digits of md5(utf8(gram)) (60 bits);
  * result bit b (b < `bits`) is set iff strictly more than half the
  * grams have hv bit b set (the ±1 Charikar vote, ones-count form:
  * v_b = 2·ones_b − m > 0 ⟺ 2·ones_b > m). Fewer than `n` tokens → null.
  *
  * One pass per ROW inside whole-stage codegen — no gram explode, no
  * per-bit aggregate columns, no shuffle: the round-4 form of this query
  * (explode → 60-sum groupBy over the corpus) was the engine's most
  * load-amplifiable plan (60 codegen'd aggregates over a corpus-wide
  * explode, re-evaluated by the pigeonhole join on cache eviction); this
  * expression replaces all of it with a narrow projection.
  */
case class Md5NgramSimHash(child: Expression, n: Int, bits: Int)
    extends UnaryExpression {
  require(n >= 1, s"n-gram n must be >= 1, got $n")
  require(bits >= 1 && bits <= 60,
    s"bits in [1,60] (60 = 15 md5 hex digits), got $bits")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects STRING, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "md5_ngram_simhash"

  override def nullSafeEval(input: Any): Any =
    evalOrNull(input.asInstanceOf[UTF8String])

  def evalOrNull(text: UTF8String): java.lang.Long =
    Md5NgramSimHash.compute(text.toString, n, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("md5Simhash", this, classOf[Md5NgramSimHash].getName)
    val r = ctx.freshName("md5SimRes")
    nullSafeCodeGen(ctx, ev, c => s"""
      |java.lang.Long $r = $ref.evalOrNull($c);
      |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Md5NgramSimHash =
    copy(child = newChild)
}

object Md5NgramSimHash {
  /** null iff the text has fewer than n tokens (the oracle's empty gram
    * list — such docs vanish from the vote aggregation). Grams are the
    * distinct space-token n-grams (deduped on the STRING, exactly
    * list_distinct(tri)), each hashed by [[HashUtil.md5Prefix60]]. */
  def compute(text: String, n: Int, bits: Int): java.lang.Long = {
    val grams = WordNgrams.distinct(text, n)
    if (grams.isEmpty) return null
    val ones = new Array[Int](bits)
    val it = grams.iterator()
    while (it.hasNext) {
      val g = it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val hv = HashUtil.md5Prefix60(g, 0, g.length)
      var t = 0
      while (t < bits) { ones(t) += ((hv >>> t) & 1L).toInt; t += 1 }
    }
    val m = grams.size
    var out = 0L
    var b = 0
    while (b < bits) { if (2 * ones(b) > m) out |= (1L << b); b += 1 }
    java.lang.Long.valueOf(out)
  }
}

/** MinHash signature → LSH band bucket keys (`array<long>`, length
  * `bands`): bucket_b = xxhash64(b, signature[b·r .. b·r+r)) — bit-for-bit
  * the `transform(sequence(0, bands-1), b -> xxhash64(b, slice(...)))`
  * chain it replaces (round 6, guide §1.2-2): Spark's array higher-order
  * functions are CodegenFallback, so the old chain walked an interpreted
  * expression tree and allocated a fresh slice array per band per row —
  * on the hottest explode in the engine. This kernel calls Spark's own
  * XXH64 fold (hashInt for the band index, then hashLong per slice
  * element, seed 42 — exactly `F.xxhash64`'s semantics, including
  * skipping null elements and folding short tails) in a tight loop from
  * whole-stage codegen. Parity-spec'd against the HOF chain over real
  * signatures (SignatureExpressionsSpec).
  */
case class BandBuckets(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(bands >= 1 && rowsPerBand >= 1,
    s"need bands>=1, rowsPerBand>=1; got $bands, $rowsPerBand")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects ARRAY<BIGINT>, got ${t.sql}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_buckets"

  override def nullSafeEval(input: Any): Any =
    evalNonNull(input.asInstanceOf[ArrayData])

  def evalNonNull(arr: ArrayData): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val n = arr.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XXH64.hashInt(b, 42L)
      var j = b * rowsPerBand
      val end = math.min(j + rowsPerBand, n)
      while (j < end) {
        if (!arr.isNullAt(j)) h = XXH64.hashLong(arr.getLong(j), h)
        j += 1
      }
      out(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bandBuckets", this, classOf[BandBuckets].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalNonNull($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BandBuckets =
    copy(child = newChild)
}

/** Text → winnowed rolling-hash fingerprints (`array<long>`, sorted
  * distinct) for exact-substring duplicate detection (the north_star's
  * suffix-array pass, re-expressed for distribution).
  *
  * Classic winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03): hash every
  * `w`-char window with a polynomial rolling hash, then keep the minimum
  * hash of each `win`-window of consecutive hashes (rightmost min). Any
  * shared substring of length ≥ w + win − 1 between two documents is
  * guaranteed to share ≥ 1 selected fingerprint — so "doc A's text is
  * embedded verbatim in doc B" implies nearly all of A's fingerprints
  * appear in B's. Containment score = |fp(A) ∩ fp(B)| / |fp(A)|, checked
  * distributively by an explode-groupBy-join, then verified with a literal
  * `contains` on the candidate pair (exactness restored — same guarantee a
  * per-group suffix array would give, without the per-group memory wall).
  */
case class WinnowedFingerprints(child: Expression, w: Int, win: Int, seed: Long)
    extends UnaryExpression {
  require(w >= 2 && win >= 1, s"need w>=2, win>=1; got w=$w win=$win")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects STRING, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnowed_fingerprints"

  override def nullSafeEval(input: Any): Any =
    evalNonNull(input.asInstanceOf[UTF8String])

  def evalNonNull(text: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      WinnowedFingerprints.compute(text.toString, w, win, seed))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("winnow", this, classOf[WinnowedFingerprints].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalNonNull($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowedFingerprints =
    copy(child = newChild)
}

object WinnowedFingerprints {
  private val Base = 0x100000001B3L

  /** Rolling w-gram hashes + winnowing min-sampling. Case-folded but NOT
    * whitespace-normalized: substring containment must stay literal so the
    * final `contains` verification agrees with the sampling. */
  def compute(text: String, w: Int, win: Int, seed: Long): Array[Long] = {
    val n = text.length
    if (n < w) return Array.emptyLongArray
    val numGrams = n - w + 1
    // basePowW = Base^w for the rolling subtract
    var basePowW = 1L
    var p = 0
    while (p < w) { basePowW *= Base; p += 1 }
    @inline def ch(i: Int): Long = {
      val c = text.charAt(i).toInt
      (if (c >= 'A' && c <= 'Z') c + 32 else c).toLong
    }
    val grams = new Array[Long](numGrams)
    var h = 0L
    var i = 0
    while (i < w) { h = h * Base + ch(i); i += 1 }
    grams(0) = mix64(h ^ seed)
    var raw = h
    i = 1
    while (i < numGrams) {
      raw = raw * Base - ch(i - 1) * basePowW + ch(i + w - 1)
      grams(i) = mix64(raw ^ seed)
      i += 1
    }
    HashUtil.winnow(grams, win)
  }
}
