package graft.functions

/** Deterministic 64-bit hashing primitives shared by the signature
  * expressions. Pure JVM arithmetic — no RNG, no wall clock — so every
  * signature is reproducible across runs, partitionings, and cluster sizes
  * (replaces the reference's interpreter-version-dependent seeded RNG,
  * cf. reference/dupliganger/dedup.py:197-223, constants.py:159).
  */
object HashUtil {

  /** Engine-wide default seed. Homage to the reference's
    * `DEFAULT_RANDOM_SEED = 'Little Ashes'` (constants.py:159): the ASCII
    * bytes of "LittleAs" as a little-endian long. */
  val DefaultSeed: Long = 0x73416C7474696C4CL

  /** splitmix64 finalizer — a strong 64-bit avalanche mix. */
  @inline def mix64(zIn: Long): Long = {
    var z = zIn
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val Gamma = 0x9E3779B97F4A7C15L

  /** The i-th value of the splitmix64 stream seeded at `seed`. */
  @inline def streamAt(seed: Long, i: Long): Long = mix64(seed + (i + 1) * Gamma)

  /** FNV-1a 64-bit over a char range of a String (ASCII-folded lowercase),
    * finalized with mix64. Allocation-free word hashing for tokenizers. */
  def hashWord(s: String, from: Int, until: Int): Long = {
    var h = 0xCBF29CE484222325L
    var i = from
    while (i < until) {
      var c = s.charAt(i).toInt
      if (c >= 'A' && c <= 'Z') c += 32 // ASCII lowercase fold
      h ^= c
      h *= 0x100000001B3L
      i += 1
    }
    mix64(h)
  }

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Value of the first 15 hex digits of md5(bytes[off, off + len)) — a
    * 60-bit gram hash that SQL replays as
    * `conv(substring(md5(g), 1, 15), 16, 10)`: big-endian bytes 0..7
    * shifted right a nibble. */
  def md5Prefix60(bytes: Array[Byte], off: Int, len: Int): Long = {
    val md = md5.get()
    md.reset()
    md.update(bytes, off, len)
    val d = md.digest()
    var be = 0L
    var b = 0
    while (b < 8) { be = (be << 8) | (d(b) & 0xFFL); b += 1 }
    be >>> 4
  }

  /** Winnowing min-sampling (Schleimer/Wilkerson/Aiken, SIGMOD'03): the
    * sorted distinct minima of every `win`-window of consecutive values of
    * `grams`; fewer than `win` grams keep the single global minimum, no
    * grams give an empty array. A monotone deque of indices (ascending
    * values) makes it one pass. */
  def winnow(grams: Array[Long], win: Int): Array[Long] = {
    val n = grams.length
    if (n == 0) return Array.emptyLongArray
    val set = new LongSet(math.max(16, n / win))
    if (n <= win) {
      var m = grams(0)
      var i = 1
      while (i < n) { if (grams(i) < m) m = grams(i); i += 1 }
      set.add(m)
    } else {
      val deque = new Array[Int](n)
      var head = 0; var tail = 0 // [head, tail)
      var i = 0
      while (i < n) {
        while (tail > head && grams(deque(tail - 1)) >= grams(i)) tail -= 1
        deque(tail) = i; tail += 1
        if (deque(head) <= i - win) head += 1
        if (i >= win - 1) set.add(grams(deque(head)))
        i += 1
      }
    }
    set.toSortedArray
  }

  /** Open-addressing hash set for primitive longs (no boxing in the per-row
    * hot path). 0 is reserved as the empty marker; the value 0 is remapped. */
  final class LongSet(initialCapacity: Int) {
    private var cap = Integer.highestOneBit(math.max(16, initialCapacity * 2) - 1) << 1
    private var table = new Array[Long](cap)
    private var used = 0
    private var hasZero = false

    def add(vIn: Long): Boolean = {
      if (vIn == 0L) { val r = !hasZero; hasZero = true; return r }
      if (used * 4 >= cap * 3) grow()
      var idx = (mix64(vIn).toInt) & (cap - 1)
      while (true) {
        val cur = table(idx)
        if (cur == 0L) { table(idx) = vIn; used += 1; return true }
        if (cur == vIn) return false
        idx = (idx + 1) & (cap - 1)
      }
      false
    }

    private def grow(): Unit = {
      val old = table
      cap <<= 1
      table = new Array[Long](cap)
      used = 0
      var i = 0
      while (i < old.length) { if (old(i) != 0L) add(old(i)); i += 1 }
    }

    def size: Int = used + (if (hasZero) 1 else 0)

    /** Drain to a sorted array (deterministic output ordering). */
    def toSortedArray: Array[Long] = {
      val out = new Array[Long](size)
      var n = 0
      if (hasZero) { out(n) = 0L; n = 1 }
      var i = 0
      while (i < table.length) { if (table(i) != 0L) { out(n) = table(i); n += 1 }; i += 1 }
      java.util.Arrays.sort(out)
      out
    }
  }
}
