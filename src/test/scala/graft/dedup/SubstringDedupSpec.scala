package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import graft.functions._

/** The substring pass against a brute-force oracle, on a calm corpus and
  * on one with hot (over-the-cap) fingerprints — the winnow twin of
  * LshSpec's band-bucket oracle tests — and against the window and salted
  * posting forms ([[HotKeyForms]]) on the calm corpus. */
class SubstringDedupSpec extends SparkSpec {

  // small winnow params so short fixtures clear the guarantee floor
  private def cfg(cap: Int = 1000) = DedupConfig(
    winnowW = 8, winnowWin = 4, maxFingerprintPostings = cap)

  /** A deterministic "calm" corpus: planted containment pairs (text of
    * doc 2i is embedded verbatim in doc 2i+1) + unrelated fillers. */
  private def calmDocs: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    // per-pair UNIQUE gibberish: no 8-gram is shared across pairs, so a
    // small posting cap never drops the pair-linking fingerprints
    def gibberish(seed: Int, n: Int): String =
      new scala.util.Random(seed).alphanumeric.take(n).mkString
    val rows = (0 until 30).flatMap { i =>
      val inner = gibberish(i, 80)
      Seq((2L * i, inner),
        (2L * i + 1, s"${gibberish(1000 + i, 20)} $inner ${gibberish(2000 + i, 20)}"))
    } ++ (100 until 120).map(i => (i.toLong, gibberish(3000 + i, i)))
    rows.toDF("doc_id", "text")
  }

  /** Hot corpus: calm pairs PLUS a site-wide boilerplate block shared
    * verbatim by many docs — every boilerplate gram's posting list is far
    * beyond the cap (the mega-key regime the posting cap exists for). */
  private def hotDocs(copies: Int): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val boiler = "this exact legal boilerplate footer appears on every single page of the site"
    val hot = (0 until copies).map(i =>
      (1000L + i, s"$boiler article $i body text goes here"))
    calmDocs.unionByName(hot.toDF("doc_id", "text"))
  }

  private def edges(docs: DataFrame, c: DedupConfig): Seq[(Long, Long, Double)] = {
    val out = SubstringDedup.substringEdges(docs, c)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    graft.Caches.release(spark)
    out
  }

  private val len = (t: String) => t.codePointCount(0, t.length) // Spark's length()

  /** The pass's subjects over collected rows: one representative (min
    * doc_id) per distinct text; texts of ≥ minSubstringChars chars with
    * ≥ 1 fingerprint. Returns (text per representative, its fingerprints). */
  private def subjects(docs: DataFrame, c: DedupConfig): (Map[Long, String], Map[Long, Seq[Long]]) = {
    val texts = docs.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
      .groupBy(_._2).values.map(_.minBy(_._1)).toMap
    val long = texts.filter { case (_, t) => len(t) >= c.minSubstringChars }
    val fps = docs.sparkSession.createDataFrame(long.toSeq).toDF("doc_id", "text")
      .select(F.col("doc_id"),
        winnowedFingerprints(F.col("text"), c.winnowW, c.winnowWin, c.seed))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
      .filter(_._2.nonEmpty).toMap
    (texts, fps)
  }

  /** Edges scored from posting groups (the doc ids posted under each kept
    * fingerprint, one per occurrence): for each pair x, y ordered by
    * (len, doc_id), shared = Σ_f cnt_x(f)·cnt_y(f) over the groups and
    * containment = shared / |fp(x)|; pairs at or above the threshold whose
    * ASCII-folded text_y contains text_x. */
  private def scored(texts: Map[Long, String], fps: Map[Long, Seq[Long]],
      groups: Iterable[Seq[Long]], c: DedupConfig): Seq[(Long, Long, Double)] = {
    val order = (id: Long) => (len(texts(id)), id)
    val shared = scala.collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    for {
      g <- groups
      cnt = g.groupBy(identity).map { case (id, o) => id -> o.size }
      (x, nx) <- cnt; (y, ny) <- cnt
      if Ordering[(Int, Long)].lt(order(x), order(y))
    } shared((x, y)) += nx.toLong * ny
    val fold = (t: String) => t.map(ch => if (ch >= 'A' && ch <= 'Z') (ch + 32).toChar else ch)
    shared.toSeq.collect {
      case ((x, y), n) if n.toDouble / fps(x).size >= c.containmentThreshold &&
          fold(texts(y)).contains(fold(texts(x))) => (x, y, n.toDouble / fps(x).size)
    }.sorted
  }

  /** Brute-force substring edges: posting groups built over every
    * fingerprint occurrence of the subjects, groups of 2..cap postings
    * kept, then [[scored]]. */
  private def oracle(docs: DataFrame, c: DedupConfig): Seq[(Long, Long, Double)] = {
    val (texts, fps) = subjects(docs, c)
    val groups = fps.toSeq.flatMap { case (id, fp) => fp.map(_ -> id) }
      .groupBy(_._1).values.map(_.map(_._2))
      .filter(g => g.size >= 2 && g.size <= c.maxFingerprintPostings)
    scored(texts, fps, groups, c)
  }

  /** Substring edges scored from the posting groups of a HotKeyForms
    * reference over the subjects' (doc_id, f) posting rows. */
  private def referenceEdges(docs: DataFrame, c: DedupConfig,
      form: HotKeyForms.Form): Seq[(Long, Long, Double)] = {
    val (texts, fps) = subjects(docs, c)
    val postings = docs.sparkSession.createDataFrame(
      fps.toSeq.flatMap { case (id, fp) => fp.map(f => (id, f)) }).toDF("doc_id", "f")
    val (groups, _) = form(postings, "f", F.col("doc_id"), c.maxFingerprintPostings)
    scored(texts, fps, groups.collect().map(r => r.getSeq[Long](r.fieldIndex("members"))), c)
  }

  test("window, salted and auto emit identical edges on a calm corpus") {
    // the engine's one form (what "auto" now runs) against edges scored
    // from the window and salted posting forms it replaced (now test
    // references); at cap 2 the planted pairs' fingerprints sit at the cap
    for (cap <- Seq(1000, 2)) {
      val e = edges(calmDocs, cfg(cap))
      assert(e.nonEmpty, s"cap=$cap") // the planted containments are found
      assert(referenceEdges(calmDocs, cfg(cap), HotKeyForms.window) === e, s"cap=$cap")
      assert(referenceEdges(calmDocs, cfg(cap), HotKeyForms.salted) === e, s"cap=$cap")
    }
  }

  test("substring edges match the brute-force posting oracle on a calm corpus") {
    // at cap 2 the planted pairs' fingerprints sit exactly at the cap
    for (cap <- Seq(1000, 2)) {
      val e = edges(calmDocs, cfg(cap))
      assert(e === oracle(calmDocs, cfg(cap)), s"cap=$cap")
      assert(e.nonEmpty, s"cap=$cap") // the planted containments are found
    }
  }

  test("substring edges match the brute-force posting oracle on a hot corpus") {
    // cap 3, boilerplate shared by 40 docs → hot posting lists are 40
    // postings, far over the cap; the calm planted pairs must still come
    // out, so the oracle is checked against a NONEMPTY edge set while the
    // mega-fingerprints are capped
    val docs = hotDocs(copies = 40)
    val e = edges(docs, cfg(cap = 3))
    assert(e === oracle(docs, cfg(cap = 3)))
    assert(e.nonEmpty)
    // no edge among the boilerplate-only docs (their shared grams overflow
    // the cap; their bodies are distinct)
    assert(!e.exists { case (x, y, _) => x >= 1000L && y >= 1000L })
  }

  test("exact copies of a container still link through the LSH pass contract") {
    // substringEdges runs over one representative per distinct text: an
    // exact duplicate of a container contributes no NEW substring edge
    val spark2 = spark
    import spark2.implicits._
    val docs = calmDocs.unionByName(
      calmDocs.where($"doc_id" === 1L)
        .select(($"doc_id" + 5000L).as("doc_id"), $"text"))
    val base = edges(calmDocs, cfg())
    val dup = edges(docs, cfg())
    assert(base === dup)
  }
}
