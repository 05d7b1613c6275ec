package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dedup.DedupConfig
import graft.functions.HashUtil.mix64
import graft.functions.ShingleHashes
import graft.io.{SyntheticCorpus, SyntheticPage}

/** What the generator planted, keyed by url. The pipeline never sees it.
  *  - `pairs`: planted (donor, dup) pairs; `pair_recall` is the share of
  *    them that end in one output cluster.
  *  - `groupOf`: the planted group of a url (a url in no group is its own
  *    group); `cluster_purity` is the share of multi-doc output clusters
  *    whose members share one group.
  *  - `nearTau`: chain pairs whose exact shingle Jaccard lies in
  *    [τ, τ+0.05), the band where estimated-Jaccard verification is a
  *    coin flip (`lsh_verify.near_tau_recall`). */
final case class Truth(
    pairs: Array[(String, String)],
    groupOf: String => String,
    admitted: Long,
    nearTau: Array[(String, String)])

/** One benchmark workload: a fixed-size corpus made from the seed, its
  * truth, and the pipeline the timed passes run on it. */
sealed trait Workload {
  def name: String
  def docs: Long
  val cfg: DedupConfig = DedupConfig(allowedLangs = Some(Set("en")))
  /** The input pages (url, warc_ts, html, text, lang), not materialized. */
  def pages(spark: SparkSession, seed: Long): DataFrame
  def truth(spark: SparkSession, seed: Long): Truth
}

object Workload {
  def apply(name: String): Workload = name match {
    case "web_mix" => WebMix
    case "dup_heavy" => DupHeavy
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (web_mix, dup_heavy)")
  }
}

/** The production-shaped calm mix: `SyntheticCorpus` as the engine's own
  * tests and `graft.Bench` use it (70% unique, 25% planted exact / near /
  * substring duplicates, 5% rejects). */
object WebMix extends Workload {
  val name = "web_mix"
  val docs = 6000L

  def pages(spark: SparkSession, seed: Long): DataFrame =
    SyntheticCorpus.pages(spark, docs, seed)

  def truth(spark: SparkSession, seed: Long): Truth = {
    def url(id: Long) = SyntheticCorpus.pageAt(seed, id).url
    val pairs = SyntheticCorpus.truthPairs(spark, docs).collect()
      .map(r => (url(r.getLong(0)), url(r.getLong(1))))
    val donorOf = pairs.map { case (d, u) => u -> d }.toMap
    val rejects = (0L until docs).count(SyntheticCorpus.kindOf(_) == "reject")
    Truth(pairs, u => donorOf.getOrElse(u, u), docs - rejects, Array.empty)
  }
}

/** Where LSH, verification, the hot-bucket cap and connected components
  * do the work. Doc ids are laid out as
  *  - `Chains` chains of `ChainLen` docs: each doc is its predecessor with
  *    one word replaced, so neighbours sit at Jaccard ≈ 0.9 and docs two
  *    steps apart near τ = 0.8;
  *  - `Parked` groups of `ParkedSize` identical pages: more members than
  *    `maxBucketSize`, so every band bucket of the group overflows the cap;
  *  - uniques.
  * Two recall gaps are planted on purpose and must stay visible: chains
  * split where a link verifies below τ, and capped groups stay singletons
  * (their planted pairs count as missed). */
object DupHeavy extends Workload {
  val name = "dup_heavy"
  val Chains = 70
  val ChainLen = 30
  val Parked = 2
  val ParkedSize = 2050
  val Uniques = 800
  val docs: Long = Chains * ChainLen + Parked * ParkedSize + Uniques
  private val parkedStart = Chains * ChainLen
  private val uniqueStart = parkedStart + Parked * ParkedSize
  require(ParkedSize > cfg.maxBucketSize, "parked groups must exceed the bucket cap")

  private val Vocab: Array[String] = {
    val c = "bdfghjklmnprstvz"; val v = "aeiou"
    for (a <- c; x <- v; b <- c; y <- v) yield s"$a$x$b$y"
  }.toArray

  private def rand(seed: Long, key: Long, slot: Long): Long =
    mix64(seed ^ mix64(key * 1000003L + slot))
  private def pick(seed: Long, key: Long, slot: Long, bound: Int): Int =
    java.lang.Math.floorMod(rand(seed, key, slot), bound.toLong).toInt
  private def words(seed: Long, key: Long, n: Int): Array[String] =
    Array.tabulate(n)(w => Vocab(pick(seed, key, 100L + w, Vocab.length)))

  // keys keep the three families' random streams apart
  private def chainKey(c: Long) = (1L << 40) + c
  private def parkedKey(g: Long) = (2L << 40) + g
  private def uniqueKey(id: Long) = (3L << 40) + id

  def text(seed: Long, id: Long): String =
    if (id < parkedStart) {
      val (c, step) = (id / ChainLen, (id % ChainLen).toInt)
      val key = chainKey(c)
      val ws = words(seed, key, 175 + pick(seed, key, 0, 10))
      var k = 1
      while (k <= step) {
        ws(pick(seed, key, 10000L + k, ws.length)) =
          f"zq${rand(seed, key, 20000L + k) & 0xffffffL}%06x"
        k += 1
      }
      ws.mkString(" ")
    } else if (id < uniqueStart) {
      val key = parkedKey((id - parkedStart) / ParkedSize)
      words(seed, key, 250 + pick(seed, key, 0, 100)).mkString(" ")
    } else {
      val key = uniqueKey(id)
      words(seed, key, 150 + pick(seed, key, 0, 250)).mkString(" ")
    }

  def url(id: Long): String = s"https://bench.example/${id % 89}/doc$id"

  def pages(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    spark.range(docs).map { id =>
      val t = text(seed, id)
      SyntheticPage(url(id), new Timestamp(1704067200000L + id * 1000L),
        ("<html><body>" + t + "</body></html>").getBytes("UTF-8"), t, "en", "", -1L)
    }.toDF().select("url", "warc_ts", "html", "text", "lang")
  }

  private def group(id: Long): String =
    if (id < parkedStart) s"chain${id / ChainLen}"
    else if (id < uniqueStart) s"parked${(id - parkedStart) / ParkedSize}"
    else url(id)

  def truth(spark: SparkSession, seed: Long): Truth = {
    val chainPairs = for {
      c <- 0L until Chains; s <- 1 until ChainLen
    } yield (url(c * ChainLen + s - 1), url(c * ChainLen + s))
    val parkedPairs = for {
      g <- 0L until Parked; m <- 1 until ParkedSize
    } yield (url(parkedStart + g * ParkedSize), url(parkedStart + g * ParkedSize + m))
    // exact Jaccard of every chain pair up to three links apart
    val nearTau = (0L until Chains).flatMap { c =>
      val ids = (0 until ChainLen).map(s => c * ChainLen + s)
      val sh = ids.map(id => ShingleHashes.compute(text(seed, id), cfg.shingleK, cfg.seed))
      for {
        i <- ids.indices; j <- i + 1 to math.min(i + 3, ids.length - 1)
        jac = Jaccard.sorted(sh(i), sh(j))
        if jac >= cfg.tau && jac < cfg.tau + 0.05
      } yield (url(ids(i)), url(ids(j)))
    }
    val groupOf = (0L until uniqueStart).map(id => url(id) -> group(id)).toMap
    Truth((chainPairs ++ parkedPairs).toArray, u => groupOf.getOrElse(u, u), docs,
      nearTau.toArray)
  }
}

object Jaccard {
  /** Exact Jaccard of two sorted, distinct shingle-hash arrays. */
  def sorted(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }
}
