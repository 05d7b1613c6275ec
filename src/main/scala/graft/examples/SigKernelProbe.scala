package graft.examples

import graft.Sessions
import graft.functions.{ShingleHashes, MinHashSignature, SimHash64}
import graft.io.SyntheticCorpus

/** Micro-probe: per-kernel CPU split of the signature stage — shingles vs
  * minhash vs simhash — over the real synthetic corpus texts, measured
  * directly (no Spark job machinery in the timed region). */
object SigKernelProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 20000L
    val spark = Sessions.local(4, "graft-sig-kernel-probe")
    val texts = SyntheticCorpus.pages(spark, n)
      .select("text").collect().map(_.getString(0))
    println(s"docs=${texts.length} avgLen=${texts.map(_.length.toLong).sum / texts.length}")
    val cfg = graft.dedup.DedupConfig()

    // warmup JIT
    var sink = 0L
    for (_ <- 1 to 2; t <- texts.take(2000)) {
      val sh = ShingleHashes.compute(t, cfg.shingleK, cfg.seed)
      sink ^= sh.length
    }

    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"$label%-12s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }

    val shingleArrs = new Array[Array[Long]](texts.length)
    time("shingles") {
      var i = 0
      while (i < texts.length) {
        shingleArrs(i) = ShingleHashes.compute(texts(i), cfg.shingleK, cfg.seed)
        i += 1
      }
    }
    println(s"avg shingles/doc = ${shingleArrs.map(_.length.toLong).sum / texts.length}")

    val one = org.apache.spark.sql.graftshim.GraftSqlShim.expression(
      org.apache.spark.sql.functions.lit(1))
    val mh = MinHashSignature(one, cfg.numHashes, cfg.seed)
    time("minhash") {
      var i = 0
      while (i < texts.length) {
        val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(shingleArrs(i))
        val r = mh.evalOrNull(arr)
        if (r != null) sink ^= r.getLong(0)
        i += 1
      }
    }
    val sh64 = SimHash64(one, cfg.seed)
    time("simhash") {
      var i = 0
      while (i < texts.length) {
        val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(shingleArrs(i))
        if (!sh64.isEmpty(arr)) sink ^= sh64.evalNonEmpty(arr)
        i += 1
      }
    }
    println(s"sink=$sink")
    Sessions.stop(spark)
  }
}
