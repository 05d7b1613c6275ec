package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.dedup.{DedupPipeline, DedupResult, ResumableDedupPipeline}
import graft.io.StageStore

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  * perfbench.Main --workload web_mix --seed 1 --seconds 15 --trace 0 --work DIR
  * }}}
  *
  * Prints progress on stderr and, as the last line of stdout, one JSON
  * object: `correct`, `attempted`, `failed` and `metrics` (every
  * end-to-end metric with `--trace 0`, every per-layer metric with
  * `--trace 1`). `DIR` receives Spark's scratch files, stage stores and
  * the span dump; nothing is written elsewhere. */
object Main {

  final case class Args(workload: Workload, seed: Long, seconds: Double, trace: Boolean,
                        work: Path)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = get("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val seconds = get("seconds").toDouble
    require(seconds > 0, "--seconds must be positive")
    Args(Workload(get("workload")), get("seed").toLong, seconds, trace,
      Paths.get(get("work")).toAbsolutePath)
  }

  val Cores = 4

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def session(cores: Int, work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      // fixed, not per core count: both levels then run identical plans
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def now(): Double = System.nanoTime() / 1e9

  /** Runs `pass` once, then again while another pass of the median length
    * so far still ends within `seconds` of the start; returns the wall time
    * of each pass. */
  def repeat(seconds: Double)(pass: () => Double): Seq[Double] = {
    val t0 = now()
    val walls = ArrayBuffer(pass())
    while (now() - t0 + median(walls.toSeq) <= seconds) walls += pass()
    walls.toSeq
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Executes a frame's whole plan without writing it anywhere. */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def materialize(r: DedupResult): Unit =
    Seq(r.flagged, r.deduped, r.duplicates, r.clusters, r.nearMisses, r.rejects, r.metrics)
      .foreach(materialize)

  /** The input pages, generated from the seed and held in memory. */
  def input(spark: SparkSession, w: Workload, seed: Long): DataFrame = {
    val df = w.pages(spark, seed).localCheckpoint(true)
    df.count()
    df
  }

  def dirBytes(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Pass bookkeeping shared by the timed and the traced run: every pass
    * is attempted, a pass fails when it throws or an output check fails. */
  final class Ledger(truth: Truth) {
    var attempted = 0
    var failed = 0
    var reference: Option[String] = None
    val recalls = ArrayBuffer.empty[Double]
    val purities = ArrayBuffer.empty[Double]

    /** Runs `body` (which returns its clusters output), checks it, and
      * returns the wall time of `body` alone. */
    def pass(label: String)(body: => DataFrame): Double = {
      val t0 = now()
      val clusters = try Some(body) catch {
        case NonFatal(e) =>
          log(s"$label FAILED: $e")
          e.printStackTrace()
          None
      }
      val wall = now() - t0
      clusters match {
        case Some(c) => check(f"$label%-12s $wall%8.3f s", c)
        case None => attempted += 1; failed += 1
      }
      wall
    }

    /** Checks one clusters output against the truth and the reference. */
    def check(label: String, clusters: DataFrame): Unit = {
      attempted += 1
      try {
        val o = Checks.clusters(clusters, truth, reference)
        if (reference.isEmpty) reference = Some(o.digest)
        recalls += o.pairRecall
        purities += o.clusterPurity
        if (o.problems.isEmpty) log(f"$label  recall ${o.pairRecall}%.4f  ok")
        else {
          failed += 1
          log(s"$label FAILED checks: ${o.problems.mkString("; ")}")
        }
      } catch {
        case NonFatal(e) =>
          failed += 1
          log(s"$label FAILED while checking: $e")
      }
    }
  }

  def flagship(pages: DataFrame, w: Workload): DataFrame = {
    val r = DedupPipeline.run(pages, w.cfg)
    materialize(r)
    r.cleanup()
    r.clusters
  }

  /** `ResumableDedupPipeline.run` over a stage store. Releasing the
    * engine's tracked caches matters here as much as after
    * `DedupPipeline.run`: left in place, they would let the next pass skip
    * work a fresh run pays. */
  def staged(pages: DataFrame, w: Workload, store: Path): DataFrame = {
    val r = ResumableDedupPipeline.run(pages, w.cfg, new StageStore(pages.sparkSession, store.toString))
    materialize(r)
    r.cleanup()
    r.clusters
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val args = parse(argv)
    Files.createDirectories(args.work)
    val out = if (args.trace) Trace.run(args, jvmStart) else timed(args, jvmStart)
    println(out)
  }

  /** Passes over 1/32 of the input before the full-size warm-up. Pass
    * times keep falling for about five passes (15 s, then 9, 9, 8, 7 and a
    * steady 6 s for `web_mix` on 4 cores) while the JIT compiles the
    * driver's planning code and the kernels. Most of a pass is fixed
    * per-query cost, so slice passes warm the same code for about two
    * thirds of the time. Two of them, not more, keep a run's set-up
    * within budget on a slow host. */
  val WarmSlicePasses = 2

  /** The untimed part every run starts with: session, input, truth and a
    * warm-up, so that code generation and the JIT are done before timing.
    * The warm-up is [[WarmSlicePasses]] passes over a slice of the input,
    * then a full-size `DedupPipeline.run` checked like every timed pass;
    * its clusters become the reference every later pass must reproduce.
    * The input is generated three times and the median generation time
    * counts, so one slow generation does not move `setup_s`. */
  final case class Setup(spark: SparkSession, pages: DataFrame, truth: Truth, ledger: Ledger,
                         seconds: Double)

  def setup(args: Args, jvmStart: Double): Setup = {
    val w = args.workload
    val spark = session(Cores, args.work)
    val sessionReady = System.currentTimeMillis() / 1e3 - jvmStart
    var pages: DataFrame = null
    val gen = (1 to 3).map { _ =>
      val t0 = now()
      pages = input(spark, w, args.seed)
      now() - t0
    }
    val truth = w.truth(spark, args.seed)
    val ledger = new Ledger(truth)
    val t0 = now()
    val slice = pages.where(F.pmod(F.xxhash64(F.col("url")), F.lit(32)) === 0).localCheckpoint(true)
    (1 to WarmSlicePasses).foreach(_ => flagship(slice, w))
    val sliceWarm = now() - t0
    val warm = sliceWarm + ledger.pass("warm-up")(flagship(pages, w))
    val total = sessionReady + median(gen) + warm
    log(f"setup: session $sessionReady%.2f s, input ${median(gen)}%.2f s (median of 3), " +
      f"warm-up $warm%.2f s ($WarmSlicePasses slice passes $sliceWarm%.2f s)")
    Setup(spark, pages, truth, ledger, total)
  }

  def timed(args: Args, jvmStart: Double): String = {
    val w = args.workload
    val s = setup(args, jvmStart)
    val walls = repeat(args.seconds) { () => s.ledger.pass("timed")(flagship(s.pages, w)) }
    stopSession(s.spark)
    // a run in which no pass produced checkable clusters still prints its
    // result, with correct = false and 0 for what it could not measure
    def checked(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
    Json.result(s.ledger.failed == 0, s.ledger.attempted, s.ledger.failed, Seq(
      ("docs_per_sec", w.docs / median(walls), "docs/s"),
      ("setup_s", s.seconds, "s"),
      ("pair_recall", checked(s.ledger.recalls.toSeq), "ratio"),
      ("cluster_purity", checked(s.ledger.purities.toSeq), "ratio"),
      ("peak_rss_mb", peakRssMb(), "MiB")))
  }
}

object Json {
  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is not a number")
      s""""$n": {"value": ${BigDecimal(v).bigDecimal.toPlainString}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
