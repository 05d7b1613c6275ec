package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbenchshim.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.Caches
import graft.dedup.{ConnectedComponents, DedupPipeline, Lsh, SubstringDedup}
import graft.io.StageStore

import Main.{log, materialize, median, now}

/** Task totals of one layer, summed from task-end events. */
final class Tally {
  var jobs = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
}

/** Attributes every Spark job, and through its stages every task, to the
  * layer named in the job's `SpanKey` local property. Registered for the
  * length of one traced pass only; untraced and timed passes run without
  * it. */
final class LayerListener extends SparkListener {
  private val stageLayer = new java.util.concurrent.ConcurrentHashMap[Int, String]
  private val tallies = mutable.Map.empty[String, Tally]

  def tally(layer: String): Tally = synchronized(tallies.getOrElseUpdate(layer, new Tally))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .getOrElse(Trace.Unattributed)
    e.stageIds.foreach(stageLayer.put(_, layer))
    synchronized(tally(layer).jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      val t = tally(stageLayer.getOrDefault(e.stageId, Trace.Unattributed))
      t.taskMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.diskBytesSpilled
    }
  }
}

/** One span: a named interval of one traced pass. `parent` is -1 for the
  * pass's root span. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      start: Double, end: Double, gcS: Double) {
  def wall: Double = end - start
}

/** Records spans and counts of one traced pass in memory. Jobs a span
  * starts are tagged with the span's layer (the first dot-separated part
  * of its name) so the listener can attribute their tasks. */
final class Tracer(spark: SparkSession, val runId: String) {
  val spans = ArrayBuffer.empty[Span]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  private val stack = mutable.Stack[Int]()
  private var started = 0

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def tag(layer: String): Unit = spark.sparkContext.setLocalProperty(Trace.SpanKey, layer)

  def span[T](name: String)(body: => T): T = {
    val id = started
    started += 1
    val parent = stack.headOption.getOrElse(-1)
    val outer = spark.sparkContext.getLocalProperty(Trace.SpanKey)
    stack.push(id)
    tag(name.takeWhile(_ != '.'))
    val (t0, g0) = (now(), gcSeconds())
    try body
    finally {
      spans += Span(id, name, parent, runId, t0, now(), gcSeconds() - g0)
      stack.pop()
      tag(outer)
    }
  }

  /** A count recorded at a span boundary; its jobs are kept out of every
    * layer's totals. */
  def count(name: String)(value: => Double): Double = {
    val outer = spark.sparkContext.getLocalProperty(Trace.SpanKey)
    tag(Trace.Counting)
    try { val v = value; counts(name) = v; v } finally tag(outer)
  }

  /** Self time: a span's duration minus what its child spans cover. */
  def selfTime(s: Span): Double = s.wall - spans.filter(_.parent == s.id).map(_.wall).sum
}

/** The traced run: the stages of `DedupPipeline.run`, composed in its
  * order from the layers' public functions, with a span around each layer
  * and each layer's output materialized before the next starts. This gives
  * up the pipeline's concurrent first touch of LSH and substring, so the
  * run also times untraced passes and reports the difference as
  * `trace.overhead_share`. Every workload's traced pass ends with the
  * `store` layer: the five stages `ResumableDedupPipeline` persists are
  * committed to a fresh `StageStore`, read back, and resumed from. */
object Trace {
  val SpanKey = "perfbench.layer"
  val Unattributed = "unattributed"
  val Counting = "counting"

  val Layers = Seq("signatures", "lsh_candidates", "lsh_verify", "substring", "cc", "winner",
    "emission", "store")
  val PipelineLayers: Seq[String] = Layers.filter(_ != "store")

  val CountNames = Seq(
    "signatures.docs_signed", "lsh_candidates.pairs", "lsh_candidates.overflow_buckets",
    "lsh_candidates.overflow_rows", "lsh_verify.verified", "lsh_verify.yield",
    "lsh_verify.near_tau_pairs", "lsh_verify.near_tau_recall", "substring.edges",
    "cc.edges_in", "cc.nodes", "winner.duplicates", "store.commit_s", "store.reload_s",
    "store.resume_s", "store.bytes_written_mb", "store.bytes_per_input_byte")

  /** One traced pass; returns the clusters output of the composed stages
    * and of the resumed run, for the checks. */
  def pass(pages: DataFrame, w: Workload, truth: Truth, t: Tracer,
           store: Path): (DataFrame, DataFrame) = {
    val spark = pages.sparkSession
    import spark.implicits._
    val cfg = w.cfg

    val (sigsAllRaw, gateRejects, sigsAll) = t.span("signatures") {
      val (raw, rejects) = DedupPipeline.signatures(pages, cfg)
      val all = Caches.truncate(raw.select("doc_id", "text", "minhash", "simhash", "reject_reason"))
      all.count()
      (raw, rejects, all)
    }
    val sigs = sigsAll.where($"minhash".isNotNull)
    val sigCols = sigs.select("doc_id", "minhash", "simhash")
    t.count("signatures.docs_signed")(sigs.count().toDouble)

    val pairs = t.span("lsh_candidates") {
      val (p, overflow) = Lsh.candidatePairs(sigCols, cfg)
      // the materializing count and the overflow aggregate are the
      // layer's own work, so they stay inside its tag
      val pairs = Caches.truncate(p)
      t.counts("lsh_candidates.pairs") = pairs.count().toDouble
      val o = overflow.head()
      t.counts("lsh_candidates.overflow_buckets") = o.getLong(0).toDouble
      t.counts("lsh_candidates.overflow_rows") = o.getLong(1).toDouble
      pairs
    }

    val scored = t.span("lsh_verify") {
      val s = Caches.truncate(Lsh.verifyPairs(pairs, sigCols, cfg))
      s.count()
      s
    }
    val verified = scored.where($"verified").select($"a", $"b")
    val nVerified = t.count("lsh_verify.verified")(verified.count().toDouble)
    t.counts("lsh_verify.yield") = nVerified / math.max(1.0, t.counts("lsh_candidates.pairs"))
    t.count("lsh_verify.near_tau_pairs")(truth.nearTau.length.toDouble)
    t.count("lsh_verify.near_tau_recall") {
      if (truth.nearTau.isEmpty) 1.0 // vacuous: the workload plants no pair in the band
      else {
        val idOf = sigsAllRaw.select("url", "doc_id").as[(String, Long)].collect().toMap
        val planted = truth.nearTau.toSeq.map { case (u, v) =>
          val (a, b) = (idOf(u), idOf(v)); (math.min(a, b), math.max(a, b))
        }.toDF("a", "b")
        planted.join(verified, Seq("a", "b"), "left_semi").count().toDouble / truth.nearTau.length
      }
    }

    val substr = t.span("substring") {
      val s = Caches.truncate(SubstringDedup.substringEdges(sigs.select($"doc_id", $"text"), cfg))
      t.counts("substring.edges") = s.count().toDouble
      s
    }

    val assign = t.span("cc") {
      val edges = verified.union(substr.select($"a", $"b"))
      t.count("cc.edges_in")(edges.count().toDouble)
      val a = ConnectedComponents.run(edges)
      t.count("cc.nodes")(a.count().toDouble)
      a
    }

    val flags = t.span("winner") {
      val f = Caches.truncate(DedupPipeline.winnerFlags(sigs, assign, cfg))
      f.count()
      f
    }
    t.count("winner.duplicates")(flags.where($"is_duplicate").count().toDouble)

    val clusters = t.span("emission") {
      val admittedWide = sigsAllRaw.where($"reject_reason".isNull)
        .drop("minhash", "simhash", "reject_reason")
      val noContent = admittedWide.join(
        sigsAll.where($"reject_reason".isNull && $"minhash".isNull).select("doc_id"),
        Seq("doc_id"), "left_semi")
        .withColumn("reject_reason", F.lit("no_content"))
      val rejects = gateRejects.unionByName(noContent, allowMissingColumns = true)
      val nearMisses = scored.where(!$"verified")
      val flagged = Caches.truncate(
        admittedWide.join(flags.hint("shuffle_hash"), "doc_id")
          .join(DedupPipeline.nearMissTags(nearMisses).hint("shuffle_hash"), Seq("doc_id"), "left"))
      val deduped = flagged.where($"is_canonical").drop("is_canonical", "is_duplicate", "cluster_id")
      val duplicates = flagged.where($"is_duplicate").drop("is_canonical", "is_duplicate")
      val clusters = flagged.select($"url", $"doc_id", $"cluster_id", $"is_canonical")
      Seq(flagged, deduped, duplicates, clusters, nearMisses, rejects).foreach(materialize)
      clusters
    }

    val resumed = t.span("store") {
      val stages = Seq("signatures" -> sigsAll, "scored" -> scored, "substr_edges" -> substr,
        "assign" -> assign, "flags" -> flags)
      t.span("store.commit") {
        val s = new StageStore(spark, store.toString)
        stages.foreach { case (name, df) => s.runStaged(name)(df) }
      }
      t.counts("store.commit_s") = t.spans.last.wall
      t.count("store.bytes_written_mb")(Main.dirBytes(store) / 1048576.0)
      t.count("store.bytes_per_input_byte") {
        Main.dirBytes(store) / pages.selectExpr("sum(octet_length(url) + octet_length(text) + " +
          "length(html) + octet_length(lang) + 8)").head().getLong(0).toDouble
      }
      t.span("store.reload") {
        val s = new StageStore(spark, store.toString)
        stages.foreach { case (name, _) =>
          materialize(s.runStaged(name)(sys.error(s"stage $name was not committed")))
        }
      }
      t.counts("store.reload_s") = t.spans.last.wall
      // the committed store holds exactly the stages a cold
      // ResumableDedupPipeline.run commits, so this is a real resume
      val r = t.span("store.resume")(Main.staged(pages, w, store))
      t.counts("store.resume_s") = t.spans.last.wall
      r
    }
    (clusters, resumed)
  }

  def run(args: Main.Args, jvmStart: Double): String = {
    val w = args.workload
    val s = Main.setup(args, jvmStart)
    val spark = s.spark
    val store = args.work.resolve("trace-store")
    val dump = args.work.resolve(s"spans-${w.name}-${args.seed}.json")
    val dumpLines = ArrayBuffer.empty[String]
    val untraced = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, ArrayBuffer.empty) += v

    def record(tracer: Tracer, listener: LayerListener): Unit = {
      val top = tracer.spans.filter(sp => Layers.contains(sp.name))
      for (sp <- top) {
        val l = listener.tally(sp.name)
        sample(s"${sp.name}.wall_s", sp.wall)
        sample(s"${sp.name}.jobs", l.jobs.toDouble)
        sample(s"${sp.name}.task_cpu_s", l.cpuNs / 1e9)
        sample(s"${sp.name}.busy_share", l.taskMs / 1e3 / (sp.wall * Main.Cores))
        sample(s"${sp.name}.shuffle_write_mb", l.shuffleWrite / 1048576.0)
        sample(s"${sp.name}.shuffle_read_mb", l.shuffleRead / 1048576.0)
        sample(s"${sp.name}.spill_mb", l.spill / 1048576.0)
      }
      CountNames.foreach(k => sample(k, tracer.counts(k)))
      val pipe = top.filter(sp => PipelineLayers.contains(sp.name))
      val pipeWall = pipe.map(_.wall).sum
      val pipeTallies = PipelineLayers.map(listener.tally)
      sample("run.jobs", pipeTallies.map(_.jobs).sum.toDouble)
      sample("run.task_cpu_s", pipeTallies.map(_.cpuNs).sum / 1e9)
      sample("run.busy_share", pipeTallies.map(_.taskMs).sum / 1e3 / (pipeWall * Main.Cores))
      sample("run.gc_s", pipe.map(_.gcS).sum)
      // the traced pass, counting jobs included, without the store layer:
      // the composition DedupPipeline.run is compared with
      traced += tracer.spans.find(_.name == "pass").get.wall -
        top.find(_.name == "store").get.wall
    }

    val t0 = now()
    var n = 0
    // like Main.repeat: another iteration only while one of the average
    // length so far still ends within the run's seconds
    while (n == 0 || (now() - t0) * (n + 1) / n <= args.seconds) {
      n += 1
      untraced += s.ledger.pass("untraced")(Main.flagship(s.pages, w))
      Main.deleteTree(store)
      ListenerBusShim.drain(spark.sparkContext)
      val listener = new LayerListener
      spark.sparkContext.addSparkListener(listener)
      val tracer = new Tracer(spark, s"${w.name}-${args.seed}-$n")
      var resumed: DataFrame = null
      s.ledger.pass("traced") {
        val (c, r) = tracer.span("pass")(pass(s.pages, w, s.truth, tracer, store))
        resumed = r
        c
      }
      ListenerBusShim.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      // a pass that threw is already counted as failed and gives no sample
      if (resumed != null) {
        s.ledger.check("resumed", resumed)
        record(tracer, listener)
      }
      Caches.release(spark)
      Main.deleteTree(store)
      dumpLines ++= tracer.spans.sortBy(_.id).map { sp =>
        f"""{"run": "${sp.runId}", "id": ${sp.id}, "name": "${sp.name}", "parent": ${sp.parent}, """ +
          f""""start": ${sp.start - t0}%.6f, "end": ${sp.end - t0}%.6f, "self_s": ${tracer.selfTime(sp)}%.6f}"""
      }
    }
    require(traced.nonEmpty, "no traced pass completed")
    Files.write(dump, dumpLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    log(s"spans written to $dump")
    Main.stopSession(spark)

    // the same untraced pass on one core, for the scaling figure
    val spark1 = Main.session(1, args.work)
    val pages1 = Main.input(spark1, w, args.seed)
    val walls1 = Seq(s.ledger.pass("untraced@1")(Main.flagship(pages1, w)))
    Main.stopSession(spark1)

    val dps = w.docs / median(untraced.toSeq)
    val dps1 = w.docs / median(walls1)
    val metrics = samples.toSeq.map { case (k, vs) => (k, median(vs.toSeq), unitOf(k)) } ++ Seq(
      ("run.docs_per_sec_1c", dps1, "docs/s"),
      ("run.scaling_eff", dps / dps1 / Main.Cores, "ratio"),
      ("trace.overhead_share", median(traced.toSeq) / median(untraced.toSeq) - 1, "ratio"))
    Json.result(s.ledger.failed == 0, s.ledger.attempted, s.ledger.failed, metrics)
  }

  def unitOf(metric: String): String =
    if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_mb")) "MiB"
    else if (Seq("share", "yield", "recall", "_byte").exists(metric.endsWith)) "ratio"
    else "count"
}
