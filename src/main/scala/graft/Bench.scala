package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.SparkSession

import graft.dedup.{DedupConfig, DedupPipeline}
import graft.io.SyntheticCorpus

/** Benchmark main — one JSON line (stdout AND ./bench.json, so the driver
  * never has to scrape sbt-prefixed logs):
  *
  * 1. the north_rule cluster-size scaling criterion, evidenced in-sandbox
  *    (no managed cluster) by running the identical flagship pipeline on
  *    the identical deterministic corpus on a REAL local cluster of N vs
  *    4N single-core executor JVMs (local-cluster[n,1,mem] — own heaps,
  *    GC, netty shuffle; see [[clusterSession]]). The protocol is fixed
  *    before any timing: one corpus size, two size-matched pairs per level
  *    (see [[scalingBlocks]]), efficiency = (min T_N / min T_4N) / 4;
  * 2. headline `SparkEntry.queries` wall times on SPARK_GRAFT_SF_DIR at
  *    local[SPARK_GRAFT_CPUS] (driver contract: BENCH_r{N}.json);
  * 3. a per-stage N→4N table (same pipeline, fixed smaller corpus, one
  *    pass per thread-mode level), so the compute-vs-DRAM-bound split is
  *    data in the JSON rather than prose in BENCH.md.
  *
  * Both levels run identical per-executor configuration — Spark's
  * default `spark.memory.fraction` (0.6), constant per-executor memory,
  * the same partitions (`Sessions`' max(n, 8) is 8 at both levels) — so
  * no per-level knob can differentially shape the ratio beyond what
  * adding executors brings on a real cluster; the recorded per-level
  * SPILL totals are the detector for memory starvation at either width.
  * Memory BANDWIDTH, CPUs and the driver still come from one host — see
  * README for how to read the number against the ≥0.8 criterion.
  */
object Bench {

  /** The criterion's N and 4N: executors at the small and big level. */
  val NSmall = 1
  val NBig = 4
  /** Corpus of every timed scaling run (SPARK_GRAFT_BENCH_DOCS overrides):
    * the two pairs, the headline and the stage table fit the budget in a
    * slow phase of a 4-vCPU host (README, "Benchmark record"). */
  val DefaultDocs = 100000L
  /** Untimed warm-up run of every level session: it JITs the fresh
    * executor JVMs and the driver codegen paths (12k docs already run
    * every hot method thousands of times). */
  val WarmupDocs = 12000L
  /** Corpus of the per-stage table. */
  val StageDocs = 50000L
  /** Seconds the scaling blocks leave for the headline phase: its warm-up
    * and timed passes measure 40–50 s together. */
  val HeadlineReserveSec = 100.0
  /** Seconds the per-stage table needs: one pass per level at
    * [[StageDocs]], session starts included. */
  val StageTableSec = 80.0
  /** bench.json key of each `DedupPipeline.stages` store name, in
    * pipeline order. */
  val StageKeys = Seq("signatures" -> "signatures", "scored" -> "lsh_verify",
    "substr_edges" -> "substring", "assign" -> "connected_components",
    "flags" -> "winner_flags")

  /** Per-run spill totals — the starve detector: a memory-limited level
    * would show spill bytes here before it bends wall time. */
  private final class SpillListener extends org.apache.spark.scheduler.SparkListener {
    val mem = new java.util.concurrent.atomic.AtomicLong
    val disk = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) { mem.addAndGet(m.memoryBytesSpilled); disk.addAndGet(m.diskBytesSpilled) }
    }
  }

  /** Shuffle and spill files go to tmpfs: they cost memcpy, not fs
    * journaling. */
  private lazy val localDir: String = {
    val d = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    Files.createDirectories(Paths.get(d))
    d
  }

  /** Executor heap (-Xmx) at both levels. 2 GB, not 8: with 8 GB heaps the
    * four 4N executors grew to 2.3–3.0 GB resident each, and with the
    * driver they exhausted a 16 GB host — an executor was OOM-killed
    * (exit 137) during B2 at 100k and at 120k docs. */
  private lazy val execMb = sys.env.getOrElse("SPARK_GRAFT_EXEC_MB", "2048").toInt

  private def session(cores: Int): SparkSession =
    Sessions.local(cores, s"graft-bench-$cores", "spark.local.dir" -> localDir)

  private val benchStart = System.nanoTime()
  private def elapsedSec: Double = (System.nanoTime() - benchStart) / 1e9
  /** Soft wall-clock budget for the whole bench: the deadline guard skips
    * optional runs once they would not fit, so an unknown driver timeout
    * can't leave the round with no JSON line at all. */
  // 640 (not 700): the clock starts at JVM start, but the driver's sbt
  // wrapper adds launcher/compile overhead outside it — observed 15-32 s
  private lazy val budgetSec =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "640").toDouble

  private val cfg = DedupConfig(allowedLangs = Some(Set("en")))

  private def runPipeline(spark: SparkSession, n: Long): Unit = {
    val res = DedupPipeline.run(SyntheticCorpus.pages(spark, n), cfg)
    res.flagged.count() // materialize emission on top of metrics
    res.cleanup()
  }

  /** Runs `body` in the session `open` builds and stops that session
    * whatever happens. `Sessions.local` is `getOrCreate`: a session that a
    * failed block left open would come back as the next level's session,
    * at the wrong width. A full GC follows the stop, so the stopped
    * session's blocks and buffers do not age into the next timed run's
    * heap. */
  private[graft] def withSession[T](open: => SparkSession)(body: SparkSession => T): T = {
    val spark = open
    try body(spark)
    finally { Sessions.stop(spark); System.gc() }
  }

  /** Scaling-level session: a REAL multi-executor local cluster
    * (`local-cluster[n,1,mem]`) — n executor JVMs with their own heaps,
    * GC, and netty shuffle. This is the literal shape of the north_rule's
    * "N and 4N executors" criterion: per-executor memory is CONSTANT
    * across levels, so 4N executors bring 4× aggregate memory and GC
    * throughput the way a real cluster scale-out does. Executor JVMs find
    * the engine classes via this class's own code-source path. */
  private def clusterSession(executors: Int): SparkSession = {
    val classesDir = getClass.getProtectionDomain.getCodeSource.getLocation.getPath
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    // local-cluster[n,1,mem]'s third field is WORKER capacity only; the
    // executor heap comes from spark.executor.memory (1g if unset). Heap
    // policy is measured: -Xms=-Xmx with -XX:+AlwaysPreTouch zeroed 4×8 GB
    // at executor launch (110-150 s per launch under adverse hypervisor
    // memory weather); -Xms=-Xmx without pre-touch moved that zeroing into
    // the timed runs. A small -Xms commits only what the runs use, and the
    // untimed in-session warm-up pays the first growth.
    Sessions.local(executors, s"graft-bench-cluster-$executors",
      "spark.master" -> s"local-cluster[$executors,1,$execMb]",
      "spark.local.dir" -> localDir,
      // Delay scheduling buys nothing on a single host — every executor is
      // node-local to every block — but it DOES idle free slots at the
      // multi-executor level (a slot waits up to 3 s per locality tier).
      // Same value at both levels.
      "spark.locality.wait" -> "0s",
      "spark.executor.memory" -> s"${execMb}m",
      "spark.executor.extraClassPath" -> classesDir,
      "spark.executor.extraJavaOptions" -> s"$addOpens -Xms512m")
  }

  /** `cluster`, or `threads` (shared-JVM local[n] levels) once a cluster
    * launch has failed in this environment. */
  private var scaleMode = "cluster"

  private def levelSession(cores: Int): SparkSession =
    if (scaleMode == "threads") session(cores) else clusterSession(cores)

  /** (wall sec, spilled MiB) of one timed end-to-end flagship run inside
    * an already-open (and warmed) level session. */
  private def timedRunIn(spark: SparkSession, nDocs: Long): (Double, Double) = {
    spark.catalog.clearCache()
    val spills = new SpillListener
    spark.sparkContext.addSparkListener(spills)
    val t0 = System.nanoTime()
    runPipeline(spark, nDocs)
    val t = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(spills)
    System.gc() // stabilize heap between same-session runs
    (t, (spills.mem.get + spills.disk.get) / 1048576.0)
  }

  /** One timed flagship run: which level (small = true), corpus size,
    * wall, spill, and the bench-clock offset when it STARTED, so any
    * weather drift across the blocks is auditable in the artifact. */
  private[graft] final case class RunSample(small: Boolean, docs: Long,
      wall: Double, spill: Double, atSec: Double)

  /** One level's walls: min, median, spread (max − min), and the spill of
    * the min-wall run. */
  private[graft] final case class LevelStats(min: Double, median: Double,
      spread: Double, spill: Double)

  /** What the record says about the samples. `efficiency` is
    * (min small wall / min big wall) / (NBig / NSmall), the one statistic
    * of every run; -1 when a level has no sample. */
  private[graft] final case class Summary(small: Option[LevelStats],
      big: Option[LevelStats], timedPairs: Int, efficiency: Double)

  private[graft] def summarize(runs: Seq[RunSample]): Summary = {
    def stats(rs: Seq[RunSample]): Option[LevelStats] =
      if (rs.isEmpty) None
      else {
        val ws = rs.map(_.wall).sorted
        val m = ws.size / 2
        val median = if (ws.size % 2 == 1) ws(m) else (ws(m - 1) + ws(m)) / 2
        Some(LevelStats(ws.head, median, ws.last - ws.head, rs.minBy(_.wall).spill))
      }
    val (ss, bs) = runs.partition(_.small)
    val (s, b) = (stats(ss), stats(bs))
    val eff = s.zip(b).map { case (x, y) => x.min / y.min / (NBig.toDouble / NSmall) }
    Summary(s, b, math.min(ss.size, bs.size), eff.getOrElse(-1.0))
  }

  /** The scaling phase's samples and costs: `blocksSec` is the wall of
    * the whole block schedule (launches, warm-ups, timed runs),
    * `warmupSec` the summed walls of the level sessions' warm-ups. */
  private final case class Scaling(runs: Seq[RunSample], blocksSec: Double,
      warmupSec: Double)

  /** The fixed block schedule, every run at `nDocs`:
    *
    *   [small: warm → S1] [big: warm → B1 → B2] [small: warm → S2]
    *
    * Runs are grouped per level, so cluster launch and executor JIT are
    * paid once per block, the way a real cluster benchmark reuses its
    * cluster across repetitions. The small samples BRACKET the big block,
    * so a monotone drift in host load lands on both sides of the ratio.
    *
    * The deadline guard projects B2 and S2 from walls measured earlier in
    * this schedule and skips a run that would eat into the headline
    * reserve (B2 first, since S2 closes the bracket). It logs every skip;
    * it never resizes the corpus and never adds a run. Each block is
    * fail-soft: a failed block costs its own samples, and its session is
    * stopped either way. */
  private def scalingBlocks(nDocs: Long): Scaling = {
    val start = elapsedSec
    val runs = scala.collection.mutable.ArrayBuffer.empty[RunSample]
    var warmups = Seq.empty[Double]
    def level(cores: Int)(body: SparkSession => Unit): Unit =
      withSession(levelSession(cores)) { spark =>
        val t0 = System.nanoTime()
        runPipeline(spark, WarmupDocs)
        warmups :+= (System.nanoTime() - t0) / 1e9
        body(spark)
      }
    def timed(spark: SparkSession, small: Boolean): RunSample = {
      val at = elapsedSec
      val (t, sp) = timedRunIn(spark, nDocs)
      val r = RunSample(small, nDocs, t, sp, at)
      System.err.println(f"[bench] ${if (small) "small" else "big"}@$nDocs: $t%.1f s " +
        f"(spill $sp%.0f MiB, started at $at%.0f s)")
      runs += r
      r
    }
    def block(label: String)(body: => Unit): Unit =
      try body
      catch { case e: Throwable =>
        System.err.println(s"[bench] $label failed (${e.getMessage}); " +
          "recording what completed")
      }
    def fits(run: String, projectedSec: Double): Boolean = {
      val left = budgetSec - HeadlineReserveSec - elapsedSec
      if (projectedSec > left)
        System.err.println(f"[bench] guard: skipping $run (projected " +
          f"$projectedSec%.0f s, $left%.0f s left before the headline reserve)")
      projectedSec <= left
    }

    // The first small block doubles as the cluster-launcher smoke test: if
    // local-cluster executors cannot launch and warm up in this
    // environment, the levels fall back to thread mode rather than zeroing
    // the round's scaling record.
    var openSmallSec = 0.0
    def firstSmall(): Unit = {
      val t0 = elapsedSec
      level(NSmall) { s => openSmallSec = elapsedSec - t0; timed(s, small = true) }
    }
    block("first small block") {
      try firstSmall()
      catch { case e: Throwable if scaleMode == "cluster" && warmups.isEmpty =>
        System.err.println(s"[bench] cluster scaling unavailable " +
          s"(${e.getMessage}); falling back to thread-mode levels")
        scaleMode = "threads"
        firstSmall()
      }
    }
    val s1 = runs.find(_.small).fold(0.0)(_.wall)
    block("big block") {
      level(NBig) { big =>
        val b1 = timed(big, small = false)
        if (fits("B2", b1.wall + openSmallSec + s1)) timed(big, small = false)
      }
    }
    if (fits("S2", openSmallSec + s1))
      block("closing small block") { level(NSmall)(timed(_, small = true)) }
    Scaling(runs.toSeq, elapsedSec - start, warmups.sum)
  }

  /** Per-stage wall times of one pipeline pass: `DedupPipeline.stages`
    * with a timing hold. Each stage is held by the same lineage-truncating
    * lazy checkpoint as `DedupPipeline.run` and forced by a count. A
    * stage's wall runs from the end of the previous hold (from the start
    * of the pass, for `signatures`), so it covers CONSTRUCTION + action:
    * any job a stage submits while its frame is built — the eager id
    * check inside `DedupPipeline.signatures` included — is attributed to
    * that stage. The holds run one after another, so no two walls
    * overlap. */
  private def stagedRun(cores: Int): Map[String, Double] =
    withSession(session(cores)) { spark =>
      val keys = StageKeys.toMap
      val out = Map.newBuilder[String, Double]
      var t0 = System.nanoTime()
      DedupPipeline.stages(SyntheticCorpus.pages(spark, StageDocs), cfg) { (name, build) =>
        val df = Caches.truncate(build())
        df.count()
        val t1 = System.nanoTime()
        out += keys(name) -> (t1 - t0) / 1e9
        t0 = t1
        df
      }
      Caches.release(spark)
      out.result()
    }

  /** The 26 headline queries at local[cpus], timed after one untimed
    * warm-up pass of the same queries at a smaller SF: first-touch costs
    * (JIT of the analysis paths the scaling pipeline never exercises,
    * parquet footer readers, the noop writer) otherwise land on whichever
    * queries run first (measured: 67 s cold vs 49 s warm for the identical
    * 26 queries in one JVM). The warm-up reads a DIFFERENT input
    * directory, so only JVM-global state gets warm. Returns the warm-up
    * wall and each query's wall. */
  private def headline(cpus: Int, sfDir: String): (Double, Seq[(String, Double)]) =
    withSession(session(cpus)) { spark =>
      val warmupSfDir =
        sys.env.getOrElse("SPARK_GRAFT_HEADLINE_WARMUP_DIR", "/root/testdata/sf0.001")
      val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      val warmupSec =
        if (warmupSfDir != sfDir && Files.isDirectory(Paths.get(warmupSfDir))
            && elapsedSec < budgetSec - 110) {
          val t0 = System.nanoTime()
          // mid-loop guard: the alphabetically-first queries carry most of
          // the first-touch cost, so a cut warm-up still does its job
          val it = sorted.iterator
          var cut = false
          while (it.hasNext && !cut) {
            val (name, fn) = it.next()
            try fn(spark, warmupSfDir).write.mode("overwrite").format("noop").save()
            catch { case e: Throwable =>
              System.err.println(s"[bench] headline warmup $name failed: ${e.getMessage}")
            }
            if (elapsedSec > budgetSec - 85) {
              System.err.println(f"[bench] headline warmup cut after $name at $elapsedSec%.0f s")
              cut = true
            }
          }
          Caches.release(spark)
          spark.catalog.clearCache()
          val t = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[bench] headline warmup pass ($warmupSfDir): $t%.1f s")
          t
        } else 0.0
      val results = sorted.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        name -> (System.nanoTime() - t0) / 1e9
      }
      Caches.release(spark)
      (warmupSec, results)
    }

  /** Everything one bench run records, rendered as the bench.json line,
    * the bench_history.jsonl line and BENCH.md. `stages` holds
    * (key, small-level sec, big-level sec) in pipeline order. */
  private[graft] final case class Record(sfDir: String, cpus: Int,
      queries: Seq[(String, Double)], headlineWarmupSec: Double, docs: Long,
      runs: Seq[RunSample], scaleMode: String, execMb: Int, blocksSec: Double,
      warmupSec: Double, stages: Seq[(String, Double, Double)]) {

    lazy val summary: Summary = summarize(runs)
    def total: Double = queries.map(_._2).sum
    private def small = runs.filter(_.small)
    private def big = runs.filterNot(_.small)
    private def arr(xs: Seq[Double]): String = xs.map(x => f"$x%.2f").mkString("[", ",", "]")
    private def docsArr(rs: Seq[RunSample]): String = rs.map(_.docs).mkString("[", ",", "]")
    private def minWall(l: Option[LevelStats]): Double = l.fold(-1.0)(_.min)
    private def dps(l: Option[LevelStats]): Double = l.fold(0.0)(docs / _.min)
    private def spill(l: Option[LevelStats]): Double = l.fold(0.0)(_.spill)

    def json: String = {
      val s = summary
      val qs = queries.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
      val stageJson = stages.map { case (k, ts, tb) =>
        "\"" + k + f"""":{"sec_small":$ts%.2f,"sec_big":$tb%.2f,"speedup":${ts / tb}%.2f}"""
      }.mkString("{", ",", "}")
      val scaling =
        f"""{"pipeline_docs":$docs,"cores_small":$NSmall,"cores_big":$NBig,""" +
          f""""sec_small":${minWall(s.small)}%.2f,"sec_big":${minWall(s.big)}%.2f,""" +
          f""""docs_per_sec_small":${dps(s.small)}%.1f,"docs_per_sec_big":${dps(s.big)}%.1f,""" +
          f""""scaling_efficiency":${s.efficiency}%.3f,"timed_pairs":${s.timedPairs},""" +
          s""""samples_small":${arr(small.map(_.wall))},"samples_big":${arr(big.map(_.wall))},""" +
          s""""sample_docs_small":${docsArr(small)},"sample_docs_big":${docsArr(big)},""" +
          s""""sample_at_sec_small":${arr(small.map(_.atSec))},""" +
          s""""sample_at_sec_big":${arr(big.map(_.atSec))},""" +
          f""""size_group_efficiencies":{"$docs":${s.efficiency}%.3f},""" +
          f""""warmup_docs":$WarmupDocs,"warmup_sec":$warmupSec%.1f,""" +
          s""""scale_mode":"$scaleMode","exec_mb":$execMb,""" +
          f""""est_blocks_sec":$blocksSec%.1f,"headline_reserve_sec":$HeadlineReserveSec%.0f,""" +
          """"mem_fraction_small":0.600,"mem_fraction_big":0.600,""" +
          f""""spill_small_mb":${spill(s.small)}%.1f,"spill_big_mb":${spill(s.big)}%.1f,""" +
          s""""stage_docs":$StageDocs,"stages":$stageJson}"""
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,""" +
        f""""headline_warmup_sec":$headlineWarmupSec%.1f,"sf":"$sfDir","scaling":$scaling}"""
    }

    def history(ts: String): String =
      f"""{"ts":"$ts","docs":$docs,"eff":${summary.efficiency}%.3f,""" +
        s""""pairs":${summary.timedPairs},"mode":"$scaleMode",""" +
        s""""samples_small":${arr(small.map(_.wall))},"samples_big":${arr(big.map(_.wall))},""" +
        s""""sample_docs_small":${docsArr(small)},"sample_docs_big":${docsArr(big)},""" +
        f""""warmup_sec":$warmupSec%.1f,"headline_sec":$total%.1f,"sf":"$sfDir"}"""

    def benchMd: String = {
      val s = summary
      // rows start "||": stripMargin takes the first bar
      def levelRow(n: Int, rs: Seq[RunSample], l: Option[LevelStats]): String = l match {
        case Some(x) =>
          f"|| $n | ${rs.size} | ${x.min}%.2f | ${x.median}%.2f | ${x.spread}%.2f | " +
            f"${docs / x.min}%.1f | ${x.spill}%.1f |"
        case None => s"|| $n | 0 | – | – | – | – | – |"
      }
      val stageRows =
        if (stages.isEmpty)
          "|_(skipped this run: the deadline guard found no room for it; " +
            "`python3 perfbench/run.py --trace 1` reports per-layer cost)_"
        else stages.map { case (k, ts, tb) =>
          // sub-2 s stage walls are dominated by per-job driver latency at
          // this corpus size — flagged so noise isn't read as signal
          val mark = if (ts < 2.0) " †" else ""
          f"|| $k$mark | $ts%.2f | $tb%.2f | ${ts / tb}%.2f× |"
        }.mkString("\n")
      f"""# BENCH — graft engine
         |
         |## Headline queries (local[$cpus], $sfDir)
         |
         |Timed after one untimed warmup pass of the same 26 queries at
         |sf0.001 ($headlineWarmupSec%.1f s, `headline_warmup_sec` in
         |bench.json): it reads a different input directory, so it warms
         |only JVM-global state (JIT, codegen caches, parquet footer
         |readers) that would otherwise be charged to whichever query runs
         |first.
         |
         || query | sec |
         ||---|---|
         ${queries.map { case (k, v) => f"|| $k | $v%.3f |" }.mkString("\n")}
         || **total** | **$total%.3f** |
         |
         |## Cluster-size scaling criterion (north_rule)
         |
         |Scaling mode: **$scaleMode** (`cluster`: each level is a
         |`local-cluster[n,1,$execMb]` of n single-core executor JVMs with
         |their own heaps, GC and netty shuffle; `threads`: `local[n]`, used
         |only when a cluster launch fails). The same flagship pipeline
         |runs on the same deterministic synthetic corpus at both levels.
         |
         |The protocol is fixed before any timing: every run is at
         |$docs docs, and the blocks are [small: warm, S1] [big: warm, B1,
         |B2] [small: warm, S2]; each level session first runs an untimed
         |$WarmupDocs-doc warm-up. The small samples bracket the big block,
         |so a monotone drift in host load lands on both sides of the
         |ratio. A deadline guard may skip B2 or S2 (it logs the skip); it
         |never resizes the corpus or adds a run. This run has
         |${small.size} small and ${big.size} big samples, ${s.timedPairs}
         |size-matched pair(s); the schedule took $blocksSec%.0f s.
         |
         || executors | samples | min s | median s | spread s | docs/sec at min | spilled MiB at min |
         ||---|---|---|---|---|---|---|
         ${levelRow(NSmall, small, s.small)}
         ${levelRow(NBig, big, s.big)}
         |
         |Samples (s, in run order): small ${arr(small.map(_.wall))},
         |big ${arr(big.map(_.wall))}; start offsets in bench.json
         |(`sample_at_sec_*`).
         |
         |**Scaling efficiency (min T_N / min T_4N) / 4 = ${s.efficiency}%.3f**.
         |Every run records this one statistic over its fixed samples.
         |Single samples on this host swing by ±50%% with CPU steal, so
         |read the median and spread beside it, and read the spread across
         |runs in `bench_history.jsonl`.
         |
         |One host cannot show the criterion's 4N cluster: the 4N level
         |runs 4 executor JVMs and the driver on the same 4 vCPUs, one
         |memory bus and one page cache, so the driver's serial work and
         |host contention both land on the big level.
         |
         |### Per-stage $NSmall→$NBig speedup ($StageDocs docs, one pass per level)
         |
         |(Thread-mode `local[n]` levels — an intra-JVM instrument for the
         |compute-vs-DRAM split per stage, separate from the
         |executor-scaling criterion above.)
         |
         || stage | local[$NSmall] s | local[$NBig] s | speedup |
         ||---|---|---|---|
         $stageRows
         |
         |† wall < 2 s at local[$NSmall]: dominated by per-job driver
         |latency at this stage corpus, not by parallel work — its speedup
         |column is noise, not scaling signal.
         |""".stripMargin
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nDocs = sys.env.get("SPARK_GRAFT_BENCH_DOCS").map(_.toLong).getOrElse(DefaultDocs)

    // Staleness stamp FIRST: if an external timeout kills this JVM before
    // any phase completes, bench.json says so — a leftover artifact from
    // a previous run can't masquerade as this run's result.
    Files.writeString(Paths.get("bench.json"),
      s"""{"metric":"total","value":-1.0,"unit":"sec","queries":{},"sf":"$sfDir","in_progress":true}\n""")

    // -- 1. scaling FIRST, in the freshest regime: running the 26 headline
    // queries beforehand was measured to slow every later pipeline session
    // ~8-10% (heap and allocator state leak across sessions in one JVM).
    // N=1 vs 4N=4: this host's shared memory subsystem saturates around ~8
    // busy threads, so 1→4 is the widest regime where executor scaling is
    // observable on one host.
    val sc = scalingBlocks(nDocs)

    // -- 2. headline queries
    val (headlineWarmupSec, results) = headline(cpus, sfDir)
    val record = Record(sfDir, cpus, results, headlineWarmupSec, nDocs, sc.runs,
      scaleMode, execMb, sc.blocksSec, sc.warmupSec, Seq.empty)
    def write(r: Record): Unit = {
      Files.writeString(Paths.get("bench.json"), r.json + "\n")
      Files.writeString(Paths.get("BENCH.md"), r.benchMd)
    }
    // results-so-far safety net: if an external timeout kills the JVM
    // mid-table, the scaling and headline results are already on disk
    write(record)

    // -- 3. per-stage table. build.sbt documents the stdout contract as ONE
    // bare JSON line, so a crash here falls through to it with whatever
    // completed.
    val stages: Seq[(String, Double, Double)] =
      if (elapsedSec + StageTableSec > budgetSec) {
        System.err.println(f"[bench] guard: skipping the per-stage table at $elapsedSec%.0f s")
        Seq.empty
      } else
        try {
          val small = stagedRun(NSmall)
          val big = stagedRun(NBig)
          StageKeys.map { case (_, k) => (k, small(k), big(k)) }
        } catch { case e: Throwable =>
          System.err.println(s"[bench] per-stage table failed: ${e.getMessage}"); Seq.empty
        }
    val done = record.copy(stages = stages)
    write(done)
    println(done.json) // THE stdout line

    // Append-only history: one line per completed bench run, so the
    // run-to-run spread on identical code is data in the repo.
    Files.writeString(Paths.get("bench_history.jsonl"),
      done.history(java.time.Instant.now().toString) + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
