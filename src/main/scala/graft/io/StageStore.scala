package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/** Per-stage checkpoint store with per-partition lineage — the engine's
  * resumability substrate (north_rule: "resumable from checkpoint with
  * per-partition lineage + metrics").
  *
  * A thin lake-table facade over parquet directories carrying the
  * Iceberg-equivalent semantics this sandbox can't host (no Iceberg jar,
  * zero egress — see SURVEY.md §7.1): at deploy time `runStaged` maps to
  * an Iceberg table + snapshot commit per stage, and `_SUCCESS` to the
  * snapshot's existence. Commit discipline mirrors the reference's
  * tmp-file-then-rename protocol (reference/dupliganger/common.py:601-733)
  * as realized by the Hadoop output committer: data lands under
  * `_temporary`, the `_SUCCESS` marker is written last, so a killed job
  * leaves no half-stage behind and a re-run redoes exactly the
  * uncommitted stages.
  *
  * Lineage: after each stage commit, one row per output partition
  * (stage, partition_id, row_count, xor-of-row-hashes) is appended to
  * `lineage` — the audit trail for "which partition of which stage
  * produced what", queryable like any table. The analog of the
  * reference's per-op telemetry (reference/dupliganger/common.py:799-827)
  * plus its LMDB txn batching (constants.py:127-128), transposed to
  * partition granularity. (`lineage` and `metrics` have no `_` prefix:
  * Spark skips such paths as hidden and warns on every read.)
  */
final class StageStore(spark: SparkSession, root: String) {

  private def dirOf(stage: String) = s"$root/$stage"

  def isCommitted(stage: String): Boolean =
    Files.exists(Paths.get(dirOf(stage), "_SUCCESS"))

  /** Bind this store to one (config, input) identity so a resume cannot
    * silently mix committed stages from a different run (changed config
    * or changed input reusing a stale store). First call records the
    * fingerprint; later calls must present the same one or fail. */
  def ensureBinding(fingerprint: String): Unit = {
    val p = Paths.get(root, "_binding")
    if (Files.exists(p)) {
      val prev = Files.readString(p).trim
      require(prev == fingerprint,
        s"stage store at $root is bound to a different run:\n  committed: $prev\n  current:   $fingerprint\nUse a fresh store root (or delete this one) to rerun with changed config/input.")
    } else {
      Files.createDirectories(Paths.get(root))
      Files.writeString(p, fingerprint)
    }
  }

  /** Build-or-reload: if the stage committed in a previous run, reload it
    * (the resume path — `build` is never evaluated); otherwise evaluate,
    * commit atomically, record lineage. Always returns the on-store data,
    * so downstream stages read identical bytes on first run and resume. */
  def runStaged(stage: String)(build: => DataFrame): DataFrame = {
    val dir = dirOf(stage)
    if (!isCommitted(stage)) {
      build.write.mode("overwrite").parquet(dir)
      writeLineage(stage, dir)
    }
    spark.read.parquet(dir)
  }

  /** One lineage row per parquet partition of the committed stage. */
  private def writeLineage(stage: String, dir: String): Unit = {
    val df = spark.read.parquet(dir)
    val rowHash = F.xxhash64(df.columns.map(F.col): _*)
    df.select(F.spark_partition_id().as("partition_id"), rowHash.as("h"))
      .groupBy("partition_id")
      .agg(F.count(F.lit(1)).as("row_count"),
        F.coalesce(F.expr("bit_xor(h)"), F.lit(0L)).as("checksum"))
      .withColumn("stage", F.lit(stage))
      .select("stage", "partition_id", "row_count", "checksum")
      .write.mode("append").parquet(s"$root/lineage")
  }

  def lineage(): DataFrame = spark.read.parquet(s"$root/lineage")

  /** Append one run's metrics (the report_db analog, as a table) with a
    * last column `run`: 1 + the number of runs already in `metrics`, so
    * the runs of a resumed store stay apart. */
  def writeMetrics(metrics: DataFrame): Unit = {
    val priorRuns =
      if (!Files.exists(Paths.get(root, "metrics"))) 0L
      else this.metrics().select("run").distinct().count()
    metrics.withColumn("run", F.lit(priorRuns + 1))
      .write.mode("append").parquet(s"$root/metrics")
  }

  /** Every run's metrics: (metric, value, run). */
  def metrics(): DataFrame = spark.read.parquet(s"$root/metrics")
}
