package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4 split
  * Column from catalyst Expression; `ExpressionUtils` is the sanctioned
  * classic-backend converter but is sql-private). Lives under
  * `org.apache.spark.sql` solely to cross that boundary — keep this file
  * to these two forwarders and the one plan probe below. */
object GraftSqlShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** True iff `df`'s plan reads a lazy localCheckpoint whose backing RDD
    * has not materialized yet. Concurrent FIRST-touch of such a
    * checkpoint races on its SQL-metric accumulators ("attempted to access
    * non-existent accumulator"), so callers that fan actions out across
    * threads force any frame this returns true for. Frames over
    * materialized checkpoints or plain scans (a parquet stage) plan
    * afresh per action and share no such state. `LogicalRDD` is
    * `private[sql]`, hence this lives in the shim. */
  def hasPendingCheckpoint(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case r: org.apache.spark.sql.execution.LogicalRDD => !r.rdd.isCheckpointed
      case _ => false
    }
}
