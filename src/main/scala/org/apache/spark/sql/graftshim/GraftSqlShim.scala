package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4 split
  * Column from catalyst Expression; `ExpressionUtils` is the sanctioned
  * classic-backend converter but is sql-private). Lives under
  * `org.apache.spark.sql` solely to cross that boundary — keep this file
  * to these two forwarders. */
object GraftSqlShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
