package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Expression bridge.
  *
  * Spark 4 unified `Column` around ColumnNode and made the
  * expression accessors `private[sql]`; a custom Catalyst
  * `Expression` (graft.functions.DotProductExpr) still needs to be
  * wrapped into a `Column` for the DataFrame API. This one-file
  * shim lives in the `org.apache.spark.sql` namespace solely to
  * re-export those two conversions — the classic-mode equivalent of
  * what `functions.udf`/`expr` do internally.
  */
package object graftbridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `AbstractDataType` (the supertype `ExpectsInputTypes.inputTypes`
    * needs) is `private[sql]` in Spark 4; re-export it so graft
    * expressions can declare coercible input types. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** Build a DataFrame from a hand-transformed logical plan
    * (`Dataset.ofRows` is `private[sql]`) — used by specs to execute
    * a plan after applying one optimizer rule in isolation. */
  def dataFrameOf(spark: SparkSession,
                  plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A session with `spark`'s context, catalog, temp views, functions,
    * execution listeners and conf values but a SQLConf of its own
    * (`cloneSession` is `private[sql]`): a conf set on it reaches no
    * other session. `newSession` would also own its conf, but starts
    * from the context's conf and drops the runtime settings. */
  def isolatedSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
