package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedAggregator}

/** Column <-> Expression bridge. Spark 4 made the converters
  * `private[sql]` (Column wraps a ColumnNode now), so third-party
  * Catalyst expressions need this one-hop shim inside the sql package
  * namespace — the standard extension-library pattern. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A typed Aggregator named `name` applied to argument expressions —
    * the expression `spark.udf.register(name, udaf(agg))` builds per
    * call, usable as a function-registry builder (an [[expression]] of a
    * Column call is an unresolved wrapper only the Dataset API resolves). */
  def aggregate[IN, BUF, OUT](name: String, agg: Aggregator[IN, BUF, OUT], in: Encoder[IN],
                              children: Seq[Expression]): Expression =
    ScalaAggregator(UserDefinedAggregator(agg, in, givenName = Some(name)), children)
}
