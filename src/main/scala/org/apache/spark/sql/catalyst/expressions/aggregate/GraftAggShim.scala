package org.apache.spark.sql.catalyst.expressions.aggregate

import org.apache.spark.sql.Column
import org.apache.spark.sql.classic.ExpressionUtils.{column, expression}

/** Spark's bounded [[CollectTopK]] aggregate as a `Column`: the
  * expression and the Column↔Expression bridge are both package-private,
  * the way [[org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim]]
  * reaches Parquet internals. */
object GraftAggShim {
  /** The `k` smallest non-null values of `e` per group, ascending under
    * Spark's ordering of `e`'s type. Each partial buffer is a bounded
    * priority queue of `k`, so only `k` values per group per partition
    * cross the shuffle. */
  def collectBottomK(e: Column, k: Int): Column =
    column(CollectTopK(expression(e), k, reverse = true).toAggregateExpression())
}
