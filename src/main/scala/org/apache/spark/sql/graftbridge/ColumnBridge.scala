package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Minimal `private[sql]` bridge: Spark 4 backs `Column` by ColumnNode
  * (Connect unification) and hid the Expression<->Column conversions
  * behind `org.apache.spark.sql.classic.ExpressionUtils`. Extensions that
  * ship custom Catalyst `Expression`s (our codegen'd vector kernels) still
  * need the conversion, so this one-file package-in-`org.apache.spark.sql`
  * re-exports it — the standard technique for Spark-4 extension libraries
  * (same accessibility trick GraphFrames/Delta use for classic-only APIs).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** If `c` is a sort-order column (`col.asc` / `col.desc` / the
    * `_nulls_first`/`_nulls_last` variants), its bare child column plus
    * whether it ascends and whether nulls sort first — Spark 4 Columns
    * wrap the INTERNAL `o.a.s.sql.internal.SortOrder` ColumnNode (not the
    * catalyst expression), so callers that need "the key under the
    * ordering" (e.g. distributed-rank bucketing) must unwrap at the node
    * level. A bare column defaults to Spark's `asc` = NULLS FIRST.
    */
  def sortKey(c: Column): (Column, Boolean, Boolean) = c.node match {
    case org.apache.spark.sql.internal.SortOrder(child, dir, nulls, _) =>
      (Column(child),
        dir == org.apache.spark.sql.internal.SortOrder.Ascending,
        nulls == org.apache.spark.sql.internal.SortOrder.NullsFirst)
    case _ => (c, true, true)
  }

  /** Integral (floor toward zero on non-negative operands) division that
    * stays in long arithmetic — `a div b` — for row-count math that must
    * be exact past 2^53 where double division rounds.
    */
  def intDiv(a: Column, b: Column): Column =
    column(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      expression(a), expression(b)))

  /** A DataFrame over rows already in Catalyst's internal form, which
    * `schema` describes — for kernels that work on `InternalRow`s and
    * would otherwise pay an encoder round trip per row.
    */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** How many plans the session's CacheManager holds (`Dataset.persist`
    * and `cache` register there until released).
    */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
