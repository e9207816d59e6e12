package org.apache.spark.sql.graftx

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` surface.
  *
  * Spark 4 split `Column` from catalyst `Expression` (Connect refactor);
  * the conversion helpers live in `org.apache.spark.sql.classic
  * .ExpressionUtils`, which is `private[sql]`. Extension libraries that
  * ship native Catalyst expressions conventionally host a small shim in
  * the `org.apache.spark.sql` namespace — this is that shim, kept to
  * three calls so the dependency surface on internals stays auditable.
  */
object Bridge {
  /** Wrap a catalyst Expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Unwrap a Column to its catalyst Expression (classic sessions). */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGERLY convert a Column to its catalyst tree via the classic
    * ColumnNode converter. [[expression]] returns a lazy
    * `ColumnNodeExpression` wrapper (a leaf until the analyzer forces
    * it) — useless for structural matching; this runs the conversion
    * now, yielding the same `UnresolvedAttribute`/`UnresolvedFunction`
    * catalyst nodes the analyzer would see. */
  def expressionEager(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Wrap a custom LogicalPlan as a DataFrame (classic sessions) — the
    * entry point for whole-operator extensions (custom node + strategy +
    * physical exec, SURVEY §7.3 ladder rung (c)). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Type equality ignoring nullability (DataType.sameType is
    * private[sql]) — parquet roundtrips relax struct-field
    * nullability, which must not block a values-identical rewrite. */
  def sameTypeIgnoreNullability(a: org.apache.spark.sql.types.DataType,
                                b: org.apache.spark.sql.types.DataType): Boolean =
    a.sameType(b)

  /** Blocks until every listener has handled every event posted so far
    * (the listener bus is `private[spark]`). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Register a native expression as a temp SQL function. */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")
}
