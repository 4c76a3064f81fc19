package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to the private[sql] Column↔Expression converters, so the
  * engine's native functions (Spark `StaticInvoke` calls built by
  * graft.functions.Native) can be used as Columns with ANY SparkSession —
  * no session-level registration required. This is the only place the
  * engine reaches past the public API, and it delegates straight to
  * Spark's own converters. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a temp function on an EXISTING session (the builder-time
    * SparkSessionExtensions path in graft.functions.GraftExtensions is the
    * production route; this one serves sessions the engine didn't build). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")
}
