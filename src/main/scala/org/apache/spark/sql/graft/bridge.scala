package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 made Column wrap a ColumnNode (for
  * Connect parity) and gated the Expression conversions behind
  * `private[sql]`; this shim re-exports just those two conversions for
  * graft's custom codegen expressions. No other internals are touched.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function backed by a raw Expression builder on a
    * live session (FunctionRegistry is `private[sql]`). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")

  /** Release the materialized blocks behind an eager `localCheckpoint`ed
    * frame the caller no longer needs. Spark frees such blocks only when
    * the driver GCs the RDD reference and the ContextCleaner notices —
    * in a long-lived session (or an iterative loop checkpointing per
    * round) that lag accumulates block-manager pressure that degrades
    * unrelated queries. Iterative operators call this on the superseded
    * round as soon as the next round is materialized. No-op on frames
    * that are not checkpoint-backed. */
  def freeCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Inject the same function through SparkSessionExtensions (the
    * `spark.sql.extensions` path). */
  def injectFunction(ext: org.apache.spark.sql.SparkSessionExtensions, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    ext.injectFunction((FunctionIdentifier(name),
      new ExpressionInfo("graft", name), builder))
  }
}
