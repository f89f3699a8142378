package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SparkStrategy

/** Thin visibility bridge: Spark 4 made the Expression<->Column conversions
  * and Dataset-from-LogicalPlan construction `private[sql]`, so extension
  * libraries host these calls inside the `org.apache.spark.sql` namespace
  * (the standard technique used by Spark connector/extension projects). No
  * Spark internals are re-implemented here.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over a (possibly custom) logical plan; runs analysis. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** Idempotently attach a planner strategy to an existing session (for
    * sessions not built with [[graft.plans.GraftExtensions]]). Synchronized
    * on the session's ExperimentalMethods: the check-then-append is not
    * atomic, and a lost concurrent append would fail later planning with
    * "No plan for" the custom node.
    *
    * The presence check consults the planner's FULL strategy list, which
    * includes extension-injected strategies — a session built with
    * GraftExtensions must not accrete a duplicate registration per call
    * (harmless for results, redundant planner work).
    */
  def ensureStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[ClassicSession]
    val exp = cs.experimental
    exp.synchronized {
      val present = exp.extraStrategies.contains(s) ||
        cs.sessionState.planner.strategies.contains(s)
      if (!present) exp.extraStrategies = exp.extraStrategies :+ s
    }
  }

  /** The session's column-name resolver (case-insensitive under the default
    * `spark.sql.caseSensitive=false`) — for extension operators to match
    * Spark's own name-resolution semantics.
    */
  def resolver(spark: SparkSession): (String, String) => Boolean =
    spark.asInstanceOf[ClassicSession].sessionState.conf.resolver

  /** Canonicalize -0.0 → 0.0 and all NaN bit patterns → the canonical NaN
    * (recursively through arrays/structs/maps) — the same normalization
    * Spark's optimizer applies before its own hash-based grouping/joins
    * (`NormalizeFloatingNumbers`), exposed for custom operators that group
    * by UnsafeRow byte equality and must match ordering equality.
    */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Spark's DIVIDE_BY_ZERO error, as ANSI-mode `Divide` raises it. */
  def divideByZeroError(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)

  /** Spark's out-of-bounds error, as ANSI-mode `element_at` raises it. */
  def invalidElementAtIndexError(index: Int, n: Int): RuntimeException =
    org.apache.spark.sql.errors.QueryExecutionErrors
      .invalidElementAtIndexError(index, n, null)

  /** A DataFrame over an already-Catalyst-typed row RDD (no external-Row
    * round trip) — the internal sibling of `createDataFrame(rdd, schema)`,
    * for pinning iterative-loop state without per-row conversion.
    */
  def ofInternalRows(spark: SparkSession,
                     rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                     schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[ClassicSession].internalCreateDataFrame(rdd, schema)
}
