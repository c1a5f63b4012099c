package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column ↔ Expression converters —
  * Spark 4 moved Column onto ColumnNode (sql-api) and gated the
  * classic-expression constructors. Extension libraries shipping
  * custom Catalyst `Expression`s need exactly these two calls; this is
  * the conventional package-placement shim.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a raw logical plan (custom operators). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Drop the storage blocks of a `localCheckpoint`ed DataFrame whose
    * analyzed plan is the bare `LogicalRDD` (a no-op on anything else).
    * `Dataset.unpersist` only consults the CacheManager, so it never
    * frees a checkpoint. Kept for callers outside this library; the
    * library itself pins and releases through [[graft.Pin]].
    */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** `rdd.unpersist(blocking = false)` minus the WARN it logs for every
    * local checkpoint (lineage truncated, cannot be recomputed): that is
    * what releasing a pin means, so the WARN fired on every release and
    * buried real ones. `SparkContext.unpersistRDD` is `private[spark]`.
    */
  def unpersistQuietly(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** `SparkSession.cloneSession()` is `private[sql]` in Spark 4 —
    * clone shares the SparkContext and inherits the current conf, the
    * right isolation for per-scenario conf overrides (mutating the
    * shared session's conf would leak into later queries).
    */
  def cloneSession(spark: org.apache.spark.sql.SparkSession):
      org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Register a function builder on a live session (the runtime
    * counterpart of SparkSessionExtensions.injectFunction, which only
    * applies at session build).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
