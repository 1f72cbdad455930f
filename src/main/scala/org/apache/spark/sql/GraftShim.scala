package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into private[sql] APIs needed to expose graft's custom logical
  * plans as DataFrames — the standard shim pattern for Spark extension
  * libraries (Dataset.ofRows is private[sql]). */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Wrap a raw Catalyst expression as a Column (private[sql] in 4.x).
    * Needed for expressions carrying non-serializable-by-name state (a
    * driver-built sketch object): a registry-name indirection would share
    * one mutable slot across sketches, so each Column must capture its own
    * expression instance directly. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Inverse bridge: the Catalyst expression behind a Column. */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Fork an isolated twin of a live session: shared SparkContext,
    * CacheManager and function/catalog state at fork time, but an
    * INDEPENDENT SQLConf — the concurrency-safe way to scope an
    * execution-time conf (e.g. the ObjectHashAggregate sort-fallback
    * threshold) to one operator's queries without a set/restore window
    * on the shared session (private[sql] in 4.x). */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** Register a TABLE function (SELECT * FROM f(args)) on a live
    * session — the runtime twin of
    * `SparkSessionExtensions.injectTableFunction` (the registry is
    * reachable only through private[sql] sessionState). Re-registering
    * a name replaces its builder. */
  def registerTableFunction(spark: SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] => LogicalPlan): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.tableFunctionRegistry
      .registerFunction(name, info, builder)

  /** Block until every event posted to the listener bus has been
    * delivered (`listenerBus` is private[spark]). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Idempotently install a planner strategy on a live session. */
  def addStrategy(spark: SparkSession, s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s)) exp.extraStrategies ++= Seq(s)
  }
}
