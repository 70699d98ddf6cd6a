package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression bridge for graft's custom expressions.
  * `classic.ExpressionUtils` is `private[sql]`, so the bridge lives in this
  * package — the standard pattern for libraries shipping native Catalyst
  * expressions.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every queued listener-bus event has been delivered
    * (`listenerBus` is `private[spark]`). Needed before registering a
    * QueryExecutionListener that must observe ONLY subsequent executions:
    * the bus is async, so success events from earlier queries can otherwise
    * be delivered into a listener registered after those queries returned.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Build the session's artifact manager now, if it does not exist yet
    * (`artifactManager` is `private[sql]`). The manager reads
    * `spark.sql.artifact.isolation.enabled` once, when it is built — at the
    * session's first query or its first `cloneSession()` — and keeps that
    * choice for the session's life. */
  def settleArtifactIsolation(spark: SparkSession): Unit = {
    spark.sessionState.artifactManager
    ()
  }

  /** Register a function into an ALREADY-RUNNING session's registry
    * (`sessionState` is `private[sql]`). The cluster-submission path uses
    * `spark.sql.extensions` instead (see graft.plans.GraftExtensions);
    * this is the interactive/embedded twin of the same registration.
    */
  def registerFunction(
      spark: SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(name, info, builder)
}
