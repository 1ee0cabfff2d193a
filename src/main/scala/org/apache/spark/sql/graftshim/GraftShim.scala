package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to `private[sql]` Column↔Expression converters, so the
  * engine's native Catalyst expressions (graft.plans) can be used from
  * the public DataFrame API. This is the same access pattern Spark
  * connector/extension libraries use; nothing here depends on
  * implementation details beyond the two stable converters.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a hand-built LogicalPlan (runs the full analyzer) —
    * the construction path for graft's custom logical operators. */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a function builder on a LIVE session's registry (the
    * SparkSessionExtensions path only applies at session construction). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .registerFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** The state-store providers a finished streaming query loaded in
    * this JVM: one per stateful operator × partition × store name of
    * its last micro-batch's plan, keyed by the query's run id. Empty
    * for a query that never planned a batch. */
  def stateProviders(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Seq[org.apache.spark.sql.execution.streaming.state.StateStoreProviderId] = {
    import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
    import org.apache.spark.sql.execution.streaming.state.StateStoreProviderId
    val exec = q.asInstanceOf[
      org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution
    if (exec == null) Nil
    else exec.executedPlan.collect { case w: StateStoreWriter => w }.flatMap { w =>
      val info = w.getStateInfo
      for (p <- 0 until info.numPartitions; name <- w.stateStoreNames)
        yield StateStoreProviderId(info, p, name)
    }
  }

  /** Unload and close a finished query's state-store providers
    * ([[stateProviders]]). Closing stops each HDFS provider's checksum
    * file-manager pool (4 threads) and drops its cached state maps;
    * left loaded, they live until Spark's 60 s maintenance pass. Only
    * this query's ids are touched, so a concurrently running query
    * keeps its stores. */
  def closeStateStores(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    stateProviders(q).foreach(
      org.apache.spark.sql.execution.streaming.state.StateStore
        .removeFromLoadedProvidersAndClose(_))

  /** Whether a state-store provider is loaded in this JVM. */
  def isLoaded(
      id: org.apache.spark.sql.execution.streaming.state.StateStoreProviderId)
      : Boolean =
    org.apache.spark.sql.execution.streaming.state.StateStore.isLoaded(id)
}
