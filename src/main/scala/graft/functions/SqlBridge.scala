package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` Column ↔ Expression converters so graft's
  * native Catalyst expressions can be exposed as ordinary `Column`s without
  * registering session functions. Lives in the org.apache.spark.sql package
  * solely for access; contains no Spark-internal logic.
  */
object GraftSqlBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** DataFrame from a (resolved) logical plan — custom-operator entry. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Drop a cache entry by its logical plan — the release path for a
    * pinned artifact whose Dataset handle was GC'd (graft.operators
    * .Artifacts). cascade = false: dependents were pinned and are
    * released by the same sweep; non-blocking, idempotent (no-op when
    * the plan isn't cached).
    */
  def uncacheByPlan(spark: SparkSession, plan: LogicalPlan): Unit =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .uncacheQuery(spark.asInstanceOf[classic.SparkSession], plan,
        cascade = false, blocking = false)

  /** Block until the async listener bus has delivered every queued event
    * (`listenerBus` is private[spark]; metric listeners need a drain
    * point before their accumulations are read — a completed job's task
    * events may still be in flight on the dispatch thread).
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** Every listener on the context's bus and on the session's listener
    * manager (both lists are package-private): what a spec compares to
    * see that a measurement left no listener behind.
    */
  def listeners(spark: SparkSession): Seq[AnyRef] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.listenerBus.listeners.asScala.toSeq ++
      spark.listenerManager.listListeners().toSeq
  }
}
