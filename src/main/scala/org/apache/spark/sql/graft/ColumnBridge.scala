package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the classic `Column` ⇄ Catalyst `Expression` converters,
  * which became `private[sql]` with Spark 4's Connect/classic API
  * split. Lives under `org.apache.spark.sql` for access — the standard
  * pattern for Spark-native extension libraries shipping custom
  * Catalyst expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame — the constructor custom
    * logical operators (e.g. [[graft.plans.GroupedTopK]]) need;
    * `Dataset.ofRows` is `private[sql]`, hence this bridge.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** True if `df`'s logical plan is already in the session cache —
    * lets iterative loops reuse a sibling query's materialization
    * instead of re-persisting the same plan ("Asked to cache already
    * cached data" warnings). `CacheManager.lookupCachedData` is
    * `private[sql]`, hence this bridge.
    */
  def isCached(df: org.apache.spark.sql.DataFrame): Boolean = {
    val cd = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    cd.sparkSession.sharedState.cacheManager.lookupCachedData(cd).isDefined
  }

  /** Release the pinned RDD behind a `localCheckpoint`ed Dataset.
    * `Dataset.checkpoint` stores the materialized rows in an internal
    * RDD referenced only by the returned plan's `LogicalRDD` node;
    * nothing public unpersists it, so an iterative loop that
    * checkpoints every round would otherwise leave every superseded
    * checkpoint pinned until GC/ContextCleaner. No-op on
    * non-checkpoint plans.
    */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit = {
    val cd = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    cd.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
      case _ => ()
    }
  }

  /** Re-wrap a batch DataFrame's physical rows as a STREAMING frame —
    * what a DSv1 streaming `Source.getBatch` must return (the
    * FileStreamSource recipe: the engine rejects a non-streaming
    * child under a streaming sink). `internalCreateDataFrame` is
    * `private[sql]`, hence this bridge.
    */
  def asStreamingFrame(spark: org.apache.spark.sql.SparkSession,
      batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.internalCreateDataFrame(
      batch.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.toRdd,
      batch.schema, isStreaming = true)
  }

  /** Wrap an RDD of Catalyst rows as a batch DataFrame (a `LogicalRDD`
    * leaf) without converting each row from a `Row` — for kernels that
    * compute on arrays and hand their result to DataFrame sinks. The
    * rows must match `schema` and be safe to buffer.
    * `internalCreateDataFrame` is `private[sql]`, hence this bridge.
    */
  def fromInternalRows(spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Block until every queued listener event is delivered — lets a
    * measurement harness read task-metric tallies after an action
    * (events post async). `listenerBus` is `private[spark]`, hence
    * this bridge.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Synchronously close every loaded state-store provider on this
    * JVM's executors. `StreamingQuery.stop()` does NOT unload the
    * query's state stores — RocksDB instances stay open until the
    * lazy maintenance pass or JVM shutdown, and closing a RocksDB
    * whose checkpoint/working directory was already deleted sprays
    * `MANIFEST verification on Close` ERRORs over teardown (the spew
    * that displaced the bench JSON from two rounds of driver
    * artifacts). Callers unload BEFORE deleting a stopped query's
    * directories; providers reload on demand, so this is always safe.
    */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
}
