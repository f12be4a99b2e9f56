package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark's `private[sql]` Column ↔ Expression conversions
  * (`org.apache.spark.sql.classic.ExpressionUtils`), needed to expose
  * custom Catalyst expressions as user-facing `Column`s in Spark 4's
  * split Column/ColumnNode API. Public Spark API shape; no external
  * dependencies. */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Drain the async listener bus so a caller that just ran jobs can
    * observe every posted event (job-count assertions in specs).
    * `SparkContext.listenerBus` is private[spark], hence this shim. */
  def flushListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The session's effective auto-broadcast threshold in bytes (-1 =
    * broadcasting disabled). `sessionState` is private[sql]; size-
    * derived join-strategy decisions (d16's vocab table) read the SAME
    * knob Catalyst uses instead of inventing a parallel one. */
  def autoBroadcastBytes(spark: SparkSession): Long = spark match {
    case s: classic.SparkSession => s.sessionState.conf.autoBroadcastJoinThreshold
    case _ => 10L * 1024 * 1024
  }

  /** The session's `spark.sql.maxBroadcastTableSize` in bytes: a
    * broadcast build side whose hashed relation reaches it fails in
    * `BroadcastExchangeExec` (a hint does not lift the limit). */
  def maxBroadcastTableBytes(spark: SparkSession): Long = spark match {
    case s: classic.SparkSession => s.sessionState.conf.maxBroadcastTableSizeInBytes
    case _ => 8L << 30
  }

  /** Planned partition count of `df`'s physical plan WITHOUT the
    * `df.rdd` conversion (which appends a to-Row deserialization
    * projection and builds a second RDD lineage just to read a
    * number). `toRdd` is the already-planned internal-row RDD — no
    * job runs, no extra plan is built. */
  def planPartitions(df: Dataset[_]): Int = df match {
    case c: classic.Dataset[_] => c.queryExecution.toRdd.getNumPartitions
    case _ => df.rdd.getNumPartitions
  }

  /** Free the block-manager copies held by a `localCheckpoint(true)`
    * result. `Dataset.localCheckpoint` materializes the plan into a
    * persisted RDD wrapped in a `LogicalRDD`; `unpersist` on the
    * Dataset cannot reach it (the CacheManager never saw it), so
    * iterative algorithms that checkpoint per round would otherwise
    * accumulate one full copy of their state per iteration. No-op for
    * plans that are not checkpoint-backed. */
  def releaseLocalCheckpoint(df: Dataset[_]): Unit = df match {
    case c: classic.Dataset[_] =>
      c.queryExecution.analyzed.foreach {
        case l: execution.LogicalRDD => l.rdd.unpersist(blocking = false)
        case _ => ()
      }
    case _ => ()
  }
}
