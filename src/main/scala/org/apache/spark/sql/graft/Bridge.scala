package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for custom Catalyst expressions.
  *
  * Spark 4's classic converters (`ExpressionUtils.column/expression`) are
  * `private[sql]`; third-party Catalyst extensions conventionally reach
  * them from a shim object inside the `org.apache.spark.sql` namespace.
  * This is the only file outside the `graft` package, and it contains no
  * logic — just visibility plumbing.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a native function into an EXISTING session's registry (the
    * `spark.sql.extensions` path in graft.plans.GraftExtensions only
    * applies at session construction; notebooks/tests hold a live session).
    * `sessionState` is `private[sql]` — same visibility plumbing as above. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
                       id: org.apache.spark.sql.catalyst.FunctionIdentifier,
                       info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)

  /** Release the block-manager storage behind a `localCheckpoint()`ed
    * frame (or any frame derived from one): a local checkpoint persists
    * the materialized RDD directly — NOT through the cache manager — so
    * `Dataset.unpersist()` is a no-op on it, and an iterative fixpoint
    * that checkpoints per round ([[graft.ext.Dedup.clusterRoots]]) would
    * otherwise leak one |nodes|-sized copy per iteration. Walks the
    * analyzed plan for `LogicalRDD` leaves (the truncated-lineage root a
    * checkpoint leaves behind; `private[sql]`, hence bridged) and
    * unpersists their RDDs. Safe on the superseded round: the NEXT
    * round's checkpoint blocks are self-contained once eagerly
    * materialized. */
  def freeLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Unload every state-store provider this executor JVM holds (and stop
    * their maintenance pool; both restart lazily on the next stateful
    * query). A TERMINATED streaming query's providers are NOT dropped by
    * Spark — they stay in the JVM-wide `StateStore.loadedProviders` with
    * their recent state versions in memory, on the assumption the query
    * will resume. A harness that runs many short-lived checkpoints (the
    * graded replay suite: 6 streaming queries × 3 bench runs, each with a
    * fresh checkpoint) accumulates every run's state maps in heap —
    * dead weight no future query can ever claim (the checkpoints are
    * one-shot scratch dirs). Spark's own state-store tests clean up with
    * exactly this call; `private[sql]`, hence bridged here. */
  def unloadAllStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** Block until the listener bus has delivered every event posted so
    * far, so a listener's counts are complete when this returns (a job's
    * task, stage and job events are posted before its action returns).
    * `listenerBus` is `private[spark]`, hence bridged. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
