package graft.batch

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import graft.core.{Agg, Enrich, Par, QuotaCheck}

/** The reference's batch-layer composition (survey §3.2/§3.4): read one
  * archive slice, enrich with the user dimension, write four hourly
  * aggregates to sinks. The trait-with-template-method shape is kept —
  * operators are individually overridable/testable, `run` composes them —
  * but sources and sinks are injected functions instead of hardwired
  * Kafka/Postgres endpoints.
  *
  * The reference caches the enriched slice and runs four aggregate jobs
  * over it (`BatchJob.scala:28-47`). Here one grouping-sets aggregate
  * ([[Agg.windowedSumSets]]) computes all four groupings with a single
  * scan, join and shuffle, and only its result — sized by group
  * cardinality, not input rows — is persisted for the four sinks. Why:
  * filling a cache of the enriched rows is the largest single cost of the
  * reference's shape, and each of its sinks then rescans that cache and
  * shuffles again; here each sink is one small job over the persisted
  * result. Every output is bit-identical to the standalone
  * [[Agg.windowedSum]] / [[QuotaCheck.quotaViolations]] call over the
  * same enriched frame (for an integral value column, while each
  * |sum| < 2^53; see [[Agg.windowedSumSets]]).
  *
  * The four sinks run CONCURRENTLY on a pool of their own
  * ([[Par.concurrently]]), with no action before them: the first to
  * reach the persisted result builds it while each of the others waits
  * on it in one cheap cache-stage job, so each sink's planning, task
  * launch and commit overlaps the aggregate job and the other sinks'.
  * Each sink must therefore write its own output and read nothing
  * another sink writes. If a sink throws, the others still run to
  * completion, the cache is released, and the first failure in the order
  * antenna, email, app, quota is rethrown.
  */
trait BatchPipeline {

  /** One archive slice (the reference's partition-pruned parquet scan). */
  def readSlice(): DataFrame

  /** The user-metadata dimension (JDBC in production, parquet in tests). */
  def readDimension(): DataFrame

  def factKey: String
  def dimKey: String
  /** (dimCol, quotaCol, tsCol, valueCol) used by the aggregates. */
  def antennaCol: Column
  def appCol: Column
  def emailCol: Column
  def quotaCol: Column
  def tsCol: Column
  def valueCol: Column
  def windowDur: String = "1 hour"

  /** Sink for the unified (timestamp, id, value, type) aggregates. */
  def writeAggregate(df: DataFrame, tag: String): Unit
  /** Sink for the (email, usage, quota, timestamp) violation report. */
  def writeQuotaReport(df: DataFrame): Unit

  /** Template method: the reference's four outputs (BatchJob.scala:28-47)
    * from one grouping-sets pass over the enriched slice, written by the
    * four sinks concurrently ([[Par.concurrently]]). */
  def run(): Unit = {
    val enriched = Enrich.enrich(readSlice(), readDimension(), factKey, dimKey)
    val sums = Agg.windowedSumSets(enriched,
      Seq("antenna" -> antennaCol, "email" -> emailCol, "app" -> appCol,
        "quota" -> quotaCol),
      Seq(Seq("antenna"), Seq("email"), Seq("app"), Seq("email", "quota")),
      tsCol, windowDur, valueCol).persist()
    def set(i: Int): DataFrame = sums.where(col("set") === i)
    val aggregates = Seq("antenna" -> "antenna_bytes_total",
      "email" -> "email_bytes_total", "app" -> "app_bytes_total").zipWithIndex
      .map { case ((key, tag), i) => () =>
        writeAggregate(Agg.toUnified(set(i).withColumnRenamed(key, "id"), tag), tag)
      }
    try Par.concurrently(aggregates :+ (() =>
      writeQuotaReport(QuotaCheck.report(set(3).withColumnRenamed("value", "usage")))): _*)
    finally sums.unpersist()
  }
}
