package graft.batch

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import graft.core.{Agg, Enrich, QuotaCheck}

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
  * result. The sums stay exact-decimal, so every output is bit-identical
  * to the standalone [[Agg.windowedSum]] / [[QuotaCheck.quotaViolations]]
  * call over the same enriched frame.
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
    * from one grouping-sets pass over the enriched slice. */
  def run(): Unit = {
    val enriched = Enrich.enrich(readSlice(), readDimension(), factKey, dimKey)
    val sums = Agg.windowedSumSets(enriched,
      Seq("antenna" -> antennaCol, "email" -> emailCol, "app" -> appCol,
        "quota" -> quotaCol),
      Seq(Seq("antenna"), Seq("email"), Seq("app"), Seq("email", "quota")),
      tsCol, windowDur, valueCol).persist()
    def set(i: Int): DataFrame = sums.where(col("set") === i)
    try {
      Seq("antenna" -> "antenna_bytes_total", "email" -> "email_bytes_total",
        "app" -> "app_bytes_total").zipWithIndex.foreach { case ((key, tag), i) =>
        writeAggregate(Agg.toUnified(set(i).withColumnRenamed(key, "id"), tag), tag)
      }
      writeQuotaReport(QuotaCheck.report(set(3).withColumnRenamed("value", "usage")))
    } finally sums.unpersist()
  }
}
