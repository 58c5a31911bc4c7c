package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Sink surface (survey §2.2 K1-K3), parameterized.
  *
  * Scale notes:
  *  - The partitioned parquet archive (K3) derives y/m/d/h from event time
  *    and writes `year=…/month=…/day=…/hour=…` directories — the layout the
  *    batch layer prunes on. At 100 TB this is the canonical
  *    write-once/read-many archive shape; partition count stays bounded
  *    (24·365 dirs/year) while files within a partition scale out.
  *  - JDBC append (K1/K2) is per-partition parallel inserts; the streaming
  *    variant goes through foreachBatch so one micro-batch = one transaction
  *    set, the reference's at-least-once semantics
  *    (`StreamingJobImpl.scala:79-94`).
  */
object Sinks {

  /** Add the reference's derived partition columns
    * (`StreamingJobImpl.scala:98-101`). */
  def withDateParts(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn("year", year(col(tsCol)))
      .withColumn("month", month(col(tsCol)))
      .withColumn("day", dayofmonth(col(tsCol)))
      .withColumn("hour", hour(col(tsCol)))

  /** K1: batch JDBC append (`BatchJobImpl.scala:90-100`). */
  def writeToJdbc(df: DataFrame, url: String, table: String,
                  user: String, password: String): Unit =
    df.write.mode(SaveMode.Append).format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("user", user).option("password", password)
      .save()

  /** Idempotent JDBC REPLACE (drop-and-recreate): the re-runnable variant
    * of [[writeToJdbc]] for recomputed batch-layer outputs — append
    * duplicates on retry, replace is idempotent per run (the same repair
    * semantic as [[overwritePartitions]], at whole-table granularity
    * because JDBC has no partition directories). Parallelism note: the
    * write is per-partition parallel INSERTs like append; `Overwrite`
    * only adds the one-time DROP/CREATE. */
  def replaceJdbc(df: DataFrame, url: String, table: String,
                  user: String, password: String): Unit =
    df.write.mode(SaveMode.Overwrite).format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("user", user).option("password", password)
      .save()

  /** Batch partitioned-parquet writer (same layout as the streaming K3). */
  def writePartitionedParquet(df: DataFrame, tsCol: String, path: String): Unit =
    withDateParts(df, tsCol)
      .write.mode(SaveMode.Append)
      .partitionBy("year", "month", "day", "hour")
      .parquet(path)

  /** Idempotent batch-layer recompute: overwrite ONLY the partitions
    * present in `df`, leaving every other partition untouched (dynamic
    * partition overwrite). This is the lambda-architecture repair semantic
    * — recompute one bad hour from the archive and drop it in place; a
    * plain overwrite would truncate the whole table, append would
    * duplicate. Safe to re-run: the job is idempotent per partition. */
  def overwritePartitions(df: DataFrame, tsCol: String, path: String): Unit =
    withDateParts(df, tsCol)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("year", "month", "day", "hour")
      .parquet(path)

  /** Small-file compaction for a partition directory: streaming archives
    * accumulate one file per micro-batch per partition; thousands of KB
    * files make every later scan pay per-file open/footer costs. Rewrites
    * the directory into ~`targetFileBytes` files (count from actual input
    * size), sorted by `sortCol` within files so min/max row-group stats
    * stay selective for range predicates. Run per closed partition (e.g.
    * the previous hour) — never on the partition being written. The
    * rewrite commits through [[Artifacts.swapInto]], so the next call
    * heals a crash between its renames. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              sortCol: String, targetFileBytes: Long = 128L << 20): Unit =
    // read and size inside the write: after the heal, never off an aside
    Artifacts.swapInto(spark, dir.stripSuffix("/")) { tmp =>
      val df = spark.read.parquet(dir)
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val files = math.max(1, (bytes / BigInt(targetFileBytes)).toInt +
        (if (bytes % BigInt(targetFileBytes) > 0) 1 else 0))
      df.repartitionByRange(files, col(sortCol))
        .sortWithinPartitions(sortCol)
        .write.parquet(tmp)
    }

  /** TTL RETENTION sweep over a K3 y/m/d/h-partitioned archive — the
    * maintenance job every production archive schedules next to
    * [[compact]]: hour partitions strictly OLDER than the cutoff hour
    * delete as whole directories, pure metadata work — O(partitions)
    * filesystem operations, not one data row read or rewritten (the
    * reason time-partitioned layouts exist; a DELETE WHERE over an
    * unpartitioned store rewrites everything it keeps). Whole-hour
    * boundary semantics: rows with date_trunc('hour', ts) ≥ cutoff
    * survive exactly, because the partition VALUE is the row's hour.
    * Emptied day/month/year parents prune so later readers never list
    * dead directories. Returns the number of hour partitions removed;
    * idempotent (a re-run removes nothing).
    *
    * REFUSES an archive carrying a `_spark_metadata` log ([[archiveStream]]'s
    * FileStreamSink output): batch readers of such a store resolve files
    * through the metadata log, NOT directory listing, so deleting
    * directories underneath it leaves every subsequent read throwing
    * FileNotFoundException on the logged-but-gone files — silent
    * corruption deferred to read time. Streaming archives expire by
    * rewriting through [[compact]]-style jobs that also rewrite the log
    * (or by `spark.sql.streaming.fileSink.log.cleanupDelay`-governed log
    * compaction); this sweep is for batch-written partitioned stores
    * ([[writePartitionedParquet]] / [[overwritePartitions]]). */
  def expirePartitions(spark: org.apache.spark.sql.SparkSession, dir: String,
                       cutoff: java.time.LocalDateTime): Long = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(base)) return 0L
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_spark_metadata")))
      throw new java.io.IOException(
        s"expirePartitions: $dir carries a _spark_metadata streaming-sink " +
          "log; deleting partitions underneath it corrupts every " +
          "metadata-log read. Expire streaming archives through a " +
          "log-rewriting compaction instead.")
    def kids(p: org.apache.hadoop.fs.Path, pre: String) =
      fs.listStatus(p).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(pre)).map(_.getPath)
    def pv(p: org.apache.hadoop.fs.Path) =
      p.getName.substring(p.getName.indexOf('=') + 1).toInt
    var removed = 0L
    for (y <- kids(base, "year=")) {
      for (m <- kids(y, "month=")) {
        for (d <- kids(m, "day=")) {
          for (h <- kids(d, "hour=")) {
            val t = java.time.LocalDateTime.of(pv(y), pv(m), pv(d), pv(h), 0)
            if (t.isBefore(cutoff)) {
              if (!fs.delete(h, true)) throw new java.io.IOException(
                s"expirePartitions: could not delete $h")
              removed += 1
            }
          }
          if (fs.listStatus(d).isEmpty) fs.delete(d, true)
        }
        if (fs.listStatus(m).isEmpty) fs.delete(m, true)
      }
      if (fs.listStatus(y).isEmpty) fs.delete(y, true)
    }
    removed
  }

  /** K3: streaming partitioned-parquet archive with checkpoint
    * (`StreamingJobImpl.scala:96-109`). Caller starts the query. */
  def archiveStream(df: DataFrame, tsCol: String, path: String,
                    checkpoint: String): DataStreamWriter[Row] =
    withDateParts(df, tsCol)
      .writeStream
      .partitionBy("year", "month", "day", "hour")
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)

  /** K2: micro-batch sink through an arbitrary batch writer (the reference
    * reuses its JDBC appender here). Unlike the reference we always take a
    * checkpoint dir — without one, restart re-writes whole batches. */
  def foreachBatchSink(df: DataFrame, checkpoint: String)
                      (write: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) => write(batch, id) }

  /** K2 with the JDBC appender plugged in — the reference's exact shape. */
  def jdbcStream(df: DataFrame, checkpoint: String, url: String, table: String,
                 user: String, password: String): DataStreamWriter[Row] =
    foreachBatchSink(df, checkpoint)((b, _) => writeToJdbc(b, url, table, user, password))
}
