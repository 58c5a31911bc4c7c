package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Artifacts

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
  *
  * THE TIER TOMBSTONE STORE. The tombstoned stored tiers — postings
  * ([[Retrieval]]), the eval suite ([[Dedup]]' contamination index), IVF,
  * PQ and the kNN graph ([[Similarity]]) — keep their tombstones INSIDE
  * the artifact root, at `<dir>/tombstones` (one `doc_id` column, whatever
  * the tier calls its id), and this object is the only code that knows
  * it. The rules every such tier follows:
  *  - forget ([[forgetFrom]]) heals the root and appends the ids — no
  *    probe of the store, so forgetting an id that is not (yet) stored
  *    is legal and hides it until the next compact;
  *  - readers answer from the living view ([[living]], head or `asOf`):
  *    CURRENT tombstones apply to pinned reads too (right-to-be-forgotten
  *    outranks reproducibility), and stale tombstones over removed rows
  *    are a no-op;
  *  - appends anti-join the FULL stored ids, not the living view, so
  *    re-adding a forgotten id needs a compact first (a landed re-add
  *    would sit invisible under the stale tombstone);
  *  - compact ([[compactStore]]) folds the living view into a new base
  *    in ONE whole-root swap ([[graft.core.Artifacts.foldSegments]]); the
  *    new root has no tombstone store, so the fold and the clear publish
  *    together. A fully-forgotten store refuses loudly — an empty store
  *    has no compacted form; drop the directory instead;
  *  - rebuild ([[rebuild]]) stages the whole new root and swaps it in
  *    with the tombstone store carried forward: no reader ever sees a
  *    half-built root, and a rebuild over a corpus that still holds a
  *    forgotten id keeps it forgotten.
  * The kNN graph versions whole snapshots instead of segments; it reads
  * the set through [[tombstones]] and commits its compact through
  * [[clearInto]]. */
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
  def applyTombstones(data: DataFrame, idCol: String, tombDir: String): DataFrame =
    idSet(data.sparkSession, tombDir, idCol)
      .fold(data)(data.join(_, Seq(idCol), "left_anti"))

  /** The distinct ids of the tombstone store at `tombDir` as one column
    * `idCol`; None when the store does not exist. */
  private def idSet(spark: SparkSession, tombDir: String,
                    idCol: String): Option[DataFrame] =
    if (!exists(spark, tombDir)) None
    else Some(spark.read.parquet(tombDir).select(col("doc_id").as(idCol))
      .distinct())

  /** Physical compaction: rewrite the store minus tombstones, swap it in
    * ([[graft.core.Artifacts.swapInto]] — no window holds the only copy,
    * and a crashed swap heals on the next compact), then clear the
    * tombstone store. Readers through [[applyTombstones]] see the
    * identical living view before and after (CompactSpec pins it). */
  def compact(spark: SparkSession, dataDir: String, idCol: String,
              tombDir: String): Unit = {
    if (!exists(spark, tombDir)) return
    Artifacts.swapInto(spark, dataDir) { tmp =>
      applyTombstones(spark.read.parquet(dataDir), idCol, tombDir)
        .write.parquet(tmp)
    }
    val tomb = new org.apache.hadoop.fs.Path(tombDir)
    tomb.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(tomb, true)
  }

  private def tombDir(dir: String): String = s"$dir/tombstones"

  /** Forget `ids` from the stored tier at `dir`: heal the root (a forget
    * into a root a crashed swap left aside would plant a fresh root the
    * next heal keeps, dropping the aside), then append. */
  def forgetFrom(ids: DataFrame, idCol: String, dir: String): Unit = {
    Artifacts.heal(ids.sparkSession, dir)
    forget(ids, idCol, tombDir(dir))
  }

  /** The tier's distinct tombstoned ids as one column `idCol`, or None
    * when nothing was forgotten since the last compact. */
  def tombstones(spark: SparkSession, dir: String,
                 idCol: String): Option[DataFrame] =
    idSet(spark, tombDir(dir), idCol)

  /** The living view of the segmented tier at `dir`: its `base` plus the
    * committed segments ([[graft.core.Artifacts.readSegmented]], head or
    * `asOf`) minus the current tombstones on `idCol`. */
  def living(spark: SparkSession, dir: String, base: String, idCol: String,
             asOf: Option[Long] = None): DataFrame =
    applyTombstones(Artifacts.readSegmented(spark, dir, base, asOf), idCol,
      tombDir(dir))

  /** Compact the segmented tier at `dir`: heal the root; with neither
    * tombstones nor segments there is nothing to fold; a living view
    * with no row refuses (`verb` names the caller in the message);
    * otherwise one [[graft.core.Artifacts.foldSegments]] whose `write`
    * stages the tier's relations from the living frame into the new root
    * (and copies its frozen state). The new root carries no tombstones.
    * The living frame is persisted across the probe and the writes: the
    * tombstone anti-join then plans and runs once, not once per consumer
    * (measured at local[4] on 400-row stores: one or two fewer jobs per
    * compact than an unpersisted view, and no slower). */
  def compactStore(spark: SparkSession, dir: String, base: String,
                   idCol: String, verb: String)
                  (write: (DataFrame, String) => Unit): Unit = {
    Artifacts.heal(spark, dir)
    if (!exists(spark, tombDir(dir)) &&
        Artifacts.segments(spark, dir).isEmpty) return
    val live = living(spark, dir, base, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      require(!live.isEmpty,
        s"$verb: every row of $dir has been forgotten — an empty store " +
          "has no compacted form; drop the directory instead")
      Artifacts.foldSegments(spark, dir)(write(live, _))
    } finally live.unpersist()
  }

  /** (Re)build the tier at `dir`: `write` stages the whole new root, the
    * current tombstone store is copied into it, and one
    * [[graft.core.Artifacts.swapInto]] publishes both — version history
    * restarts at 0 and forgotten ids stay forgotten. */
  def rebuild(spark: SparkSession, dir: String)(write: String => Unit): Unit =
    Artifacts.swapInto(spark, dir) { tmp =>
      write(tmp)
      if (exists(spark, tombDir(dir)))
        Artifacts.copyDir(spark, tombDir(dir), tombDir(tmp))
    }

  /** Swap in the root `write` stages WITHOUT the tombstone store — the
    * compact commit of a tier whose forget already removed every
    * tombstoned row physically (the kNN repair), so the clear is a view
    * no-op that publishes with the fold. */
  def clearInto(spark: SparkSession, dir: String)(write: String => Unit): Unit =
    Artifacts.swapInto(spark, dir)(write)
}
