package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.Artifacts

/** Streaming ingest dedup — the PRODUCTION shape of incremental exact dedup
  * (`ext.Dedup.dedupIncremental` / inc1 is the per-run batch form): a
  * document stream lands micro-batch by micro-batch, each batch dedups
  * internally, drops content already in the accumulated archive index, and
  * appends only the survivors — so the archive is simultaneously the
  * operator's state and its output, and no document is ever fingerprinted
  * twice across the run's lifetime.
  *
  * Built on the K2 foreachBatch sink ([[graft.core.Sinks.foreachBatchSink]],
  * reference `StreamingJobImpl.scala:90-100`'s micro-batch-to-batch-writer
  * pattern): inside each micro-batch everything is ordinary distributed
  * batch work — a fingerprint hash-aggregate (min id per distinct content)
  * and a LEFT ANTI join against the archive index read fresh from parquet,
  * so between-batch state lives in storage, not on the driver or in a state
  * store. At 100 TB-archive scale the anti-join probe is the bf1 upgrade
  * path (fold the archive into a bloom filter and re-check only maybe-hits);
  * the append stays identical.
  *
  * Exactly-once note: foreachBatch is at-least-once on retry — a batch that
  * fails AFTER its append but before the checkpoint commit would re-append
  * on restart. The anti-join makes the re-append a NO-OP for all rows that
  * reached the archive (their fingerprints are now present), which is the
  * idempotence this specific sink needs.
  */
object Ingest {

  /** Start the ingest-dedup stream. `archiveDir` must exist (seed it with a
    * zero-row (idCol, content_fp) parquet write for a cold start); the
    * caller owns `awaitTermination`. */
  def dedupIngest(stream: DataFrame, idCol: String, textCol: String,
                  archiveDir: String, checkpoint: String): StreamingQuery =
    graft.core.Sinks.foreachBatchSink(stream, checkpoint) { (batch, _) =>
      val fresh = batch
        .groupBy(graft.ext.TextAnalysis.fingerprint(col(textCol)).as("content_fp"))
        .agg(min(col(idCol)).as(idCol))
        .join(batch.sparkSession.read.parquet(archiveDir).select("content_fp"),
          Seq("content_fp"), "left_anti")
      fresh.select(col(idCol), col("content_fp"))
        .write.mode("append").parquet(archiveDir)
    }.trigger(Trigger.AvailableNow())
      .start()

  /** Streaming HEAVY-HITTER summary maintenance — the stored-summary
    * lifecycle ([[graft.ext.Profile.writeHhSummary]] /
    * `appendToHhSummary`) driven by the real engine: each micro-batch
    * tokenizes itself and merge-shrinks its own Misra–Gries summary into
    * the artifact (mergeability keeps the error bound, so recall for the
    * ≥ n/k threshold survives any batch order), and the archive token
    * stream is never re-read — per-batch cost is the batch scan plus
    * k-sized driver state.
    *
    * Exactly-once note: foreachBatch is at-least-once on retry, and a
    * summary merge is NOT naturally idempotent (unlike the anti-joined
    * appends above) — so the artifact commits the BATCH ID with the
    * merged state in one atomic swap, and
    * [[graft.ext.Profile.ingestHhBatch]] skips any batch id at or below
    * the stored one. Crash after swap, before checkpoint commit →
    * redelivery is a provable no-op; crash before swap → the artifact
    * still holds the pre-batch state and redelivery applies cleanly. */
  def hhSummaryIngest(stream: DataFrame, textCol: String, k: Int,
                      dir: String, checkpoint: String): StreamingQuery =
    graft.core.Sinks.foreachBatchSink(stream, checkpoint) { (batch, bid) =>
      val toks = batch.select(
        explode(graft.ext.TextAnalysis.tokens(col(textCol))).as("token"))
      graft.ext.Profile.ingestHhBatch(toks, col("token"), k, dir, bid)
    }.trigger(Trigger.AvailableNow())
      .start()

  /** Streaming COUNT-MIN maintenance — [[hhSummaryIngest]]'s counter-tier
    * sibling: each micro-batch tokenizes and folds into the stored CMS
    * via [[graft.ext.Profile.ingestCmsBatch]] (first batch builds, later
    * batches merge, every swap fenced by the batch id — counter addition
    * is not idempotent, so at-least-once redelivery MUST no-op). */
  def cmsIngest(stream: DataFrame, textCol: String, dir: String,
                checkpoint: String): StreamingQuery =
    graft.core.Sinks.foreachBatchSink(stream, checkpoint) { (batch, bid) =>
      val toks = batch.select(
          explode(graft.ext.TextAnalysis.tokens(col(textCol))).as("tok"))
        .where(col("tok") =!= "")
      graft.ext.Profile.ingestCmsBatch(toks, col("tok"), dir, bid)
    }.trigger(Trigger.AvailableNow())
      .start()

  /** Streaming FUZZY ingest dedup — the near-dup counterpart of
    * [[dedupIngest]] and the production shape of
    * [[graft.ext.Dedup.nearDupIncrementalIndexed]] (inc2's per-run batch
    * form): each arriving batch drops documents whose shingle-Jaccard with
    * ANY archived SURVIVOR reaches the threshold (MinHash-LSH band
    * blocking between batch and the archive's STORED band index, exact
    * verify against the STORED signatures), then appends its survivors'
    * (id, text) to the archive AND the survivors' (id, bh) / (id, shh)
    * rows to the sibling `<archiveDir>_idx` / `<archiveDir>_sig` stores —
    * so the index is maintained at append time and NO batch ever
    * re-reads, re-tokenizes or re-shingles archive text. Per-batch work is
    * O(batch shingle+minhash + columnar artifact scan + matched buckets):
    * the archive-side joins are shuffle-free (the batch-derived sides are
    * micro-batch-bounded and broadcast under AQE; a
    * [[graft.core.Layout.writeBucketed]] bh / id layout keeps them
    * exchange-free past the broadcast threshold), replacing round 6's
    * O(archive) re-shingle per batch.
    *
    * Within one batch nothing drops (two near-dup copies arriving
    * together both survive); across batches the earlier-arriving copy
    * wins — the contract the oracle replays batch-by-batch.
    *
    * Idempotence on foreachBatch retry: each of the three appends
    * anti-joins its OWN store on id first, so a re-run batch's appends
    * are no-ops for every row that already landed, and whichever store
    * missed a mid-batch crash is back-filled on retry (id-column-only
    * probes — footer-pruned). Candidate self-pairs (arch_id = doc_id,
    * which only a redelivered id can produce) are excluded in
    * [[graft.ext.Dedup.nearDupDroppedIds]], so a batch whose artifacts
    * landed but whose archive append crashed still re-appends its rows
    * instead of J=1-matching itself into data loss. Cold start needs no
    * seeding: missing stores read as empty. */
  def nearDupIngest(stream: DataFrame, idCol: String, textCol: String,
                    archiveDir: String, checkpoint: String,
                    minJaccard: Double = 0.7,
                    batchScreen: DataFrame => DataFrame = identity): StreamingQuery =
    graft.core.Sinks.foreachBatchSink(stream, checkpoint) { (batch0, _) =>
      import graft.ext.Dedup
      // optional per-batch pre-screen (stateless — quality gates belong
      // BEFORE any state is built or appended: a screened-out document
      // must never enter the archive, the signature store or the band
      // index, or later batches would dedup against rejected content)
      val batch = batchScreen(batch0)
      val s = batch.sparkSession
      val idxDir = s"${archiveDir}_idx"
      val sigDir = s"${archiveDir}_sig"
      def store(dir: String, empty: => DataFrame): DataFrame = {
        val p = new org.apache.hadoop.fs.Path(dir)
        if (p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p))
          s.read.parquet(dir)
        else empty.limit(0)
      }
      // one tokenize+shingle pass AND one minhash pass over the batch,
      // shared by the drop check, the signature append and the index
      // append (bsh and its band rows are both cached)
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val bsh = Dedup.shingleSignatures(batch, idCol, textCol).persist(mem)
      val bidx = Dedup.bandIndex(bsh).persist(mem)
      val idx = store(idxDir, bidx)
      val sigs = store(sigDir, bsh)
      val kept = batch
        .select(col(idCol).cast("long").as("doc_id"), col(textCol))
        .join(Dedup.nearDupDroppedIdsFromBands(bidx, bsh, idx, sigs,
          minJaccard = minJaccard), Seq("doc_id"), "left_anti")
        .persist(mem)
      try {
        // freeze the survivors + the drop set against the PRE-append
        // stores with one count, then run the three appends
        // CONCURRENTLY (r17, guide §2.6 — each anti-joins its OWN
        // store on a disjoint path, and crash ordering is healed
        // per-store by the retry contract above, so the only true
        // ordering constraint is "derive the drop set before any store
        // grows", which the count enforces; at micro-batch scale the
        // three appends cost ~max instead of ~sum of their fixed
        // overheads)
        kept.count()
        graft.core.Par.concurrently(
          () => kept.join(store(archiveDir, kept).select("doc_id"),
              Seq("doc_id"), "left_anti")
            .write.mode("append").parquet(archiveDir),
          () => bsh.join(kept.select(col("doc_id").as("id")),
              Seq("id"), "left_semi")
            .join(sigs.select("id"), Seq("id"), "left_anti")
            .write.mode("append").parquet(sigDir),
          () => bidx.join(kept.select(col("doc_id").as("id")),
              Seq("id"), "left_semi")
            .join(idx.select("id"), Seq("id"), "left_anti")
            .write.mode("append").parquet(idxDir))
      } finally {
        kept.unpersist()
        bidx.unpersist()
        bsh.unpersist()
      }
    }.trigger(Trigger.AvailableNow())
      .start()

  /** STREAMING CURATION ingest — the full training-corpus pipeline as ONE
    * streaming query: each arriving batch passes the quality screen
    * (token count + stopword ratio, curateFuzzy's thresholds), then the
    * fuzzy dedup vs the archived survivors ([[nearDupIngest]]'s stored
    * band-index path), and survivors append to the archive + its index
    * artifacts. The screen runs BEFORE any state is touched: rejected
    * documents never reach the archive, signatures or band index, so
    * later batches cannot dedup against rejected content. Same
    * idempotence/retry contract as nearDupIngest (the screen is a pure
    * per-row predicate, stable under redelivery). */
  def curationIngest(stream: DataFrame, idCol: String, textCol: String,
                     archiveDir: String, checkpoint: String,
                     minJaccard: Double = 0.7, minTokens: Long = 20,
                     minStopwordRatio: Double = 0.04): StreamingQuery =
    nearDupIngest(stream, idCol, textCol, archiveDir, checkpoint, minJaccard,
      batchScreen = { b =>
        graft.ext.TextAnalysis.withTextStats(b, textCol)
          .where(col("n_tokens") >= minTokens &&
            col("stopword_ratio") >= minStopwordRatio)
          .select(b.columns.map(col).toIndexedSeq: _*)
      })

  /** UPDATE-mode MATERIALIZED-VIEW maintenance: a streaming aggregate's
    * per-batch changed rows UPSERT into a keyed snapshot — the incremental
    * alternative to recomputing the aggregate from scratch, and the one
    * output-mode class Append replays can't exercise (Append emits a window
    * once, finalized; Update re-emits a window's running total every batch
    * that changes it, so the sink must replace by key, not append).
    *
    * LAYOUT of the versioned snapshot at `snapRoot` (the same
    * changed-partitions versioning a lakehouse MERGE INTO provides, built
    * from plain parquet; merge1's latest-wins fold is the batch-side
    * contract). Rows hash into `buckets` key-partitions
    * (pk = xxhash64(keys) mod buckets). Batch b commits version `v=b`
    * holding ONLY the buckets its keys touch, each as a `v=b/pk=N` dir
    * with that bucket's full post-batch state; untouched buckets are
    * never rewritten, so the per-batch write is O(changed buckets), never
    * O(snapshot). A bucket whose rows a batch deleted gets an
    * `_empty_pk=N` marker file instead ("bucket present, zero rows":
    * partitionBy omits empty partitions, and without the marker readers
    * would fall back to the older version and resurrect the deleted
    * rows). A version is committed when its dir holds `_SUCCESS`
    * ([[snapshotVersions]]), and the view is, per bucket, the newest
    * committed version holding it. [[completeSnapshot]] versions are
    * unpartitioned: each is the full state. The columns `v` and `pk` are
    * reserved by the layout.
    *
    * Commit and heal are [[graft.core.Artifacts]]': every version commits
    * through `swapInto` on `v=<id>`, [[compactMatview]] through `swapInto`
    * on the root, and every entry heals the root first. Retry contract:
    * batch b's rewrite reads committed versions `< b` only (its own failed
    * attempt is ignored) and the `v=b` commit is an idempotent overwrite.
    * Versions-per-bucket grow with batches — [[compactMatview]] folds them
    * back to one; run it on whatever cadence the version count warrants,
    * between streaming runs. */
  def upsertMatview(agg: DataFrame, keys: Seq[String], snapRoot: String,
                    checkpoint: String, buckets: Int = 16): StreamingQuery =
    graft.core.Sinks.foreachBatchSink(agg, checkpoint) { (b, id) =>
      upsertMatviewBatch(b, keys, snapRoot, id, buckets)
    }.outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()

  /** One [[upsertMatview]] batch, callable OUTSIDE the streaming engine —
    * the versioned copy-on-write upsert itself, factored out so batch
    * pipelines (and the mv2 grade) can maintain the same snapshot layout
    * from plain DataFrames: the caller supplies the batch id and rows
    * whose values are the FULL updated state for their keys (exactly what
    * update-mode emits). Same retry contract as the streaming path. */
  def upsertMatviewBatch(b: DataFrame, keys: Seq[String], snapRoot: String,
                         id: Long, buckets: Int = 16): Unit =
    rewriteBuckets(b, keys, snapRoot, id, buckets)(identity)

  /** VERSION COMPACTION for the [[upsertMatview]] snapshot — the periodic
    * maintenance its scaladoc prices: fold every bucket's newest committed
    * state into ONE version and drop the rest, view-invariant
    * ([[latestSnapshot]] before ≡ after — Round9Spec pins it). Without it
    * versions-per-bucket grow with batch count and every read lists an
    * ever-longer version list.
    *
    * The compacted state keeps the NEWEST committed version's id, which is
    * what makes compaction safe to interleave between streaming runs: a
    * restarted query's batch ids continue ABOVE the last committed id, so
    * (a) no future batch can collide with the compacted dir, and (b) a
    * batch's rewrite (versions `< id`) still finds every bucket — now in
    * one version instead of many. Emptied buckets fold into physical
    * absence (nothing older remains to resurrect from). The fold is one
    * whole-root swap, so a crash leaves the old root or the new one.
    * Same offline contract as [[graft.core.Sinks.compact]] (K3's file
    * compaction — this is its version-dimension sibling): run it with no
    * writer active. */
  def compactMatview(spark: SparkSession, snapRoot: String): Unit = {
    val versions = snapshotVersions(spark, snapRoot)
    require(versions.nonEmpty, s"no committed snapshot versions under $snapRoot")
    if (versions.size > 1) { // a single version already holds all buckets
      val paths = bucketPaths(snapRoot, versions,
        versions.flatMap(_.buckets).distinct.sorted)
      require(paths.nonEmpty,
        s"compactMatview: every bucket under $snapRoot is deleted — an " +
          "empty view has no compacted form (same refusal as the fully-" +
          "forgotten stores); drop the snapshot root instead")
      Artifacts.swapInto(spark, snapRoot) { tmp =>
        // `pk` rides along as a partition column from basePath
        spark.read.option("basePath", snapRoot).parquet(paths: _*)
          .drop("v")
          .write.partitionBy("pk").parquet(s"$tmp/v=${versions.last.id}")
      }
    }
  }

  /** One committed snapshot version: its id, the buckets it holds rows
    * for (`pk=N` dirs) and the buckets it emptied (`_empty_pk=N`). */
  final case class SnapshotVersion(id: Long, buckets: Set[Int],
                                   emptied: Set[Int])

  /** The committed versions of the snapshot at `snapRoot`, oldest first,
    * root healed: the `v=<id>` dirs holding `_SUCCESS`. A version swap's
    * `v=<id>__tmp` / `v=<id>__old` asides are not versions, so a crash
    * mid-commit leaves the view at the state before that batch until the
    * redelivered batch commits it again. */
  def snapshotVersions(spark: SparkSession,
                       snapRoot: String): Seq[SnapshotVersion] = {
    Artifacts.heal(spark, snapRoot)
    val root = new Path(snapRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (version, bucket, emptied) =
      ("v=(\\d+)".r, "pk=(\\d+)".r, "_empty_pk=(\\d+)".r)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.flatMap { st =>
      st.getPath.getName match {
        case version(id) if st.isDirectory =>
          val names = fs.listStatus(st.getPath).map(_.getPath.getName)
          Option.when(names.contains("_SUCCESS"))(SnapshotVersion(id.toLong,
            names.collect { case bucket(pk) => pk.toInt }.toSet,
            names.collect { case emptied(pk) => pk.toInt }.toSet))
        case _ => None
      }
    }.sortBy(_.id)
  }

  /** Readable path of each bucket in `pks` at its newest state among
    * `versions` (oldest first); a bucket no version holds, or whose
    * newest holding version emptied it, has no rows and no path. */
  private def bucketPaths(snapRoot: String, versions: Seq[SnapshotVersion],
                          pks: Seq[Int]): Seq[String] =
    pks.flatMap(pk => versions.reverseIterator
      .find(v => v.buckets(pk) || v.emptied(pk))
      .filter(_.buckets(pk))
      .map(v => s"$snapRoot/v=${v.id}/pk=$pk"))

  /** Commit `write`'s output as version `id` of the snapshot at
    * `snapRoot`, root healed first. */
  private def commitVersion(spark: SparkSession, snapRoot: String, id: Long)
                           (write: String => Unit): Unit = {
    Artifacts.heal(spark, snapRoot)
    Artifacts.swapInto(spark, s"$snapRoot/v=$id")(write)
  }

  /** The bucket rewrite both batch writers share: `changed` rows hash
    * into buckets; each affected bucket's newest state before `id` loses
    * every changed key and gains the `upserts` images; version `id`
    * commits holding those buckets, with an `_empty_pk` marker for each
    * one left without rows. */
  private def rewriteBuckets(changed: DataFrame, keys: Seq[String],
                             snapRoot: String, id: Long, buckets: Int)
                            (upserts: DataFrame => DataFrame): Unit = {
    require(!changed.columns.contains("v") && !changed.columns.contains("pk"),
      "matview columns `v` and `pk` are reserved by the snapshot layout")
    val s = changed.sparkSession
    val batch = changed.withColumn("pk",
        pmod(xxhash64(keys.map(col): _*), lit(buckets)).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val ups = upserts(batch)
      // bounded driver scalar set: at most `buckets` values
      val affected = batch.select("pk").distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      val prevPaths = bucketPaths(snapRoot,
        snapshotVersions(s, snapRoot).filter(_.id < id), affected)
      val prev =
        if (prevPaths.isEmpty) ups.limit(0)
        else s.read.option("basePath", snapRoot).parquet(prevPaths: _*)
          .select(ups.columns.map(col).toIndexedSeq: _*)
      commitVersion(s, snapRoot, id) { tmp =>
        prev.join(batch.select(keys.map(col): _*), keys, "left_anti")
          .unionByName(ups)
          .write.partitionBy("pk").parquet(tmp)
        val fs = new Path(tmp).getFileSystem(s.sparkContext.hadoopConfiguration)
        affected.filterNot(pk => fs.exists(new Path(s"$tmp/pk=$pk")))
          .foreach(pk => fs.create(new Path(s"$tmp/_empty_pk=$pk"), true).close())
      }
    } finally batch.unpersist()
  }

  /** CDC-COMPLETE matview maintenance — [[upsertMatviewBatch]] grown the
    * DELETE verb (the cell mv1's update-mode upserts cannot express: an
    * aggregate stream only ever re-emits totals, but a CDC source ships
    * row images AND deletions, and a synced keyed view must apply both):
    * one batch of keyed row images with `opCol` ∈ {'I','U' — upsert the
    * full image, 'D' — delete by key} first folds NEWEST-WINS per key on
    * `seqCol` ([[graft.ext.Cdc.applyChanges]]' batch-side contract, so a
    * batch carrying several ops for one key applies only the latest),
    * then the same bucket rewrite applies both verbs: an affected
    * bucket's new state = its prior rows minus EVERY batch key, plus the
    * surviving upsert images. Deletes are physically absent from the new
    * version — no tombstone store: the bucket rewrite already pays the
    * copy, so deletion rides free, and readers/as-of pins need no
    * anti-join. A bucket the deletes empty commits as an `_empty_pk`
    * marker (see [[upsertMatview]]'s layout). The snapshot stores the
    * DATA columns only (seq/op are transport, not state). The
    * newest-wins fold breaks equal-`seqCol` ties by `opCol` ascending
    * ('D' < 'I' < 'U': the delete wins) — deterministic, so a redelivered
    * batch carrying an equal-seq D/U pair for one key rebuilds the SAME
    * bucket state; callers should still assign unique (key, seq) per
    * batch. Retry contract identical to [[upsertMatviewBatch]], so a
    * redelivered batch — including one whose deletes already applied —
    * rebuilds the same bucket state. */
  def applyCdcMatviewBatch(b: DataFrame, keys: Seq[String], seqCol: String,
                           opCol: String, snapRoot: String, id: Long,
                           buckets: Int = 16): Unit = {
    val dataCols = b.columns.filterNot(c => c == seqCol || c == opCol).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc, col(opCol).asc)
    val newest = b.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
    rewriteBuckets(newest, keys, snapRoot, id, buckets)(
      _.where(col(opCol) =!= "D").select((dataCols :+ "pk").map(col): _*))
  }

  /** COMPLETE-mode sink: every batch re-emits the ENTIRE aggregate result,
    * so the sink overwrites the whole snapshot (no keyed upsert needed —
    * the mode itself guarantees the emission is the full table). Complete
    * mode is only viable when the result is BOUNDED (a global per-type
    * total, a top-k): the engine keeps every group's state forever and
    * re-emits all of it per batch, which is exactly why the windowed/keyed
    * views use Update + upsert ([[upsertMatview]]) instead. Versioned like
    * upsertMatview so readers never see a half-written overwrite. */
  def completeSnapshot(agg: DataFrame, snapRoot: String,
                       checkpoint: String): StreamingQuery =
    graft.core.Sinks.foreachBatchSink(agg, checkpoint) { (b, id) =>
      commitVersion(b.sparkSession, snapRoot, id)(b.write.parquet(_))
    }.outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()

  /** TIME-TRAVEL read of the versioned snapshot: the state AS OF writer
    * batch `asOf` — per bucket, the newest committed version ≤ asOf. The
    * snapshot-isolation verb the copy-on-write version layout buys for
    * free: versions are immutable once committed, so an as-of read is
    * reproducible forever — until [[compactMatview]] folds history
    * (compaction keeps only the newest state; reads as of a compacted-
    * away version fail loudly below rather than silently answering with
    * newer data — the retention contract every lakehouse time travel
    * has). Uncommitted / in-flight versions are invisible, same as every
    * other reader. */
  def asOfSnapshot(spark: SparkSession, snapRoot: String,
                   asOf: Long): DataFrame = {
    val versions = snapshotVersions(spark, snapRoot).filter(_.id <= asOf)
    require(versions.nonEmpty,
      s"no committed snapshot version" +
        (if (asOf < Long.MaxValue) s" <= $asOf" else "") +
        s" under $snapRoot — either the batch never committed or " +
        "compaction folded it away")
    val pks = versions.flatMap(_.buckets).distinct.sorted
    val paths = bucketPaths(snapRoot, versions, pks)
    if (pks.isEmpty) // unpartitioned (complete-mode) layout
      spark.read.parquet(s"$snapRoot/v=${versions.last.id}")
    else if (paths.nonEmpty)
      spark.read.option("basePath", snapRoot).parquet(paths: _*)
        .drop("v", "pk")
    else { // every bucket emptied as of the pin: zero rows, schema kept
      val v = versions.reverseIterator.find(_.buckets.nonEmpty).get
      spark.read.option("basePath", snapRoot)
        .parquet(s"$snapRoot/v=${v.id}/pk=${v.buckets.head}")
        .drop("v", "pk").limit(0)
    }
  }

  /** Read back the current state [[upsertMatview]] maintains: the NEWEST
    * committed version of every bucket — [[asOfSnapshot]] with no bound.
    * For [[completeSnapshot]]'s unpartitioned versions that is the newest
    * version. */
  def latestSnapshot(spark: SparkSession, snapRoot: String): DataFrame =
    asOfSnapshot(spark, snapRoot, Long.MaxValue)
}
