package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The shared commit protocol for stored artifact directories, and the
  * ONE description of the base+segments layout every segmented store
  * (postings, IVF, PQ, dedup fps, contamination, windowed CMS, windowed
  * MG) is built on. Tiers call the entries below and never name the
  * layout themselves (a CoreSpec source scan keeps it that way).
  *
  * SWAP. A replaced artifact commits side-write + checked swap
  * ([[swapInto]]): the new copy lands at `<target>__tmp`, the live copy
  * moves aside to `<target>__old`, the new copy renames in, the aside
  * deletes — every rename checked (Hadoop reports failure by returning
  * false), so NO crash window ever holds the only copy. A NEW artifact
  * commits through [[stageCommit]]: stage at `__tmp`, one checked rename.
  *
  * HEAL ON EVERY ENTRY. A crash between the swap's two renames leaves the
  * root at `<target>__old`; [[heal]] restores it (or clears a stale
  * aside). Every segmented entry — [[segments]], [[readSegmented]],
  * [[appendSegment]], [[appendBatchSegment]], [[foldSegments]] — heals
  * the root first, so "retry is harmless" holds on the read path too.
  * Sub-artifacts a tier swaps on their own (a bloom filter, an MG
  * summary) are that tier's to heal, after the root.
  *
  * LAYOUT. A segmented store at `dir` is a BASE relation (`dir/<base>`,
  * written by the build or the last fold; absent for stores that start
  * empty) plus `dir/segments/`, one immutable committed directory per
  * append. In-flight `__tmp` stages are invisible ([[committedChildren]])
  * and the next appender sweeps them. Each root is read on its own and
  * the reads are unioned (one multi-path read trips Spark's uniform
  * directory-depth check and loses per-root partition pruning); segments
  * read under the FIRST root's schema, so an empty retry segment reads
  * as zero rows instead of failing schema inference. Segment names:
  *  - count-indexed `seg_<index>_<uuid>` ([[appendSegment]]): the index is
  *    the committed count, so appends are SINGLE-WRITER per root (one
  *    streaming query per artifact). [[commitIndexedSegment]] verifies
  *    that after each commit and [[segments]] before every read, head or
  *    pinned, failing loudly on a same-index twin instead of unioning
  *    both twins or ordering versions by random UUID bytes;
  *  - batch-id-named `seg_<batchId>` ([[appendBatchSegment]]): the name IS
  *    the idempotence key, so a redelivered batch finds its segment and
  *    writes nothing; the caller fences fresh ids to be monotone.
  *
  * VERSIONS AND THE FLOOR. Version v of a store is its base plus the first
  * v − floor committed segments: the build is version `floor` and each
  * append adds one. A HEAD read sees every committed segment; an AS-OF
  * read sees the pinned prefix, immutable once committed, so it is
  * reproducible until a fold absorbs it. A fold ([[foldSegments]])
  * rewrites the store into a new base in one whole-root swap and advances
  * the floor ([[asOfFloor]]) by the segments it absorbed, written into the
  * staged root so it publishes atomically with the fold. Pins of folded
  * versions, and of versions not yet written, fail loudly (the retention
  * contract). A rebuild swaps in a whole new root
  * ([[graft.ext.Forget.rebuild]]), restarting history at version 0; the
  * tombstone store a tier keeps beside its segments is
  * [[graft.ext.Forget]]'s.
  *
  * Object-store caveat: HDFS/local renames are atomic; S3-style stores
  * rename by copy+delete — deployments there back artifact dirs with a
  * consistent store (or a manifest-pointer swap), same as every other
  * rename-committed Spark output. */
object Artifacts {

  /** Commit `write`'s output (produced into the supplied tmp path) as the
    * new content of `target`, swap-protected. */
  def swapInto(spark: org.apache.spark.sql.SparkSession,
               target: String)(write: String => Unit): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(target), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    heal(spark, target)
    fs.delete(p(target + "__tmp"), true)
    write(target + "__tmp")
    if (fs.exists(p(target)) && !fs.rename(p(target), p(target + "__old")))
      throw new java.io.IOException(
        s"Artifacts.swapInto: could not move $target aside — artifact untouched")
    if (!fs.rename(p(target + "__tmp"), p(target))) {
      val restored = fs.rename(p(target + "__old"), p(target))
      throw new java.io.IOException(
        s"Artifacts.swapInto: could not swap new copy into $target" +
          (if (restored) " — previous copy restored"
           else s" — previous copy left at ${target}__old; the next" +
             " write recovers it"))
    }
    if (fs.exists(p(target + "__old")) && !fs.delete(p(target + "__old"), true))
      throw new java.io.IOException(
        s"Artifacts.swapInto: committed but could not remove the superseded " +
          s"${target}__old — delete it manually")
  }

  /** Commit a NEW artifact directory all-or-nothing: `write` produces into
    * `<target>__tmp`, then ONE checked rename publishes it at `target` —
    * the append-segment counterpart of [[swapInto]] (which replaces an
    * existing artifact; this creates one that must never be observed
    * partially). A crash before the rename leaves only a `__tmp` dir that
    * [[committedChildren]] ignores and the next writer clears; a crash
    * after it leaves the complete segment. This is what makes doc-id /
    * content anti-join idempotence sound for multi-file appends: the
    * anti-join only ever sees COMPLETE segments, so a failed attempt
    * re-runs instead of being half-visible and skipped forever. */
  def stageCommit(spark: org.apache.spark.sql.SparkSession,
                  target: String)(write: String => Unit): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(target), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    if (fs.exists(p(target)))
      throw new java.io.IOException(
        s"Artifacts.stageCommit: $target already committed")
    fs.delete(p(target + "__tmp"), true)
    write(target + "__tmp")
    if (!fs.rename(p(target + "__tmp"), p(target)))
      throw new java.io.IOException(
        s"Artifacts.stageCommit: could not publish $target — staged copy " +
          s"left at ${target}__tmp; retry re-stages")
  }

  /** Commit one COUNT-INDEXED segment (`seg_<index>_<uuid>`) under
    * `segmentsParent` via [[stageCommit]], then list committed siblings
    * sharing the index and throw on a twin — the single-writer check of
    * the layout above. The artifact is then known-torn and the operator
    * removes one twin before further as-of reads, instead of pins
    * answering with writer-race-ordered data forever. */
  def commitIndexedSegment(spark: org.apache.spark.sql.SparkSession,
                           segmentsParent: String, index: Int)
                          (write: String => Unit): Unit = {
    stageCommit(spark,
      f"$segmentsParent/seg_$index%06d_${java.util.UUID.randomUUID}")(write)
    val twins = committedChildren(spark, segmentsParent)
      .map(p => new org.apache.hadoop.fs.Path(p).getName)
      .filter(_.startsWith(f"seg_$index%06d_"))
    if (twins.size > 1)
      throw new java.io.IOException(
        s"Artifacts.commitIndexedSegment: ${twins.size} committed segments " +
          s"share index $index under $segmentsParent " +
          s"(${twins.sorted.mkString(", ")}) — concurrent appenders " +
          "detected; segment ids derive from the committed-segment count, " +
          "so as-of version ordering is ambiguous from here on. Serialize " +
          "appends per artifact root (one streaming query per artifact) " +
          "and remove the duplicate before further reads")
  }

  /** Byte-identical driver-side copy of a committed artifact subdir into
    * a staged sibling or root: PASS-THROUGH state a fold republishes
    * UNCHANGED — trained quantizers, codebooks, 1-row metas, bloom
    * filters — must not pay a Spark read→coalesce→write job per fold;
    * the copy is the same bytes and publishes atomically with the
    * surrounding stage/swap. Only for bounded, immutable-between-folds
    * state (never data relations, whose compaction exists to REWRITE
    * them). */
  def copyDir(spark: org.apache.spark.sql.SparkSession,
              from: String, to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = p(to).getFileSystem(conf)
    if (!org.apache.hadoop.fs.FileUtil.copy(fs, p(from), fs, p(to),
        false, conf))
      throw new java.io.IOException(
        s"Artifacts.copyDir: could not copy $from to $to")
  }

  /** The COMMITTED children of a parent dir: every subdirectory except
    * in-flight `__tmp` stages (a crashed [[stageCommit]]'s leftover is
    * invisible here — that is the read-side half of the contract).
    * Missing parent → empty. Also sweeps stale `__tmp` dirs when asked. */
  def committedChildren(spark: org.apache.spark.sql.SparkSession,
                        parent: String,
                        sweepStale: Boolean = false): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(parent), spark.sparkContext.hadoopConfiguration)
    val pp = new org.apache.hadoop.fs.Path(parent)
    if (!fs.exists(pp)) Seq.empty
    else fs.listStatus(pp).toSeq.filter(_.isDirectory).flatMap { st =>
      if (st.getPath.getName.endsWith("__tmp")) {
        if (sweepStale) fs.delete(st.getPath, true)
        None
      } else Some(st.getPath.toString)
    }.sorted
  }

  /** The as-of floor of a segmented store: the number of versions folds
    * have absorbed into the base. Missing marker = 0, a never-folded
    * store. */
  def asOfFloor(spark: org.apache.spark.sql.SparkSession,
                dir: String): Long = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$dir/asof_floor")
    if (!fs.exists(p)) 0L
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong
      finally in.close()
    }
  }

  /** Record the as-of floor inside an artifact root — [[foldSegments]]
    * calls it on its STAGED root, so the marker publishes atomically with
    * the fold itself. */
  private def setAsOfFloor(spark: org.apache.spark.sql.SparkSession,
                           dir: String, floor: Long): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$dir/asof_floor"), true)
    try out.write(floor.toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** The committed segments of the store at `dir`, the listing every read
    * (head and pinned) goes through. Read-side half of the single-writer
    * guard: commitIndexedSegment's twin check throws only in the SECOND
    * committer's JVM — which may be a dead streaming query whose error
    * nobody reads — so a read of a torn store must also fail loudly here,
    * or a head read would union both twins. Applies only to count-indexed
    * `seg_NNNNNN_<uuid>` names; a driver-side name grouping, no job. */
  private def committedSegments(spark: SparkSession,
                                dir: String): Seq[String] = {
    val segs = committedChildren(spark, segmentsDir(dir))
    val dupIdx = segs
      .map(p => new org.apache.hadoop.fs.Path(p).getName)
      .flatMap { n =>
        val m = "^(seg_\\d{6})_".r.findFirstMatchIn(n); m.map(_.group(1))
      }
      .groupBy(identity).collect { case (idx, twins) if twins.size > 1 => idx }
    require(dupIdx.isEmpty,
      s"Artifacts.segments: $dir has multiple committed segments sharing " +
        s"index ${dupIdx.toSeq.sorted.mkString(", ")} — the artifact was " +
        "torn by concurrent appenders and version ordering past that " +
        "index is ambiguous; remove the duplicate segment(s) before reading")
    segs
  }

  /** The committed-segment prefix of version `asOf` (the first
    * `asOf − floor` segments — [[graft.streaming.Ingest.asOfSnapshot]]'s
    * newest-committed-≤-pin rule for segmented stores). Fails loudly on
    * a folded version, a version not yet written, and a torn store. */
  def segmentsAsOf(spark: org.apache.spark.sql.SparkSession,
                   artifactDir: String, asOf: Long): Seq[String] = {
    val floor = asOfFloor(spark, artifactDir)
    val segs = committedSegments(spark, artifactDir)
    require(asOf >= floor,
      s"Artifacts.segmentsAsOf: version $asOf of $artifactDir was folded " +
        s"away by compaction (floor = $floor) — as-of reads of folded " +
        "versions fail loudly; lengthen the compaction window if the " +
        "pipeline needs deeper reproducibility")
    require(asOf - floor <= segs.size,
      s"Artifacts.segmentsAsOf: version $asOf of $artifactDir does not " +
        s"exist yet (head = ${floor + segs.size})")
    segs.take((asOf - floor).toInt)
  }

  /** The committed segment paths of the store at `dir`, root healed:
    * every one at head (`asOf` = None), the [[segmentsAsOf]] prefix for a
    * pinned version. Both fail loudly on a torn store
    * ([[committedSegments]]). */
  def segments(spark: SparkSession, dir: String,
               asOf: Option[Long] = None): Seq[String] = {
    heal(spark, dir)
    asOf.fold(committedSegments(spark, dir))(segmentsAsOf(spark, dir, _))
  }

  /** Read a segmented store, root healed: the base (`dir/<base>`, when
    * present) plus every committed segment at head, or the pinned prefix
    * of version `asOf`, unioned under the first root's schema. */
  def readSegmented(spark: SparkSession, dir: String, base: String,
                    asOf: Option[Long] = None): DataFrame = {
    val segs = segments(spark, dir, asOf)
    val parts = Seq(s"$dir/$base").filter(exists(spark, _)) ++ segs
    require(parts.nonEmpty,
      s"Artifacts.readSegmented: $dir holds neither a $base base nor a " +
        "committed segment — write or ingest a batch first")
    val first = spark.read.parquet(parts.head)
    parts.tail.foldLeft(first)((acc, s) =>
      acc.unionByName(spark.read.schema(first.schema).parquet(s)))
  }

  /** Append one count-indexed segment to the store at `dir`: heal the
    * root, sweep crashed stages while counting committed segments, then
    * [[commitIndexedSegment]] under the next index. */
  def appendSegment(spark: SparkSession, dir: String)
                   (write: String => Unit): Unit = {
    heal(spark, dir)
    val n = committedChildren(spark, segmentsDir(dir), sweepStale = true).size
    commitIndexedSegment(spark, segmentsDir(dir), n)(write)
  }

  /** Append segment `seg_<batchId>` to the store at `dir`, root healed;
    * a batch whose segment is already committed writes nothing. */
  def appendBatchSegment(spark: SparkSession, dir: String, batchId: Long)
                        (write: String => Unit): Unit = {
    heal(spark, dir)
    val seg = f"${segmentsDir(dir)}/seg_$batchId%012d"
    if (!exists(spark, seg)) stageCommit(spark, seg)(write)
  }

  /** The batch ids of a batch-id-named store's committed segments. */
  def segmentBatchIds(spark: SparkSession, dir: String): Seq[Long] =
    segments(spark, dir).map(s =>
      new org.apache.hadoop.fs.Path(s).getName.stripPrefix("seg_").toLong)

  /** Fold the store at `dir` into a new base: heal the root, compute the
    * new floor (current floor + committed segments), and swap in the root
    * `write` stages — with no segments, and the floor set on it. */
  def foldSegments(spark: SparkSession, dir: String)
                  (write: String => Unit): Unit = {
    heal(spark, dir)
    val floor = asOfFloor(spark, dir) +
      committedChildren(spark, segmentsDir(dir)).size
    swapInto(spark, dir) { tmp =>
      write(tmp)
      setAsOfFloor(spark, tmp, floor)
    }
  }

  private def segmentsDir(dir: String): String = s"$dir/segments"

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Restore `target` from `<target>__old` if a crashed swap left it
    * missing; clear the stale aside otherwise. Runs on BOTH the read and
    * the write path — read-side healing is what makes "retry is harmless"
    * true after a mid-swap crash. */
  def heal(spark: org.apache.spark.sql.SparkSession, target: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(target), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    if (fs.exists(p(target + "__old"))) {
      if (!fs.exists(p(target))) {
        if (!fs.rename(p(target + "__old"), p(target)))
          throw new java.io.IOException(
            s"Artifacts.heal: could not restore $target from ${target}__old")
      } else if (!fs.delete(p(target + "__old"), true))
        throw new java.io.IOException(
          s"Artifacts.heal: could not remove stale ${target}__old")
    }
  }
}
