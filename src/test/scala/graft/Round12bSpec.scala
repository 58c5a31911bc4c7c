package graft

import org.apache.spark.sql.functions._

/** Round-12b pins — the IVF segmented-layout refactor that completes the
  * artifact verb matrix's last two cells (streaming maintenance `sim11s`,
  * time travel `sim12`):
  *  - appendToIvfIndex is IDEMPOTENT under at-least-once retry: vec_id
  *    anti-join against the FULL stored relation + staged-segment commit
  *    (a redelivered batch lands an empty committed segment, never a
  *    duplicate row) — the postings/PQ discipline on the vector tier.
  *  - version v of the index = base + the first v − floor committed
  *    segments; pinned reads apply CURRENT tombstones (right-to-be-
  *    forgotten outranks reproducibility); not-yet-written and folded
  *    pins fail loudly (the mv3 retention contract).
  *  - compact folds segments + tombstones into a fresh root with ONE
  *    whole-root atomic swap and advances the as-of floor WITH the fold
  *    (the marker publishes from the staged root).
  *  - a full rebuild (writeIvfIndex) supersedes committed segments and
  *    resets version history to 0.
  */
class Round12bSpec extends SparkSpec {
  import spark.implicits._

  private def ivfCorpus() = {
    val rows = (0L until 30L).map { i =>
      (i, s"L${i % 3}", (0 until 8).map(j =>
        math.cos(i * 1.3 + j * 0.7) + (i % 3) * 2.0).toArray)
    }
    rows.toDF("vec_id", "label", "embedding")
  }

  test("ivf append: segment-committed and idempotent under retry") {
    val df = ivfCorpus()
    val dir = tmpDir("ivf-append-idem") + "/idx"
    ext.Similarity.writeIvfIndex(df.where($"vec_id" < 20),
      "vec_id", "embedding", "label", dir)
    val batch = df.where($"vec_id" >= 20).select("vec_id", "embedding")
    ext.Similarity.appendToIvfIndex(batch, "vec_id", "embedding", dir)
    val r1 = ext.Similarity.ivfIndexRelation(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(r1 == (0L until 30L).toSet, "append lands exactly the batch")
    // at-least-once redelivery: a full-overlap retry re-appends NOTHING
    ext.Similarity.appendToIvfIndex(batch, "vec_id", "embedding", dir)
    assert(ext.Similarity.ivfIndexRelation(spark, dir).count() == 30L,
      "redelivered batch is a no-op — anti-join idempotence")
    val segs = core.Artifacts.committedChildren(spark, s"$dir/segments")
    assert(segs.size == 2, "both attempts committed (the retry's is empty)")
    // a crashed in-flight stage is invisible to readers and swept by the
    // next append
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/segments/seg_999999__tmp"))
    assert(ext.Similarity.ivfIndexRelation(spark, dir).count() == 30L)
  }

  test("ivf as-of: pinned versions, current tombstones, floor advance") {
    val df = ivfCorpus()
    val dir = tmpDir("ivf-asof") + "/idx"
    ext.Similarity.writeIvfIndex(df.where($"vec_id" < 20),
      "vec_id", "embedding", "label", dir)
    ext.Similarity.appendToIvfIndex(
      df.where($"vec_id" >= 20 && $"vec_id" < 25).select("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    ext.Similarity.appendToIvfIndex(
      df.where($"vec_id" >= 25).select("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    def ids(v: Long) = ext.Similarity.ivfLivingIndex(spark, dir, Some(v))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids(0L) == (0L until 20L).toSet, "version 0 = the build")
    assert(ids(1L) == (0L until 25L).toSet, "version 1 = build + first segment")
    assert(ids(2L) == (0L until 30L).toSet, "version 2 = head")
    intercept[IllegalArgumentException] { ids(3L) } // not written yet
    // current tombstones apply to PINNED reads
    ext.Similarity.forgetFromIvfIndex(Seq(3L).toDF("vec_id"), "vec_id", dir)
    assert(!ids(0L).contains(3L),
      "right-to-be-forgotten outranks reproducibility")
    // compact folds both segments + the tombstone and advances the floor
    // atomically with the fold
    ext.Similarity.compactIvfIndex(spark, dir)
    assert(core.Artifacts.asOfFloor(spark, dir) == 2L)
    intercept[IllegalArgumentException] { ids(1L) } // folded away
    assert(ids(2L) == (0L until 30L).toSet - 3L,
      "the head pin still answers post-compact, survivors only")
    // the living view agrees with the head pin before and after
    assert(ext.Similarity.ivfLivingIndex(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet ==
      (0L until 30L).toSet - 3L)
  }

  test("ivf rebuild: supersedes appended segments, resets version history") {
    val df = ivfCorpus()
    val dir = tmpDir("ivf-rebuild") + "/idx"
    ext.Similarity.writeIvfIndex(df.where($"vec_id" < 20),
      "vec_id", "embedding", "label", dir)
    ext.Similarity.appendToIvfIndex(
      df.where($"vec_id" >= 20).select("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    assert(core.Artifacts
      .committedChildren(spark, s"$dir/segments").size == 1)
    ext.Similarity.writeIvfIndex(df, "vec_id", "embedding", "label", dir)
    assert(core.Artifacts
      .committedChildren(spark, s"$dir/segments").isEmpty,
      "rebuild clears old segments — no read-side double count")
    assert(ext.Similarity.ivfIndexRelation(spark, dir).count() == 30L)
    assert(core.Artifacts.asOfFloor(spark, dir) == 0L,
      "rebuild resets version history")
  }
}
