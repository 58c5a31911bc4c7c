package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The seven base+segments stores against one crash table. Every store
  * is built, takes two appends, and then has its root moved aside to
  * `<dir>__old` — the state a crash between `Artifacts.swapInto`'s two
  * renames leaves behind (a fold or a whole-root rebuild). The head read,
  * an as-of read and the next append must each heal the root and answer
  * exactly as a store that never crashed: the crash and control stores
  * take the same writes and must agree on every view.
  */
class SegmentedStoreSpec extends SparkSpec {
  import spark.implicits._

  /** One segmented store: `build` writes version 0; `append(dir, i)`
    * writes wave i (1-based) as one segment; `head` and `asOf` are the
    * store's public read verbs, rendered as sorted row strings. */
  private case class Store(name: String,
                           build: String => Unit,
                           append: (String, Int) => Unit,
                           head: String => Seq[String],
                           asOf: (String, Option[Long]) => Seq[String])

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def texts(n: Int) = (0L until n.toLong)
    .map(i => (i, s"alpha beta w${i % 5} gamma term$i delta"))
    .toDF("doc_id", "text")

  private def vecs(n: Int) = (0L until n.toLong).map { i =>
    (i, s"L${i % 3}", (0 until 8).map(j =>
      math.cos(i * 1.3 + j * 0.7) + (i % 3) * 2.0).toArray)
  }.toDF("vec_id", "label", "embedding")

  /** Rows [lo + 6(i−1), lo + 6i) — wave i of an id-ranged corpus. */
  private def wave(df: DataFrame, id: String, lo: Long, i: Int) =
    df.where(col(id) >= lo + 6L * (i - 1) && col(id) < lo + 6L * i)

  private val docs = texts(30)
  private val emb = vecs(30)
  // a new heavy key per batch, so every version reports differently
  private def sketchBatch(i: Int) = (Seq.fill(6)(s"h$i") :+ "z")
    .map(k => (i.toLong, k)).toDF("epoch", "key0")
  private val sketchData = (1 to 3).map(sketchBatch).reduce(_ unionByName _)

  private val stores = Seq(
    Store("postings",
      d => ext.Retrieval.writePostingsIndex(docs.where($"doc_id" < 12),
        "doc_id", "text", d, buckets = 4),
      (d, i) => ext.Retrieval.appendToPostingsIndex(
        wave(docs, "doc_id", 12, i), "doc_id", "text", d),
      d => rows(ext.Retrieval.postingsLiving(spark, d)
        .select("doc_id", "term", "tf")),
      (d, v) => rows(ext.Retrieval.postingsLiving(spark, d, v)
        .select("doc_id", "term", "tf"))),
    Store("ivf",
      d => ext.Similarity.writeIvfIndex(emb.where($"vec_id" < 12),
        "vec_id", "embedding", "label", d),
      (d, i) => ext.Similarity.appendToIvfIndex(
        wave(emb, "vec_id", 12, i).select("vec_id", "embedding"),
        "vec_id", "embedding", d),
      // drift reads the centroids before any relation, so it heals on
      // its own; ccos is a double mean, rounded past summation order
      d => rows(ext.Similarity.indexCentroidDrift(spark, d)
          .select($"list", $"n", round($"ccos", 9))) ++
        rows(ext.Similarity.ivfIndexRelation(spark, d)
          .select("vec_id", "list", "scale")),
      (d, v) => rows(ext.Similarity.ivfLivingIndex(spark, d, v)
        .select("vec_id", "list", "scale"))),
    Store("pq",
      d => ext.Similarity.writePqIndex(emb.where($"vec_id" < 12),
        "vec_id", "embedding", d, dims = 8, m = 2, ksub = 3, iters = 2),
      (d, i) => ext.Similarity.appendToPqIndex(
        wave(emb, "vec_id", 12, i), "vec_id", "embedding", d),
      d => rows(ext.Similarity.pqCodesRelation(spark, d)),
      (d, v) => rows(ext.Similarity.pqCodesLiving(spark, d, v))),
    Store("dedup fps",
      d => ext.Dedup.writeBloomIndex(docs.where($"doc_id" < 12), "text", d),
      (d, i) => ext.Dedup.ingestBloomBatch(
        wave(docs, "doc_id", 12, i), "text", d),
      d => rows(ext.Dedup.fpsRelation(spark, d)),
      (d, v) => rows(ext.Dedup.fpsRelation(spark, d, v))),
    Store("contamination",
      d => ext.Dedup.writeContaminationIndex(
        docs.where($"doc_id" < 12).select(($"doc_id" + 100L).as("doc_id"),
          $"text"), "doc_id", "text", d),
      (d, i) => ext.Dedup.appendToContaminationIndex(
        wave(docs, "doc_id", 12, i).select(($"doc_id" + 100L).as("doc_id"),
          $"text"), "doc_id", "text", d),
      d => rows(ext.Dedup.contaminationIndexRelation(spark, d)),
      (d, v) => rows(ext.Dedup.contaminationPairsFromIndex(
        docs, "doc_id", "text", d, asOf = v).select("doc_id", "eval_id"))),
    Store("windowed CMS",
      root => ext.Profile.writeWindowedCms(spark, root, d = 2, w = 16),
      (d, i) => ext.Profile.ingestWindowedCmsBatch(sketchBatch(i), $"key0",
        $"epoch", d, i.toLong),
      d => rows(ext.Profile.windowedCmsCounters(spark, d, 0L)),
      (d, v) => rows(ext.Profile.windowedCmsCounters(spark, d, 0L, v))),
    Store("windowed MG",
      d => ext.Profile.writeWindowedHh(spark, d, k = 4),
      (d, i) => ext.Profile.ingestWindowedHhBatch(sketchBatch(i), $"key0",
        $"epoch", d, i.toLong),
      d => rows(ext.Profile.heavyHittersWindowed(sketchData, $"key0", d, 0L)),
      (d, v) => rows(ext.Profile.heavyHittersWindowed(sketchData,
        $"key0", d, 0L, v))))

  /** The root as a crash between swapInto's two renames leaves it. */
  private def crash(dir: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__old")))
  }

  for (st <- stores)
    test(s"${st.name}: a root left aside mid-swap heals on head, as-of and append") {
      val slug = st.name.replace(' ', '-')
      val ctl = tmpDir(s"seg-ctl-$slug") + "/store"
      val dir = tmpDir(s"seg-crash-$slug") + "/store"
      for (d <- Seq(ctl, dir); step <- Seq(() => st.build(d),
          () => st.append(d, 1), () => st.append(d, 2))) step()
      val head = st.head(dir)
      val pinned = st.asOf(dir, Some(1L))
      assert(head.nonEmpty && pinned.nonEmpty && pinned != head,
        "the fixture must tell version 1 from the head")

      crash(dir)
      assert(st.head(dir) == head, "head read after the crash")
      crash(dir)
      assert(st.asOf(dir, Some(1L)) == pinned, "as-of read after the crash")
      crash(dir)
      st.append(dir, 3)
      st.append(ctl, 3)
      assert(st.head(dir) == st.head(ctl), "append after the crash")
      assert(st.head(dir) != head, "wave 3 must change the head")
      assert(st.asOf(dir, Some(1L)) == pinned, "pinned version after the append")
    }

  test("every store: a head read equals a pin of the head version; a pin past it fails") {
    for (st <- stores) {
      val dir = tmpDir(s"seg-pin-${st.name.replace(' ', '-')}") + "/store"
      st.build(dir); st.append(dir, 1); st.append(dir, 2)
      assert(st.asOf(dir, None) == st.asOf(dir, Some(2L)),
        s"${st.name}: head read differs from the pin of version 2")
      val e = intercept[IllegalArgumentException](st.asOf(dir, Some(3L)))
      assert(e.getMessage.contains("does not exist"),
        s"${st.name}: ${e.getMessage}")
    }
  }

  test("a torn store fails loudly on a head read, not with duplicated rows") {
    val dir = tmpDir("seg-torn-head") + "/store"
    val postings = stores.head
    postings.build(dir); postings.append(dir, 1)
    val Seq(seg) =
      graft.core.Artifacts.committedChildren(spark, s"$dir/segments")
    // a second committer of the same index: a twin under a fresh uuid
    graft.core.Artifacts.copyDir(spark, seg, seg.replaceAll(
      "_[^_/]+$", "_" + java.util.UUID.randomUUID()))
    val e = intercept[IllegalArgumentException](
      ext.Retrieval.postingsLiving(spark, dir))
    assert(e.getMessage.contains("torn by concurrent appenders"))
  }
}
