package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The tombstoned stored tiers against one table each (the
  * SegmentedStoreSpec pattern): the tombstone store's rules — forget,
  * living view, compact, rebuild — are `ext.Forget`'s, so every tier must
  * answer them identically.
  *  - forget / compact: the four segmented tiers (postings, eval suite,
  *    IVF, PQ);
  *  - rebuild: all five tiers (postings, eval suite, IVF, PQ, kNN) — a
  *    rebuild keeps forgotten ids forgotten, and a crash inside its swap
  *    leaves a store that reads, appends and forgets like one that never
  *    rebuilt.
  */
class TombstoneStoreSpec extends SparkSpec {
  import spark.implicits._

  /** One tombstoned tier. `build` and `append` take the corpus rows to
    * store; `living` is the tier's public read verb (head or pinned);
    * `idCols` the id columns a forgotten id must vanish from. */
  private case class Tier(name: String,
                          corpus: DataFrame,
                          build: (DataFrame, String) => Unit,
                          append: (DataFrame, String) => Unit,
                          forget: (Seq[Long], String) => Unit,
                          compact: String => Unit,
                          living: (String, Option[Long]) => DataFrame,
                          idCols: Seq[String])

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def ids(t: Tier, dir: String): Set[Long] =
    t.idCols.map(c => t.living(dir, None).select(col(c).cast("long")))
      .reduce(_ union _).collect().map(_.getLong(0)).toSet

  /** The corpus rows with ids in [lo, hi) (the id is its first column). */
  private def range(t: Tier, lo: Long, hi: Long): DataFrame = {
    val id = col(t.corpus.columns.head)
    t.corpus.where(id >= lo && id < hi)
  }

  private val docs = (0L until 30L)
    .map(i => (i, s"alpha beta w${i % 5} gamma term$i delta"))
    .toDF("doc_id", "text")

  private val emb = (0L until 30L).map { i =>
    (i, s"L${i % 3}", (0 until 8).map(j =>
      math.cos(i * 1.3 + j * 0.7) + (i % 3) * 2.0).toArray)
  }.toDF("vec_id", "label", "embedding")

  private val postings = Tier("postings", docs,
    (c, d) => ext.Retrieval.writePostingsIndex(c, "doc_id", "text", d,
      buckets = 4),
    (c, d) => ext.Retrieval.appendToPostingsIndex(c, "doc_id", "text", d),
    (xs, d) => ext.Retrieval.forgetFromPostingsIndex(xs.toDF("doc_id"),
      "doc_id", d),
    d => ext.Retrieval.compactPostingsIndex(spark, d),
    (d, v) => ext.Retrieval.postingsLiving(spark, d, v)
      .select("doc_id", "term", "tf"),
    Seq("doc_id"))

  private val evalSuite = Tier("eval suite", docs,
    (c, d) => ext.Dedup.writeContaminationIndex(c, "doc_id", "text", d),
    (c, d) => ext.Dedup.appendToContaminationIndex(c, "doc_id", "text", d),
    (xs, d) => ext.Dedup.forgetFromContaminationIndex(xs.toDF("doc_id"),
      "doc_id", d),
    d => ext.Dedup.compactContaminationIndex(spark, d),
    (d, v) => ext.Dedup.contaminationIndexLiving(spark, d, v),
    Seq("eval_id"))

  private val ivf = Tier("ivf", emb,
    (c, d) => ext.Similarity.writeIvfIndex(c, "vec_id", "embedding",
      "label", d),
    (c, d) => ext.Similarity.appendToIvfIndex(c.select("vec_id", "embedding"),
      "vec_id", "embedding", d),
    (xs, d) => ext.Similarity.forgetFromIvfIndex(xs.toDF("vec_id"),
      "vec_id", d),
    d => ext.Similarity.compactIvfIndex(spark, d),
    (d, v) => ext.Similarity.ivfLivingIndex(spark, d, v)
      .select("vec_id", "list", "scale"),
    Seq("vec_id"))

  private val pq = Tier("pq", emb,
    (c, d) => ext.Similarity.writePqIndex(c, "vec_id", "embedding", d,
      dims = 8, m = 2, ksub = 3, iters = 2),
    (c, d) => ext.Similarity.appendToPqIndex(c, "vec_id", "embedding", d),
    (xs, d) => ext.Similarity.forgetFromPqIndex(xs.toDF("vec_id"),
      "vec_id", d),
    d => ext.Similarity.compactPqIndex(spark, d),
    (d, v) => ext.Similarity.pqCodesLiving(spark, d, v),
    Seq("vec_id"))

  private val knn = Tier("knn", emb,
    (c, d) => ext.Similarity.writeKnnGraph(c, "vec_id", "embedding", d, k = 3),
    (c, d) => ext.Similarity.ingestKnnBatch(c, "vec_id", "embedding", d),
    (xs, d) => ext.Similarity.forgetFromKnnGraph(xs.toDF("vec_id"),
      "vec_id", d),
    d => ext.Similarity.compactKnnGraph(spark, d),
    (d, v) => ext.Similarity.knnGraphFromIndex(spark, d, v),
    Seq("query_id", "neighbor_id"))

  private def tombstonesExist(dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def slug(t: Tier) = t.name.replace(' ', '-')

  for (t <- Seq(postings, evalSuite, ivf, pq))
    test(s"${t.name}: forget hides, a repeat is a no-op, compact keeps the view") {
      val dir = tmpDir(s"tomb-forget-${slug(t)}") + "/store"
      t.build(range(t, 0, 12), dir)
      t.append(range(t, 12, 18), dir)
      t.forget(Seq(3L, 14L), dir) // one base row, one segment row
      val view = rows(t.living(dir, None))
      assert(ids(t, dir) == (0L until 18L).toSet -- Set(3L, 14L),
        "the living view is the store minus the forgotten ids")
      t.forget(Seq(3L, 14L), dir)
      assert(rows(t.living(dir, None)) == view, "a repeated forget")
      t.compact(dir)
      assert(rows(t.living(dir, None)) == view, "compact keeps the view")
      assert(!tombstonesExist(dir), "compact clears the tombstones")
    }

  for (t <- Seq(postings, evalSuite, ivf, pq))
    test(s"${t.name}: an id forgotten before it is appended stays hidden until compact") {
      val dir = tmpDir(s"tomb-early-${slug(t)}") + "/store"
      t.build(range(t, 0, 12), dir)
      t.forget(Seq(20L), dir) // not stored yet: the forget probes nothing
      t.append(range(t, 18, 24), dir)
      assert(!ids(t, dir).contains(20L), "the appended id is hidden")
      assert(ids(t, dir).contains(21L), "its batch is not")
      t.compact(dir)
      assert(!ids(t, dir).contains(20L),
        "compact folds the hidden row away with its tombstone")
      t.append(range(t, 20, 21), dir)
      assert(ids(t, dir).contains(20L), "after compact the id re-appends")
    }

  for (t <- Seq(postings, evalSuite, ivf, pq, knn))
    test(s"${t.name}: a rebuild keeps forgotten ids forgotten") {
      val dir = tmpDir(s"tomb-rebuild-${slug(t)}") + "/store"
      t.build(range(t, 0, 12), dir)
      t.forget(Seq(5L), dir)
      t.build(range(t, 0, 12), dir) // the corpus still holds id 5
      assert(ids(t, dir) == (0L until 12L).toSet - 5L,
        "the head read after the rebuild excludes the forgotten id")
    }

  for (t <- Seq(postings, evalSuite, ivf, pq, knn))
    test(s"${t.name}: a rebuild crashed inside its swap heals on head, as-of, append and forget") {
      val ctl = tmpDir(s"tomb-ctl-${slug(t)}") + "/store"
      val dir = tmpDir(s"tomb-crash-${slug(t)}") + "/store"
      for (d <- Seq(ctl, dir)) {
        t.build(range(t, 0, 12), d)
        t.append(range(t, 12, 18), d)
      }
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
      def p(s: String) = new org.apache.hadoop.fs.Path(s)
      // the crash: the live root moved aside, the rebuilt root staged
      def crash(): Unit = assert(fs.rename(p(dir), p(dir + "__old")))
      crash()
      t.build(range(t, 0, 24), dir + "__tmp")
      assert(fs.exists(p(dir + "__tmp")) && !fs.exists(p(dir)))
      assert(rows(t.living(dir, None)) == rows(t.living(ctl, None)),
        "head read after the crash")
      crash()
      assert(rows(t.living(dir, Some(0L))) == rows(t.living(ctl, Some(0L))),
        "as-of read after the crash")
      crash()
      t.append(range(t, 18, 24), dir)
      t.append(range(t, 18, 24), ctl)
      assert(rows(t.living(dir, None)) == rows(t.living(ctl, None)),
        "append after the crash")
      crash()
      t.forget(Seq(20L), dir)
      t.forget(Seq(20L), ctl)
      assert(rows(t.living(dir, None)) == rows(t.living(ctl, None)),
        "forget after the crash")
    }
}
