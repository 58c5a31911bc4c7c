package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.streaming.Pipeline
import graft.streaming.Pipeline.Tier

/** graft.streaming.Pipeline — the composed corpus ingest:
  *  - crash-point table: for every partial state one ingest can leave
  *    behind (nothing landed, each single tier landed, all four tiers
  *    landed but no fps), redelivery through `ingest` converges to an
  *    uncrashed twin on every tier and on the fps set; committing fps
  *    FIRST instead loses the batch from every index tier.
  *  - resources: an ingest leaves no persisted RDD behind, fresh or
  *    redelivered, its actions stay within budget ([[Trace]]), and the
  *    bloom screen reads its batch once and prints its filter as a
  *    digest.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  // pipe2s's shape: bloom screen, eval gate, four tiers. The suite holds
  // verbatim copies of build doc 3 and streamed doc 12.
  private val rec = {
    val rnd = new scala.util.Random(71)
    (0L until 16L).map(i =>
        (i, s"unique document text body number$i tail",
          Array.fill(4)(rnd.nextDouble() * 2 - 1)))
      .toDF("doc_id", "text", "embedding")
      .withColumn("label", (col("doc_id") % 2).cast("int"))
  }
  private val b0 = rec.where($"doc_id" >= 10)

  private final case class Store(root: String) {
    val bloom = s"$root/bloom"
    val p = Pipeline(Some(bloom), lit(true), Some(s"$root/eval"),
      Seq(Tier.postings(s"$root/post"), Tier.ivf(s"$root/ivf"),
        Tier.pq(s"$root/pq", dims = 4, m = 2, ksub = 2, iters = 2),
        Tier.knn(s"$root/knn", k = 3)))
  }

  /** The fixture build (explicit small bloom, as the composition specs
    * build theirs): eval index, bloom over the build docs, every tier
    * over the decontaminated build. */
  private def mk(tag: String): Store = {
    val st = Store(tmpDir(tag) + "/s")
    ext.Dedup.writeContaminationIndex(
      rec.where($"doc_id".isin(3L, 12L))
        .select(($"doc_id" + 1000L).as("doc_id"), $"text"),
      "doc_id", "text", s"${st.root}/eval")
    val build = rec.where($"doc_id" < 10)
    ext.Dedup.writeBloomIndex(build, "text", st.bloom, numBits = 1 << 15)
    val idx = st.p.indexed(build)
    st.p.tiers.foreach(_.build(idx))
    st
  }

  private def rows(df: DataFrame, keys: String*) =
    df.orderBy(keys.map(col): _*).collect().map(_.toSeq).toSeq

  /** Every tier's living view and the stored fingerprint set. */
  private def views(st: Store) = Seq(
    rows(ext.Retrieval.postingsLiving(spark, s"${st.root}/post"),
      "doc_id", "term"),
    rows(ext.Similarity.ivfLivingIndex(spark, s"${st.root}/ivf"), "vec_id"),
    rows(ext.Similarity.pqCodesLiving(spark, s"${st.root}/pq"), "vec_id"),
    rows(ext.Similarity.knnGraphFromIndex(spark, s"${st.root}/knn"),
      "query_id", "rank"),
    rows(ext.Dedup.fpsRelation(spark, st.bloom).select("content_fp")
      .distinct(), "content_fp"))

  private lazy val twin = {
    val st = mk("pipe-twin")
    assert(st.p.ingest(b0) == 5L, "b0 admits 10, 11, 13, 14, 15")
    views(st)
  }

  // a crash point = the tier appends that landed before the crash; fps
  // never landed (they commit last)
  private val crashPoints: Seq[(String, Set[Int])] = Seq(
    "nothing" -> Set.empty[Int],
    "postings" -> Set(0), "ivf" -> Set(1), "pq" -> Set(2), "knn" -> Set(3),
    "all four tiers" -> Set(0, 1, 2, 3))

  for ((name, landed) <- crashPoints)
    test(s"crash table: $name landed, no fps; redelivery converges to the uncrashed twin") {
      val st = mk("pipe-crash")
      val admitted = st.p.indexed(b0)
      landed.toSeq.sorted.foreach(i => st.p.tiers(i).append(admitted))
      assert(st.p.ingest(b0) == 5L,
        "fps never landed, so the redelivered batch must be re-admitted")
      assert(views(st) == twin,
        s"crash after $name landed did not heal on redelivery")
    }

  test("crash table, negative control: fps committed FIRST, then the crash, loses the batch") {
    val st = mk("pipe-fps-first")
    ext.Dedup.ingestBloomBatch(b0, "text", st.bloom)
    assert(st.p.ingest(b0) == 0L,
      "the redelivered batch screens to empty against its own fps")
    val v = views(st)
    assert(v.last == twin.last, "the fps set itself is complete")
    val lost = Set(10L, 11L, 13L, 14L, 15L)
    assert(ext.Retrieval.postingsLiving(spark, s"${st.root}/post")
      .where($"doc_id".isin(lost.toSeq: _*)).isEmpty)
    assert(ext.Similarity.ivfLivingIndex(spark, s"${st.root}/ivf")
      .where($"vec_id".isin(lost.toSeq: _*)).isEmpty)
    assert(ext.Similarity.pqCodesLiving(spark, s"${st.root}/pq")
      .where($"vec_id".isin(lost.toSeq: _*)).isEmpty)
    assert(ext.Similarity.knnGraphFromIndex(spark, s"${st.root}/knn")
      .where($"query_id".isin(lost.toSeq: _*)).isEmpty)
    v.init.zip(twin.init).foreach { case (got, want) =>
      assert(got != want, "fps-first ordering lost the batch from a tier")
    }
  }

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Persisted RDDs beyond `before`, after a short settle (unpersist
    * drops the tracking entry synchronously; the retry is for safety). */
  private def leakedSince(before: Set[Int]): Set[Int] = {
    var leaked = persisted -- before
    var tries = 0
    while (leaked.nonEmpty && tries < 20) {
      Thread.sleep(100)
      leaked = persisted -- before
      tries += 1
    }
    leaked
  }

  test("ingest leaves no persisted RDD behind, fresh batch and full redelivery") {
    val st = mk("pipe-leak")
    val before = persisted
    assert(st.p.ingest(b0) == 5L)
    assert(leakedSince(before).isEmpty, "a fresh ingest leaked a cache")
    assert(st.p.ingest(b0) == 0L)
    assert(leakedSince(before).isEmpty, "a redelivered ingest leaked a cache")
    // the public screen verb too: its returned frame holds no cache
    ext.Dedup.dedupIncrementalBloomFromIndex(rec, "doc_id", "text", st.bloom)
      .collect()
    assert(leakedSince(before).isEmpty, "the bloom screen leaked a cache")
  }

  test("ingest action budget: fresh batch and full redelivery") {
    val st = mk("pipe-actions")
    val fresh = Trace.measure(spark)(st.p.ingest(b0))
    val redelivered = Trace.measure(spark)(st.p.ingest(b0))
    // fresh: the screen's filter read, the one freezing count, the
    // four tier appends (7 together), then the bloom ingest's filter
    // read, aggregate, filter write and fps segment write. Redelivered:
    // the filter read, the count, the bloom ingest's read and its
    // no-op aggregate — no append, no write.
    assert(fresh.actions.size <= 13, "\n" + fresh.render("fresh ingest"))
    assert(redelivered.actions.size <= 4,
      "\n" + redelivered.render("redelivered ingest"))
  }

  private def flatten(n: SparkPlan): Seq[SparkPlan] = n match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case o => o +: o.children.flatMap(flatten)
  }

  test("the bloom screen reads its batch once, with no cache") {
    val st = mk("pipe-scan")
    val batchDir = tmpDir("pipe-batch")
    rec.write.mode("overwrite").parquet(batchDir)
    val fresh = ext.Dedup.dedupIncrementalBloomFromIndex(
      spark.read.parquet(batchDir), "doc_id", "text", st.bloom)
    // collect THIS frame, so its adaptive plan is the final one
    assert(fresh.collect().map(_.getAs[Long]("doc_id")).toSet ==
      (10L until 16L).toSet, "the screen must admit exactly the new docs")
    val scans = flatten(fresh.queryExecution.executedPlan).count {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.toString.contains(batchDir))
      case _ => false
    }
    assert(scans == 1, s"the batch was scanned $scans times")
  }

  test("a default-size bloom screen prints its filter as a digest") {
    val bloom = tmpDir("pipe-bloom-default") + "/bloom"
    ext.Dedup.writeBloomIndex(rec.where($"doc_id" < 10), "text", bloom)
    val fresh = ext.Dedup.dedupIncrementalBloomFromIndex(rec, "doc_id",
      "text", bloom)
    assert(fresh.collect().map(_.getAs[Long]("doc_id")).toSet ==
      (10L until 16L).toSet, "the screen must admit exactly the new docs")
    // a binary Literal would print the 1 MiB filter as 2 MiB of hex
    val plan = fresh.queryExecution.toString
    assert(plan.length < 64 * 1024, s"the plan renders in ${plan.length} chars")
    assert(plan.contains("bloom(8388608 bits, "))
  }
}
