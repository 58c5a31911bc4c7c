package graft

import scala.collection.mutable

import org.apache.spark.sql.functions._

/** Action budgets of the stored-tier verbs `corpus_ingest` drives, on
  * PipelineSpec's fixture shape: a bloom screen, an eval gate, and the
  * postings, IVF, PQ and kNN tiers. One scenario walks the verbs in the
  * ingest's order — every build, every append, the two screens and the
  * postings, IVF, PQ and kNN reads (their frames collected), a forget of
  * one base and one appended id from every tombstoned tier, every
  * compact — and [[Trace]] measures each verb. One row per verb asserts
  * its action count against the count the verb ran when its row was
  * written (the most over three runs). Actions are asserted because AQE
  * does not move them; the job count is reported beside it and does
  * move with AQE. */
class TierBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val rec = {
    val rnd = new scala.util.Random(71)
    (0L until 16L).map(i =>
        (i, s"unique document text body number$i tail",
          Array.fill(4)(rnd.nextDouble() * 2 - 1)))
      .toDF("doc_id", "text", "embedding")
      .withColumn("label", (col("doc_id") % 2).cast("int"))
  }

  private val budgets: Seq[(String, Int)] = Seq(
    "writeContaminationIndex" -> 1,
    "writeBloomIndex" -> 3,
    "writePostingsIndex" -> 3,
    "writeIvfIndex" -> 2,
    "writePqIndex" -> 5,
    "writeKnnGraph" -> 1,
    "appendToContaminationIndex" -> 2,
    "appendToBloomIndex" -> 4,
    "ingestBloomBatch" -> 4,
    "appendToPostingsIndex" -> 1,
    "appendToIvfIndex" -> 1,
    "appendToPqIndex" -> 2,
    "appendToKnnGraph" -> 2,
    "ingestKnnBatch" -> 2,
    "dedupIncrementalBloomFromIndex" -> 2,
    "contaminationPairsFromIndex" -> 1,
    "bm25TopKFromIndex" -> 2,
    "bm25TopKFromIndex(asOf = 1)" -> 2,
    "knnGraphFromIndex" -> 2,
    "ivfQuantizedTopKFromIndex" -> 2,
    "pqTopKFromIndex" -> 2,
    "forgetFromContaminationIndex" -> 1,
    "forgetFromPostingsIndex" -> 1,
    "forgetFromIvfIndex" -> 1,
    "forgetFromPqIndex" -> 1,
    "forgetFromKnnGraph" -> 3,
    "compactContaminationIndex" -> 2,
    "compactBloomIndex" -> 1,
    "compactPostingsIndex" -> 4,
    "compactIvfIndex" -> 2,
    "compactPqIndex" -> 2,
    "compactKnnGraph" -> 1)

  private lazy val traced: Map[String, Trace.Report] = {
    val root = tmpDir("tier-budget")
    val (eval, bloom, post, ivf, pq, knn) = (s"$root/eval", s"$root/bloom",
      s"$root/post", s"$root/ivf", s"$root/pq", s"$root/knn")
    val out = mutable.LinkedHashMap.empty[String, Trace.Report]
    def step(verb: String)(body: => Any): Unit =
      out(verb) = Trace.measure(spark)(body)
    val build = rec.where($"doc_id" < 10)
    val (b1, b2) = (rec.where($"doc_id".between(10, 12)),
      rec.where($"doc_id" >= 13))
    val batch = rec.where($"doc_id" >= 10)
    def evalWave(ids: Long*) = rec.where($"doc_id".isin(ids: _*))
      .select(($"doc_id" + 1000L).as("doc_id"), $"text")
    val forgotten = Seq(2L, 11L).toDF("doc_id")

    step("writeContaminationIndex")(
      ext.Dedup.writeContaminationIndex(evalWave(3L, 12L), "doc_id", "text", eval))
    step("writeBloomIndex")(
      ext.Dedup.writeBloomIndex(build, "text", bloom, numBits = 1 << 15))
    step("writePostingsIndex")(
      ext.Retrieval.writePostingsIndex(build, "doc_id", "text", post))
    step("writeIvfIndex")(
      ext.Similarity.writeIvfIndex(build, "doc_id", "embedding", "label", ivf))
    step("writePqIndex")(ext.Similarity.writePqIndex(build, "doc_id",
      "embedding", pq, dims = 4, m = 2, ksub = 2, iters = 2))
    step("writeKnnGraph")(
      ext.Similarity.writeKnnGraph(build, "doc_id", "embedding", knn, k = 3))

    step("appendToContaminationIndex")(ext.Dedup.appendToContaminationIndex(
      evalWave(5L), "doc_id", "text", eval))
    step("appendToBloomIndex")(ext.Dedup.appendToBloomIndex(b1, "text", bloom))
    step("ingestBloomBatch")(ext.Dedup.ingestBloomBatch(b2, "text", bloom))
    step("appendToPostingsIndex")(
      ext.Retrieval.appendToPostingsIndex(batch, "doc_id", "text", post))
    step("appendToIvfIndex")(
      ext.Similarity.appendToIvfIndex(batch, "doc_id", "embedding", ivf))
    step("appendToPqIndex")(
      ext.Similarity.appendToPqIndex(batch, "doc_id", "embedding", pq))
    step("appendToKnnGraph")(
      ext.Similarity.appendToKnnGraph(b1, "doc_id", "embedding", knn))
    step("ingestKnnBatch")(
      ext.Similarity.ingestKnnBatch(b2, "doc_id", "embedding", knn))

    step("dedupIncrementalBloomFromIndex")(ext.Dedup
      .dedupIncrementalBloomFromIndex(rec, "doc_id", "text", bloom).collect())
    step("contaminationPairsFromIndex")(ext.Dedup
      .contaminationPairsFromIndex(rec, "doc_id", "text", eval).collect())
    val queries = Seq(0 -> Seq("unique", "tail"), 1 -> Seq("number3", "body"))
    step("bm25TopKFromIndex")(
      ext.Retrieval.bm25TopKFromIndex(spark, queries, post).collect())
    step("bm25TopKFromIndex(asOf = 1)")(ext.Retrieval.bm25TopKFromIndex(
      spark, queries, post, asOf = Some(1L)).collect())
    step("knnGraphFromIndex")(
      ext.Similarity.knnGraphFromIndex(spark, knn).collect())
    val fetch = rec.select($"doc_id".as("vec_id"), $"embedding".as("v"))
    val vq = rec.where($"doc_id" < 2)
    step("ivfQuantizedTopKFromIndex")(ext.Similarity.ivfQuantizedTopKFromIndex(
      spark.read.parquet(s"$ivf/centroids"), ext.Similarity.ivfLivingIndex(spark, ivf),
      fetch, vq, "doc_id", "embedding", k = 3).collect())
    step("pqTopKFromIndex")(ext.Similarity.pqTopKFromIndex(spark, pq, fetch, vq,
      "doc_id", "embedding", k = 3).collect())

    step("forgetFromContaminationIndex")(ext.Dedup.forgetFromContaminationIndex(
      Seq(1003L).toDF("eval_id"), "eval_id", eval))
    step("forgetFromPostingsIndex")(
      ext.Retrieval.forgetFromPostingsIndex(forgotten, "doc_id", post))
    step("forgetFromIvfIndex")(
      ext.Similarity.forgetFromIvfIndex(forgotten, "doc_id", ivf))
    step("forgetFromPqIndex")(
      ext.Similarity.forgetFromPqIndex(forgotten, "doc_id", pq))
    step("forgetFromKnnGraph")(
      ext.Similarity.forgetFromKnnGraph(forgotten, "doc_id", knn))

    step("compactContaminationIndex")(ext.Dedup.compactContaminationIndex(spark, eval))
    step("compactBloomIndex")(ext.Dedup.compactBloomIndex(spark, bloom))
    step("compactPostingsIndex")(ext.Retrieval.compactPostingsIndex(spark, post))
    step("compactIvfIndex")(ext.Similarity.compactIvfIndex(spark, ivf))
    step("compactPqIndex")(ext.Similarity.compactPqIndex(spark, pq))
    step("compactKnnGraph")(ext.Similarity.compactKnnGraph(spark, knn))
    out.toMap
  }

  test("the table has one row per traced verb") {
    assert(budgets.map(_._1).toSet == traced.keySet)
  }

  for ((verb, budget) <- budgets)
    test(s"$verb stays within its action budget") {
      val r = traced(verb)
      info(s"${r.actions.size} actions, ${r.jobs} jobs")
      assert(r.actions.size <= budget, "\n" + r.render(verb))
    }
}
