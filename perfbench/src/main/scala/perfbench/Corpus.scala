package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Par
import graft.ext.{Dedup, Retrieval, Similarity}

/** Shared corpus plumbing: the generated documents reach the engine only
  * as JSON-lines files, read with an explicit schema. */
object CorpusIO {
  val docSchema = "doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT, label INT, " +
    "embedding ARRAY<FLOAT>"

  def write(f: File, docs: Iterable[Gen.Doc]): Unit = Gen.writeLines(f, docs.iterator.map(Gen.docJson))

  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(docSchema).json(paths: _*)

  val curatedP = col("lang") =!= "zh" && col("n_chars") >= 100

  /** Exact expectations for a vector top-k answer: every neighbour is
    * living, not the query itself, and reports its exact cosine. */
  def checkNeighbours(kind: String, rows: Seq[(Long, Long, Double)],
                      living: collection.Map[Long, Gen.Doc]): Seq[String] =
    rows.flatMap { case (q, n, cos) =>
      living.get(n) match {
        case None => Seq(s"$kind: neighbour $n of $q is not living")
        case Some(d) =>
          val want = Gen.cosine(living(q).emb, d.emb)
          if (n == q) Seq(s"$kind: $q is its own neighbour")
          else if (math.abs(want - cos) > 1e-4 + 1e-9) Seq(s"$kind: cos($q,$n) = $cos, exact $want")
          else Nil
      }
    }

  /** Stored kNN graph against the engine's exact kNN over `docs`. */
  def checkKnn(spark: SparkSession, knnDir: String, docs: DataFrame): Seq[String] = {
    def rows(df: DataFrame) = df.select(col("query_id").cast("long"), col("rank").cast("long"),
      col("neighbor_id").cast("long"), col("cos").cast("double")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val got = rows(Similarity.knnGraphFromIndex(spark, knnDir))
    val want = rows(Similarity.knnGraphExact(docs, "doc_id", "embedding", k = 3))
    val bad = (got.keySet ++ want.keySet).count { k =>
      (got.get(k), want.get(k)) match {
        case (Some((a, x)), Some((b, y))) => a != b || math.abs(x - y) > 1e-4
        case _ => true
      }
    }
    if (bad == 0) Nil else Seq(s"kNN graph: $bad of ${want.size} (node, rank) entries differ")
  }

  /** Run independent checks on a small pool; all their problems, in order. */
  def concurrently(checks: Seq[() => Seq[String]]): Seq[String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs = checks.map(c => pool.submit(new java.util.concurrent.Callable[Seq[String]] {
        def call(): Seq[String] = c()
      }))
      fs.flatMap { f =>
        try f.get() catch {
          case e: java.util.concurrent.ExecutionException => Seq(s"a final check threw ${e.getCause}")
        }
      }
    } finally pool.shutdown()
  }

  def bm25Rows(df: DataFrame): Seq[(Int, Long, Long, Double)] =
    df.select(col("query_id").cast("int"), col("rk").cast("long"), col("doc_id").cast("long"),
      col("score").cast("double")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq.sorted

  def sameBm25(a: Seq[(Int, Long, Long, Double)], b: Seq[(Int, Long, Long, Double)]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x._1 == y._1 && x._2 == y._2 && x._3 == y._3 && math.abs(x._4 - y._4) <= 1e-9 * math.max(1, math.abs(y._4))
    }
}

/** Write path of the stored tiers: each operation is one micro-batch in
  * the decontaminated pipeline's order — content screen, curate,
  * decontaminate, four concurrent index appends, then the fingerprint
  * ingest. A takedown forgets from every index tier once the run is half
  * over, and a compaction of every tier ends the run. Set-up builds the
  * store and runs no warm-up batch: one cost 9–12 s, a tenth more than the
  * batch after it, so the first timed batch is the first after the build. */
final class CorpusIngest(seed: Long, tr: Tracer) extends Workload {
  val buildDocs = 1000
  val evalDocs = 40
  val batchDocs = 50
  /** Filter sized to the corpus (≥ 20 bits per stored fingerprint); the
    * engine's default of 2^23 bits is sized for 10^5–10^6 documents. */
  val bloomBits: Int = 1 << 16
  val unit = "docs"
  override def throughputIncludesMaintenance = true
  private val corpus = new Gen.Corpus(seed)
  private val evalSuite = corpus.evalSuite(evalDocs)
  private var spark: SparkSession = _
  private var dir: String = _
  private var state: Gen.CorpusState = _
  private var nextId = 0L
  private var expected = 0L
  private var lastN = -1L
  private var batchFile: String = _
  private def d(t: String) = s"$dir/store/$t"

  override def generate(dr: String): Unit = {
    state = new Gen.CorpusState(evalSuite)
    val build = corpus.build(buildDocs, evalSuite)
    state.applyBuild(build)
    nextId = buildDocs + 1L
    CorpusIO.write(new File(s"$dr/gen/build.json"), build)
    // the index tiers start from the docs the generator found curated and
    // clean; each timed batch goes through the engine's own gates
    CorpusIO.write(new File(s"$dr/gen/indexed.json"), state.living.values)
    Gen.writeLines(new File(s"$dr/gen/eval.json"), evalSuite.iterator.map { case (i, t) =>
      s"""{"doc_id":$i,"text":"$t"}""" })
  }

  def setup(s: SparkSession, dr: String): Unit = {
    spark = s; dir = dr
    val all = CorpusIO.read(spark, s"$dir/gen/build.json")
    val indexed = CorpusIO.read(spark, s"$dir/gen/indexed.json")
    Workload.step("build")(Par.concurrently(
      () => Dedup.writeContaminationIndex(
        spark.read.schema("doc_id BIGINT, text STRING").json(s"$dir/gen/eval.json"),
        "doc_id", "text", d("evalidx")),
      () => Dedup.writeBloomIndex(all, "text", d("dedup"), numBits = bloomBits),
      () => Retrieval.writePostingsIndex(indexed, "doc_id", "text", d("postings")),
      () => Similarity.writeIvfIndex(indexed, "doc_id", "embedding", "label", d("ivf")),
      () => Similarity.writePqIndex(indexed, "doc_id", "embedding", d("pq"), dims = 64,
        m = 4, ksub = 4, iters = 2),
      () => Similarity.writeKnnGraph(indexed, "doc_id", "embedding", d("knn"), k = 3)))
  }

  override def prepare(i: Int): Unit = {
    val docs = corpus.batch(i + 1, nextId, batchDocs, state.seenContent.toIndexedSeq, evalSuite)
    nextId += batchDocs
    expected = state.applyBatch(docs).length.toLong
    batchFile = f"$dir/gen/batch-${i + 1}%05d.json"
    CorpusIO.write(new File(batchFile), docs)
  }

  def op(i: Int): Long = {
    val b = CorpusIO.read(spark, batchFile)
    val fresh = tr.span("ext.Dedup.dedupIncrementalBloomFromIndex") {
      Dedup.dedupIncrementalBloomFromIndex(b, "doc_id", "text", d("dedup")).select("doc_id")
    }
    val adm0 = b.join(fresh, Seq("doc_id"), "left_semi").persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val admCur = adm0.where(CorpusIO.curatedP)
      val contaminated = tr.span("ext.Dedup.contaminationPairsFromIndex") {
        Dedup.contaminationPairsFromIndex(admCur, "doc_id", "text", d("evalidx"))
          .select("doc_id").distinct()
      }
      val cur = admCur.join(contaminated, Seq("doc_id"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val nCur = tr.span("corpus_ingest.screen")(cur.count())
        if (nCur > 0) tr.span("core.Par.concurrently") {
          Par.concurrently(
            () => tr.span("ext.Retrieval.appendToPostingsIndex")(
              Retrieval.appendToPostingsIndex(cur, "doc_id", "text", d("postings"))),
            () => tr.span("ext.Similarity.appendToIvfIndex")(
              Similarity.appendToIvfIndex(cur, "doc_id", "embedding", d("ivf"))),
            () => tr.span("ext.Similarity.appendToPqIndex")(
              Similarity.appendToPqIndex(cur, "doc_id", "embedding", d("pq"))),
            () => tr.span("ext.Similarity.ingestKnnBatch")(
              Similarity.ingestKnnBatch(cur, "doc_id", "embedding", d("knn"))))
        }
        tr.span("ext.Dedup.ingestBloomBatch")(Dedup.ingestBloomBatch(b, "text", d("dedup")))
        lastN = nCur
        nCur
      } finally cur.unpersist(blocking = false)
    } finally adm0.unpersist(blocking = false)
  }

  def checkOp(i: Int): Seq[String] =
    if (lastN == expected) Nil
    else Seq(s"ingest op $i: indexed $lastN docs, the generator admits $expected")

  override def midRun(): Unit = {
    val r = Gen.rng(seed, "takedown")
    val ids = state.living.keys.filter(_ => r.nextDouble() < 0.05).toSeq
    state.forget(ids)
    val s = spark
    import s.implicits._
    val takedown = ids.toDF("doc_id")
    tr.span("corpus_ingest.takedown")(Par.concurrently(
      () => tr.span("ext.Retrieval.forgetFromPostingsIndex")(
        Retrieval.forgetFromPostingsIndex(takedown, "doc_id", d("postings"))),
      () => tr.span("ext.Similarity.forgetFromIvfIndex")(
        Similarity.forgetFromIvfIndex(takedown, "doc_id", d("ivf"))),
      () => tr.span("ext.Similarity.forgetFromPqIndex")(
        Similarity.forgetFromPqIndex(takedown, "doc_id", d("pq"))),
      () => tr.span("ext.Similarity.forgetFromKnnGraph")(
        Similarity.forgetFromKnnGraph(takedown, "doc_id", d("knn")))))
  }

  override def finish(): Unit = tr.span("corpus_ingest.compact") {
    tr.span("ext.Retrieval.compactPostingsIndex")(Retrieval.compactPostingsIndex(spark, d("postings")))
    tr.span("ext.Similarity.compactIvfIndex")(Similarity.compactIvfIndex(spark, d("ivf")))
    tr.span("ext.Similarity.compactPqIndex")(Similarity.compactPqIndex(spark, d("pq")))
    tr.span("ext.Similarity.compactKnnGraph")(Similarity.compactKnnGraph(spark, d("knn")))
    tr.span("ext.Dedup.compactBloomIndex")(Dedup.compactBloomIndex(spark, d("dedup")))
  }

  def finalChecks(): Seq[String] = {
    val living = state.living
    val want = living.keySet.toSet
    def ids(df: DataFrame, c: String): Set[Long] =
      df.select(col(c).cast("long")).distinct().collect().map(_.getLong(0)).toSet
    def same(tier: String, got: Set[Long]): Seq[String] =
      if (got == want) Nil
      else Seq(s"$tier living ids: ${(got -- want).size} extra, ${(want -- got).size} missing")
    CorpusIO.write(new File(s"$dir/gen/living.json"), living.values.toSeq)
    val docs = CorpusIO.read(spark, s"$dir/gen/living.json")
    val qs = corpus.bm25Queries(8)
    val fetch = docs.select(col("doc_id").as("vec_id"), col("embedding").as("v"))
    val queries = docs.select(col("doc_id").as("vec_id"), col("embedding"))
      .orderBy("vec_id").limit(5)
    def nb(df: DataFrame) = df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
      col("cos").cast("double")).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // independent checks, run side by side: each is a handful of small jobs
    CorpusIO.concurrently(Seq(
      () => same("postings", ids(Retrieval.postingsLiving(spark, d("postings")), "doc_id")),
      () => same("ivf", ids(Similarity.ivfLivingIndex(spark, d("ivf")), "vec_id")),
      () => same("pq", ids(Similarity.pqCodesLiving(spark, d("pq")), "vec_id")),
      () => same("knn", ids(Similarity.knnGraphFromIndex(spark, d("knn")), "query_id")),
      () => {
        val fps = Dedup.fpsRelation(spark, d("dedup")).select("content_fp").distinct().count()
        if (fps == state.seenContent.size) Nil
        else Seq(s"dedup holds $fps fingerprints, ${state.seenContent.size} contents were seen")
      },
      () => if (CorpusIO.sameBm25(
          CorpusIO.bm25Rows(Retrieval.bm25TopKFromIndex(spark, qs, d("postings"))),
          CorpusIO.bm25Rows(Retrieval.bm25TopK(docs, "doc_id", "text", qs)))) Nil
        else Seq("BM25 after compaction differs from bm25TopK over the living docs"),
      () => CorpusIO.checkKnn(spark, d("knn"), docs),
      () => CorpusIO.checkNeighbours("ivf", nb(Similarity.ivfQuantizedTopKFromIndex(
        spark.read.parquet(s"${d("ivf")}/centroids"), Similarity.ivfLivingIndex(spark, d("ivf")),
        fetch, queries, "vec_id", "embedding", k = 10)), living),
      () => CorpusIO.checkNeighbours("pq", nb(Similarity.pqTopKFromIndex(spark, d("pq"), fetch,
        queries, "vec_id", "embedding", k = 10)), living)))
  }

  def storeRoots: Seq[String] = Seq(s"$dir/store")

  override def storeGauges(): Map[String, Double] =
    Seq("dedup", "postings", "ivf", "pq", "knn").flatMap { t =>
      val (b, f) = Workload.du(spark, d(t))
      Seq(s"store.$t.bytes" -> b.toDouble, s"store.$t.files" -> f.toDouble,
        s"store.$t.segments_since_compact" -> Workload.committed(spark, s"${d(t)}/segments").toDouble,
        s"store.$t.tombstone_files" -> Workload.du(spark, s"${d(t)}/tombstones")._2.toDouble)
    }.toMap + ("store.knn.versions" -> Workload.committed(spark, s"${d("knn")}/versions").toDouble)
}

/** Read path of the same tiers: each operation is one seeded query, from
  * a mix of BM25, IVF top-10, PQ top-10 and a kNN neighbour lookup, over a
  * store that setup left `appendsSinceCompact` appends past its build. */
final class CorpusQuery(seed: Long, tr: Tracer) extends Workload {
  val buildDocs = 1000
  val batchDocs = 50
  val appendsSinceCompact = 4
  val pool = 16
  val unit = "queries"
  private val corpus = new Gen.Corpus(seed)
  private var spark: SparkSession = _
  private var dir: String = _
  private var state: Gen.CorpusState = _
  private var bm25Want: Map[Int, Seq[(Int, Long, Long, Double)]] = Map.empty
  private var knnWant: Map[Long, Seq[(Long, Long, Double)]] = Map.empty
  private var vecQueries: IndexedSeq[Long] = IndexedSeq.empty
  private var last: Any = _
  private def d(t: String) = s"$dir/store/$t"
  private val kinds = Seq("bm25", "ivf", "pq", "knn")
  private def kind(i: Int): String = {
    // each block of four operations runs every kind once, in seeded order
    val r = Gen.rng(seed, "mix", i / 4)
    val k = kinds.toArray
    for (j <- k.indices.reverse) { val x = r.nextInt(j + 1); val t = k(j); k(j) = k(x); k(x) = t }
    k(i % 4)
  }
  private lazy val qs = corpus.bm25Queries(pool)
  private var docFiles = Seq.empty[String]
  private def primary = CorpusIO.read(spark, docFiles: _*)
    .select(col("doc_id").as("vec_id"), col("embedding"))

  def setup(s: SparkSession, dr: String): Unit = {
    spark = s; dir = dr
    state = new Gen.CorpusState(Array.empty)
    val build = corpus.build(buildDocs, Array((0L, "unused eval text")))
    state.applyBuild(build)
    CorpusIO.write(new File(s"$dir/gen/docs-00000.json"), build)
    docFiles = Seq(s"$dir/gen/docs-00000.json")
    val cur = CorpusIO.read(spark, s"$dir/gen/docs-00000.json").where(CorpusIO.curatedP)
    Workload.step("build")(Par.concurrently(
      () => Retrieval.writePostingsIndex(cur, "doc_id", "text", d("postings")),
      () => Similarity.writeIvfIndex(cur, "doc_id", "embedding", "label", d("ivf")),
      () => Similarity.writePqIndex(cur, "doc_id", "embedding", d("pq"), dims = 64,
        m = 4, ksub = 4, iters = 2),
      () => Similarity.writeKnnGraph(cur, "doc_id", "embedding", d("knn"), k = 3)))
    var nextId = buildDocs + 1L
    (1 to appendsSinceCompact).foreach { b =>
      val docs = corpus.batch(b, nextId, batchDocs, IndexedSeq.empty, Array((0L, "x y z")))
      nextId += batchDocs
      state.applyBatch(docs)
      CorpusIO.write(new File(f"$dir/gen/docs-$b%05d.json"), docs)
      docFiles :+= f"$dir/gen/docs-$b%05d.json"
      val c = CorpusIO.read(spark, f"$dir/gen/docs-$b%05d.json").where(CorpusIO.curatedP)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try Workload.step(s"append $b") {
        c.count()
        Par.concurrently(
          () => Retrieval.appendToPostingsIndex(c, "doc_id", "text", d("postings")),
          () => Similarity.appendToIvfIndex(c, "doc_id", "embedding", d("ivf")),
          () => Similarity.appendToPqIndex(c, "doc_id", "embedding", d("pq")),
          () => Similarity.ingestKnnBatch(c, "doc_id", "embedding", d("knn")))
      } finally c.unpersist(blocking = false)
    }
    // expectations, from the engine's inline paths over the generated docs
    CorpusIO.write(new File(s"$dir/gen/living.json"), state.living.values.toSeq)
    val docs = CorpusIO.read(spark, s"$dir/gen/living.json")
    Workload.step("expectations") {
      bm25Want = CorpusIO.bm25Rows(Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 10))
        .groupBy(_._1)
      knnWant = Similarity.knnGraphExact(docs, "doc_id", "embedding", k = 3)
        .select(col("query_id").cast("long"), col("rank").cast("long"),
          col("neighbor_id").cast("long"), col("cos").cast("double")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(x => (x._2, x._3, x._4)).sorted }
      val r = Gen.rng(seed, "vecq")
      val ids = state.living.keys.toIndexedSeq
      vecQueries = IndexedSeq.fill(pool)(ids(r.nextInt(ids.size)))
    }
    Workload.step("warm-up")((0 until 4).foreach(i => op(i))) // every kind once
  }

  private def param(i: Int): Int = Gen.rng(seed, "param", i).nextInt(pool)

  def op(i: Int): Long = {
    val p = param(i)
    last = kind(i) match {
      case "bm25" => tr.span("ext.Retrieval.bm25TopKFromIndex")(CorpusIO.bm25Rows(
        Retrieval.bm25TopKFromIndex(spark, Seq(qs(p)), d("postings"), k = 10)))
      case "ivf" => tr.span("ext.Similarity.ivfQuantizedTopKFromIndex")(neighbours(
        Similarity.ivfQuantizedTopKFromIndex(spark.read.parquet(s"${d("ivf")}/centroids"),
          Similarity.ivfLivingIndex(spark, d("ivf")), fetch, vq(p), "vec_id", "embedding",
          k = 10)))
      case "pq" => tr.span("ext.Similarity.pqTopKFromIndex")(neighbours(
        Similarity.pqTopKFromIndex(spark, d("pq"), fetch, vq(p), "vec_id", "embedding",
          k = 10)))
      case "knn" => tr.span("ext.Similarity.knnGraphFromIndex")(
        Similarity.knnGraphFromIndex(spark, d("knn")).where(col("query_id") === vecQueries(p))
          .select(col("rank").cast("long"), col("neighbor_id").cast("long"),
            col("cos").cast("double")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted)
    }
    1L
  }

  private def fetch = primary.select(col("vec_id"), col("embedding").as("v"))
  private def vq(p: Int) = primary.where(col("vec_id") === vecQueries(p))
  private def neighbours(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
      col("cos").cast("double")).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq

  def checkOp(i: Int): Seq[String] = {
    val p = param(i)
    kind(i) match {
      case "bm25" =>
        val got = last.asInstanceOf[Seq[(Int, Long, Long, Double)]]
        if (CorpusIO.sameBm25(got, bm25Want.getOrElse(p, Nil))) Nil
        else Seq(s"query op $i: BM25 answer differs")
      case "knn" =>
        val got = last.asInstanceOf[Seq[(Long, Long, Double)]]
        val want = knnWant.getOrElse(vecQueries(p), Nil)
        if (got.size == want.size && got.zip(want).forall { case (a, b) =>
              a._1 == b._1 && a._2 == b._2 && math.abs(a._3 - b._3) <= 1e-4 }) Nil
        else Seq(s"query op $i: kNN lookup differs")
      case k =>
        val got = last.asInstanceOf[Seq[(Long, Long, Double)]]
        if (got.size != 10) Seq(s"query op $i: $k returned ${got.size} neighbours")
        else CorpusIO.checkNeighbours(k, got, state.living)
    }
  }

  def finalChecks(): Seq[String] = Nil

  def storeRoots: Seq[String] = Seq(s"$dir/store")

  override def storeGauges(): Map[String, Double] =
    Seq("postings", "ivf", "pq", "knn").flatMap { t =>
      val (b, f) = Workload.du(spark, d(t))
      Seq(s"store.$t.bytes" -> b.toDouble, s"store.$t.files" -> f.toDouble,
        s"store.$t.segments_since_compact" -> Workload.committed(spark, s"${d(t)}/segments").toDouble)
    }.toMap + ("store.knn.versions" -> Workload.committed(spark, s"${d("knn")}/versions").toDouble)
}
