package graft

import org.apache.spark.sql.functions._
import graft.streaming.Pipeline.Tier

/** Round-15 pins — the round-14 directive + ADVICE set:
  *  - segmentsAsOf twin guard (ADVICE): a torn count-indexed artifact
  *    fails loudly at READ time too — commitIndexedSegment's own check
  *    only throws in the second committer's JVM, which may be a dead
  *    streaming query whose error nobody sees.
  *  - monotone batch ids on the windowed sketch stores (ADVICE): both
  *    stores answer as-of, and versions are the batch-id-sorted segment
  *    prefix — a late-arriving LOWER id would retroactively renumber
  *    every pin. Fresh out-of-order ids throw; redelivered and folded
  *    ids still no-op (the redelivery contract is untouched).
  *  - movers × lifecycle edges (verdict #5): movers across an expire
  *    boundary fail loudly (never fabricate zeros), pinned movers equal
  *    the pre-ingest report, folded pins fail loudly.
  *  - kNN ingest action budget (verdict #3): the guard probes, the
  *    emptiness check and the meta read ride ONE stats job — a fresh
  *    micro-batch executes ≤ 4 actions, a fully-redelivered one exactly
  *    the stats probe and writes no version.
  */
class Round15Spec extends SparkSpec {
  import spark.implicits._

  private def fuzzVecs(n: Int, dim: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map(i =>
      (i, Array.fill(dim)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }

  // ------------------------------------ segmentsAsOf read-side twin guard

  test("segmentsAsOf: a torn count-indexed artifact fails loudly at read time") {
    val root = tmpDir("torn-asof") + "/art"
    def write(tmp: String): Unit = Seq(1L).toDF("id").write.parquet(tmp)
    graft.core.Artifacts.commitIndexedSegment(spark, s"$root/segments", 0)(write)
    // the second committer's own check throws — but in ITS JVM; the torn
    // pair of committed seg_000000_* twins stays on disk
    intercept[java.io.IOException] {
      graft.core.Artifacts.commitIndexedSegment(spark, s"$root/segments", 0)(write)
    }
    val e = intercept[IllegalArgumentException] {
      graft.core.Artifacts.segmentsAsOf(spark, root, 1L)
    }
    assert(e.getMessage.contains("torn by concurrent appenders"))
    // batch-id-named segments (no seg_NNNNNN_uuid prefix pattern) are
    // exempt: their name IS the idempotence key
    val root2 = tmpDir("named-asof") + "/art"
    graft.core.Artifacts.stageCommit(spark, s"$root2/segments/seg_000000000005")(write)
    assert(graft.core.Artifacts.segmentsAsOf(spark, root2, 1L).size == 1)
  }

  // ------------------------------------ windowed stores: monotone ids

  test("windowed CMS: fresh out-of-order id throws; redelivery and folded ids no-op") {
    val dir = tmpDir("cms-mono") + "/sk"
    ext.Profile.writeWindowedCms(spark, dir, d = 2, w = 16)
    def batch(e: Long, ks: Seq[String]) = ks.map(k => (e, k)).toDF("epoch", "k0")
    ext.Profile.ingestWindowedCmsBatch(batch(0, Seq("a", "b")), $"k0", $"epoch", dir, 5L)
    val e = intercept[IllegalArgumentException] {
      ext.Profile.ingestWindowedCmsBatch(batch(0, Seq("c")), $"k0", $"epoch", dir, 3L)
    }
    assert(e.getMessage.contains("below the newest committed segment"))
    // redelivery of the SAME id stays a silent no-op
    ext.Profile.ingestWindowedCmsBatch(batch(0, Seq("zzz")), $"k0", $"epoch", dir, 5L)
    assert(graft.core.Artifacts
      .committedChildren(spark, s"$dir/segments").size == 1)
    // after an expire folds the segment, a pre-fold id no-ops off the
    // high-water BEFORE the monotone fence can object
    ext.Profile.expireWindowedCms(spark, dir, minEpoch = 0L)
    ext.Profile.ingestWindowedCmsBatch(batch(0, Seq("w")), $"k0", $"epoch", dir, 4L)
    assert(graft.core.Artifacts
      .committedChildren(spark, s"$dir/segments").isEmpty)
  }

  test("windowed HH: fresh out-of-order id throws; redelivery still no-ops") {
    val dir = tmpDir("hh-mono") + "/hh"
    ext.Profile.writeWindowedHh(spark, dir, k = 3)
    def batch(e: Long, ks: Seq[String]) = ks.map(k => (e, k)).toDF("epoch", "key0")
    ext.Profile.ingestWindowedHhBatch(batch(0, Seq("x", "x")), $"key0", $"epoch", dir, 2L)
    val e = intercept[IllegalArgumentException] {
      ext.Profile.ingestWindowedHhBatch(batch(0, Seq("y")), $"key0", $"epoch", dir, 1L)
    }
    assert(e.getMessage.contains("below the newest committed segment"))
    ext.Profile.ingestWindowedHhBatch(batch(0, Seq("zzz")), $"key0", $"epoch", dir, 2L)
    assert(graft.core.Artifacts
      .committedChildren(spark, s"$dir/segments").size == 1)
  }

  // ------------------------------------ movers × lifecycle (verdict #5)

  test("heavyMovers: pinned report equals pre-ingest; expired epoch and folded pin fail loudly") {
    val dir = tmpDir("mov-edges") + "/hh"
    ext.Profile.writeWindowedHh(spark, dir, k = 3)
    def batch(rows: Seq[(Long, String)]) = rows.toDF("epoch", "key0")
    val b0 = Seq.fill(5)((0L, "x")) :+ ((0L, "y"))
    val b1 = Seq.fill(4)((1L, "y")) :+ ((1L, "x"))
    ext.Profile.ingestWindowedHhBatch(batch(b0), $"key0", $"epoch", dir, 0L)
    ext.Profile.ingestWindowedHhBatch(batch(b1), $"key0", $"epoch", dir, 1L)
    val data01 = batch(b0 ++ b1)
    val before = ext.Profile.heavyMoversWindowed(data01, $"key0", $"epoch",
        dir, 0L, 1L)
      .orderBy("key").collect().map(_.toSeq).toSeq
    assert(before.nonEmpty, "fixture must produce movers")
    // a later batch adds mass to BOTH epochs the movers compare — the
    // axis independence that makes the pin meaningful (mov2's shape)
    ext.Profile.ingestWindowedHhBatch(
      batch(Seq.fill(4)((0L, "z")) ++ Seq.fill(4)((1L, "x"))),
      $"key0", $"epoch", dir, 2L)
    val pinned = ext.Profile.heavyMoversWindowed(data01, $"key0",
        $"epoch", dir, 0L, 1L, asOf = Some(2L))
      .orderBy("key").collect().map(_.toSeq).toSeq
    assert(pinned == before,
      "pinned movers must equal what the store said before the ingest")
    // expire epoch 0: movers across the boundary are unanswerable — loud
    ext.Profile.expireWindowedHh(spark, dir, minEpoch = 1L)
    val gone = intercept[IllegalArgumentException] {
      ext.Profile.heavyMoversWindowed(data01, $"key0", $"epoch", dir, 0L, 1L)
        .collect()
    }
    assert(gone.getMessage.contains("no living cells"))
    // and the pre-expire pin was folded away — loud, not silently head
    val folded = intercept[IllegalArgumentException] {
      ext.Profile.heavyMoversWindowed(data01, $"key0", $"epoch", dir,
        0L, 1L, asOf = Some(2L)).collect()
    }
    assert(folded.getMessage.contains("folded"))
  }

  // ------------------------------------ kNN ingest action budget

  test("ingestKnnBatch: fresh batch ≤ 2 actions; redelivery = 1 probe, no version") {
    val vecs = fuzzVecs(30, 4, seed = 21)
    val dir = tmpDir("knn-jobs") + "/g"
    ext.Similarity.writeKnnGraph(vecs.where($"vec_id" < 20),
      "vec_id", "embedding", dir, k = 3)
    val fresh = Trace.measure(spark)(ext.Similarity.ingestKnnBatch(
      vecs.where($"vec_id" >= 20), "vec_id", "embedding", dir))
    assert(fresh.actions.size <= 2,
      s"fresh kNN ingest ran ${fresh.actions.size} actions — the budget is " +
        "the stats job plus ONE combined version write (r17: graph + " +
        "vector copy + meta ride one kind-partitioned data relation)\n" +
        fresh.render("fresh kNN ingest"))
    val versionsAfter = new java.io.File(s"$dir/versions").listFiles()
      .count(f => !f.getName.endsWith("__tmp"))
    // full redelivery: exactly the stats probe, no new version
    val redelivered = Trace.measure(spark)(ext.Similarity.ingestKnnBatch(
      vecs.where($"vec_id" >= 20), "vec_id", "embedding", dir))
    assert(redelivered.actions.size <= 1,
      s"redelivered kNN ingest ran ${redelivered.actions.size} actions — " +
        "it must no-op off the single stats probe\n" +
        redelivered.render("redelivered kNN ingest"))
    assert(new java.io.File(s"$dir/versions").listFiles()
      .count(f => !f.getName.endsWith("__tmp")) == versionsAfter,
      "a redelivered batch must not write a version")
    // and the consolidated path answers identically to from-scratch
    val got = ext.Similarity.knnGraphFromIndex(spark, dir)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val want = ext.Similarity.knnGraphExact(vecs, "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(got == want, "consolidated ingest must still equal from-scratch")
  }

  // ------------------------------------ pipe2s composition seams

  private def pipeDocs(seed: Int, n: Int) = {
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map(i =>
        (i, s"unique document text body number$i tail",
          Array.fill(4)(rnd.nextDouble() * 2 - 1)))
      .toDF("doc_id", "text", "embedding")
      .withColumn("label", (col("doc_id") % 2).cast("int"))
  }

  /** The pipe2s foreachBatch body — graft.streaming.Pipeline.ingest with
    * pipe2s's screen, gate and four tiers (the fixtures carry no
    * lang/n_chars, so curation admits every row). Shared by both pins. */
  private def deconIngest(b: org.apache.spark.sql.DataFrame,
                          ed: String, bl: String, po: String, iv: String,
                          pq: String, kn: String): Unit =
    graft.streaming.Pipeline(Some(bl), lit(true), Some(ed),
      Seq(Tier.postings(po), Tier.ivf(iv),
        Tier.pq(pq, dims = 4, m = 2, ksub = 2, iters = 2),
        Tier.knn(kn, k = 3))).ingest(b)

  private def mkPipe(root: String, rec: org.apache.spark.sql.DataFrame,
                     evalDocs: org.apache.spark.sql.DataFrame)
      : (String, String, String, String, String, String) = {
    val dirs = (s"$root/eval", s"$root/bloom", s"$root/post", s"$root/ivf",
      s"$root/pq", s"$root/knn")
    ext.Dedup.writeContaminationIndex(evalDocs, "doc_id", "text", dirs._1)
    val build = rec.where($"doc_id" < 10)
    ext.Dedup.writeBloomIndex(build, "text", dirs._2, numBits = 1 << 15)
    val clean = build.join(
      ext.Dedup.contaminationPairsFromIndex(build, "doc_id", "text", dirs._1)
        .select("doc_id").distinct(), Seq("doc_id"), "left_anti")
    ext.Retrieval.writePostingsIndex(clean, "doc_id", "text", dirs._3)
    ext.Similarity.writeIvfIndex(clean, "doc_id", "embedding", "label",
      dirs._4)
    ext.Similarity.writePqIndex(clean, "doc_id", "embedding", dirs._5,
      dims = 4, m = 2, ksub = 2, iters = 2)
    ext.Similarity.writeKnnGraph(clean, "doc_id", "embedding", dirs._6,
      k = 3)
    dirs
  }

  test("decon pipeline: quarantined docs reach NO artifact version; redelivery writes nothing; PQ composes") {
    val rec = pipeDocs(seed = 61, n = 20)
    // eval suite contaminates build doc 3 and streamed docs 12, 17
    // (verbatim copies — shingle J = 1 vs the source, 0.5 vs the rest of
    // this fixture's shared-prefix texts, below the 0.7 bar)
    val ev = rec.where($"doc_id".isin(3L, 12L, 17L))
      .select(($"doc_id" + 1000L).as("doc_id"), $"text")
    val dirs = mkPipe(tmpDir("pipe2-seam"), rec, ev)
    val (ed, bl, po, iv, pq, kn) = dirs
    // build quarantine: doc 3 is in the bloom archive but no index tier
    assert(ext.Retrieval.postingsLiving(spark, po)
      .where($"doc_id" === 3L).isEmpty, "contaminated build doc in postings")
    assert(ext.Similarity.pqCodesLiving(spark, pq)
      .where($"vec_id" === 3L).isEmpty, "contaminated build doc in PQ")
    val b0 = rec.where($"doc_id" >= 10 && $"doc_id" < 15) // 12 contaminated
    deconIngest(b0, ed, bl, po, iv, pq, kn)
    def counts() = (
      graft.core.Artifacts.committedChildren(spark, s"$bl/segments").size,
      graft.core.Artifacts.committedChildren(spark, s"$po/segments").size,
      graft.core.Artifacts.committedChildren(spark, s"$iv/segments").size,
      graft.core.Artifacts.committedChildren(spark, s"$pq/segments").size,
      new java.io.File(s"$kn/versions").listFiles()
        .count(f => !f.getName.endsWith("__tmp")))
    val c1 = counts()
    // the quarantined doc is in NO tier — and because the gate ran
    // BEFORE the appends, no version ever contained it
    assert(ext.Retrieval.postingsLiving(spark, po)
      .where($"doc_id" === 12L).isEmpty, "quarantined doc in postings")
    assert(ext.Similarity.ivfLivingIndex(spark, iv)
      .where($"vec_id" === 12L).isEmpty, "quarantined doc in IVF")
    assert(ext.Similarity.pqCodesRelation(spark, pq)
      .where($"vec_id" === 12L).isEmpty, "quarantined doc in PQ codes")
    assert(ext.Similarity.knnGraphFromIndex(spark, kn)
      .where($"query_id" === 12L).isEmpty, "quarantined doc in kNN graph")
    // full redelivery + planted content dups + the quarantined doc again:
    // no tier writes a segment or version (content screen stops the dups
    // and the redelivered docs; the gate re-quarantines 12 BEFORE its
    // appends could even see it)
    deconIngest(b0.unionByName(b0.select(($"doc_id" + 100L).as("doc_id"),
      $"text", $"embedding", $"label")), ed, bl, po, iv, pq, kn)
    assert(counts() == c1,
      "redelivery + planted dups must write no segment/version anywhere")
    // takedown mid-stream, then b2 (contains contaminated 17) appends
    // after the forget on every tier including PQ
    val doomed = rec.where($"doc_id" === 5L).select("doc_id")
    ext.Retrieval.forgetFromPostingsIndex(doomed, "doc_id", po)
    ext.Similarity.forgetFromIvfIndex(doomed, "doc_id", iv)
    ext.Similarity.forgetFromPqIndex(doomed, "doc_id", pq)
    ext.Similarity.forgetFromKnnGraph(doomed, "doc_id", kn)
    deconIngest(rec.where($"doc_id" >= 15), ed, bl, po, iv, pq, kn)
    assert(ext.Similarity.pqCodesLiving(spark, pq)
      .where($"vec_id".isin(5L, 17L)).isEmpty,
      "takedown or quarantine leaked into the PQ living view")
    // final population composes exactly on the graph tier
    val pop = rec.where(!$"doc_id".isin(3L, 5L, 12L, 17L))
    val want = ext.Similarity.knnGraphExact(pop, "doc_id", "embedding",
        k = 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val got = ext.Similarity.knnGraphFromIndex(spark, kn)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(got == want,
      "decon build → gated appends → takedown → more gated appends must " +
        "compose to the from-scratch graph over the clean population")
  }

  test("decon pipeline: pinned reads align across tiers INCLUDING PQ (twin equality)") {
    // Round14Spec's pin-alignment property extended to the PQ tier: MAIN
    // processes b0, a full redelivery, a takedown and b2; TWIN stops
    // after b0 + takedown. Pinned at version 1 (build + b0), PQ and kNN
    // answers must match — any version skew from the redelivery or any
    // post-pin leak breaks the equality.
    val rec = pipeDocs(seed = 67, n = 20)
    val ev = rec.where($"doc_id" === 12L)
      .select(($"doc_id" + 1000L).as("doc_id"), $"text")
    def run(root: String, full: Boolean) = {
      val dirs = mkPipe(root, rec, ev)
      val (ed, bl, po, iv, pq, kn) = dirs
      val b0 = rec.where($"doc_id" >= 10 && $"doc_id" < 15)
      deconIngest(b0, ed, bl, po, iv, pq, kn)
      if (full) deconIngest(b0, ed, bl, po, iv, pq, kn) // redelivery
      val doomed = rec.where($"doc_id" === 5L).select("doc_id")
      ext.Retrieval.forgetFromPostingsIndex(doomed, "doc_id", po)
      ext.Similarity.forgetFromIvfIndex(doomed, "doc_id", iv)
      ext.Similarity.forgetFromPqIndex(doomed, "doc_id", pq)
      ext.Similarity.forgetFromKnnGraph(doomed, "doc_id", kn)
      if (full) deconIngest(rec.where($"doc_id" >= 15), ed, bl, po, iv,
        pq, kn)
      dirs
    }
    val main = run(tmpDir("pipe2-pin") + "/main", full = true)
    val twin = run(tmpDir("pipe2-pin") + "/twin", full = false)
    def pqPin(d: (String, String, String, String, String, String)) =
      ext.Similarity.pqTopKFromIndex(spark, d._5,
          rec.select($"doc_id".as("vec_id"), $"embedding".as("v")),
          rec.where($"doc_id" < 2), "doc_id", "embedding",
          asOf = Some(1L), k = 3, shortlist = 10)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    def knnPin(d: (String, String, String, String, String, String)) =
      ext.Similarity.knnGraphFromIndex(spark, d._6, Some(1L))
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(pqPin(main) == pqPin(twin),
      "PQ pin leaked post-pin state or skewed versions")
    assert(knnPin(main) == knnPin(twin),
      "kNN pin leaked post-pin state or skewed versions")
    assert(pqPin(main).nonEmpty && knnPin(main).nonEmpty)
  }

  // ------------------------------------ decon tier: retire/compact/as-of

  test("contamination index: retire+compact preserve the living view; folded pin fails; re-add needs compact") {
    val docs = (0L until 12L)
      .map(i => (i, s"eval fixture document body number$i end"))
      .toDF("doc_id", "text")
    val ev0 = docs.where($"doc_id" < 3)
      .select(($"doc_id" + 100L).as("doc_id"), $"text")
    val ev1 = docs.where($"doc_id" >= 3 && $"doc_id" < 5)
      .select(($"doc_id" + 100L).as("doc_id"), $"text")
    val dir = tmpDir("cc5-spec") + "/evalidx"
    ext.Dedup.writeContaminationIndex(ev0, "doc_id", "text", dir)
    ext.Dedup.appendToContaminationIndex(ev1, "doc_id", "text", dir)
    // retire eval task 103 (the copy of doc 3)
    ext.Dedup.forgetFromContaminationIndex(
      ev1.where($"doc_id" === 103L).select($"doc_id".as("eval_id")),
      "eval_id", dir)
    def probe() = ext.Dedup
      .contaminationPairsFromIndex(docs, "doc_id", "text", dir)
      .orderBy("doc_id", "eval_id").collect().map(_.toSeq).toSeq
    val before = probe()
    assert(!before.exists(_(1) == 103L), "retired task still flags")
    assert(before.exists(_(1) == 104L), "living wave-2 task must flag")
    ext.Dedup.compactContaminationIndex(spark, dir)
    assert(probe() == before,
      "compact must preserve the living view exactly")
    assert(graft.core.Artifacts.asOfFloor(spark, dir) == 1L,
      "compact must advance the floor by the segments folded")
    intercept[IllegalArgumentException] {
      ext.Dedup.contaminationPairsFromIndex(docs, "doc_id", "text",
        dir, asOf = Some(0L)).collect()
    }
    // the compact cleared the tombstone: re-appending the retired task
    // lands (the shared re-add-needs-compact caveat, positive side)
    ext.Dedup.appendToContaminationIndex(
      ev1.where($"doc_id" === 103L), "doc_id", "text", dir)
    assert(probe().exists(_(1) == 103L),
      "post-compact re-append of a retired task must land and flag")
  }

  // ------------------------------------ bpe as-of edges

  test("bpe as-of: pin equals the shorter tokenizer; beyond-head pin fails loudly") {
    val docs = (0L until 30L)
      .map(i => (i, s"alpha beta gamma delta w$i alpha beta"))
      .toDF("doc_id", "text")
    val dir = tmpDir("bpe6-spec") + "/vocab"
    ext.TextAnalysis.writeBpeVocab(docs, "text", dir, rounds = 2)
    val want2 = ext.TextAnalysis
      .bpeSegmentCountsFromVocab(spark, dir, docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    ext.TextAnalysis.extendBpeVocab(spark, dir, extraRounds = 1)
    val pinned = ext.TextAnalysis
      .bpeSegmentCountsFromVocab(spark, dir, docs, "doc_id", "text",
        asOf = Some(2))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(pinned == want2,
      "the pinned version-2 tokenizer must segment as the 2-round build did")
    val head = ext.TextAnalysis
      .bpeSegmentCountsFromVocab(spark, dir, docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(head != pinned,
      "fixture must make the extension round visible at head")
    intercept[IllegalArgumentException] {
      ext.TextAnalysis.bpeSegmentCountsFromVocab(spark, dir, docs,
        "doc_id", "text", asOf = Some(4))
    }
  }

  // ------------------------------------ probe-model registry edges

  test("probe model: extend ≡ continuous trajectory row-for-row; pin edges fail loudly") {
    val rnd = new scala.util.Random(73)
    val f = (0L until 200L).map { i =>
      val x1 = rnd.nextInt(50).toLong; val x2 = rnd.nextInt(50).toLong
      val x3 = rnd.nextInt(50).toLong
      (i, 1L, x1, x2, x3, 2 * x1 + 3 * x2 - x3 + 7)
    }.toDF("doc_id", "x0", "x1", "x2", "x3", "y")
    val fx = Seq(col("x0"), col("x1"), col("x2"), col("x3"))
    val continuous = ext.Fit.linearProbeGd(f, fx, col("y"), iters = 4)
      .orderBy("iter").collect().map(_.toSeq).toSeq
    val dir = tmpDir("fit-reg") + "/model"
    ext.Fit.writeProbeModel(f, fx, col("y"), iters = 2, dir)
    ext.Fit.extendProbeModel(spark, dir, f, fx, col("y"), extraIters = 2)
    val stored = spark.read.parquet(s"$dir/weights")
      .orderBy("iter").collect().map(_.toSeq).toSeq
    assert(stored == continuous,
      "extend-from-stored-state must replay the continuous trajectory " +
        "bit for bit (GD is Markovian in the weights)")
    assert(ext.Fit.probeWeights(spark, dir) ==
      ext.Fit.probeWeights(spark, dir, asOf = Some(4L)),
      "head read must equal the explicit head pin")
    intercept[IllegalArgumentException] {
      ext.Fit.probeWeights(spark, dir, asOf = Some(9L))
    }
    intercept[IllegalArgumentException] {
      ext.Fit.probeWeights(spark, dir, asOf = Some(0L))
    }
  }

  // ------------------------------------ CDC matview delete verb (mv4)

  test("CDC matview: delete physically absent; retry idempotent; pre-delete pin answers") {
    val base = (0L until 10L).map(i => (i, s"val$i")).toDF("k", "v0")
    val root = tmpDir("mv4-spec") + "/snap"
    graft.streaming.Ingest.upsertMatviewBatch(base, Seq("k"), root, id = 0L)
    val cdc = Seq((3L, "ignored", 1L, "D"), (5L, "updated", 1L, "U"))
      .toDF("k", "v0", "seq", "op")
    graft.streaming.Ingest.applyCdcMatviewBatch(cdc, Seq("k"), "seq", "op",
      root, id = 1L)
    def view() = graft.streaming.Ingest.latestSnapshot(spark, root)
      .orderBy("k").collect().map(_.toSeq).toSeq
    val after = view()
    assert(!after.exists(_.head == 3L), "deleted key still visible")
    assert(after.find(_.head == 5L).get(1) == "updated")
    assert(after.size == 9)
    // the pre-delete pin still answers with the deleted key — versions
    // are immutable snapshots (the mv3 contract, now spanning deletes)
    val pinned = graft.streaming.Ingest.asOfSnapshot(spark, root, asOf = 0L)
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(pinned.exists(_.head == 3L) && pinned.size == 10,
      "the version-0 pin must still show the later-deleted key")
    // retry of the SAME batch id: idempotent overwrite, view unchanged
    graft.streaming.Ingest.applyCdcMatviewBatch(cdc, Seq("k"), "seq", "op",
      root, id = 1L)
    assert(view() == after, "a retried CDC batch must rebuild the same state")
    // compaction folds history view-invariantly; the folded pin fails
    graft.streaming.Ingest.compactMatview(spark, root)
    assert(view() == after, "compact must not change the living view")
    intercept[IllegalArgumentException] {
      graft.streaming.Ingest.asOfSnapshot(spark, root, asOf = 0L).collect()
    }
  }
}
