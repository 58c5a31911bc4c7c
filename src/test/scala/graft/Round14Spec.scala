package graft

import org.apache.spark.sql.functions._
import graft.streaming.Pipeline.Tier

/** Round-14 pins — the round-13 directive set:
  *  - commitIndexedSegment (verdict #6): the single-writer assumption of
  *    count-indexed segment ids is now VERIFIED after every commit at the
  *    shared Artifacts seam — a same-index twin fails loudly instead of
  *    scrambling as-of version order forever.
  *  - writeBloomIndex atomic rebuild (round-13 ADVICE): the whole rebuilt
  *    root (fps + bloom, no segments, no floor) publishes in ONE checked
  *    swap — no crash point shows old fps without their segments or new
  *    fps under the old bloom.
  *  - windowed sketch as-of (verdict #3): cms4/hh3 pin a version, later
  *    ingests stay invisible to the pin, expire advances the floor
  *    atomically with the fold, folded pins fail loudly.
  *  - del3s (verdict #1): a takedown stream into the kNN tier is
  *    VERSION-idempotent under full-overlap redelivery — the repair's
  *    no-op rule, pinned on version counts.
  *  - heavyHittersWindowed (round-13 ADVICE): candidates are
  *    driver-materialized before the cell cache releases, so the returned
  *    plan never re-reads the segments.
  *  - kcenterGonzalez (round-13 ADVICE): superseded round checkpoints
  *    release eagerly — no persisted blocks survive the call.
  */
class Round14Spec extends SparkSpec {
  import spark.implicits._

  private def fuzzVecs(n: Int, dim: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map(i =>
      (i, Array.fill(dim)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }

  // ------------------------------------ Artifacts.commitIndexedSegment

  test("commitIndexedSegment: a same-index twin fails loudly after commit") {
    val root = tmpDir("cis-spec") + "/art/segments"
    def write(tmp: String): Unit =
      Seq((1L, "a")).toDF("id", "v").write.parquet(tmp)
    graft.core.Artifacts.commitIndexedSegment(spark, root, 0)(write)
    val e = intercept[java.io.IOException] {
      graft.core.Artifacts.commitIndexedSegment(spark, root, 0)(write)
    }
    assert(e.getMessage.contains("concurrent appenders"))
    // the torn state stays visible for the operator to resolve
    assert(graft.core.Artifacts.committedChildren(spark, root).size == 2)
  }

  test("commitIndexedSegment: distinct indexes commit cleanly in order") {
    val root = tmpDir("cis-ok") + "/art/segments"
    def write(tmp: String): Unit = Seq(1L).toDF("id").write.parquet(tmp)
    graft.core.Artifacts.commitIndexedSegment(spark, root, 0)(write)
    graft.core.Artifacts.commitIndexedSegment(spark, root, 1)(write)
    assert(graft.core.Artifacts.committedChildren(spark, root).size == 2)
  }

  // ------------------------------------ writeBloomIndex atomic rebuild

  test("writeBloomIndex rebuild: one swap resets segments + floor; store answers consistently") {
    val docs = (0L until 40L).map(i => (i, s"document body number $i"))
      .toDF("doc_id", "text")
    val dir = tmpDir("bloom-rebuild") + "/idx"
    ext.Dedup.writeBloomIndex(docs.where($"doc_id" < 10), "text", dir,
      numBits = 1 << 15)
    ext.Dedup.appendToBloomIndex(
      docs.where($"doc_id" >= 10 && $"doc_id" < 20), "text", dir)
    assert(graft.core.Artifacts
      .committedChildren(spark, s"$dir/segments").nonEmpty)
    // full rebuild over a DIFFERENT population: supersedes the appended
    // segments and resets version history, all in one whole-root swap
    ext.Dedup.writeBloomIndex(docs.where($"doc_id" < 30), "text", dir,
      numBits = 1 << 15)
    assert(graft.core.Artifacts
      .committedChildren(spark, s"$dir/segments").isEmpty,
      "a rebuild supersedes previously appended segments")
    assert(graft.core.Artifacts.asOfFloor(spark, dir) == 0L,
      "a rebuild resets version history")
    val out = ext.Dedup
      .dedupIncrementalBloomFromIndex(docs, "doc_id", "text", dir)
      .select("doc_id").as[Long].collect().toSet
    assert(out == (30L until 40L).toSet,
      "post-rebuild dedup must reflect exactly the rebuilt population")
  }

  // ------------------------------------ windowed sketch as-of (cms4/hh3)

  test("windowed CMS as-of: pin invariant under later ingest; expire advances floor; folded pin fails") {
    val dir = tmpDir("cms-asof") + "/sk"
    ext.Profile.writeWindowedCms(spark, dir, d = 2, w = 16)
    def batch(e: Long, ks: Seq[String]) =
      ks.map(k => (e, k)).toDF("epoch", "k0")
    ext.Profile.ingestWindowedCmsBatch(
      batch(0, Seq("a", "a", "b")), $"k0", $"epoch", dir, 0L)
    ext.Profile.ingestWindowedCmsBatch(
      batch(1, Seq("b", "c")), $"k0", $"epoch", dir, 1L)
    val probes = Seq("a", "b", "c", "d").toDF("k0")
    def pinned() = ext.Profile
      .cmsEstimateWindowed(spark, dir, probes, "k0", 0L, Some(2L))
      .orderBy("k").collect().map(_.toSeq).toSeq
    val before = pinned()
    ext.Profile.ingestWindowedCmsBatch(
      batch(2, Seq("c", "c", "d")), $"k0", $"epoch", dir, 2L)
    assert(pinned() == before,
      "a pinned version must not see a later ingest")
    // expire epochs < 2: folds all three segments, floor -> 3
    ext.Profile.expireWindowedCms(spark, dir, minEpoch = 2L)
    assert(graft.core.Artifacts.asOfFloor(spark, dir) == 3L,
      "expire must advance the as-of floor by the segments folded")
    intercept[IllegalArgumentException] {
      ext.Profile.windowedCmsCounters(spark, dir, 0L, Some(2L)).collect()
    }
    // the head pin (version 3 = the folded base) still answers
    val v3 = ext.Profile
      .cmsEstimateWindowed(spark, dir, probes, "k0", 2L, Some(3L))
      .orderBy("k").collect()
    assert(v3.nonEmpty)
  }

  test("windowed HH as-of: pinned report equals the pre-ingest report; floor advances") {
    val dir = tmpDir("hh-asof") + "/hh"
    ext.Profile.writeWindowedHh(spark, dir, k = 3)
    def batch(e: Long, ks: Seq[String]) =
      ks.map(k => (e, k)).toDF("epoch", "key0")
    val b0 = Seq.fill(5)("x") ++ Seq("y", "z")
    val b1 = Seq.fill(4)("y") ++ Seq("x")
    ext.Profile.ingestWindowedHhBatch(batch(0, b0), $"key0", $"epoch", dir, 0L)
    ext.Profile.ingestWindowedHhBatch(batch(1, b1), $"key0", $"epoch", dir, 1L)
    val data01 = batch(0, b0).union(batch(1, b1))
    val before = ext.Profile.heavyHittersWindowed(data01, $"key0", dir, 0L)
      .orderBy("key").collect().map(_.toSeq).toSeq
    ext.Profile.ingestWindowedHhBatch(
      batch(2, Seq.fill(6)("w")), $"key0", $"epoch", dir, 2L)
    val pinned = ext.Profile
      .heavyHittersWindowed(data01, $"key0", dir, 0L, Some(2L))
      .orderBy("key").collect().map(_.toSeq).toSeq
    assert(pinned == before,
      "the pinned report must equal what the head said before the ingest")
    ext.Profile.expireWindowedHh(spark, dir, minEpoch = 1L)
    assert(graft.core.Artifacts.asOfFloor(spark, dir) == 3L)
    intercept[IllegalArgumentException] {
      ext.Profile.heavyHittersWindowed(data01, $"key0", dir, 0L, Some(1L))
        .collect()
    }
  }

  // ------------------------------------ del3s: streamed takedown no-ops

  test("kNN takedown: full-overlap redelivery writes no extra version (del3s)") {
    val vecs = fuzzVecs(40, 5, seed = 19)
    val dir = tmpDir("del3s-idem") + "/g"
    ext.Similarity.writeKnnGraph(vecs, "vec_id", "embedding", dir, k = 3)
    val s0 = vecs.where($"vec_id" % 10 === 2).select("vec_id")
    val all = vecs.where($"vec_id" % 5 === 2).select("vec_id")
    def versions() = new java.io.File(s"$dir/versions").listFiles()
      .map(_.getName).filterNot(_.endsWith("__tmp")).sorted.toSeq
    ext.Similarity.forgetFromKnnGraph(s0, "vec_id", dir)  // batch 0
    ext.Similarity.forgetFromKnnGraph(all, "vec_id", dir) // overlap + new
    val v = versions()
    assert(v.size == 3, s"build + 2 effective repairs expected, got $v")
    ext.Similarity.forgetFromKnnGraph(all, "vec_id", dir) // full redelivery
    assert(versions() == v,
      "a fully-redelivered takedown batch must write no version")
    // and the final view equals from-scratch over survivors
    val want = ext.Similarity.knnGraphExact(
        vecs.where($"vec_id" % 5 =!= 2), "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val got = ext.Similarity.knnGraphFromIndex(spark, dir)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  // ------------------------------------ round-13 ADVICE residuals

  test("heavyHittersWindowed: answer survives store deletion (driver-local candidates)") {
    val dir = tmpDir("hh-local") + "/hh"
    ext.Profile.writeWindowedHh(spark, dir, k = 3)
    val b0 = (Seq.fill(5)("x") ++ Seq("y", "z"))
      .map(k => (0L, k)).toDF("epoch", "key0")
    ext.Profile.ingestWindowedHhBatch(b0, $"key0", $"epoch", dir, 0L)
    val res = ext.Profile.heavyHittersWindowed(b0, $"key0", dir, 0L)
    // the returned plan must not re-read the artifact: delete it
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(dir))
    val got = res.orderBy("key").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("x", 5L)),
      "only x (5 of 7 >= N/k) is window-heavy; the plan must answer " +
        "from the materialized candidate set, not the deleted store")
  }

  // ------------------------------------ cc3 stored eval index

  test("contamination index: re-appended wave writes no segment; stored equals inline") {
    val docs = (0L until 30L).map(i =>
        (i, s"alpha beta gamma delta token$i epsilon zeta"))
      .toDF("doc_id", "text")
    val ev0 = docs.where($"doc_id" < 5)
      .select(($"doc_id" + 100L).as("doc_id"), $"text")
    val ev1 = docs.where($"doc_id" >= 5 && $"doc_id" < 8)
      .select(($"doc_id" + 200L).as("doc_id"), $"text")
    val dir = tmpDir("cc3-spec") + "/idx"
    ext.Dedup.writeContaminationIndex(ev0, "doc_id", "text", dir)
    ext.Dedup.appendToContaminationIndex(ev1, "doc_id", "text", dir)
    ext.Dedup.appendToContaminationIndex(ev1, "doc_id", "text", dir) // retry
    assert(graft.core.Artifacts
      .committedChildren(spark, s"$dir/segments").size == 1,
      "a fully-redelivered eval wave must write no segment")
    val want = ext.Dedup
      .contaminationPairs(docs, ev0.unionByName(ev1), "doc_id", "text")
      .orderBy("doc_id", "eval_id").collect().map(_.toSeq).toSeq
    val got = ext.Dedup
      .contaminationPairsFromIndex(docs, "doc_id", "text", dir)
      .orderBy("doc_id", "eval_id").collect().map(_.toSeq).toSeq
    assert(got == want, "stored-index probe must equal the inline scan")
    assert(got.nonEmpty, "fixture must produce contaminated pairs")
  }

  // ------------------------------------ mov1 recall across split cells

  test("heavyMoversWindowed: equals brute-force movers with epochs split across batches (fuzzed)") {
    val rnd = new scala.util.Random(31)
    val rows = (0 until 3000).map { i =>
      val e = rnd.nextInt(2).toLong
      // the skew FLIPS between epochs (epoch 0 concentrates on low key
      // ids, epoch 1 on high) so real movers exist above the N/k bar
      val hot = (math.pow(rnd.nextDouble(), 3.0) * 50).toInt
      val key = s"k${if (e == 0L) hot else 49 - hot}"
      (i.toLong, e, key)
    }
    val df = rows.toDF("idx", "e", "key0")
    val dir = tmpDir("mov-fuzz") + "/hh"
    val k = 10
    ext.Profile.writeWindowedHh(spark, dir, k)
    // each epoch's mass lands SPLIT across three batches — the recall
    // argument must hold across cells, not just whole-epoch summaries
    for (b <- 0 until 3)
      ext.Profile.ingestWindowedHhBatch(
        df.where($"idx" % 3 === b), $"key0", $"e", dir, b.toLong)
    val got = ext.Profile
      .heavyMoversWindowed(df, $"key0", $"e", dir, 0L, 1L)
      .orderBy("key").collect().map(_.toSeq).toSeq
    val byKey = rows.groupBy(_._3).map { case (key, rs) =>
      val c0 = rs.count(_._2 == 0L).toLong
      val c1 = rs.count(_._2 == 1L).toLong
      (key, c0, c1)
    }
    val n0 = rows.count(_._2 == 0L).toLong
    val n1 = rows.count(_._2 == 1L).toLong
    val mx = math.max(n0, n1)
    val want = byKey.toSeq
      .filter { case (_, c0, c1) => math.abs(c1 - c0) * k >= mx }
      .sortBy(_._1)
      .map { case (key, c0, c1) => Seq(key, c0, c1, c1 - c0) }
    assert(got == want,
      "sketch-candidate movers must equal the brute-force mover set")
    assert(want.nonEmpty, "fixture must actually produce movers")
    // a missing/expired epoch fails loudly instead of reporting every
    // surviving-epoch heavy hitter as a "mover" against zero
    val e = intercept[IllegalArgumentException] {
      ext.Profile.heavyMoversWindowed(df, $"key0", $"e", dir, 0L, 7L)
    }
    assert(e.getMessage.contains("no living cells"))
  }

  // ------------------------------------ pipe1s composition seams

  /** pipe1s's Pipeline over the given stores; the fixtures carry no
    * lang/n_chars, so curation admits every row. */
  private def pipe1(bl: String, po: String, iv: String, kn: String) =
    graft.streaming.Pipeline(Some(bl), lit(true), None,
      Seq(Tier.postings(po), Tier.ivf(iv), Tier.knn(kn, k = 3)))

  test("composed pipeline: redelivered batch with planted dups touches no artifact; append-after-forget stays exact") {
    val rnd = new scala.util.Random(23)
    val rec = (0L until 20L).map(i =>
        (i, s"unique document text body $i",
          Array.fill(5)(rnd.nextDouble() * 2 - 1)))
      .toDF("doc_id", "text", "embedding")
      .withColumn("label", (col("doc_id") % 3).cast("int"))
    val root = tmpDir("pipe-seam")
    val (bl, po, iv, kn) =
      (s"$root/bloom", s"$root/post", s"$root/ivf", s"$root/knn")
    val build = rec.where($"doc_id" < 10)
    ext.Dedup.writeBloomIndex(build, "text", bl, numBits = 1 << 15)
    ext.Retrieval.writePostingsIndex(build, "doc_id", "text", po)
    ext.Similarity.writeIvfIndex(build, "doc_id", "embedding", "label", iv)
    ext.Similarity.writeKnnGraph(build, "doc_id", "embedding", kn, k = 3)
    // the production per-batch body
    def ingest(b: org.apache.spark.sql.DataFrame): Unit =
      pipe1(bl, po, iv, kn).ingest(b)
    def counts() = (
      graft.core.Artifacts.committedChildren(spark, s"$bl/segments").size,
      graft.core.Artifacts.committedChildren(spark, s"$po/segments").size,
      graft.core.Artifacts.committedChildren(spark, s"$iv/segments").size,
      new java.io.File(s"$kn/versions").listFiles()
        .count(f => !f.getName.endsWith("__tmp")))
    val b0 = rec.where($"doc_id" >= 10 && $"doc_id" < 15)
    ingest(b0)
    val c1 = counts()
    // the at-least-once worst case: full redelivery PLUS planted content
    // duplicates under fresh ids — only the content screen can stop them
    ingest(b0.unionByName(b0.select(($"doc_id" + 100L).as("doc_id"),
      $"text", $"embedding", $"label")))
    assert(counts() == c1,
      "full redelivery + planted dups must write no segment/version anywhere")
    assert(ext.Retrieval.postingsLiving(spark, po)
      .where($"doc_id" >= 100).isEmpty, "planted dup reached the postings")
    assert(ext.Similarity.ivfLivingIndex(spark, iv)
      .where($"vec_id" >= 100).isEmpty, "planted dup reached the IVF index")
    assert(ext.Similarity.knnGraphFromIndex(spark, kn)
      .where($"query_id" >= 100).isEmpty, "planted dup reached the graph")
    // takedown mid-stream, then a later batch appends AFTER the forget
    // (the kNN append-after-forget seam: tombstones present, head clean)
    val doomed = rec.where($"doc_id" % 7 === 3 && $"doc_id" < 10)
      .select("doc_id")
    ext.Retrieval.forgetFromPostingsIndex(doomed, "doc_id", po)
    ext.Similarity.forgetFromIvfIndex(doomed, "doc_id", iv)
    ext.Similarity.forgetFromKnnGraph(doomed, "doc_id", kn)
    ingest(rec.where($"doc_id" >= 15))
    val pop = rec.where(!($"doc_id" % 7 === 3 && $"doc_id" < 10))
    val want = ext.Similarity
      .knnGraphExact(pop, "doc_id", "embedding", k = 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val got = ext.Similarity.knnGraphFromIndex(spark, kn)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(got == want,
      "build → stream appends → mid-stream takedown → more appends must " +
        "compose to the from-scratch graph over the final population")
  }

  test("composed pipeline: crash between tier appends heals on redelivery; fps-first ordering would lose the batch") {
    val rnd = new scala.util.Random(41)
    val rec = (0L until 16L).map(i =>
        (i, s"crashy document body text $i",
          Array.fill(4)(rnd.nextDouble() * 2 - 1)))
      .toDF("doc_id", "text", "embedding")
      .withColumn("label", (col("doc_id") % 2).cast("int"))
    def mk(root: String) = {
      val dirs = (s"$root/bloom", s"$root/post", s"$root/ivf", s"$root/knn")
      val build = rec.where($"doc_id" < 8)
      ext.Dedup.writeBloomIndex(build, "text", dirs._1,
        numBits = 1 << 15)
      ext.Retrieval.writePostingsIndex(build, "doc_id", "text", dirs._2)
      ext.Similarity.writeIvfIndex(build, "doc_id", "embedding", "label",
        dirs._3)
      ext.Similarity.writeKnnGraph(build, "doc_id", "embedding", dirs._4,
        k = 3)
      dirs
    }
    def ingest(b: org.apache.spark.sql.DataFrame,
               dirs: (String, String, String, String)): Unit =
      pipe1(dirs._1, dirs._2, dirs._3, dirs._4).ingest(b)
    val b0 = rec.where($"doc_id" >= 8)
    // CRASHED attempt: postings landed, then the executor died — no IVF,
    // no kNN, and crucially no fps commit
    val crashed = mk(tmpDir("pipe-crash") + "/a")
    ext.Retrieval.appendToPostingsIndex(b0, "doc_id", "text", crashed._2)
    // at-least-once redelivery through the normal composed body
    ingest(b0, crashed)
    // an uncrashed twin processed the same batch exactly once
    val clean = mk(tmpDir("pipe-crash") + "/b")
    ingest(b0, clean)
    def views(d: (String, String, String, String)) = (
      ext.Retrieval.postingsLiving(spark, d._2)
        .orderBy("doc_id", "term").collect().map(_.toSeq).toSeq,
      ext.Similarity.ivfLivingIndex(spark, d._3)
        .orderBy("vec_id").collect().map(_.toSeq).toSeq,
      ext.Similarity.knnGraphFromIndex(spark, d._4)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq)
    assert(views(crashed) == views(clean),
      "crash-then-redeliver must converge to the uncrashed state on " +
        "every tier (postings no-ops its landed docs, IVF/kNN land)")
  }

  test("composed pipeline: pinned reads align across tiers at the same version") {
    // the property the per-tier no-op guards buy in COMPOSITION: a
    // redelivered batch writes no segment/version on ANY tier, so batch
    // N maps to version N in lockstep everywhere and a pinned composed
    // answer is consistent across artifacts. MAIN processes b0, a full
    // b0 redelivery, a takedown and b2; TWIN stops after b0 + takedown.
    // Pinned at version 1 (build + b0), every tier's answer must be
    // identical on both — any leak of b2/later versions into a pin, or
    // any version skew from the redelivery, breaks the equality. (kNN
    // pins keep the documented shrunk-list contract after a forget, so
    // the anchor is twin equality, not from-scratch exactness.)
    val rnd = new scala.util.Random(53)
    val rec = (0L until 20L).map(i =>
        (i, s"aligned document body text token$i tail",
          Array.fill(4)(rnd.nextDouble() * 2 - 1)))
      .toDF("doc_id", "text", "embedding")
      .withColumn("label", (col("doc_id") % 2).cast("int"))
    def mk(root: String) = {
      val dirs = (s"$root/bloom", s"$root/post", s"$root/ivf", s"$root/knn")
      val build = rec.where($"doc_id" < 10)
      ext.Dedup.writeBloomIndex(build, "text", dirs._1,
        numBits = 1 << 15)
      ext.Retrieval.writePostingsIndex(build, "doc_id", "text", dirs._2)
      ext.Similarity.writeIvfIndex(build, "doc_id", "embedding", "label",
        dirs._3)
      ext.Similarity.writeKnnGraph(build, "doc_id", "embedding", dirs._4,
        k = 3)
      dirs
    }
    def ingest(b: org.apache.spark.sql.DataFrame,
               dirs: (String, String, String, String)): Unit =
      pipe1(dirs._1, dirs._2, dirs._3, dirs._4).ingest(b)
    def takedown(dirs: (String, String, String, String)): Unit =
      pipe1(dirs._1, dirs._2, dirs._3, dirs._4)
        .forget(rec.where($"doc_id" === 3).select("doc_id"))
    val b0 = rec.where($"doc_id" >= 10 && $"doc_id" < 15)
    val b2 = rec.where($"doc_id" >= 15)
    val main = mk(tmpDir("pipe-pin") + "/main")
    ingest(b0, main); ingest(b0, main) // full redelivery: no version skew
    takedown(main); ingest(b2, main)
    val twin = mk(tmpDir("pipe-pin") + "/twin")
    ingest(b0, twin); takedown(twin)
    val queries = Seq(0 -> Seq("document", "text"), 1 -> Seq("aligned", "tail"))
    def bm(d: (String, String, String, String)) =
      ext.Retrieval.bm25TopKFromIndex(spark, queries, d._2,
          asOf = Some(1L), k = 5)
        .orderBy("query_id", "rk").collect().map(_.toSeq).toSeq
    def ivf(d: (String, String, String, String)) =
      ext.Similarity.ivfQuantizedTopKFromIndex(
          spark.read.parquet(s"${d._3}/centroids"),
          ext.Similarity.ivfLivingIndex(spark, d._3, Some(1L)),
          rec.select($"doc_id".as("vec_id"), $"embedding".as("v")),
          rec.where($"doc_id" < 2), "doc_id", "embedding",
          k = 3, nprobe = 2, shortlist = 10)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    def knn(d: (String, String, String, String)) =
      ext.Similarity.knnGraphFromIndex(spark, d._4, Some(1L))
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(bm(main) == bm(twin),
      "postings pin leaked post-pin state or skewed versions")
    assert(ivf(main) == ivf(twin),
      "IVF pin leaked post-pin state or skewed versions")
    assert(knn(main) == knn(twin),
      "kNN pin leaked post-pin state or skewed versions")
    assert(knn(main).nonEmpty && ivf(main).nonEmpty && bm(main).nonEmpty)
  }

  test("kcenterGonzalez: no persisted blocks survive the call") {
    val vecs = fuzzVecs(30, 4, seed = 7)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    ext.Clustering.kcenterGonzalez(vecs, "vec_id", "embedding", k = 5)
      .collect()
    // unpersist is synchronous on the tracking map; small retry for safety
    var leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    var tries = 0
    while (leaked.nonEmpty && tries < 20) {
      Thread.sleep(100)
      leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      tries += 1
    }
    assert(leaked.isEmpty, s"leaked persisted RDDs: $leaked")
  }
}
