package graft

import org.apache.spark.sql.functions._

/** Round-13 pins — the kNN-store verb completion + kc1 rework:
  *  - kNN-graph FORGET (knn3): two-sided eviction (a tombstoned id
  *    leaves as source rows AND as stored neighbors), exact rank-k
  *    backfill (post-forget graph ≡ from-scratch over survivors, fuzzed),
  *    tombstone-set + version idempotence of a retried request, the
  *    crash window between tombstone append and repair commit never
  *    SHOWS a forgotten id, compact view-equality + loud refusals
  *    (incomplete forget, fully-forgotten store).
  *  - kNN-graph AS-OF (knn4): pinned version-0 read ≡ from-scratch over
  *    the build population after an append landed; current tombstones
  *    still apply to pins (right-to-be-forgotten outranks
  *    reproducibility); folded/never-written pins fail loudly.
  *  - kcenterGonzalez incremental running-min (round-12 verdict #2):
  *    trajectory identical to the full per-round recompute (pinned by a
  *    spec-local reimplementation of the quadratic form), and k beyond
  *    the distinct-vector count fails loudly instead of silently
  *    duplicating a center (round-12 ADVICE).
  */
class Round13Spec extends SparkSpec {
  import spark.implicits._

  private def fuzzVecs(n: Int, dim: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map(i =>
      (i, Array.fill(dim)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }

  // ------------------------------------------------- knn forget (knn3)

  test("knn forget: repaired graph equals from-scratch over survivors (fuzzed)") {
    val vecs = fuzzVecs(40, 6, seed = 11)
    val survivors = vecs.where($"vec_id" % 3 =!= 1)
    val want = ext.Similarity.knnGraphExact(survivors, "vec_id", "embedding",
        k = 4)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val dir = tmpDir("knn3-spec") + "/g"
    ext.Similarity.writeKnnGraph(vecs, "vec_id", "embedding", dir, k = 4)
    ext.Similarity.forgetFromKnnGraph(
      vecs.where($"vec_id" % 3 === 1).select("vec_id"), "vec_id", dir)
    val got = ext.Similarity.knnGraphFromIndex(spark, dir)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(got == want,
      "two-sided forget repair must equal the from-scratch survivor graph")
  }

  test("knn forget: retried request is version- and view-idempotent") {
    val vecs = fuzzVecs(30, 5, seed = 3)
    val dir = tmpDir("knn3-idem") + "/g"
    ext.Similarity.writeKnnGraph(vecs, "vec_id", "embedding", dir, k = 3)
    val doomed = vecs.where($"vec_id" % 4 === 2).select("vec_id")
    ext.Similarity.forgetFromKnnGraph(doomed, "vec_id", dir)
    def versions() = new java.io.File(s"$dir/versions").listFiles()
      .map(_.getName).filterNot(_.endsWith("__tmp")).sorted.toSeq
    def view() = ext.Similarity.knnGraphFromIndex(spark, dir)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val (v1, g1) = (versions(), view())
    assert(v1 == Seq("v_000000", "v_000001"),
      s"one repair version after the build, got $v1")
    ext.Similarity.forgetFromKnnGraph(doomed, "vec_id", dir) // retry
    assert(versions() == v1, "a retried forget must not write a version")
    assert(view() == g1, "a retried forget must not change the view")
  }

  test("knn forget: crash window never shows a forgotten id; retry heals exactly") {
    val vecs = fuzzVecs(30, 5, seed = 5)
    val dir = tmpDir("knn3-crash") + "/g"
    ext.Similarity.writeKnnGraph(vecs, "vec_id", "embedding", dir, k = 3)
    // simulate the crash point: tombstones appended, repair NOT committed
    ext.Forget.forget(vecs.where($"vec_id" % 4 === 2).select("vec_id"),
      "vec_id", s"$dir/tombstones")
    val mid = ext.Similarity.knnGraphFromIndex(spark, dir).collect()
    val doomed = (0L until 30L).filter(_ % 4 == 2).toSet
    assert(mid.forall(r => !doomed.contains(r.getLong(0)) &&
      !doomed.contains(r.getLong(2))),
      "between tombstone append and repair commit, no forgotten id may " +
        "appear as a query or a neighbor")
    // lists may run short in the window, never past k, and ranks stay dense
    val byQ = mid.groupBy(_.getLong(0))
    assert(byQ.values.forall(rs => rs.length <= 3 &&
      rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length).toSeq))
    // retry completes the repair: exact from-scratch over survivors
    ext.Similarity.forgetFromKnnGraph(
      vecs.where($"vec_id" % 4 === 2).select("vec_id"), "vec_id", dir)
    val want = ext.Similarity.knnGraphExact(vecs.where($"vec_id" % 4 =!= 2),
        "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val got = ext.Similarity.knnGraphFromIndex(spark, dir)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(got == want, "the retried forget must heal to the exact graph")
  }

  test("knn compact: view unchanged, history folds, re-append re-enabled") {
    val vecs = fuzzVecs(28, 5, seed = 7)
    val dir = tmpDir("knn3-compact") + "/g"
    ext.Similarity.writeKnnGraph(vecs, "vec_id", "embedding", dir, k = 3)
    val doomed = vecs.where($"vec_id" % 7 === 3)
    ext.Similarity.forgetFromKnnGraph(doomed.select("vec_id"), "vec_id", dir)
    val before = ext.Similarity.knnGraphFromIndex(spark, dir)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    // re-appending a forgotten id BEFORE compact fails loudly (the
    // shared re-add caveat, enforced — a landed row would sit invisible
    // under the stale tombstone)
    assert(intercept[IllegalArgumentException] {
      ext.Similarity.appendToKnnGraph(doomed.where($"vec_id" === 3L),
        "vec_id", "embedding", dir)
    }.getMessage.contains("compactKnnGraph first"))
    ext.Similarity.compactKnnGraph(spark, dir)
    val after = ext.Similarity.knnGraphFromIndex(spark, dir)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(after == before, "compact must not change the view")
    assert(new java.io.File(s"$dir/versions").listFiles()
      .count(f => !f.getName.endsWith("__tmp")) == 1,
      "compact keeps only the head version")
    assert(intercept[IllegalArgumentException] {
      ext.Similarity.knnGraphFromIndex(spark, dir, asOf = Some(0L))
    }.getMessage.contains("folded"),
      "as-of reads of folded versions fail loudly")
    // the compact cleared tombstones: the re-append now lands and answers
    ext.Similarity.appendToKnnGraph(doomed.where($"vec_id" === 3L),
      "vec_id", "embedding", dir)
    val re = ext.Similarity.knnGraphFromIndex(spark, dir)
    assert(re.where($"query_id" === 3L).count() === 3L,
      "after compact the re-appended id answers again")
  }

  test("knn guards: incomplete forget blocks append+compact; empty store refuses") {
    val vecs = fuzzVecs(20, 4, seed = 9)
    val dir = tmpDir("knn3-guards") + "/g"
    ext.Similarity.writeKnnGraph(vecs.where($"vec_id" < 16),
      "vec_id", "embedding", dir, k = 3)
    ext.Forget.forget(vecs.where($"vec_id" === 2L).select("vec_id"),
      "vec_id", s"$dir/tombstones") // crash-simulated incomplete forget
    assert(intercept[IllegalArgumentException] {
      ext.Similarity.appendToKnnGraph(vecs.where($"vec_id" >= 16),
        "vec_id", "embedding", dir)
    }.getMessage.contains("forget did not complete"))
    assert(intercept[IllegalArgumentException] {
      ext.Similarity.compactKnnGraph(spark, dir)
    }.getMessage.contains("forget did not complete"))
    // fully-forgotten: repairing away every node refuses loudly
    assert(intercept[IllegalArgumentException] {
      ext.Similarity.forgetFromKnnGraph(
        vecs.where($"vec_id" < 16).select("vec_id"), "vec_id", dir)
    }.getMessage.contains("empty graph"))
  }

  // -------------------------------------------------- knn as-of (knn4)

  test("knn as-of: pinned v0 equals the build; current tombstones apply to pins") {
    val vecs = fuzzVecs(36, 5, seed = 13)
    val dir = tmpDir("knn4-spec") + "/g"
    ext.Similarity.writeKnnGraph(vecs.where($"vec_id" % 3 =!= 1),
      "vec_id", "embedding", dir, k = 3)
    ext.Similarity.appendToKnnGraph(vecs.where($"vec_id" % 3 === 1),
      "vec_id", "embedding", dir)
    val want = ext.Similarity.knnGraphExact(vecs.where($"vec_id" % 3 =!= 1),
        "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val pinned = ext.Similarity.knnGraphFromIndex(spark, dir, asOf = Some(0L))
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(pinned == want, "pinned v0 must answer as the build did")
    // a later forget reaches the pin (two-sided), shrunk-list contract
    ext.Similarity.forgetFromKnnGraph(
      vecs.where($"vec_id" === 0L).select("vec_id"), "vec_id", dir)
    val pinnedAfter = ext.Similarity
      .knnGraphFromIndex(spark, dir, asOf = Some(0L)).collect()
    assert(pinnedAfter.forall(r =>
      r.getLong(0) != 0L && r.getLong(2) != 0L),
      "right-to-be-forgotten outranks reproducibility on pinned reads")
    // never-written pins fail loudly
    assert(intercept[IllegalArgumentException] {
      ext.Similarity.knnGraphFromIndex(spark, dir, asOf = Some(99L))
    }.getMessage.contains("does not exist"))
  }

  // ---------------------------------------- kcenter incremental (kc1)

  test("kcenter: incremental running-min trajectory equals the quadratic recompute") {
    val vecs = fuzzVecs(50, 6, seed = 17)
    val got = ext.Clustering.kcenterGonzalez(vecs, "vec_id", "embedding",
        k = 5)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    // spec-local reimplementation of the ORIGINAL per-round full
    // recompute, on driver-collected data — the trajectory oracle
    val data = vecs.collect().map(r => (r.getLong(0),
      r.getSeq[Double](1).map(x => math.round(x * 1e6)).toArray))
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var cs = Vector(data.minBy(_._1))
    for (_ <- 2 to 5) {
      val next = data.map(v => (v, cs.map(c => d2(v._2, c._2)).min))
        .maxBy { case ((id, _), d) => (d, -id) }._1
      cs = cs :+ next
    }
    val want = data.map { case (id, qv) =>
      val ds = cs.map(c => d2(qv, c._2))
      val best = ds.zipWithIndex.minBy { case (d, i) => (d, i) }._2
      Seq(id, cs(best)._1, ds(best))
    }.toSeq
    assert(got == want, "incremental dmin must not change the trajectory")
  }

  // ---------------------------------------------- dedup as-of (inc7)

  test("dedup fps store: pinned reads, folded pins fail loudly, compact view-equal") {
    val docs = (0L until 15L).map(i => (i, s"text body number ${i % 12}"))
      .toDF("doc_id", "text")
    val dir = tmpDir("inc7-spec") + "/idx"
    ext.Dedup.writeBloomIndex(docs.where($"doc_id" < 10), "text", dir) // v0
    ext.Dedup.appendToBloomIndex(docs.where($"doc_id" >= 10), "text", dir) // v1
    def kept(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // head: every text is archived (ids 0..9 cover texts %12 in 0..9;
    // 10..14 cover 10, 11, 0, 1, 2) → resubmissions all drop
    val headKept = kept(ext.Dedup.dedupIncrementalBloomFromIndex(
      docs, "doc_id", "text", dir))
    assert(headKept.isEmpty, s"head archive covers all texts: $headKept")
    // pinned v0: the appended batch's NEW texts (10, 11) must survive
    val v0Kept = kept(ext.Dedup.dedupIncrementalBloomFromIndex(
      docs, "doc_id", "text", dir, asOf = Some(0L)))
    assert(v0Kept == Set(10L, 11L),
      s"v0 pin dedups against the day-one archive only: $v0Kept")
    ext.Dedup.compactBloomIndex(spark, dir)
    // head view unchanged by the fold
    assert(kept(ext.Dedup.dedupIncrementalBloomFromIndex(
      docs, "doc_id", "text", dir)) == headKept)
    // the folded pin fails loudly; the floor version still answers
    assert(intercept[IllegalArgumentException] {
      ext.Dedup.fpsRelation(spark, dir, Some(0L)).collect()
    }.getMessage.contains("folded"))
    assert(kept(ext.Dedup.dedupIncrementalBloomFromIndex(
      docs, "doc_id", "text", dir, asOf = Some(1L))) == headKept,
      "the floor version reads the folded base")
  }

  test("bloom ingest: fully-redelivered batch touches neither artifact") {
    val docs = (0L until 12L).map(i => (i, s"unique body ${i}"))
      .toDF("doc_id", "text")
    val dir = tmpDir("bf3s-spec") + "/idx"
    ext.Dedup.writeBloomIndex(docs.where($"doc_id" < 4), "text", dir)
    def segs() = new java.io.File(s"$dir/segments").listFiles() match {
      case null => Seq.empty
      case fs => fs.map(_.getName).filterNot(_.endsWith("__tmp")).sorted.toSeq
    }
    def bloomBytes() = spark.read.parquet(s"$dir/bloom")
      .head().getAs[Array[Byte]](2).toSeq
    val batchA = docs.where($"doc_id" >= 4 && $"doc_id" < 8)
    ext.Dedup.ingestBloomBatch(batchA, "text", dir)
    val (s1, b1) = (segs(), bloomBytes())
    assert(s1.size == 1, "first ingest lands one segment")
    ext.Dedup.ingestBloomBatch(batchA, "text", dir) // full redelivery
    assert(segs() == s1, "a redelivered batch must not add a segment")
    assert(bloomBytes() == b1, "a redelivered batch must not set bits")
    // partial overlap: only the genuinely-new fingerprints land
    ext.Dedup.ingestBloomBatch(docs.where($"doc_id" >= 6), "text", dir)
    assert(segs().size == 2, "the overlap batch lands one segment")
    val stored = ext.Dedup.fpsRelation(spark, dir).count()
    assert(stored == 12L, s"4 base + 4 + 4 new fps, got $stored")
  }

  // --------------------------------------------- windowed CMS (cms3)

  test("windowed CMS: expire physically drops epoch mass; redeliveries no-op") {
    val dir = tmpDir("cms3-spec") + "/sk"
    ext.Profile.writeWindowedCms(spark, dir, d = 3, w = 16)
    def batch(e: Long) = (1 to 50).map(i => (e, s"k${i % 7}"))
      .toDF("epoch", "key")
    for (e <- 0L to 2L)
      ext.Profile.ingestWindowedCmsBatch(batch(e), $"key", $"epoch", dir, e)
    def counters(minEpoch: Long) =
      ext.Profile.windowedCmsCounters(spark, dir, minEpoch)
        .orderBy("r", "b").collect().map(_.toSeq).toSeq
    val full = counters(0L)
    val win12 = counters(1L)
    assert(full != win12, "the window filter must drop epoch-0 mass")
    // pre-fold redelivery: segment-name idempotence
    ext.Profile.ingestWindowedCmsBatch(batch(1L), $"key", $"epoch", dir, 1L)
    assert(counters(0L) == full, "a redelivered segment must not double-add")
    // expire epoch 0: the filtered answer is unchanged, the mass is gone
    ext.Profile.expireWindowedCms(spark, dir, minEpoch = 1L)
    assert(counters(1L) == win12, "expire must not change the living window")
    assert(counters(0L) == win12,
      "after expire the epoch-0 mass is PHYSICALLY gone — widening the " +
        "window cannot resurrect it")
    // post-fold redelivery of the folded batch: high-water no-op
    ext.Profile.ingestWindowedCmsBatch(batch(0L), $"key", $"epoch", dir, 0L)
    assert(counters(0L) == win12,
      "a folded batch id redelivered after expire must no-op")
    // a genuinely new batch still lands
    ext.Profile.ingestWindowedCmsBatch(batch(3L), $"key", $"epoch", dir, 3L)
    assert(counters(1L) != win12, "a fresh batch id must land")
  }

  test("windowed MG: window heavy hitters exact under expire + redelivery (fuzzed)") {
    val rnd = new scala.util.Random(23)
    // zipf-ish keys so decrements actually fire at k = 5
    val rows = (0 until 1200).map { i =>
      val e = i % 4L
      // one planted ~30% hot key above the n/5 threshold; a 40-key
      // uniform tail forces real MG decrements at k = 5
      val key = if (rnd.nextInt(10) < 3) "hot" else s"k${rnd.nextInt(40)}"
      (e, key)
    }
    val df = rows.toDF("epoch", "key")
    val dir = tmpDir("hh2-spec") + "/hh"
    ext.Profile.writeWindowedHh(spark, dir, k = 5)
    for (e <- 0L to 3L)
      ext.Profile.ingestWindowedHhBatch(df.where($"epoch" === e),
        $"key", $"epoch", dir, e)
    ext.Profile.ingestWindowedHhBatch(df.where($"epoch" === 2L),
      $"key", $"epoch", dir, 2L) // redelivery
    ext.Profile.expireWindowedHh(spark, dir, minEpoch = 1L)
    ext.Profile.ingestWindowedHhBatch(df.where($"epoch" === 0L),
      $"key", $"epoch", dir, 0L) // folded id
    val retained = df.where($"epoch" >= 1L)
    val got = ext.Profile.heavyHittersWindowed(retained, $"key", dir,
        minEpoch = 1L)
      .orderBy("key").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val nW = retained.count()
    val want = retained.groupBy("key").agg(count(lit(1)).as("n"))
      .where($"n" * 5 >= nW).orderBy("key").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(want.nonEmpty, "fixture must produce at least one heavy hitter")
    assert(got == want,
      "windowed MG must equal the exact HAVING set over the living window")
  }

  test("kcenter: k beyond the distinct-vector count fails loudly") {
    val dup = (0L until 6L).map(i => (i, Array(1.0 * (i % 2), 2.0)))
      .toDF("vec_id", "embedding") // only 2 distinct vectors
    assert(intercept[IllegalArgumentException] {
      ext.Clustering.kcenterGonzalez(dup, "vec_id", "embedding", k = 3)
    }.getMessage.contains("distinct-vector count"))
  }
}
