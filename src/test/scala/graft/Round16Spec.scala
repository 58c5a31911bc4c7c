package graft

import org.apache.spark.sql.functions._

/** Round-16 pins — the round-15 ADVICE set on the CDC matview:
  *  - (high) a CDC batch whose deletes EMPTY a bucket must not let the
  *    reader fall back to the older version and resurrect the deleted
  *    rows: the emptied bucket is committed as an `_empty_pk=N` marker
  *    ("bucket present, zero rows"), atomically with the version via the
  *    staged-swap write. Pinned with buckets=1 so the delete provably
  *    removes the bucket's last row (the Round15Spec fixture passed by
  *    bucket-sharing luck — ADVICE low #3).
  *  - (low) equal-seq ties in the newest-wins fold resolve
  *    deterministically by op ascending ('D' < 'I' < 'U' — delete wins),
  *    so a redelivered tie-carrying batch rebuilds the same state.
  *  - compaction over a history containing CDC deletes: folded state
  *    keeps deleted keys physically absent (empty-marker buckets drop
  *    out), stays view-invariant, and a fully-deleted view refuses to
  *    compact loudly (an empty store has no compacted form).
  */
class Round16Spec extends SparkSpec {
  import spark.implicits._

  private def view(root: String) =
    graft.streaming.Ingest.latestSnapshot(spark, root)
      .orderBy("k").collect().map(_.toSeq).toSeq

  private def pin(root: String, v: Long) =
    graft.streaming.Ingest.asOfSnapshot(spark, root, asOf = v)
      .orderBy("k").collect().map(_.toSeq).toSeq

  // ---------------------------- CDC matview: emptied-bucket no-resurrect

  test("CDC matview: deleting a bucket's last row does not resurrect it") {
    val root = tmpDir("mv-empty") + "/snap"
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v0")
    graft.streaming.Ingest.upsertMatviewBatch(base, Seq("k"), root,
      id = 0L, buckets = 1)
    graft.streaming.Ingest.applyCdcMatviewBatch(
      Seq((1L, "x", 1L, "D")).toDF("k", "v0", "seq", "op"),
      Seq("k"), "seq", "op", root, id = 1L, buckets = 1)
    assert(view(root) == Seq(Seq(2L, "b")))
    // delete the bucket's LAST row — the version has no pk=0 dir, only
    // the _empty_pk marker; without it the reader falls back to v=1
    graft.streaming.Ingest.applyCdcMatviewBatch(
      Seq((2L, "x", 1L, "D")).toDF("k", "v0", "seq", "op"),
      Seq("k"), "seq", "op", root, id = 2L, buckets = 1)
    assert(view(root).isEmpty,
      "emptied bucket resurrected its deleted rows from the older version")
    // redelivery of the emptying batch: idempotent, still empty
    graft.streaming.Ingest.applyCdcMatviewBatch(
      Seq((2L, "x", 1L, "D")).toDF("k", "v0", "seq", "op"),
      Seq("k"), "seq", "op", root, id = 2L, buckets = 1)
    assert(view(root).isEmpty)
    // pins: every pre-delete version still answers immutably
    assert(pin(root, 0L) == Seq(Seq(1L, "a"), Seq(2L, "b")))
    assert(pin(root, 1L) == Seq(Seq(2L, "b")))
    assert(pin(root, 2L).isEmpty, "the as-of read of the emptied version")
    // a fully-deleted view has no compacted form — refuse loudly
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Ingest.compactMatview(spark, root)
    }
    assert(e.getMessage.contains("no compacted form"))
    // re-adding into the emptied bucket starts from zero rows, not from
    // the pre-delete state
    graft.streaming.Ingest.applyCdcMatviewBatch(
      Seq((1L, "back", 1L, "I")).toDF("k", "v0", "seq", "op"),
      Seq("k"), "seq", "op", root, id = 3L, buckets = 1)
    assert(view(root) == Seq(Seq(1L, "back")))
  }

  // ---------------------------- equal-seq tie: deterministic delete-wins

  test("CDC matview: equal-seq D/U tie resolves to the delete, retry-stable") {
    val root = tmpDir("mv-tie") + "/snap"
    graft.streaming.Ingest.upsertMatviewBatch(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v0"), Seq("k"), root,
      id = 0L, buckets = 1)
    val tie = Seq((1L, "updated", 5L, "U"), (1L, "x", 5L, "D"))
      .toDF("k", "v0", "seq", "op")
    graft.streaming.Ingest.applyCdcMatviewBatch(tie, Seq("k"), "seq", "op",
      root, id = 1L, buckets = 1)
    val after = view(root)
    assert(after == Seq(Seq(2L, "b")),
      "an equal-seq D/U pair must resolve to the delete (op ascending)")
    graft.streaming.Ingest.applyCdcMatviewBatch(tie, Seq("k"), "seq", "op",
      root, id = 1L, buckets = 1)
    assert(view(root) == after, "tie resolution must be retry-stable")
  }

  // ---------------------------- rotating eval suite: gate-vs-mutation

  test("decon gate vs suite rotation: no retroactive quarantine, tighten, re-admit") {
    val dir0 = tmpDir("rot-gate")
    val evalDir = s"$dir0/evalidx"; val postDir = s"$dir0/postings"
    val t1 = "alpha beta gamma delta epsilon zeta"
    val t2 = "one two three four five six seven"
    val t3 = "red green blue yellow purple orange"
    def gate(b: org.apache.spark.sql.DataFrame) =
      b.join(ext.Dedup.contaminationPairsFromIndex(b, "doc_id", "text",
        evalDir).select("doc_id").distinct(), Seq("doc_id"), "left_anti")
    def stored() = ext.Retrieval.postingsLiving(spark, postDir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    ext.Dedup.writeContaminationIndex(
      Seq((100L, t3)).toDF("doc_id", "text"), "doc_id", "text", evalDir)
    ext.Retrieval.writePostingsIndex(
      Seq((0L, "base corpus document tokens here")).toDF("doc_id", "text"),
      "doc_id", "text", postDir)
    // batch A probes suite v0: doc 1 (a FUTURE wave-1 collider) admits,
    // doc 3 (a wave-0 collider) quarantines
    ext.Retrieval.appendToPostingsIndex(
      gate(Seq((1L, t1), (3L, t3)).toDF("doc_id", "text")),
      "doc_id", "text", postDir)
    assert(stored() == Set(0L, 1L))
    // the wave lands; batch B must quarantine doc 2 against it, and doc
    // 1 — admitted before the wave — must STAY (admitted is admitted:
    // append-only tiers, nothing re-probes)
    ext.Dedup.appendToContaminationIndex(
      Seq((200L, t1), (201L, t2)).toDF("doc_id", "text"),
      "doc_id", "text", evalDir)
    ext.Retrieval.appendToPostingsIndex(
      gate(Seq((2L, t2)).toDF("doc_id", "text")), "doc_id", "text", postDir)
    assert(stored() == Set(0L, 1L),
      "batch B must quarantine against the extended suite; batch A's " +
        "admit must not be retroactively revoked")
    // the retire lands; batch C re-admits doc 4 (same content class as
    // the quarantined doc 2) against the loosened living suite
    ext.Dedup.forgetFromContaminationIndex(
      Seq(201L).toDF("eval_id"), "eval_id", evalDir)
    ext.Retrieval.appendToPostingsIndex(
      gate(Seq((4L, t2)).toDF("doc_id", "text")), "doc_id", "text", postDir)
    assert(stored() == Set(0L, 1L, 4L),
      "a post-retire batch must re-admit the retired wave's colliders")
  }

  // ---------------------------- compaction folds deletes into absence

  test("CDC matview: compaction keeps deleted keys absent, folded pins fail") {
    val root = tmpDir("mv-cdc-compact") + "/snap"
    val base = (0L until 8L).map(i => (i, s"val$i")).toDF("k", "v0")
    graft.streaming.Ingest.upsertMatviewBatch(base, Seq("k"), root,
      id = 0L, buckets = 2)
    graft.streaming.Ingest.applyCdcMatviewBatch(
      Seq((3L, "x", 1L, "D"), (5L, "up5", 1L, "U"))
        .toDF("k", "v0", "seq", "op"),
      Seq("k"), "seq", "op", root, id = 1L, buckets = 2)
    graft.streaming.Ingest.applyCdcMatviewBatch(
      Seq((0L, "x", 2L, "D"), (6L, "up6", 2L, "U"))
        .toDF("k", "v0", "seq", "op"),
      Seq("k"), "seq", "op", root, id = 2L, buckets = 2)
    val before = view(root)
    assert(!before.exists(r => r.head == 3L || r.head == 0L))
    assert(before.size == 6)
    graft.streaming.Ingest.compactMatview(spark, root)
    assert(view(root) == before,
      "compaction over CDC-delete history must be view-invariant")
    assert(!view(root).exists(r => r.head == 3L || r.head == 0L),
      "folded state must keep deleted keys physically absent")
    intercept[IllegalArgumentException] {
      graft.streaming.Ingest.asOfSnapshot(spark, root, asOf = 1L).collect()
    }
  }

  // ------------- r16/r17 perf: postings head derivation ≡ full rebuild
  // (r16 merged base summaries + segments into stored head state per
  // append; r17 moved the same additive fold to READ time — the pin is
  // the additivity itself, unchanged)

  test("postings append: read-side head terms/meta equal a full-store rebuild") {
    val dir = tmpDir("post-merge") + "/idx"
    val base = Seq((0L, "spark join table spark"), (1L, "hash merge sort"),
      (2L, "stream window batch")).toDF("doc_id", "text")
    ext.Retrieval.writePostingsIndex(base, "doc_id", "text", dir, buckets = 4)
    ext.Retrieval.appendToPostingsIndex(
      Seq((3L, "spark stream stream"), (4L, "")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    // full-overlap redelivery: anti-joins to empty, commits an empty
    // segment, and the merge must still produce the same head summaries
    ext.Retrieval.appendToPostingsIndex(
      Seq((3L, "spark stream stream")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    ext.Retrieval.appendToPostingsIndex(
      Seq((5L, "sort batch table")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val living = ext.Retrieval.postingsLiving(spark, dir)
    val wantTerms = living.groupBy("pb", "term")
      .agg(count(lit(1)).as("dft"))
      .orderBy("pb", "term").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    val gotTerms = ext.Retrieval.headTermDict(spark, dir)
      .orderBy("pb", "term").collect()
      .map(r => (r.getAs[Int]("pb"), r.getAs[String]("term"),
        r.getAs[Long]("dft"))).toSeq
    assert(gotTerms == wantTerms,
      "derived head dictionary must equal the full-store derivation")
    val wantMeta = living.agg(count_distinct(col("doc_id")),
      sum(col("tf"))).head()
    val gotMeta = ext.Retrieval.foldedTotals(spark, dir)
    assert(gotMeta._1 == wantMeta.getLong(0) &&
      gotMeta._2 == wantMeta.getLong(1) && gotMeta._3 == 4,
      "derived head totals must equal the full-store totals")
    // and the graded query shape agrees with the inline scorer end-to-end
    val all = base.union(Seq((3L, "spark stream stream"), (4L, ""),
      (5L, "sort batch table")).toDF("doc_id", "text"))
    val qs = Seq(0 -> Seq("spark", "table"), 1 -> Seq("stream"))
    val stored = ext.Retrieval.bm25TopKFromIndex(spark, qs, dir, k = 3)
      .orderBy("query_id", "rk").collect().map(_.toSeq).toSeq
    val inline = ext.Retrieval.bm25TopK(all, "doc_id", "text", qs, k = 3)
      .orderBy("query_id", "rk").collect().map(_.toSeq).toSeq
    assert(stored == inline)
  }

  // ------------- r16: kNN append stays exact under full cosine ties
  // (pins append ≡ from-scratch when every mirrored pair lands exactly ON
  // the stored k-th threshold — neighbor-id ASC must decide. Historical
  // note: this fixture was written for a mirror-threshold PRUNE that was
  // ultimately REJECTED as a measured non-win (Similarity.scala records
  // it: row_number ≤ k already compiles to a partial WindowGroupLimit);
  // the tie-exactness pin is load-bearing for the shipped merge path
  // regardless.)

  test("knn append: equal-cosine ties merge identically to from-scratch") {
    // identical vectors make EVERY cosine 1.0, so every mirrored pair
    // ties with the stored rows: the merged top-k must let appended low
    // ids displace stored high ids (neighbor ASC), or the graph would
    // silently diverge from from-scratch
    val vecs = (10L until 18L).map(i => (i, Seq(1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val batch = (0L until 3L).map(i => (i, Seq(1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val dir = tmpDir("knn-tie") + "/g"
    ext.Similarity.writeKnnGraph(vecs, "vec_id", "embedding", dir, k = 3)
    ext.Similarity.appendToKnnGraph(batch, "vec_id", "embedding", dir)
    val want = ext.Similarity.knnGraphExact(vecs.union(batch), "vec_id",
        "embedding", k = 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val got = ext.Similarity.knnGraphFromIndex(spark, dir)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(got == want,
      "append must equal from-scratch under full cosine ties")
  }

  // ------------- r16 perf: lockstep subspace k-means ≡ per-subspace fits

  test("kmeansFitSubspaces: bit-identical to m separate per-slice kmeansFit") {
    val rnd = new scala.util.Random(7)
    val dims = 8; val m = 4; val sub = dims / m
    val vecs = (0L until 30L).map(i =>
      (i, Seq.fill(dims)(rnd.nextDouble() * 2 - 1))).toDF("id", "v")
    val grouped = ext.Clustering.kmeansFitSubspaces(vecs, "id", "v",
      m, sub, k = 3, iters = 3)
    val separate = (0 until m).map { j =>
      ext.Clustering.kmeansFit(
        vecs.select(col("id"), slice(col("v"), j * sub + 1, sub).as("sv")),
        "id", "sv", k = 3, iters = 3)
    }
    assert(grouped.size == m)
    for (j <- 0 until m) {
      assert(grouped(j).size == separate(j).size)
      for (c <- grouped(j).indices)
        assert(grouped(j)(c).toSeq == separate(j)(c).toSeq,
          s"subspace $j cluster $c centroid diverged")
    }
  }
}
