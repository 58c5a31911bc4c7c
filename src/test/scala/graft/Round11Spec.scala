package graft

import org.apache.spark.sql.functions._

/** Round-11 pins — the verdict/ADVICE hardening set:
  *  - SCC trim prepass: a pure path graph (the FW-BW worst case that
  *    previously peeled ONE node per outer round) finishes within 2
  *    outer rounds; trim + FW-BW still agree on mixed cycle/tail graphs.
  *  - boruvkaForestBudgeted fails LOUDLY when convergence exceeds the
  *    oracle's unrolled round budget.
  *  - quantileNormalize / winsorizedStats reject high-cardinality group
  *    columns loudly (|groups|-sized plan literals are the few-giant-
  *    groups contract).
  *  - PQ artifact commit discipline: retried appends are no-ops
  *    (vec_id anti-join over committed segments), crashed appends are
  *    invisible and swept, and a crashed build never publishes a torn
  *    codebooks/meta/codes trio.
  */
class Round11Spec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- scc trim

  test("scc: 30-node path (trim worst case) finishes within 2 outer rounds") {
    val edges = (0L until 29L).map(i => (i, i + 1)).toDF("src", "dst")
    // pre-trim FW-BW peeled ~one SCC per round here; trim must eat the
    // whole path, so 2 outer rounds suffice (second proves emptiness)
    val got = ext.Graph.stronglyConnectedComponents(edges, maxRounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0L until 30L).map(n => (n, n)).toSet,
      "every path node is its own singleton SCC")
  }

  test("scc: trim + FW-BW agree on a cycle with DAG tails") {
    // tail 0→1→2 into cycle 2→3→4→2, out-tail 4→5→6, plus a second
    // cycle 7→8→7 reachable from 6 — trim eats the tails, FW-BW the cycles
    val edges = Seq(
      (0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 2L),
      (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L), (8L, 7L),
    ).toDF("src", "dst")
    val got = ext.Graph.stronglyConnectedComponents(edges, maxRounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set(
      (0L, 0L), (1L, 1L), (2L, 2L), (3L, 2L), (4L, 2L),
      (5L, 5L), (6L, 6L), (7L, 7L), (8L, 7L)))
  }

  // ------------------------------------------------- boruvka round budget

  test("boruvkaForestBudgeted: loud failure past the oracle round budget") {
    // a 9-node path with ALTERNATING weights needs exactly 2 claiming
    // rounds: round 1 claims the w=1 edges (pairwise merges), round 2
    // the w=5 edges connecting the pairs
    val es = (0L until 8L).map(i => (i, i + 1, if (i % 2 == 0) 1L else 5L))
    val edges = es.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      .toDF("src", "dst", "w")
    val ok = ext.Graph.boruvkaForestBudgeted(edges, oracleRounds = 7)
    assert(ok.count() == 8L, "complete path MSF keeps every edge")
    val ex = intercept[IllegalArgumentException] {
      ext.Graph.boruvkaForestBudgeted(edges, oracleRounds = 1).count()
    }
    assert(ex.getMessage.contains("exceeding the oracle's unrolled budget"),
      s"message must name the budget handshake: ${ex.getMessage}")
  }

  // ------------------------------------------- group-cardinality guards

  test("quantileNormalize: loud rejection of high-cardinality groups") {
    val df = (0 until 50).map(i => (i.toLong, s"g$i", i * 1.5))
      .toDF("rid", "grp", "v")
    val ex = intercept[IllegalArgumentException] {
      ext.Curation.quantileNormalize(df, col("rid"), col("grp"), col("v"),
        maxGroups = 10).count()
    }
    assert(ex.getMessage.contains("PARTITION BY"),
      s"message must name the window alternative: ${ex.getMessage}")
    // under the cap the operator still works
    val ok = ext.Curation.quantileNormalize(df, col("rid"), col("grp"),
      col("v"), maxGroups = 50)
    assert(ok.count() == 50L)
  }

  test("winsorizedStats: loud rejection of high-cardinality keys") {
    val df = (0 until 40).map(i => (s"k$i", i.toLong, i * 2.0))
      .toDF("k", "rid", "v")
    val ex = intercept[IllegalArgumentException] {
      queries.Stats.winsorizedStats(df, col("k"), col("rid"), col("v"),
        maxGroups = 8).count()
    }
    assert(ex.getMessage.contains("PARTITION BY"),
      s"message must name the window alternative: ${ex.getMessage}")
    val ok = queries.Stats.winsorizedStats(df, col("k"), col("rid"),
      col("v"), maxGroups = 40)
    assert(ok.count() == 40L)
  }

  // -------------------------------- clusterRoots adaptive driver merge

  test("clusterRoots: driver union-find path equals distributed fixpoint") {
    val rnd = new scala.util.Random(113)
    (1 to 3).foreach { trial =>
      val pairs = (1 to 60).map(_ =>
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
        .toDF("id_a", "id_b")
        .localCheckpoint()
      val driver = ext.Dedup.clusterRoots(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val dist = ext.Dedup.clusterRoots(pairs, driverMergeMax = -1L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(driver == dist, s"trial $trial: paths must agree")
      assert(driver.nonEmpty)
      // min-id root semantics hold on both
      driver.groupBy(_._2).foreach { case (root, members) =>
        assert(members.map(_._1).min == root,
          s"trial $trial: root must be the component minimum")
      }
    }
  }

  // -------------------------------------------- postings forget (ret7)

  test("postings forget: living view immediate, Lucene df until compact") {
    val docs = Seq(
      (1L, "alpha beta"), (2L, "alpha gamma"), (3L, "alpha delta"),
      (4L, "alpha epsilon"), (5L, "zeta eta"),
    ).toDF("doc_id", "text")
    val qs = Seq(0 -> Seq("alpha"))
    val dir = tmpDir("ret7-spec") + "/idx"
    ext.Retrieval.writePostingsIndex(docs, "doc_id", "text", dir)
    val before = ext.Retrieval.bm25TopKFromIndex(spark, qs, dir, k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(before.keySet == Set(1L, 2L, 3L, 4L))
    ext.Retrieval.forgetFromPostingsIndex(
      docs.where($"doc_id" === 2).select("doc_id"), "doc_id", dir)
    // pre-compact: doc 2 leaves the RESULTS at once, but df/N still
    // reflect the pre-forget store (Lucene's docFreq-includes-deletions)
    // so the survivors' scores are UNCHANGED
    val mid = ext.Retrieval.bm25TopKFromIndex(spark, qs, dir, k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(mid.keySet == Set(1L, 3L, 4L))
    assert(mid.forall { case (d, s) => before(d) == s },
      "pre-compact scores keep the stored df (the Lucene semantics)")
    // post-compact: scores equal a FROM-SCRATCH index over survivors
    ext.Retrieval.compactPostingsIndex(spark, dir)
    val after = ext.Retrieval.bm25TopKFromIndex(spark, qs, dir, k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    val fresh = tmpDir("ret7-spec-fresh") + "/idx"
    ext.Retrieval.writePostingsIndex(docs.where($"doc_id" =!= 2),
      "doc_id", "text", fresh)
    val want = ext.Retrieval.bm25TopKFromIndex(spark, qs, fresh, k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(after == want, "post-compact must equal a from-scratch build")
  }

  // ------------------------------------------------- time travel (mv3)

  test("asOfSnapshot: pinned version, later writers invisible, compaction folds") {
    val root = tmpDir("mv3-spec") + "/snap"
    def up(id: Long, rows: Seq[(String, Long)]): Unit =
      streaming.Ingest.upsertMatviewBatch(rows.toDF("k", "n"), Seq("k"),
        root, id)
    up(0L, Seq(("a", 1L), ("b", 1L)))
    up(1L, Seq(("b", 2L)))
    up(2L, Seq(("a", 9L), ("c", 9L)))
    def read(v: Long) = streaming.Ingest.asOfSnapshot(spark, root, v)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(read(0L) == Set(("a", 1L), ("b", 1L)))
    assert(read(1L) == Set(("a", 1L), ("b", 2L)),
      "v1 sees v1's upsert and v0's untouched keys; v2 invisible")
    assert(read(2L) == Set(("a", 9L), ("b", 2L), ("c", 9L)))
    assert(streaming.Ingest.latestSnapshot(spark, root)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet == read(2L))
    // compaction folds history: the latest view survives, as-of reads of
    // folded-away versions fail LOUDLY (the retention contract)
    streaming.Ingest.compactMatview(spark, root)
    assert(streaming.Ingest.latestSnapshot(spark, root)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 9L), ("b", 2L), ("c", 9L)))
    val ex = intercept[IllegalArgumentException] {
      streaming.Ingest.asOfSnapshot(spark, root, 0L).collect()
    }
    assert(ex.getMessage.contains("compaction"),
      s"message must name the retention contract: ${ex.getMessage}")
  }

  // ------------------------------------------------ pq commit discipline

  private def pqCorpus() = {
    val rows = (0L until 24L).map { i =>
      (i, (0 until 8).map(j =>
        math.sin(i * 1.7 + j * 0.9) * 2.0 + (i % 5) * 0.3).toArray)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("pq append: retried batch is a no-op (vec_id anti-join over segments)") {
    val df = pqCorpus()
    val init = df.where($"vec_id" < 18)
    val batch = df.where($"vec_id" >= 18)
    val dir = tmpDir("pq-retry-spec") + "/idx"
    ext.Similarity.writePqIndex(init, "vec_id", "embedding", dir,
      dims = 8, m = 2, ksub = 3, iters = 2)
    ext.Similarity.appendToPqIndex(batch, "vec_id", "embedding", dir)
    val once = ext.Similarity.pqCodesRelation(spark, dir)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(once.size == 24, "all vectors coded exactly once")
    // at-least-once retry: the same batch again must change NOTHING
    ext.Similarity.appendToPqIndex(batch, "vec_id", "embedding", dir)
    val twice = ext.Similarity.pqCodesRelation(spark, dir)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(twice == once, "retried append must be idempotent")
  }

  test("pq append: crashed stage (__tmp leftover) is invisible and swept") {
    val df = pqCorpus()
    val dir = tmpDir("pq-crash-spec") + "/idx"
    ext.Similarity.writePqIndex(df.where($"vec_id" < 20), "vec_id",
      "embedding", dir, dims = 8, m = 2, ksub = 3, iters = 2)
    // simulate a crash mid-stage: a __tmp segment dir with garbage inside
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val tmpSeg = new org.apache.hadoop.fs.Path(s"$dir/segments/seg_000000_crashed__tmp")
    fs.mkdirs(tmpSeg)
    assert(ext.Similarity.pqCodesRelation(spark, dir).count() == 20L,
      "in-flight __tmp stage must be invisible to readers")
    ext.Similarity.appendToPqIndex(df.where($"vec_id" >= 20), "vec_id",
      "embedding", dir)
    assert(!fs.exists(tmpSeg), "the next append must sweep the crashed stage")
    assert(ext.Similarity.pqCodesRelation(spark, dir).count() == 24L)
  }

  // -------------------------------------------------- ivf forget (sim9)

  private def ivfCorpus() = {
    val rows = (0L until 30L).map { i =>
      (i, s"L${i % 3}", (0 until 8).map(j =>
        math.cos(i * 1.3 + j * 0.7) + (i % 3) * 2.0).toArray)
    }
    rows.toDF("vec_id", "label", "embedding")
  }

  test("ivf forget: tombstone-set idempotence and living-view correctness") {
    val df = ivfCorpus()
    val dir = tmpDir("ivf-forget-spec") + "/idx"
    ext.Similarity.writeIvfIndex(df, "vec_id", "embedding", "label", dir)
    val doomed = df.where($"vec_id" % 5 === 2).select("vec_id")
    ext.Similarity.forgetFromIvfIndex(doomed, "vec_id", dir)
    val view1 = ext.Similarity.ivfLivingIndex(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(view1 == (0L until 30L).filter(_ % 5 != 2).toSet,
      "living view = corpus minus deleted")
    // overlapping retry: tombstones are a set
    ext.Similarity.forgetFromIvfIndex(doomed, "vec_id", dir)
    val view2 = ext.Similarity.ivfLivingIndex(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(view2 == view1, "repeated forget must not change the view")
    // the request lands in the tier's tombstone store
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")))
  }

  test("ivf forget: compact preserves the view at every crash point") {
    val df = ivfCorpus()
    val dir = tmpDir("ivf-compact-spec") + "/idx"
    ext.Similarity.writeIvfIndex(df, "vec_id", "embedding", "label", dir)
    ext.Similarity.forgetFromIvfIndex(
      df.where($"vec_id" < 6).select("vec_id"), "vec_id", dir)
    val before = ext.Similarity.ivfLivingIndex(spark, dir)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    // crash point 1: a stale __tmp from a crashed whole-root swap is
    // healed/ignored (compactIvfIndex swaps the ENTIRE root since the
    // segmented-layout refactor)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + "__tmp"))
    assert(ext.Similarity.ivfLivingIndex(spark, dir)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq == before)
    ext.Similarity.compactIvfIndex(spark, dir)
    val after = ext.Similarity.ivfLivingIndex(spark, dir)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(after == before, "compact must preserve the living view")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")),
      "compact clears the tombstone store")
    // crash point 2: compacted qindex + LEFTOVER tombstones (crash between
    // swap and tombstone delete) — the stale stones match nothing
    ext.Similarity.forgetFromIvfIndex(
      df.where($"vec_id" === 7).select("vec_id"), "vec_id", dir)
    val v7 = ext.Similarity.ivfLivingIndex(spark, dir)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    ext.Similarity.compactIvfIndex(spark, dir)
    // re-plant the already-applied tombstone to simulate the crash
    // window (the forget does not probe the index, so it lands although
    // the id is no longer stored)
    ext.Similarity.forgetFromIvfIndex(Seq(7L).toDF("vec_id"), "vec_id", dir)
    assert(ext.Similarity.ivfLivingIndex(spark, dir)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq == v7,
      "stale tombstones over already-removed rows are a no-op")
    ext.Similarity.compactIvfIndex(spark, dir)
    assert(ext.Similarity.ivfLivingIndex(spark, dir)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq == v7)
  }

  test("pq build: rebuild atomically supersedes appended segments") {
    val df = pqCorpus()
    val dir = tmpDir("pq-rebuild-spec") + "/idx"
    ext.Similarity.writePqIndex(df.where($"vec_id" < 12), "vec_id",
      "embedding", dir, dims = 8, m = 2, ksub = 3, iters = 2)
    ext.Similarity.appendToPqIndex(df.where($"vec_id" >= 12), "vec_id",
      "embedding", dir)
    assert(ext.Similarity.pqCodesRelation(spark, dir).count() == 24L)
    // a retrain rebuild swaps the WHOLE artifact — old segments gone
    ext.Similarity.writePqIndex(df, "vec_id", "embedding", dir,
      dims = 8, m = 2, ksub = 3, iters = 2)
    assert(ext.Similarity.pqCodesRelation(spark, dir).count() == 24L,
      "no double-counted segment rows after the rebuild swap")
    assert(graft.core.Artifacts.committedChildren(
      spark, s"$dir/segments").isEmpty, "rebuild supersedes segments")
  }
}
