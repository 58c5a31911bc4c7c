package graft

import org.apache.spark.sql.functions._

/** Round-9 pins — the three lifecycle closers the round-8 verdict
  * directed, plus the advice guards:
  *  - compactMatview folds every bucket's newest state into ONE version,
  *    view-invariant (latestSnapshot before ≡ after), keeps the newest id
  *    so a resumed writer's next batch id never collides, and state whose
  *    bucket was untouched by later batches survives the fold.
  *  - The stored-IVF drift contract: a fresh index measures ≈ 1 on every
  *    list (no rebuild), a shifted append drags the metric below the
  *    threshold (rebuild fires), and the rebuilt index measures clean
  *    again — drift-metric-triggers-rebuild, end to end.
  *  - appendToIvfIndex fails LOUDLY on a zero-norm vector (round-8 advice:
  *    cosine is NaN and NaN sorts first under desc — silently landing the
  *    vector in an arbitrary list).
  *  - bpeSegmentCounts applies a trained merge list in training order:
  *    before any merge the token count is the character count; each merge
  *    occurrence reduces it by exactly one; chained merges compose.
  */
class Round9Spec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- mv2

  private def snapshotRows(root: String): Set[(String, Long)] =
    streaming.Ingest.latestSnapshot(spark, root)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  private def versionDirs(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName).sorted.toSeq

  test("compactMatview: versions fold to one, view-invariant, newest id kept") {
    val root = tmpDir("mv2-compact") + "/snap"
    // batch 0 seeds four keys; batches 1/2 update DISJOINT single keys, so
    // at least one bucket's newest state still lives in v=0 — the fold
    // must pick it up from there, not just from the newest version
    streaming.Ingest.upsertMatviewBatch(
      Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L)).toDF("k", "cnt"),
      Seq("k"), root, 0L, buckets = 8)
    streaming.Ingest.upsertMatviewBatch(
      Seq(("a", 10L)).toDF("k", "cnt"), Seq("k"), root, 1L, buckets = 8)
    streaming.Ingest.upsertMatviewBatch(
      Seq(("b", 20L)).toDF("k", "cnt"), Seq("k"), root, 2L, buckets = 8)
    val before = snapshotRows(root)
    assert(before == Set(("a", 10L), ("b", 20L), ("c", 3L), ("d", 4L)))
    assert(versionDirs(root) == Seq("v=0", "v=1", "v=2"))
    streaming.Ingest.compactMatview(spark, root)
    assert(versionDirs(root) == Seq("v=2"), "fold keeps the NEWEST id only")
    assert(snapshotRows(root) == before, "compaction must be view-invariant")
    // a resumed writer continues ABOVE the kept id: no collision, and
    // reconstruction still sees every bucket (now all in one version)
    streaming.Ingest.upsertMatviewBatch(
      Seq(("c", 30L), ("e", 5L)).toDF("k", "cnt"), Seq("k"), root, 3L, buckets = 8)
    assert(snapshotRows(root) ==
      Set(("a", 10L), ("b", 20L), ("c", 30L), ("d", 4L), ("e", 5L)))
    // idempotent maintenance: single-version snapshots are a no-op
    streaming.Ingest.compactMatview(spark, root)
    streaming.Ingest.compactMatview(spark, root)
    assert(snapshotRows(root) ==
      Set(("a", 10L), ("b", 20L), ("c", 30L), ("d", 4L), ("e", 5L)))
  }

  test("compactMatview self-heals a simulated mid-swap crash") {
    val root = tmpDir("mv2-crash") + "/snap"
    streaming.Ingest.upsertMatviewBatch(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "cnt"), Seq("k"), root, 0L, buckets = 4)
    streaming.Ingest.upsertMatviewBatch(
      Seq(("a", 10L)).toDF("k", "cnt"), Seq("k"), root, 1L, buckets = 4)
    val before = snapshotRows(root)
    // simulate the crash window of the whole-root swap: the root moved
    // aside, the compacted root never swapped in — the aside holds the
    // only copy of the snapshot
    assert(new java.io.File(root).renameTo(new java.io.File(s"${root}__old")))
    streaming.Ingest.compactMatview(spark, root)
    assert(versionDirs(root) == Seq("v=1"), "recovery + compaction completed")
    assert(snapshotRows(root) == before,
      "self-heal must restore the asided root before folding")
    // committed-then-cleanup-crash variant: a stale aside next to a live
    // root is garbage and a re-run removes it silently
    assert(new java.io.File(s"${root}__old").mkdirs())
    streaming.Ingest.compactMatview(spark, root)
    assert(!new java.io.File(s"${root}__old").exists())
    assert(snapshotRows(root) == before)
  }

  test("matview version swap: a crash mid-commit reads the prior version, redelivery restores") {
    val root = tmpDir("mv-vswap") + "/snap"
    streaming.Ingest.upsertMatviewBatch(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "cnt"), Seq("k"), root, 0L, buckets = 4)
    val v0 = snapshotRows(root)
    streaming.Ingest.upsertMatviewBatch(
      Seq(("a", 10L)).toDF("k", "cnt"), Seq("k"), root, 1L, buckets = 4)
    val v1 = snapshotRows(root)
    // simulate the crash window of a redelivered batch 1's version swap:
    // v=1 moved aside, the rewritten v=1 never swapped in
    assert(new java.io.File(s"$root/v=1")
      .renameTo(new java.io.File(s"$root/v=1__old")))
    def pin(v: Long) = streaming.Ingest.asOfSnapshot(spark, root, v)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(snapshotRows(root) == v0, "the head read answers with the v=0 state")
    assert(pin(1L) == v0 && pin(0L) == v0, "as-of reads answer with the v=0 state")
    // the redelivered batch commits v=1 again and clears the aside
    streaming.Ingest.upsertMatviewBatch(
      Seq(("a", 10L)).toDF("k", "cnt"), Seq("k"), root, 1L, buckets = 4)
    assert(snapshotRows(root) == v1)
    assert(versionDirs(root) == Seq("v=0", "v=1"), "no aside left behind")
  }

  test("stored bloom artifact self-heals a simulated mid-swap crash on read and write") {
    val sf = "/root/testdata/sf0.001"
    val docs = core.Tables.documents(spark, sf).select("doc_id", "text")
    val dir = tmpDir("bf2-crash")
    ext.Dedup.writeBloomIndex(docs.where(col("doc_id") % 4 === 0), "text", dir)
    // simulate the crash window: filter moved aside, replacement never in
    assert(new java.io.File(s"$dir/bloom")
      .renameTo(new java.io.File(s"$dir/bloom__old")))
    // the RETRY path reads before it writes — read-side healing restores
    // the previous filter and the append then commits normally
    ext.Dedup.appendToBloomIndex(docs.where(col("doc_id") % 4 === 2), "text", dir)
    assert(!new java.io.File(s"$dir/bloom__old").exists())
    val scratch = tmpDir("bf2-crash-scratch")
    ext.Dedup.writeBloomIndex(docs.where(col("doc_id") % 2 === 0), "text", scratch)
    def bits(d: String) =
      spark.read.parquet(s"$d/bloom").head().getAs[Array[Byte]](2)
    assert(java.util.Arrays.equals(bits(dir), bits(scratch)),
      "healed-then-merged filter must equal the from-scratch union filter")
  }

  // ---------------------------------------------------------------- sim8

  private def vecDf(rows: Seq[(Long, Int, Seq[Double])]) =
    rows.toDF("vec_id", "label", "embedding")

  test("stored-IVF drift: fresh index clean, shifted append trips the rebuild, rebuilt index clean") {
    val dir = tmpDir("sim8-drift")
    // two tight clusters around (1,0,…) and (0,1,…), dim 4
    val base = vecDf((0L until 40L).map { i =>
      val l = (i % 2).toInt
      val eps = (i % 5).toDouble / 100.0
      if (l == 0) (i, 0, Seq(1.0 + eps, eps, 0.0, 0.0))
      else (i, 1, Seq(eps, 1.0 + eps, 0.0, 0.0))
    })
    ext.Similarity.writeIvfIndex(base, "vec_id", "embedding", "label", dir)
    val fresh = ext.Similarity.indexCentroidDrift(spark, dir)
      .agg(min("ccos")).head().getDouble(0)
    assert(fresh > 0.9999, s"fresh index must measure int8 noise only: $fresh")
    assert(!ext.Similarity.retrainIvfIndex(base, "vec_id", "embedding",
      "label", dir), "no drift -> no rebuild")
    // appended mass from a shifted distribution: list-0-shaped vectors
    // with a strong extra component the frozen centroid has none of
    val shifted = vecDf((100L until 120L).map(i =>
      (i, 0, Seq(1.0, 0.0, 2.0, 0.0))))
    ext.Similarity.appendToIvfIndex(shifted, "vec_id", "embedding", dir)
    val drifted = ext.Similarity.indexCentroidDrift(spark, dir)
      .agg(min("ccos")).head().getDouble(0)
    assert(drifted < 0.999, s"shifted append must register as drift: $drifted")
    val all = base.unionByName(shifted)
    assert(ext.Similarity.retrainIvfIndex(all, "vec_id", "embedding",
      "label", dir), "drift past the threshold must trigger the rebuild")
    val after = ext.Similarity.indexCentroidDrift(spark, dir)
      .agg(min("ccos")).head().getDouble(0)
    assert(after > 0.9999, s"re-trained centroids must measure clean: $after")
  }

  test("appendToIvfIndex raises loudly on a zero-norm vector") {
    val dir = tmpDir("sim8-zero")
    ext.Similarity.writeIvfIndex(
      vecDf(Seq((0L, 0, Seq(1.0, 0.0)), (1L, 1, Seq(0.0, 1.0)))),
      "vec_id", "embedding", "label", dir)
    val e = intercept[Exception] {
      ext.Similarity.appendToIvfIndex(
        vecDf(Seq((7L, 0, Seq(0.0, 0.0)))), "vec_id", "embedding", dir)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("zero-norm vector vec_id=7")),
      s"must name the offending vector: ${messages(e).mkString(" | ")}")
  }

  // ---------------------------------------------------------------- fb2s

  test("idleSessions: arrival branch splits on the gap, timeout branch flushes the final session") {
    import java.sql.Timestamp
    def ts(min: Long) = Timestamp.valueOf(java.time.LocalDateTime
      .of(2024, 1, 1, 0, 0, 0).plusMinutes(min))
    // user 1: events at 0, 10, 45 min (30-min gap) -> sessions {0,10} and
    // {45}; user 2: one event -> one session. The {45} and user-2 sessions
    // have NO successor event, so they can only emit through the
    // hasTimedOut branch — their presence proves the expiry path ran.
    val in = Seq((1L, ts(0), 1L, 5L), (1L, ts(10), 2L, 7L),
      (1L, ts(45), 3L, 11L), (2L, ts(0), 4L, 3L))
      .toDF("id", "ts", "seq", "v")
    val got = streaming.Replay.idleSessionReplay(spark, in,
        java.time.Duration.ofMinutes(30), "15 seconds",
        java.time.Duration.ofMinutes(40))
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0),
        r.getAs[java.time.LocalDateTime](1).getMinute, r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 0, 2L, 12L), (1L, 45, 1L, 11L),
      (2L, 0, 1L, 3L)))
  }

  // ---------------------------------------------------------------- TTL

  test("transformWithState per-variable TTL: generous TTL preserves the fold, expired TTL restarts the key") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming._
    import streaming.StateApi.TotIn
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    try {
      // TimeMode.ProcessingTime ALWAYS requests another batch
      // (TransformWithStateExec.shouldRunAnotherBatch — processing time
      // never stops advancing), so neither processAllAvailable nor an
      // AvailableNow run ever quiesces. Each step therefore runs its own
      // short-lived query against a SHARED checkpoint, polls the memory
      // sink for the data batch's emission, and stops the query — the
      // idle period between steps is real wall-clock, which is exactly
      // what a processing-time TTL expires against.
      def run(ttl: TTLConfig, sleepMs: Long): Seq[(Long, Long)] = {
        implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
        val mem = MemoryStream[TotIn]
        val ckpt = tmpDir("ttl-ckpt")
        val outDir = tmpDir("ttl-out")
        def step(expect: Long): Unit = {
          val q = mem.toDS()
            .groupByKey(_.id)
            .transformWithState(
              new streaming.StateApi.RunningTotalsProcessor(ttl),
              TimeMode.ProcessingTime(), OutputMode.Append())
            .toDF()
            .writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", ckpt)
            .start()
          def sinkRows(): Long =
            try spark.read.parquet(outDir).count()
            catch { // sink has not committed its first file yet
              case _: org.apache.spark.sql.AnalysisException => 0L
            }
          try {
            val deadline = System.nanoTime() + 120L * 1000000000L
            while (sinkRows() < expect &&
              System.nanoTime() < deadline) Thread.sleep(50)
          } finally q.stop()
        }
        mem.addData(TotIn("u1", 5L)); step(1L)
        Thread.sleep(sleepMs)
        mem.addData(TotIn("u1", 7L)); step(2L)
        spark.read.parquet(outDir)
          .collect().map(r => (r.getLong(1), r.getLong(2)))
          .sortBy(identity).toSeq
      }
      // generous TTL: the second run folds onto live restored state —
      // semantics identical to TTLConfig.NONE while keys stay live
      assert(run(TTLConfig(java.time.Duration.ofHours(1)), 0L) ==
        Seq((1L, 5L), (2L, 12L)))
      // tiny TTL + idle gap: the store reclaimed the key, the second
      // run starts a fresh fold — the production expiry behavior
      assert(run(TTLConfig(java.time.Duration.ofMillis(100)), 2000L) ==
        Seq((1L, 5L), (1L, 7L)))
    } finally {
      org.apache.spark.sql.graft.Bridge.unloadAllStateStores()
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  // ---------------------------------------------------------------- bf2

  test("stored bloom index: OR-merge == from-scratch build, stored path == inline path") {
    val sf = "/root/testdata/sf0.001"
    val docs = core.Tables.documents(spark, sf).select("doc_id", "text")
    val a1 = docs.where(col("doc_id") % 4 === 0)
    val a2 = docs.where(col("doc_id") % 4 === 2)
    val incremental = tmpDir("bf2-inc")
    ext.Dedup.writeBloomIndex(a1, "text", incremental)
    ext.Dedup.appendToBloomIndex(a2, "text", incremental)
    val scratch = tmpDir("bf2-scratch")
    ext.Dedup.writeBloomIndex(a1.unionByName(a2), "text", scratch)
    def bloomBits(dir: String) =
      spark.read.parquet(s"$dir/bloom").head().getAs[Array[Byte]](2)
    assert(java.util.Arrays.equals(bloomBits(incremental), bloomBits(scratch)),
      "OR-merged filter must equal the from-scratch filter over the union")
    // the dedup answered from the stored artifacts ≡ the inline build
    val batch = docs.where(col("doc_id") % 2 === 1)
      .unionByName(docs.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val stored = ext.Dedup.dedupIncrementalBloomFromIndex(
        batch, "doc_id", "text", incremental)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    val inline = ext.Dedup.dedupIncrementalBloom(
        batch, a1.unionByName(a2), "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(stored.nonEmpty && stored.sameElements(inline),
      "stored-artifact dedup must answer identically to the inline path")
  }

  // ------------------------------------------------------------ emb3/rp1

  test("standardizeMicro: hand-checked z-scores, constant dimension emits 0") {
    val df = Seq((1L, Seq(0.0, 5.0)), (2L, Seq(2.0, 5.0)))
      .toDF("vec_id", "embedding")
    val got = ext.Similarity.standardizeMicro(df, "vec_id", "embedding")
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getString(1)))
    // dim 0: mean 1, sample sd = sqrt(2) -> z = ∓1/sqrt(2), floored micro
    // units are asymmetric around zero (truncation toward -inf); dim 1 is
    // constant (sd = 0) -> 0 instead of an ANSI NaN
    assert(got.toSeq == Seq((1L, "-707107,0"), (2L, "707106,0")))
    // a NEAR-constant dimension whose decimal-quantized variance lands a
    // hair NEGATIVE (s2 − s²/n < 0 after per-term DECIMAL(30,6)
    // rounding): without greatest(·,0) the sd is NaN, NaN > 0 holds
    // under nan-sorts-greater, and the guard would not fire — the value
    // must clamp to sd = 0 and emit 0, with no silently-dropped fields
    val near = Seq((1L, Seq(1.0000006)), (2L, Seq(1.0000006)))
      .toDF("vec_id", "embedding")
    val gotNear = ext.Similarity.standardizeMicro(near, "vec_id", "embedding")
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(gotNear.toSeq == Seq((1L, "0"), (2L, "0")))
  }

  test("jlTopK: sign vector matches the LSH signature, exhaustive shortlist == brute force") {
    val sf = "/root/testdata/sf0.001"
    val emb = core.Tables.embeddings(spark, sf)
    // the hyperplane signature is exactly the projection's sign vector
    import graft.functions.VectorExpressions.{hyperplaneSigNative, randomProjectNative}
    val both = emb.limit(50).select(
        hyperplaneSigNative(col("embedding"), 12).as("sig"),
        randomProjectNative(col("embedding"), 12).as("proj"))
      .collect()
    both.foreach { r =>
      val sig = r.getLong(0)
      val proj = r.getSeq[Double](1)
      (0 until 12).foreach { b =>
        assert(((sig >> b) & 1L) == (if (proj(b) > 0) 1L else 0L),
          s"bit $b must be the projection's sign")
      }
    }
    // shortlist >= corpus makes the projected phase recall-total: the
    // exact re-rank must reproduce brute force row for row
    val queries = emb.where(col("vec_id") < 3)
    val jl = ext.Similarity.jlTopK(emb, queries, "vec_id", "embedding",
        k = 5, dims = 16, shortlist = 600)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    val brute = ext.Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k = 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    assert(jl.nonEmpty && jl.toSeq == brute.toSeq)
  }

  // ---------------------------------------------------------------- bpe3

  test("bpeSegmentCounts: char count before merges, minus one per merge occurrence, order-composed") {
    val docs = Seq((1L, "aab ab b"), (2L, "aab aab")).toDF("doc_id", "text")
    // one merge (a,b): aab -> [a, ab] (2), ab -> [ab] (1), b -> [b] (1)
    val one = ext.TextAnalysis.bpeSegmentCounts(docs, "doc_id", "text",
      Seq(("a", "b"))).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(one.toSeq == Seq((1L, 3L, 4L), (2L, 2L, 4L)))
    // chained merges compose in training order: (a,b) then (a,ab)
    val two = ext.TextAnalysis.bpeSegmentCounts(docs, "doc_id", "text",
      Seq(("a", "b"), ("a", "ab"))).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(two.toSeq == Seq((1L, 3L, 3L), (2L, 2L, 2L)))
    // the trained artifact consumed end-to-end: counts drop vs characters
    // exactly where merges apply, never below the word count
    val sf = "/root/testdata/sf0.001"
    val d = core.Tables.documents(spark, sf)
    val merges = ext.TextAnalysis.bpeMergeRounds(d, "text", rounds = 2)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val out = ext.TextAnalysis.bpeSegmentCounts(d, "doc_id", "text", merges)
    val bad = out.where(col("n_bpe_tokens") < col("n_words")).count()
    assert(bad == 0, "a word can never segment to fewer than one token")
  }
}
