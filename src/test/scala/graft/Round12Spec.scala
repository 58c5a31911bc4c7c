package graft

import org.apache.spark.sql.functions._

/** Round-12 pins — the verdict/ADVICE hardening set:
  *  - PQ index forget (pq4): tombstone-set idempotence, living-view
  *    correctness, compact view-equality at every crash point, stale
  *    post-compact tombstones a no-op, re-append-after-forget hidden
  *    until compact then visible — the sim9/ret7 lifecycle contract
  *    applied to the last stored artifact missing its delete verb.
  *  - Fully-forgotten stores refuse to compact LOUDLY (PQ, postings,
  *    IVF, the eval suite) instead of publishing an artifact whose next read dies on
  *    NULL meta or empty-dir schema inference (ADVICE r12).
  *  - crossCorr accumulates its products in DECIMAL(38,0), not LongType
  *    — the ts4 oracle widens to HUGEINT, so a 100× corpus must widen,
  *    not silently wrap (ADVICE r12, medium).
  *  - linearAttribution rejects negative conversion values LOUDLY —
  *    truncating (Spark) vs floor (DuckDB) integer division diverge on
  *    negatives, so the non-negative corpus assumption is enforced, not
  *    assumed (ADVICE r12).
  */
class Round12Spec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------ pq forget (pq4)

  private def pqCorpus() = {
    val rows = (0L until 24L).map { i =>
      (i, (0 until 8).map(j =>
        math.sin(i * 1.7 + j * 0.9) * 2.0 + (i % 5) * 0.3).toArray)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("pq forget: tombstone-set idempotence and living-view correctness") {
    val df = pqCorpus()
    val dir = tmpDir("pq-forget-spec") + "/idx"
    ext.Similarity.writePqIndex(df, "vec_id", "embedding", dir,
      dims = 8, m = 2, ksub = 3, iters = 2)
    val doomed = df.where($"vec_id" % 5 === 2).select("vec_id")
    ext.Similarity.forgetFromPqIndex(doomed, "vec_id", dir)
    val view1 = ext.Similarity.pqCodesLiving(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(view1 == (0L until 24L).filter(_ % 5 != 2).toSet,
      "living view = corpus minus deleted")
    // overlapping retry: tombstones are a set
    ext.Similarity.forgetFromPqIndex(doomed, "vec_id", dir)
    val view2 = ext.Similarity.pqCodesLiving(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(view2 == view1, "repeated forget must not change the view")
  }

  test("pq forget: compact preserves the view at every crash point") {
    val df = pqCorpus()
    val dir = tmpDir("pq-compact-spec") + "/idx"
    ext.Similarity.writePqIndex(df.where($"vec_id" < 18), "vec_id",
      "embedding", dir, dims = 8, m = 2, ksub = 3, iters = 2)
    // a committed append segment must FOLD into the compacted base
    ext.Similarity.appendToPqIndex(df.where($"vec_id" >= 18), "vec_id",
      "embedding", dir)
    ext.Similarity.forgetFromPqIndex(
      df.where($"vec_id" < 6).select("vec_id"), "vec_id", dir)
    val before = ext.Similarity.pqCodesLiving(spark, dir)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    // crash point 1: a stale __tmp from a crashed swap is healed/ignored
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + "__tmp"))
    assert(ext.Similarity.pqCodesLiving(spark, dir)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq == before)
    ext.Similarity.compactPqIndex(spark, dir)
    val after = ext.Similarity.pqCodesLiving(spark, dir)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(after == before, "compact must preserve the living view")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")),
      "compact folds the tombstone store into the new root")
    assert(graft.core.Artifacts.committedChildren(
      spark, s"$dir/segments").isEmpty,
      "compact folds append segments into the new root")
    // the stored query path still answers through the compacted artifact
    val q = ext.Similarity.pqTopKFromIndex(spark, dir,
      df.select($"vec_id", $"embedding".as("v")),
      df.where($"vec_id" === 7L), "vec_id", "embedding", k = 3)
    assert(q.count() == 3L)
    // crash point 2: a stale tombstone re-planted AFTER the compact
    // (simulating the crash window of a tiered store whose tombstone
    // delete is separate) anti-joins against already-removed rows — no-op
    Seq(3L).toDF("doc_id").write.mode("append")
      .parquet(s"$dir/tombstones")
    assert(ext.Similarity.pqCodesLiving(spark, dir)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq == after,
      "stale tombstones over already-removed rows are a no-op")
  }

  test("pq forget: re-append of a forgotten id is hidden until compact") {
    val df = pqCorpus()
    val dir = tmpDir("pq-reappend-spec") + "/idx"
    ext.Similarity.writePqIndex(df, "vec_id", "embedding", dir,
      dims = 8, m = 2, ksub = 3, iters = 2)
    ext.Similarity.forgetFromPqIndex(
      df.where($"vec_id" === 5L).select("vec_id"), "vec_id", dir)
    // the anti-join probes the FULL store (id still coded), and even if
    // it re-landed, the stale tombstone would hide it — documented caveat
    ext.Similarity.appendToPqIndex(df.where($"vec_id" === 5L),
      "vec_id", "embedding", dir)
    assert(ext.Similarity.pqCodesLiving(spark, dir)
      .where($"vec_id" === 5L).isEmpty,
      "re-append before compact stays hidden behind the tombstone")
    ext.Similarity.compactPqIndex(spark, dir)
    ext.Similarity.appendToPqIndex(df.where($"vec_id" === 5L),
      "vec_id", "embedding", dir)
    assert(ext.Similarity.pqCodesLiving(spark, dir)
      .where($"vec_id" === 5L).count() == 1L,
      "after compact the id re-appends cleanly, exactly once")
  }

  // ------------------------------------- fully-forgotten compact rejects

  test("compact of a fully-forgotten store fails loudly (pq/postings/ivf)") {
    val df = pqCorpus()
    val pqDir = tmpDir("pq-empty-spec") + "/idx"
    ext.Similarity.writePqIndex(df, "vec_id", "embedding", pqDir,
      dims = 8, m = 2, ksub = 3, iters = 2)
    ext.Similarity.forgetFromPqIndex(df.select("vec_id"), "vec_id", pqDir)
    val e1 = intercept[IllegalArgumentException] {
      ext.Similarity.compactPqIndex(spark, pqDir)
    }
    assert(e1.getMessage.contains("forgotten"))

    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"))
      .toDF("doc_id", "text")
    val postDir = tmpDir("post-empty-spec") + "/idx"
    ext.Retrieval.writePostingsIndex(docs, "doc_id", "text", postDir)
    ext.Retrieval.forgetFromPostingsIndex(
      docs.select("doc_id"), "doc_id", postDir)
    val e2 = intercept[IllegalArgumentException] {
      ext.Retrieval.compactPostingsIndex(spark, postDir)
    }
    assert(e2.getMessage.contains("forgotten"))

    val emb = (0L until 12L).map(i => (i, s"L${i % 2}",
      (0 until 8).map(j => math.cos(i + j) + (i % 2) * 2.0).toArray))
      .toDF("vec_id", "label", "embedding")
    val ivfDir = tmpDir("ivf-empty-spec") + "/idx"
    ext.Similarity.writeIvfIndex(emb, "vec_id", "embedding", "label", ivfDir)
    ext.Similarity.forgetFromIvfIndex(emb.select("vec_id"), "vec_id", ivfDir)
    val e3 = intercept[IllegalArgumentException] {
      ext.Similarity.compactIvfIndex(spark, ivfDir)
    }
    assert(e3.getMessage.contains("forgotten"))

    val evalDir = tmpDir("eval-empty-spec") + "/idx"
    ext.Dedup.writeContaminationIndex(docs, "doc_id", "text", evalDir)
    ext.Dedup.forgetFromContaminationIndex(
      docs.select("doc_id"), "doc_id", evalDir)
    val e4 = intercept[IllegalArgumentException] {
      ext.Dedup.compactContaminationIndex(spark, evalDir)
    }
    assert(e4.getMessage.contains("forgotten"))
  }

  // ---------------------------------------------- postings as-of (ret8)

  test("postings as-of: pinned versions are immutable, bounds fail loudly") {
    val docs = Seq(
      (0L, "spark join table spark"), (2L, "hash merge sort"),
      (4L, "stream window batch join"), (1L, "spark spark spark"),
      (3L, "join join hash")).toDF("doc_id", "text")
    val dir = tmpDir("asof-spec") + "/idx"
    ext.Retrieval.writePostingsIndex(
      docs.where($"doc_id" % 2 === 0), "doc_id", "text", dir)
    val v0 = ext.Retrieval.postingsLiving(spark, dir, Some(0L))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(v0 == Set(0L, 2L, 4L))
    ext.Retrieval.appendToPostingsIndex(
      docs.where($"doc_id" % 2 === 1), "doc_id", "text", dir)
    // version 0 answers UNCHANGED after the append — immutability
    val v0after = ext.Retrieval.postingsLiving(spark, dir, Some(0L))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(v0after == v0, "a pinned version must not see later appends")
    val v1 = ext.Retrieval.postingsLiving(spark, dir, Some(1L))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(v1 == Set(0L, 1L, 2L, 3L, 4L))
    // a version that does not exist yet fails loudly
    val e = intercept[IllegalArgumentException] {
      ext.Retrieval.postingsLiving(spark, dir, Some(2L))
    }
    assert(e.getMessage.contains("does not exist"))
    // df derives from the PINNED relation, not the HEAD dictionary:
    // "spark" has df=1 at version 0 (doc 0) but df=2 at head (docs 0,1)
    val s0 = ext.Retrieval.bm25TopKFromIndex(spark,
      Seq(0 -> Seq("spark")), dir, asOf = Some(0L), k = 5).collect()
    assert(s0.map(_.getLong(1)).toSet == Set(0L),
      "version-0 read must rank only version-0 documents")
  }

  test("postings as-of: compaction folds history and folded pins fail loudly") {
    val docs = Seq(
      (0L, "spark join table"), (2L, "hash merge sort"),
      (1L, "spark window batch"), (3L, "join hash merge"))
      .toDF("doc_id", "text")
    val dir = tmpDir("asof-fold-spec") + "/idx"
    ext.Retrieval.writePostingsIndex(
      docs.where($"doc_id" % 2 === 0), "doc_id", "text", dir)
    ext.Retrieval.appendToPostingsIndex(
      docs.where($"doc_id" % 2 === 1), "doc_id", "text", dir)
    // forgotten documents never resurface through time travel
    ext.Retrieval.forgetFromPostingsIndex(
      docs.where($"doc_id" === 0L).select("doc_id"), "doc_id", dir)
    assert(!ext.Retrieval.postingsLiving(spark, dir, Some(0L))
      .select("doc_id").distinct().collect().map(_.getLong(0))
      .contains(0L),
      "right-to-be-forgotten outranks reproducibility on pinned reads")
    ext.Retrieval.compactPostingsIndex(spark, dir)
    // the fold advanced the floor past versions 0 and 1
    assert(graft.core.Artifacts.asOfFloor(spark, dir) == 1L)
    val e = intercept[IllegalArgumentException] {
      ext.Retrieval.postingsLiving(spark, dir, Some(0L))
    }
    assert(e.getMessage.contains("folded"),
      s"folded pin must fail loudly, got: ${e.getMessage}")
    // the floor version itself reads the compacted survivors
    val atFloor = ext.Retrieval.postingsLiving(spark, dir, Some(1L))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(atFloor == Set(1L, 2L, 3L))
    // post-compact appends keep versioning: floor + new segment
    ext.Retrieval.appendToPostingsIndex(
      Seq((6L, "sort table window")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val v2 = ext.Retrieval.postingsLiving(spark, dir, Some(2L))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(v2 == Set(1L, 2L, 3L, 6L))
  }

  test("postings as-of: pinned scores equal the inline scorer over the pinned population") {
    val docs = Seq(
      (0L, "spark join table spark"), (1L, "hash merge sort join"),
      (2L, "stream window batch"), (3L, "spark stream stream"),
      (4L, ""), (5L, "sort batch table spark")).toDF("doc_id", "text")
    val dir = tmpDir("asof-scores") + "/idx"
    ext.Retrieval.writePostingsIndex(
      docs.where($"doc_id" <= 2), "doc_id", "text", dir, buckets = 4)
    ext.Retrieval.appendToPostingsIndex(
      docs.where($"doc_id".between(3, 4)), "doc_id", "text", dir)
    ext.Retrieval.appendToPostingsIndex(
      docs.where($"doc_id" === 5), "doc_id", "text", dir)
    val qs = Seq(0 -> Seq("spark", "table"), 1 -> Seq("stream", "sort"),
      2 -> Seq("join", "batch", "absent"))
    def pinned() = ext.Retrieval.bm25TopKFromIndex(spark, qs, dir, k = 10,
        asOf = Some(1L))
      .orderBy("query_id", "rk", "doc_id").collect().map(_.toSeq).toSeq
    def inline(population: org.apache.spark.sql.DataFrame) =
      ext.Retrieval.bm25TopK(population, "doc_id", "text", qs, k = 10)
        .orderBy("query_id", "rk", "doc_id").collect().map(_.toSeq).toSeq
    // no tombstones: totals fold the base meta with the pinned segment
    val v1 = inline(docs.where($"doc_id" <= 4))
    assert(v1.nonEmpty)
    assert(pinned() == v1,
      "pinned (query_id, doc_id, score, rk) rows must equal the inline scorer")
    // one forgotten doc: totals take the exact aggregate of the pinned
    // living relation, so scores equal the inline scorer over survivors
    ext.Retrieval.forgetFromPostingsIndex(
      Seq(0L).toDF("doc_id"), "doc_id", dir)
    val survivors = inline(docs.where($"doc_id" <= 4 && $"doc_id" =!= 0L))
    assert(survivors != v1)
    assert(pinned() == survivors,
      "pinned rows after a forget must equal the inline scorer over the survivors")
  }

  test("pq as-of: pinned versions immutable, compact folds loudly") {
    val df = pqCorpus()
    val dir = tmpDir("pq-asof-spec") + "/idx"
    ext.Similarity.writePqIndex(df.where($"vec_id" < 18), "vec_id",
      "embedding", dir, dims = 8, m = 2, ksub = 3, iters = 2)
    ext.Similarity.appendToPqIndex(df.where($"vec_id" >= 18), "vec_id",
      "embedding", dir)
    val v0 = ext.Similarity.pqCodesLiving(spark, dir, Some(0L))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(v0 == (0L until 18L).toSet,
      "version 0 must not see the later append")
    val v1 = ext.Similarity.pqCodesLiving(spark, dir, Some(1L))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(v1 == (0L until 24L).toSet)
    intercept[IllegalArgumentException] {
      ext.Similarity.pqCodesLiving(spark, dir, Some(2L))
    }
    // a forget applies to pinned reads too, then compact folds history
    ext.Similarity.forgetFromPqIndex(
      df.where($"vec_id" === 3L).select("vec_id"), "vec_id", dir)
    assert(!ext.Similarity.pqCodesLiving(spark, dir, Some(0L))
      .select("vec_id").collect().map(_.getLong(0)).contains(3L))
    ext.Similarity.compactPqIndex(spark, dir)
    assert(graft.core.Artifacts.asOfFloor(spark, dir) == 1L)
    val e = intercept[IllegalArgumentException] {
      ext.Similarity.pqCodesLiving(spark, dir, Some(0L))
    }
    assert(e.getMessage.contains("folded"))
    assert(ext.Similarity.pqCodesLiving(spark, dir, Some(1L))
      .select("vec_id").collect().map(_.getLong(0)).toSet ==
      (0L until 24L).toSet - 3L)
    // a REBUILD swaps the whole root: version history resets to 0
    ext.Similarity.writePqIndex(df, "vec_id", "embedding", dir,
      dims = 8, m = 2, ksub = 3, iters = 2)
    assert(graft.core.Artifacts.asOfFloor(spark, dir) == 0L)
    assert(ext.Similarity.pqCodesLiving(spark, dir, Some(0L))
      .count() == 24L)
  }

  // ------------------------------------------- crossCorr decimal widening

  test("crossCorr: products accumulate in DECIMAL(38,0), never LongType") {
    val base = java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
    val rows = (0 until 6).flatMap { h =>
      (0 until (h + 1) * 3).map(i =>
        (base.plusHours(h).plusSeconds(i % 60),
          if (i % 2 == 0) "x" else "y"))
    }
    val df = rows.toDF("ts", "kind")
    val out = graft.queries.TimeSeries.crossCorr(df, col("ts"),
      col("kind") === "x", col("kind") === "y", lags = 1)
    // type-level pin: zx/zy must widen to DECIMAL(19,0) BEFORE the
    // products (Spark then sums exact DECIMAL(38,0) — the ts4 oracle
    // runs in HUGEINT, and a 100× corpus crosses 2^63 in LongType)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.contains("decimal(19,0)"),
      s"crossCorr must widen zx/zy to DECIMAL(19,0); plan:\n$plan")
    // value-level pin against a driver-side BigInt replay
    val hourly = rows.groupBy(r => r._1.withMinute(0).withSecond(0))
      .map { case (hr, es) =>
        (hr, es.count(_._2 == "x").toLong, es.count(_._2 == "y").toLong) }
      .toSeq.sortBy(_._1.toString)
    val n = BigInt(hourly.size)
    val sx = hourly.map(h => BigInt(h._2)).sum
    val sy = hourly.map(h => BigInt(h._3)).sum
    val zx = hourly.map(h => n * h._2 - sx)
    val zy = hourly.map(h => n * h._3 - sy)
    val dx = zx.map(v => v * v).sum
    val dy = zy.map(v => v * v).sum
    val num0 = zx.zip(zy).map { case (a, b) => a * b }.sum
    val r0 = num0.toDouble * 1e6 / (math.sqrt(dx.toDouble) * math.sqrt(dy.toDouble))
    val want0 = (if (r0 >= 0) math.floor(r0) else -math.floor(-r0)).toLong
    val got0 = out.where(col("lag") === 0).select("xcorr_micro")
      .head().getLong(0)
    assert(got0 == want0, s"lag-0 micro: got $got0 want $want0")
  }

  // -------------------------------------- linearAttribution value guard

  test("linearAttribution: negative conversion value fails loudly") {
    val base = java.time.LocalDateTime.of(2026, 3, 1, 12, 0)
    val ev = Seq(
      ("u1", 10L, "click", base.minusMinutes(5), 0.0),
      ("u1", 11L, "buy", base, -3.5), // refund-shaped negative value
    ).toDF("user", "id", "etype", "ts", "value")
    val out = graft.queries.Behavior.linearAttribution(ev, col("user"),
      col("ts"), col("id"), col("etype"), col("value"),
      touchTypes = Seq("click"), convType = "buy")
    val e = intercept[Exception] { out.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("negative conversion value")),
      s"want the loud guard, got: ${messages(e).mkString(" | ")}")
    // the non-negative path is untouched
    val ok = Seq(
      ("u1", 10L, "click", base.minusMinutes(5), 0.0),
      ("u1", 11L, "buy", base, 4.0),
    ).toDF("user", "id", "etype", "ts", "value")
    val r = graft.queries.Behavior.linearAttribution(ok, col("user"),
      col("ts"), col("id"), col("etype"), col("value"),
      touchTypes = Seq("click"), convType = "buy").collect()
    assert(r.length == 1 && r.head.getLong(2) == 4000000L)
  }
}
