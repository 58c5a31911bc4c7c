package graft

import org.apache.spark.sql.functions._

/** Round-9 widening pins — the contracts behind the four new graded
  * operators, each checked against a brute-force or planted ground truth:
  *  - cusumChangepoints equals the literal CUSUM recursion on a planted
  *    level shift, and the argmax lands where the shift accumulates.
  *  - ksTwoSample equals the brute-force supremum over a fuzzed pair of
  *    samples (including the smallest-value tie-break), and identical
  *    sides score zero.
  *  - weightedHops: a cheap 2-edge detour beats a direct heavy edge
  *    (the semantics hop-count BFS cannot express), unreached nodes stay
  *    absent, and a later round only ever improves distances.
  *  - heavyHitters is RECALL-EXACT vs the full groupBy on skewed data
  *    across many partitions — the Misra–Gries survival guarantee plus
  *    the exact verify phase reproduce the HAVING set exactly.
  */
class Round9bSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- cp1

  test("cusumChangepoints: planted level shift matches the literal recursion") {
    // key "a": 12 hours at 100 then 12 hours at 160 — a sustained +60
    // shift; key "b": flat with ONE isolated hour at the same 160 — the
    // sustained regime must accumulate far past the equal-magnitude
    // point event (the discrimination z-score screens cannot make)
    val base = java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
    def row(k: String, h: Int, v: Double) =
      (k, java.sql.Timestamp.valueOf(base.plusHours(h)), v)
    val rows =
      (0 until 12).map(h => row("a", h, 100.0)) ++
      (12 until 24).map(h => row("a", h, 160.0)) ++
      (0 until 24).map(h => row("b", h, if (h == 5) 160.0 else 100.0))
    val df = rows.toDF("k", "ts", "v")
    val got = queries.TimeSeries.cusumChangepoints(df, $"k", $"ts", $"v")
      .orderBy("id").collect()

    // literal one-sided CUSUM recursion on the n-scaled integer series
    def brute(vs: Seq[Long]): (Long, Int) = {
      val n = vs.length.toLong; val tot = vs.sum
      var s = 0L; var best = 0L; var arg = 0
      vs.zipWithIndex.foreach { case (v, i) =>
        s = math.max(0L, s + (n * v - tot))
        if (s > best) { best = s; arg = i }
      }
      (best, arg)
    }
    val va = (0 until 12).map(_ => 100000000L) ++ (12 until 24).map(_ => 160000000L)
    val (bestA, argA) = brute(va)
    val a = got(0)
    assert(a.getString(0) == "a" && a.getLong(1) == 24L)
    assert(a.getLong(2) == bestA)
    assert(a.getAs[java.time.LocalDateTime](3) == base.plusHours(argA))
    // the up-shift statistic accumulates over the whole second regime:
    // its argmax is the LAST hour, and it dwarfs the spike key's
    val b = got(1)
    assert(argA == 23)
    assert(a.getLong(2) > b.getLong(2))
  }

  test("cusumChangepoints: flat series scores zero both sides") {
    val base = java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
    val df = (0 until 10)
      .map(h => ("k", java.sql.Timestamp.valueOf(base.plusHours(h)), 7.0))
      .toDF("k", "ts", "v")
    val r = queries.TimeSeries.cusumChangepoints(df, $"k", $"ts", $"v").head()
    assert(r.getLong(2) == 0L && r.getLong(4) == 0L)
    // zero is attained everywhere; ties break to the EARLIEST hour
    assert(r.getAs[java.time.LocalDateTime](3) == base)
  }

  // ------------------------------------------------------------- ks1

  private def bruteKs(a: Seq[Long], b: Seq[Long]): (Long, Long, Long, Long) = {
    // (ks_value, cum_a, cum_b, d_num) with ties to the smallest value
    val na = a.size.toLong; val nb = b.size.toLong
    val vs = (a ++ b).distinct.sorted
    var best = (0L, 0L, 0L, -1L)
    vs.foreach { v =>
      val ca = a.count(_ <= v).toLong; val cb = b.count(_ <= v).toLong
      val d = math.abs(ca * nb - cb * na)
      if (d > best._4) best = (v, ca, cb, d)
    }
    best
  }

  test("ksTwoSample: fuzzed agreement with the brute-force supremum") {
    val rnd = new scala.util.Random(9)
    (1 to 5).foreach { trial =>
      val a = Seq.fill(40 + rnd.nextInt(40))(rnd.nextInt(25).toLong)
      val b = Seq.fill(40 + rnd.nextInt(40))(rnd.nextInt(25).toLong + trial % 3)
      val r = queries.Stats.ksTwoSample(
        a.toDF("v"), b.toDF("v"), $"v", numRanges = 7).head()
      val (v, ca, cb, d) = bruteKs(a, b)
      assert(r.getLong(0) == a.size.toLong && r.getLong(1) == b.size.toLong)
      assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
        ((v, ca, cb, d)), s"trial $trial")
    }
  }

  test("ksTwoSample: identical sides have zero supremum") {
    val xs = Seq(1L, 2L, 2L, 3L, 9L)
    val r = queries.Stats.ksTwoSample(xs.toDF("v"), xs.toDF("v"), $"v").head()
    assert(r.getLong(5) == 0L)
    assert(r.getLong(2) == 1L, "zero everywhere — tie breaks to smallest value")
  }

  // ------------------------------------------------------------ wsp1

  test("weightedHops: cheap detour beats direct heavy edge; rounds bound paths") {
    // 1→2 direct w=10; 1→3→2 costs 2+2=4; 1→4→5 needs two rounds
    val e = Seq((1L, 2L, 10L), (1L, 3L, 2L), (3L, 2L, 2L),
      (1L, 4L, 1L), (4L, 5L, 1L), (6L, 1L, 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    def dists(rounds: Int): Map[Long, Long] =
      ext.Graph.weightedHops(e, seeds, rounds).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r1 = dists(1)
    assert(r1 == Map(1L -> 0L, 2L -> 10L, 3L -> 2L, 4L -> 1L))
    val r2 = dists(2)
    // the detour relaxes in round 2 and IMPROVES node 2's distance
    assert(r2(2L) == 4L && r2(5L) == 2L)
    // node 6 only has an OUT-edge to the seed: never reached
    assert(!r2.contains(6L))
    // monotonicity: another round never worsens any distance
    val r3 = dists(3)
    r2.foreach { case (n, d2) => assert(r3(n) <= d2) }
  }

  // ------------------------------------------------------------- mst1

  test("boruvkaEdges: fuzzed full-MSF equality vs Kruskal under (w,a,b) order") {
    val rnd = new scala.util.Random(53)
    (1 to 3).foreach { trial =>
      // ~14 nodes, enough density to connect most of them; weights with
      // deliberate TIES so the (w, a, b) total-order tie-break is load-
      // bearing; log2(14) < 4 rounds complete the forest
      val nodes = (0L until 14L)
      val es = (for {
        a <- nodes; b <- nodes if a < b && rnd.nextDouble() < 0.25
      } yield (a, b, (rnd.nextInt(5) + 1).toLong)).toSeq
      val edges = es.flatMap { case (a, b, w) =>
        Seq((a, b, w), (b, a, w)) }.toDF("src", "dst", "w")
      val got = ext.Graph.boruvkaEdges(edges, rounds = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // Kruskal with the identical total order (w, a, b)
      val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      val want = scala.collection.mutable.Set.empty[(Long, Long, Long)]
      es.sortBy { case (a, b, w) => (w, a, b) }.foreach { case (a, b, w) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { parent(ra) = rb; want += ((a, b, w)) }
      }
      assert(want.nonEmpty, s"trial $trial: fixture must have edges")
      assert(got == want.toSet, s"trial $trial")
    }
  }

  test("boruvkaEdges: one round claims an acyclic subset covering every node") {
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 4L, 2L), (4L, 1L, 5L),
        (5L, 6L, 1L))
      .flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      .toDF("src", "dst", "w")
    val got = ext.Graph.boruvkaEdges(edges, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // claims: 1→(1,2,3)? no — 1's min is (4,1) w=5 vs (1,2) w=3 → (1,2);
    // 2→(2,3) w=1; 3→(2,3); 4→(3,4) w=2; 5,6→(5,6)
    assert(got == Set((1L, 2L, 3L), (2L, 3L, 1L), (3L, 4L, 2L), (5L, 6L, 1L)))
    val covered = got.flatMap(t => Seq(t._1, t._2))
    assert(covered == Set(1L, 2L, 3L, 4L, 5L, 6L), "every node is an endpoint")
    assert(got.size < 6, "forest property: fewer edges than nodes")
  }

  // ------------------------------------------------------------- hh1

  test("heavyHitters: recall-exact vs the full groupBy on skewed data") {
    val rnd = new scala.util.Random(17)
    // Zipf-ish: key i drawn with weight ~ 1/(i+1); 12 partitions so the
    // per-partition MG summaries genuinely differ from the global answer
    val keys = Seq.fill(6000) {
      val u = rnd.nextDouble()
      ("k" + math.min((1.0 / u).toInt, 40)): String
    }
    val df = spark.createDataset(keys).repartition(12).toDF("t")
    val k = 25
    val got = ext.Profile.heavyHitters(df, $"t", k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = keys.size.toLong
    val want = keys.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 * k >= n).toMap
    assert(got == want)
    assert(got.nonEmpty, "fixture must actually contain heavy hitters")
    assert(got.size < keys.distinct.size,
      "fixture must also contain NON-hitters or the threshold is vacuous")
  }

  // ------------------------------------------------------------- fp1

  test("frequentTriples: Apriori pruning is recall-exact vs brute force") {
    val rnd = new scala.util.Random(31)
    // 120 baskets over a 12-item catalog, 3-6 items each — small enough
    // that C(n,3) brute force is trivial, dense enough that support-2
    // triples exist and the pair prunes actually drop candidates
    val rows = (1L to 120L).flatMap { o =>
      rnd.shuffle((0L until 12L).toList).take(3 + rnd.nextInt(4))
        .map(p => (o, p))
    }
    val li = rows.toDF("l_orderkey", "l_partkey")
    val got = queries.Basket.frequentTriples(li, minSupport = 2L)
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
      .toMap
    val want = rows.groupBy(_._1).values
      .flatMap(b => b.map(_._2).distinct.sorted.combinations(3))
      .toSeq.groupBy(identity).view
      .mapValues(_.size.toLong).filter(_._2 >= 2L)
      .map { case (t, n) => ((t(0), t(1), t(2)), n) }.toMap
    assert(want.nonEmpty, "fixture must contain frequent triples")
    assert(got == want)
  }

  // ------------------------------------------------------------- pmi1

  test("pmiCollocations: association beats raw frequency; exact fixed point") {
    // "of the" appears 20× but both words are everywhere (low PMI);
    // "zig zag" appears 6× and its words appear ONLY together (max PMI)
    val docs = (
      (1 to 20).map(i => (i.toLong, "of the filler" + i)) ++
      (21 to 26).map(i => (i.toLong, "zig zag")) ++
      (27 to 46).map(i => (i.toLong, "of x" + i)) ++
      (47 to 66).map(i => (i.toLong, "the y" + i))
    ).toDF("doc_id", "text")
    val out = ext.TextAnalysis.pmiCollocations(docs, "text", topK = 5,
        minCount = 5L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val byName = out.map(t => t._1 -> t).toMap
    assert(byName.contains("zig zag") && byName.contains("of the"))
    // N = 20*3 + 6*2 + 20*2 + 20*2 = 152 tokens
    val zz = byName("zig zag")
    assert((zz._2, zz._3, zz._4) == ((6L, 6L, 6L)))
    assert(zz._5 == 152L * 6L * 10000L / (6L * 6L))
    val ot = byName("of the")
    assert((ot._2, ot._3, ot._4) == ((20L, 40L, 40L)))
    assert(ot._5 == 152L * 20L * 10000L / (40L * 40L))
    assert(zz._5 > ot._5, "pure collocation must out-rank the stopword pair")
    assert(out.head._1 == "zig zag")
  }

  // ------------------------------------------------------------- sea1

  test("seasonalAnomalies: cohort baseline flags the off-diurnal hour") {
    val base = java.time.LocalDateTime.of(2026, 3, 1, 0, 0)
    // 5 days × 4 hours-of-day; hod 2 runs at 100 except day 3 at 400 —
    // a trailing-window screen would flag nothing (the spike is brief)
    // but the hod-2 cohort deviation must rank it first for the key
    val rows = for (d <- 0 until 5; h <- 0 until 4) yield {
      val v = if (h == 2 && d == 3) 400.0 else 100.0
      ("k", java.sql.Timestamp.valueOf(base.plusDays(d).plusHours(h)), v)
    }
    val out = queries.TimeSeries.seasonalAnomalies(
        rows.toDF("k", "ts", "v"), $"k", $"ts", $"v", topK = 3)
      .orderBy("rank").collect()
    val top = out(0)
    assert(top.getAs[java.time.LocalDateTime](1) == base.plusDays(3).plusHours(2))
    assert(top.getInt(3) == 2)
    // cohort: n=5, sum=800e6 micro; dev = (5·400e6 − 800e6)/5 = 240e6
    assert(top.getLong(4) == 240000000L)
    // the other cohort members sit BELOW their mean: (5·100e6 − 800e6)/5
    // = −60e6, truncation toward zero both engines
    assert(out(1).getLong(4) == -60000000L)
  }

  // ------------------------------------------------------------- ret3

  test("stored postings: from-index equals inline BM25; query prunes buckets") {
    val docs = Seq(
      (1L, "spark join table scan"), (2L, "hash join merge sort"),
      (3L, "stream window batch join"), (4L, "table table table spark"),
      (5L, "sort hash probe"), (6L, "unrelated words only here"),
      (7L, "more filler text rows"), (8L, "window stream stream")
    ).toDF("doc_id", "text")
    val qs = Seq(0 -> Seq("spark", "join"), 1 -> Seq("stream", "window"))
    val dir = tmpDir("ret3-spec") + "/idx"
    ext.Retrieval.writePostingsIndex(docs, "doc_id", "text", dir, buckets = 16)
    val fromIdx = ext.Retrieval.bm25TopKFromIndex(spark, qs, dir, k = 3)
    val inline = ext.Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 3)
    val a = fromIdx.orderBy("query_id", "rk").collect().map(_.toSeq)
    val b = inline.orderBy("query_id", "rk").collect().map(_.toSeq)
    assert(a.nonEmpty && a.toSeq == b.toSeq,
      "stored-index answers must equal the from-scratch operator")
    // the postings scan must carry the bucket partition filter and read
    // fewer pb partitions than the artifact holds (the sim6 pin)
    assert(fromIdx.collect().nonEmpty) // finalize the adaptive plan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(n: SparkPlan): Seq[SparkPlan] = n match {
      case ad: AdaptiveSparkPlanExec => flatten(ad.executedPlan)
      case qst: QueryStageExec => Seq(qst) ++ flatten(qst.plan)
      case o => Seq(o) ++ o.children.flatMap(flatten)
    }
    val scans = flatten(fromIdx.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata("Location").contains("postings") => f
    }
    assert(scans.nonEmpty, "stored postings scan missing from the plan")
    assert(scans.head.partitionFilters.nonEmpty,
      "query buckets must reach the postings scan as partition filters")
    val nBuckets = new java.io.File(s"$dir/postings").listFiles()
      .count(_.getName.startsWith("pb="))
    val read = scans.head.selectedPartitions.partitionCount
    assert(read < nBuckets,
      s"must read fewer buckets than the artifact holds: $read of $nBuckets")
  }

  test("postings append: equals from-scratch, retries no-op, head derives") {
    val docs = Seq(
      (1L, "spark join table scan"), (2L, "hash join merge sort"),
      (3L, "stream window batch join"), (4L, "table table table spark"),
      (5L, "sort hash probe"), (6L, "window stream stream")
    ).toDF("doc_id", "text")
    val qs = Seq(0 -> Seq("spark", "join"), 1 -> Seq("stream", "window"))
    val dir = tmpDir("ret4-spec") + "/idx"
    ext.Retrieval.writePostingsIndex(
      docs.where($"doc_id" <= 3), "doc_id", "text", dir, buckets = 8)
    val batch = docs.where($"doc_id" > 3)
    ext.Retrieval.appendToPostingsIndex(batch, "doc_id", "text", dir)
    def answer() = ext.Retrieval.bm25TopKFromIndex(spark, qs, dir, k = 3)
      .orderBy("query_id", "rk").collect().map(_.toSeq).toSeq
    val want = ext.Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 3)
      .orderBy("query_id", "rk").collect().map(_.toSeq).toSeq
    assert(answer() == want, "append path must equal from-scratch BM25")
    // at-least-once redelivery: the anti-join makes the re-append a no-op
    ext.Retrieval.appendToPostingsIndex(batch, "doc_id", "text", dir)
    assert(answer() == want, "re-appending a landed batch must change nothing")
    // the stored terms/meta are the immutable BASE summaries (r17 — the
    // head state derives at read time); base totals stay the build's 3
    // docs while the derived head totals see all 6
    assert(spark.read.parquet(s"$dir/meta").head().getLong(0) == 3L,
      "base meta must stay immutable under appends")
    assert(ext.Retrieval.foldedTotals(spark, dir)._1 == 6L,
      "head totals must fold the committed segments onto the base")
  }

  // ------------------------------------------------------------- pii1

  test("piiRedact: counts, order (no double count), clean-doc passthrough") {
    val docs = Seq(
      (1L, "mail a@b.com and c.d+x@e.org twice"),
      // the phone-like run lives INSIDE the email: the email redaction
      // swallows it, so n_phones must be 0 — the pinned order
      (2L, "reach user555-123@example.com today"),
      (3L, "call 555-9876 or 555-12345"),
      (4L, "no contact info here")).toDF("doc_id", "text")
    val out = ext.Governance.piiRedact(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0)._2 == 2L && out(0)._3 == 0L)
    assert(out(1)._2 == 1L && out(1)._3 == 0L,
      "a digit run inside an email must not double-count as a phone")
    assert(out(2)._2 == 0L && out(2)._3 == 2L)
    assert(out(3)._2 == 0L && out(3)._3 == 0L)
    // a clean doc's fingerprint is the sha prefix of the ORIGINAL text
    val want = java.security.MessageDigest.getInstance("SHA-256")
      .digest("no contact info here".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    assert(out(3)._4 == want)
  }

  // ------------------------------------------------------------ src10

  test("xmlRoundTrip: entity escaping and unicode survive the trip") {
    val rows = Seq((1L, "a & b < c > d"), (2L, "quote \" apos ' done"),
      (3L, "unicode ünïcødé ✓"),
      (4L, "]]> cdata-terminator in text"))
    val got = core.Formats.xmlRoundTrip(spark,
        rows.toDF("id", "s"), "id BIGINT, s STRING", "xml-spec-")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == rows.toSet)
  }

  // ------------------------------------------------------------- ttl1

  test("expirePartitions: whole-hour boundary, parent pruning, idempotent") {
    val base = java.time.LocalDateTime.of(2025, 12, 31, 22, 0)
    // rows straddle a month/year boundary so parent pruning is exercised
    val rows = (0 until 6).map(h =>
      (h.toLong, java.sql.Timestamp.valueOf(base.plusHours(h)), "x"))
    val dir = tmpDir("ttl1-spec") + "/arch"
    core.Sinks.writePartitionedParquet(
      rows.toDF("event_id", "ts", "event_type"), "ts", dir)
    // cutoff at 2026-01-01 01:00 — hours 22, 23, 00 delete; 01+ survive,
    // INCLUDING the row exactly AT the cutoff hour (strictly-older rule)
    val cutoff = java.time.LocalDateTime.of(2026, 1, 1, 1, 0)
    assert(core.Sinks.expirePartitions(spark, dir, cutoff) == 3L)
    val left = spark.read.parquet(dir).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(left == Seq(3L, 4L, 5L))
    // the emptied year=2025 tree is gone entirely
    assert(!new java.io.File(s"$dir/year=2025").exists())
    // a re-run removes nothing
    assert(core.Sinks.expirePartitions(spark, dir, cutoff) == 0L)
  }

  test("expirePartitions: refuses a streaming-sink archive (metadata log)") {
    // a FileStreamSink store resolves files through _spark_metadata, not
    // directory listing — deleting dirs underneath it corrupts every
    // later read; the sweep must fail LOUDLY instead
    val dir = tmpDir("ttl1-stream") + "/arch"
    val df = Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "x"))
      .toDF("event_id", "ts", "event_type")
    core.Sinks.writePartitionedParquet(df, "ts", dir)
    new java.io.File(s"$dir/_spark_metadata").mkdirs()
    val e = intercept[java.io.IOException] {
      core.Sinks.expirePartitions(spark, dir,
        java.time.LocalDateTime.of(2027, 1, 1, 0, 0))
    }
    assert(e.getMessage.contains("_spark_metadata"))
    // the data is untouched (checked on the filesystem: a Spark read of
    // this store now resolves through the metadata log — which is
    // precisely the corruption mode the guard exists to prevent)
    assert(new java.io.File(s"$dir/year=2026").exists())
  }

  // ------------------------------------------------------------- qn1

  test("quantileNormalize: equal-size groups land on identical pooled multisets") {
    // group A is uniformly LOW, group B uniformly HIGH — after
    // normalization both groups' value multisets must be the SAME pooled
    // quantile selection (the whole point of the technique), and every
    // emitted value must be an actual input value
    val rows = (1L to 8L).map(i => (i, "A", i.toDouble)) ++
      (9L to 16L).map(i => (i, "B", 100.0 + i))
    val df = rows.toDF("id", "g", "v")
    val out = ext.Curation.quantileNormalize(df, $"id", $"g", $"v",
        numRanges = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3)))
    assert(out.length == 16)
    val aNorm = out.filter(_._2 == "A").map(_._4).sorted.toSeq
    val bNorm = out.filter(_._2 == "B").map(_._4).sorted.toSeq
    assert(aNorm == bNorm, "equal-size groups must normalize identically")
    val inputVals = rows.map(_._3).toSet
    assert(out.forall(t => inputVals.contains(t._4)),
      "normalized values are actual data values, never interpolations")
    // rank math: with n_g=8, N=16 the k-th smallest of a group maps to
    // pooled rank 2k — the even-indexed pooled values
    val pooled = rows.map(_._3).sorted
    assert(aNorm == (1 to 8).map(k => pooled(2 * k - 1)).toSeq)
  }

  test("quantileNormalize: unequal sizes hit the exact ceil target ranks") {
    val rows = Seq((1L, "A", 10.0), (2L, "A", 20.0), (3L, "A", 30.0),
      (4L, "B", 15.0), (5L, "B", 25.0))
    // a NULL value must be excluded, not silently shift every rank after
    // it (the engines disagree on NULL sort position)
    val withNull = rows.toDF("id", "g", "v").unionByName(
      Seq((6L, "A")).toDF("id", "g")
        .withColumn("v", lit(null).cast("double")))
    val out = ext.Curation.quantileNormalize(withNull,
        $"id", $"g", $"v", numRanges = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(!out.contains(6L), "null values have no quantile")
    val pooled = Seq(10.0, 15.0, 20.0, 25.0, 30.0)
    // A (n_g=3, N=5): ranks 1,2,3 → ceil(5r/3) = 2,4,5
    assert(out(1L) == pooled(1) && out(2L) == pooled(3) && out(3L) == pooled(4))
    // B (n_g=2): ranks 1,2 → ceil(5r/2) = 3,5
    assert(out(4L) == pooled(2) && out(5L) == pooled(4))
  }

  // ------------------------------------------------------------- pq1

  test("pqTopK: exhaustive shortlist makes the ADC phase recall-total") {
    // shortlist ≥ corpus: the codebook approximation may only PRUNE, so
    // with nothing pruned the exact re-rank must reproduce brute force
    // row for row (the jlTopK recall-total discipline)
    val sf = "/root/testdata/sf0.001"
    val emb = core.Tables.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 3)
    val pq = ext.Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        k = 5, dims = 64, m = 4, ksub = 4, iters = 2, shortlist = 600)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    val brute = ext.Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k = 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    assert(pq.nonEmpty && pq.toSeq == brute.toSeq)
  }

  test("pqTopK: lossless on a subspace-lattice corpus — ADC alone ranks exactly") {
    // 8-dim vectors over m=4 two-dim subspaces; every subvector is one of
    // 4 orthogonal unit patterns, and the 4 lowest ids (the k-means
    // seeds) enumerate ALL 4 patterns in EVERY subspace — so each seed
    // cluster's members are copies of its own pattern, the Lloyd update
    // averages them back exactly, reconstruction is lossless, and ADC ==
    // true squared L2. Equal norms make L2 order ≡ cosine order, so even
    // a TIGHT shortlist (no re-rank slack) must match brute force.
    val pat = Map(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0),
      2L -> Seq(-1.0, 0.0), 3L -> Seq(0.0, -1.0))
    def vec(id: Long): Seq[Double] =
      (0 until 4).flatMap { j =>
        val p = if (id < 4) (id + j) % 4
                else (id * 7 + j * 3 + (id >> 2)) % 4
        pat(p)
      }
    val corpus = (0L until 16L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" === 0L)
    val pq = ext.Similarity.pqTopK(corpus, queries, "vec_id", "embedding",
        k = 3, dims = 8, m = 4, ksub = 4, iters = 2, shortlist = 3)
      .orderBy("rank").collect().map(_.toSeq)
    val brute = ext.Similarity.bruteForceTopK(corpus, queries, "vec_id",
        "embedding", k = 3)
      .orderBy("rank").collect().map(_.toSeq)
    assert(pq.toSeq == brute.toSeq)
  }

  test("hh summary lifecycle: incremental merge equals from-scratch, fuzzed") {
    val rnd = new scala.util.Random(41)
    val keys = Seq.fill(5000) {
      val u = rnd.nextDouble()
      "k" + math.min((1.0 / u).toInt, 35)
    }
    val (arch, batch) = keys.splitAt(3200)
    val k = 20
    val dir = tmpDir("inc5-spec") + "/hh"
    val archDf = spark.createDataset(arch).repartition(7).toDF("t")
    val batchDf = spark.createDataset(batch).repartition(5).toDF("t")
    ext.Profile.writeHhSummary(archDf, $"t", k, dir)
    ext.Profile.appendToHhSummary(batchDf, $"t", dir)
    val all = spark.createDataset(keys).toDF("t")
    val got = ext.Profile.heavyHittersFromSummary(all, $"t", dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = ext.Profile.heavyHitters(all, $"t", k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(want.nonEmpty && got == want,
      "stored-summary answer must equal the from-scratch operator")
    // storage bound: the committed summary never exceeds k rows
    val stored = spark.read.parquet(s"$dir/mg").head()
    assert(stored.getSeq[String](2).length <= k)
    assert(stored.getLong(1) == keys.size.toLong, "n accumulates across batches")
  }

  test("hh summary ingest: redelivered batch ids are provable no-ops") {
    val dir = tmpDir("inc5-bid") + "/hh"
    val b0 = (Seq.fill(8)("a") ++ Seq.fill(2)("b")).toDF("t")
    val b1 = (Seq.fill(4)("a") ++ Seq.fill(6)("c")).toDF("t")
    ext.Profile.ingestHhBatch(b0, $"t", 3, dir, 0L)   // initializes
    ext.Profile.ingestHhBatch(b1, $"t", 3, dir, 1L)
    val committed = spark.read.parquet(s"$dir/mg").head()
    // at-least-once redelivery of BOTH batches, any order: no double count
    ext.Profile.ingestHhBatch(b1, $"t", 3, dir, 1L)
    ext.Profile.ingestHhBatch(b0, $"t", 3, dir, 0L)
    val after = spark.read.parquet(s"$dir/mg").head()
    assert(after.getLong(1) == committed.getLong(1), "n must not double")
    assert(after.getSeq[String](2) == committed.getSeq[String](2))
    assert(after.getSeq[Long](3) == committed.getSeq[Long](3))
    assert(after.getLong(4) == 1L, "newest batch id is kept")
    // a genuinely NEW batch still applies after the replays
    ext.Profile.ingestHhBatch(b0, $"t", 3, dir, 2L)
    assert(spark.read.parquet(s"$dir/mg").head().getLong(1) ==
      committed.getLong(1) + 10L)
  }

  test("hh summary artifact: a crashed swap heals on the next read") {
    val dir = tmpDir("inc5-heal") + "/hh"
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b")).toDF("t")
    ext.Profile.writeHhSummary(df, $"t", 3, dir)
    val before = ext.Profile.heavyHittersFromSummary(df, $"t", dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // simulate the crash window: target moved aside, new copy never landed
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/mg"),
      new org.apache.hadoop.fs.Path(s"$dir/mg__old")))
    val after = ext.Profile.heavyHittersFromSummary(df, $"t", dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after == before, "read-side healing restores the aside copy")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/mg")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/mg__old")))
  }

  test("heavyHitters: threshold boundary is ≥, exactly n/k included") {
    // n = 20, k = 4 → threshold count 5: one key at exactly 5, one at 4
    val xs = Seq.fill(5)("at") ++ Seq.fill(4)("below") ++
      Seq.fill(11)("big")
    val got = ext.Profile.heavyHitters(xs.toDF("t").repartition(3), $"t", 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("at" -> 5L, "big" -> 11L))
  }
}
