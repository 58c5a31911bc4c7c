package graft

import org.apache.spark.sql.functions._
import graft.ext.{Curation, Dedup, Sampling, Similarity, TextAnalysis}

/** Specs for the extension tier (dedup / similarity / text analysis) on
  * hand-built fixtures where expected behavior is computable by eye. */
class ExtSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away home"
  private val nearDup = base.replace("lazy", "sleepy") // one token differs
  private val other = "completely different words about database engines and query planning systems"

  private lazy val docs = Seq(
    (0L, base), (1L, nearDup), (2L, other), (3L, base), // 3 = exact dup of 0
  ).toDF("doc_id", "text")

  test("shingles: word n-grams, distinct, short-doc safe") {
    val sh = docs.select(Dedup.shingles(col("text"), 3).as("sh"))
      .where(col("sh").isNotNull).collect()
    val first = sh.head.getSeq[String](0)
    assert(first.contains("the quick brown") && first.contains("quick brown fox"))
    val tiny = Seq((0L, "only two")).toDF("doc_id", "text")
      .select(Dedup.shingles(col("text"), 3).as("sh")).head.getSeq[String](0)
    assert(tiny.isEmpty, "docs shorter than n produce an empty shingle set")
  }

  test("exactDedup: duplicate content collapses to min id with count") {
    val out = Dedup.exactDedup(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect().toSet
    assert(out.size == 3, "three distinct contents")
    assert(out.exists(r => r._2 == 0L && r._3 == 2L), "doc 0/3 merge, keep 0")
  }

  test("ngramJaccardPairs: finds near-dup and exact-dup pairs only") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)), "exact dup pair")
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 3L)), "near-dup pairs")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc excluded")
  }

  test("ngramJaccardPairs: stop-shingle frequency cap prunes the index") {
    // with maxDf=1 every shared shingle is dropped → no candidates at all
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      minJaccard = 0.1, maxShingleDocFreq = Some(1L))
    assert(pairs.count() == 0)
  }

  test("stripSharedSpans: clips cross-doc spans, keeps unique content") {
    // n=3 spans; docs A and B share the 5-token prefix (spans at starts
    // 0,1,2 of each are shared), then diverge; doc C is unrelated; doc D
    // is shorter than n and must pass through whole.
    val fix = Seq(
      (1L, "alpha beta gamma delta epsilon unique1 tail1 end1"),
      (2L, "alpha beta gamma delta epsilon unique2 tail2 end2"),
      (3L, "totally different words with no overlap at all"),
      (4L, "too short")).toDF("doc_id", "text")
    val out = Dedup.stripSharedSpans(fix, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // shared spans cover tokens 0..4 (starts 0,1,2 each cover 3 tokens);
    // tokens 5..7 are covered only by unique spans (starts 3,4,5 differ
    // between A and B) → keep exactly the last three tokens
    assert(out(1L) == ((1L, 8L, 3L, "unique1 tail1 end1")), out(1L).toString)
    assert(out(2L) == ((2L, 8L, 3L, "unique2 tail2 end2")), out(2L).toString)
    assert(out(3L) == ((3L, 8L, 8L, "totally different words with no overlap at all")))
    assert(out(4L) == ((4L, 2L, 2L, "too short")), "short docs pass through whole")
  }

  test("curateFuzzy: stripSpans stage clips boilerplate before scoring") {
    // 30 docs sharing a 25-token boilerplate prefix with distinct tails:
    // without strip the LSH near-dup collapse sees them as one cluster
    // (shingle sets dominated by the prefix) and keeps a single keeper —
    // boilerplate masquerading as content. With stripSpans the prefix is
    // clipped FIRST, every doc drops below the 20-token quality floor, and
    // nothing survives: the strip changes what the pipeline judges.
    val boiler = (1 to 25).map(i => "the of and to in is was for on with as by at from or"
      .split(' ')(i % 15)).mkString(" ")
    val rows = (0 until 30).map(i => (i.toLong, s"$boiler tailword$i"))
      .toDF("doc_id", "text")
    val plain = Curation.curateFuzzy(rows, "doc_id", "text").count()
    val clipped = Curation.curateFuzzy(rows, "doc_id", "text",
      stripSpans = true).count()
    assert(plain == 1L, s"without strip the near-dup collapse keeps one keeper: $plain")
    assert(clipped == 0L, s"with strip the boilerplate is clipped and the " +
      s"tails fail the length floor: $clipped")
  }

  test("withPiiRedaction: counts and redacts emails/urls, URL-first") {
    val rows = Seq(
      (1L, "mail me at jo.doe+x@foo-bar.com or jo@baz.io today"),
      (2L, "see https://a.b/c?d=e and http://plain.org now"),
      (3L, "url with userinfo https://user@host.com/path stays one URL"),
      (4L, "nothing to scrub here")).toDF("doc_id", "text")
    val out = TextAnalysis.withPiiRedaction(rows)
      .select("doc_id", "n_emails", "n_urls", "redacted_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 2L, 0L, "mail me at <EMAIL> or <EMAIL> today")), out(1L).toString)
    assert(out(2L) == ((2L, 0L, 2L, "see <URL> and <URL> now")), out(2L).toString)
    assert(out(3L) == ((3L, 0L, 1L, "url with userinfo <URL> stays one URL")),
      "an address inside a URL is consumed by the URL redaction: " + out(3L))
    assert(out(4L) == ((4L, 0L, 0L, "nothing to scrub here")))
  }

  test("nearDupIncremental: batch docs near-dupping the archive drop, rest keep") {
    // archive holds `base`; the batch's near-dup of it must drop, the
    // unrelated doc and the shingle-less short doc must survive
    val archive = Seq((100L, base)).toDF("doc_id", "text")
    val batch = Seq((1L, nearDup), (2L, other), (3L, "too short"))
      .toDF("doc_id", "text")
    val kept = Dedup.nearDupIncremental(batch, archive, "doc_id", "text",
        minJaccard = 0.5)
      .as[Long].collect().toSet
    assert(kept == Set(2L, 3L), kept.toString)
  }

  test("ivfQuantizedTopK: exhaustive probing + full shortlist ≡ brute force") {
    // 3 lists × 24 vectors; with nprobe = #lists and shortlist ≥ corpus
    // size the quantized stage can only reorder WITHIN the shortlist,
    // which the exact re-rank then fixes — the result must equal brute
    // force exactly (the quantize-then-rerank invariant)
    val vecs = (0 until 24).map { i =>
      (i.toLong, s"L${i % 3}", Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "label", "embedding")
    val qs = vecs.where(col("vec_id") < 3)
    val quant = Similarity.ivfQuantizedTopK(vecs, qs, "vec_id", "embedding",
        "label", k = 5, nprobe = 3, shortlist = 24)
      .select("query_id", "rank", "neighbor_id", "cos").collect().toSet
    val brute = Similarity.bruteForceTopK(vecs, qs, "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id", "cos").collect().toSet
    assert(quant == brute && quant.size == 15, s"quant=$quant brute=$brute")
  }

  test("vector operators at exhaustive settings ≡ bruteForceTopK, planted cosine ties included") {
    // 10 base vectors, each planted 3× (ids b, b+10, b+20) under three
    // different labels: every neighbour list holds exact cosine ties, so
    // the neighbor_id ASC tie-break decides ranks. With every list probed
    // and every shortlist ≥ the corpus, each operator must equal brute
    // force row for row.
    val vecs = (0 until 30).map { i =>
      (i.toLong, i % 3, Array.tabulate(8)(d => math.sin((i % 10) * 8 + d).toFloat))
    }.toDF("vec_id", "label", "embedding")
    val qs = vecs.where(col("vec_id") < 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id", "cos")
        .orderBy("query_id", "rank").as[(Long, Int, Long, Double)].collect().toSeq
    val brute = rows(Similarity.bruteForceTopK(vecs, qs, "vec_id", "embedding", 5))
    assert(brute.sliding(2).count(p => p(0)._1 == p(1)._1 && p(0)._4 == p(1)._4) >= 4,
      s"the fixture must plant ties: $brute")
    val exhaustive = Seq(
      "ivfTopK" -> (() => Similarity.ivfTopK(vecs, qs, "vec_id", "embedding",
        "label", k = 5, nprobe = 3)),
      "trainedIvfTopK" -> (() => Similarity.trainedIvfTopK(vecs, qs, "vec_id",
        "embedding", k = 5, clusters = 3, iters = 2, nprobe = 3)),
      "ivfQuantizedTopK" -> (() => Similarity.ivfQuantizedTopK(vecs, qs,
        "vec_id", "embedding", "label", k = 5, nprobe = 3, shortlist = 30)),
      "jlTopK" -> (() => Similarity.jlTopK(vecs, qs, "vec_id", "embedding",
        k = 5, dims = 4, shortlist = 30)),
      "pqTopK" -> (() => Similarity.pqTopK(vecs, qs, "vec_id", "embedding",
        k = 5, dims = 8, m = 2, ksub = 2, shortlist = 30)),
      "knnGraphExact" -> (() => Similarity.knnGraphExact(vecs, "vec_id",
        "embedding", k = 5).where(col("query_id") < 4)))
    for ((op, run) <- exhaustive)
      assert(rows(run()) == brute, s"$op differs from bruteForceTopK")
    val otherLabel = (0 until 3).map(l => Similarity.bruteForceTopK(
        vecs.where(col("label") =!= l), qs.where(col("label") === l),
        "vec_id", "embedding", 5))
      .reduce(_ union _)
    assert(rows(Similarity.hardNegativesTopK(vecs, qs, "vec_id", "embedding",
        "label", 5)) == rows(otherLabel),
      "hardNegativesTopK differs from bruteForceTopK over the other labels")
  }

  test("cross-modal: blob histograms feed the LSH near-dup path end-to-end") {
    // payloads with orthogonal byte-nibble profiles ('a'→bin 6, '0'→bin 3,
    // 'P'→bin 5) plus one DOUBLED copy of each: doubling a payload scales
    // its histogram exactly 2× — cosine 1, hyperplane-sign invariant, so
    // LSH recall on the planted pairs is deterministic, and cross-profile
    // cosines are 0. The extractor's mapPartitions output goes STRAIGHT
    // into the similarity-tier operator (the composition xm1 grades via
    // ANN; pinned here in the near-dup-pairs form on a separable fixture).
    val blobs = Seq((0L, "aaaaaaaaaaaaaaaa"), (1L, "0000000000000000"),
      (2L, "PPPPPPPPPPPPPPPP"))
    val all = (blobs ++ blobs.map { case (i, t) => (i + 100L, t + t) })
      .toDF("doc_id", "text")
    val hist = ext.Multimodal.extractHistogram(
        ext.Multimodal.withBlob(all, "text"), "doc_id", "payload").toDF()
      .select(col("id"), expr("transform(counts, x -> cast(x as double))").as("v"))
    val pairs = Dedup.embeddingNearDupPairsLsh(hist, "id", "v", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 100L), (1L, 101L), (2L, 102L)), pairs.toString)
  }

  test("ngramJaccardPairs: sizes-broadcast auto-fallback — both regimes identical") {
    // default limit (docs ≪ 1e8): the sizes lookups carry a broadcast hint;
    // limit 0 models the past-1e8-docs regime: the hint drops automatically
    // (AQE may still broadcast at runtime while stats fit — the point is
    // that the DRIVER is never forced to) and results are identical
    val hinted = Dedup.ngramJaccardPairs(docs, "doc_id", "text", minJaccard = 0.5)
    val unhinted = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      minJaccard = 0.5, broadcastSizesLimit = 0L)
    assert(hinted.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("broadcast"), "below the limit the hint must be present")
    assert(!unhinted.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("broadcast"), "above the limit no forced broadcast survives")
    val a = hinted.as[(Long, Long, Double)].collect().toSet
    val b = unhinted.as[(Long, Long, Double)].collect().toSet
    assert(a == b && a.nonEmpty, s"hinted=$a unhinted=$b")
  }

  test("minhashLshPairs: near-dups collide in a band and verify exactly") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (0L, 3L), (1L, 3L)))
  }

  test("simhash: identical → hamming 0; near-dup close; unrelated far") {
    val fps = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fps(0L) == fps(3L), "identical text, identical fingerprint")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(0L), fps(1L)) < ham(fps(0L), fps(2L)),
      s"near-dup must be closer than unrelated: ${ham(fps(0L), fps(1L))} vs ${ham(fps(0L), fps(2L))}")
  }

  test("simhashPairs: blocked candidates verified by hamming bound") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)), "identical pair at distance 0")
    assert(pairs.contains((0L, 1L)), "near-dup within bound")
  }

  test("editDistancePairs: deletion index finds every dist-1 pair, exact recall") {
    val names = Seq(
      (1L, "small ring"),
      (2L, "small king"),   // substitution, dist 1
      (3L, "small stove"),  // dist > 1 from everything
      (4L, "smoll ring"),   // substitution in the FIRST word — key blocking would miss it
      (5L, "small rings"),  // insertion at the end, dist 1
      (6L, "small ring"),   // exact duplicate of 1
    ).toDF("id", "name")
    val pairs = Dedup.editDistancePairs(names, "id", "name")
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    assert(pairs == Set((1L, 2L, 1), (1L, 4L, 1), (1L, 5L, 1), (1L, 6L, 0),
      (2L, 6L, 1), (4L, 6L, 1), (5L, 6L, 1)),
      s"every pair within one edit must surface exactly once: $pairs")
  }

  test("embeddingNearDupPairsLsh: planted scaled dups found exactly, equals exact baseline") {
    // 8 one-hot base vectors (pairwise cos 0) + positively-scaled copies of
    // the first three (cos 1 with their originals, signature-identical in
    // every LSH table — deterministic recall)
    val base = (0 until 8).map(i =>
      (i.toLong, Array.tabulate(8)(j => if (j == i) 1.0f else 0.0f)))
    val dups = base.take(3).map { case (i, v) => (i + 100L, v.map(_ * 2.5f)) }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val lsh = Dedup.embeddingNearDupPairsLsh(df, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact == Set((0L, 100L), (1L, 101L), (2L, 102L)))
    assert(lsh == exact, s"LSH-blocked must equal the exact baseline: $lsh vs $exact")
  }

  test("semanticDedup: multi-member clusters collapse to the min-id keeper; singletons keep themselves") {
    // one-hot directions: cluster {0, 100, 200} (scaled copies), cluster
    // {1, 101}, and 2/3 unclustered — kept iff own root, roots = min id
    val base = (0 until 4).map(i =>
      (i.toLong, Array.tabulate(4)(j => if (j == i) 1.0f else 0.0f)))
    val dups = base.take(2).map { case (i, v) => (i + 100L, v.map(_ * 2.0f)) } ++
      base.take(1).map { case (i, v) => (i + 200L, v.map(_ * 0.5f)) }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    for (exact <- Seq(true, false)) {
      val out = Dedup.semanticDedup(df, "vec_id", "embedding", 0.9, exact = exact)
        .select("vec_id", "root", "kept").as[(Long, Long, Boolean)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(out == Map(
        0L -> ((0L, true)), 100L -> ((0L, false)), 200L -> ((0L, false)),
        1L -> ((1L, true)), 101L -> ((1L, false)),
        2L -> ((2L, true)), 3L -> ((3L, true))),
        s"exact=$exact: $out")
    }
  }

  test("knnGraphExact: 2-D tiled self-join equals the broadcast brute force") {
    // every (a,b) pair must meet in exactly ONE tile — a missed tile loses
    // a neighbor, a doubled tile inflates ranks past k
    val vs = (0 until 12).map(i =>
      (i.toLong, Array.tabulate(6)(j => ((i * 7 + j * 3) % 11 - 5).toFloat)))
    val df = vs.toDF("vec_id", "embedding")
    val g = Similarity.knnGraphExact(df, "vec_id", "embedding", 3, blocks = 3)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)]
      .collect().toSet
    val bf = Similarity.bruteForceTopK(df, df, "vec_id", "embedding", 3)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(g.size == 36 && g == bf,
      s"tiled kNN graph must equal brute force: ${g.diff(bf)} / ${bf.diff(g)}")
  }

  test("cosine: exact values on unit vectors") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(3.0f, 4.0f), Array(3.0f, 4.0f)),
    ).toDF("a", "b")
    val cs = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()
    assert(cs(0) == 0.0 && cs(1) == 1.0 && math.abs(cs(2) - 1.0) < 1e-12)
  }

  test("bruteForceTopK: hand-computed ranking, self excluded") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),   // closest to 0
      (2L, Array(0.5f, 0.5f)),
      (3L, Array(0.0f, 1.0f)),   // orthogonal to 0
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.where(col("vec_id") === 0),
        "vec_id", "embedding", 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 2L, 3L))
  }

  test("lshTopK: identical vectors share a bucket; results agree with exact") {
    val vecs = (0L to 19L).map { i =>
      val base = Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat)
      (i, base)
    }.toDF("vec_id", "embedding")
    val withCopy = vecs.union(Seq((100L, Array.tabulate(8)(j => math.sin(8 + j).toFloat)))
      .toDF("vec_id", "embedding")) // copy of vec 1
    val out = Similarity.lshTopK(withCopy, withCopy.where(col("vec_id") === 100),
        "vec_id", "embedding", 5)
    val top = out.orderBy("rank").select("neighbor_id", "cos")
      .as[(Long, Double)].collect()
    assert(top.nonEmpty && top.head._1 == 1L && top.head._2 == 1.0,
      s"identical vector must be found at rank 1 with cos 1.0: ${top.toSeq}")
  }

  test("lshTopK/ivfTopK recall ≥ 0.8 vs exact on clustered data (their design regime)") {
    // 10 tight clusters of 11 vectors: each member = unit direction ⊕ small
    // deterministic jitter (within-cluster cos ≈ 0.995, cross-cluster ≈ 0).
    // A query's exact top-10 = its 10 cluster-mates; the approximate paths
    // must recover most of them. (On near-uniform data — the synthetic
    // embeddings table — hyperplane LSH recalls ~0 of a cos-0.3..0.5
    // top-10; see the Similarity scaladoc. This fixture is the workload
    // the indexes exist for.)
    val dims = 16
    def member(c: Int, m: Int): Array[Float] = {
      val v = Array.tabulate(dims)(d => math.sin(c * 37 + d).toFloat)
      v(m % dims) += 0.05f * ((m % 3) + 1)
      v
    }
    val rows = for (c <- 0 until 10; m <- 0 until 11)
      yield (c * 100L + m, member(c, m), c)
    val corpus = rows.toDF("vec_id", "embedding", "label")
    val queries = corpus.where(col("vec_id") % 100 === 0)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = topSets(Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 10))
    for ((name, approx) <- Seq(
        "lsh" -> topSets(Similarity.lshTopK(corpus, queries, "vec_id", "embedding", 10)),
        "ivf" -> topSets(Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", "label", 10, nprobe = 1)))) {
      // keys.toSeq, NOT keys.map: mapping the key Set would dedupe equal
      // per-query recalls before summing
      val recall = exact.keys.toSeq.map(q =>
        (approx.getOrElse(q, Set.empty) & exact(q)).size.toDouble / exact(q).size).sum / exact.size
      val diag = exact.keys.toSeq.sorted.map(q =>
        s"q=$q exact=${exact(q).toSeq.sorted} got=${approx.getOrElse(q, Set.empty).toSeq.sorted}").mkString("\n")
      assert(recall >= 0.8, f"$name recall $recall%.2f below 0.8 on clustered data\n$diag")
    }
  }

  test("ivfTopK: probing the right lists finds exact neighbors on clustered data") {
    // two tight clusters; IVF with nprobe=1 must stay inside the query's own
    // cluster and rank its true nearest neighbors exactly like brute force
    def v(base: Double, j: Int) = Array.tabulate(8)(d => (base + 0.01 * j * (d + 1)).toFloat)
    val rows = (0L to 4L).map(j => (j, v(1.0, j.toInt), 0)) ++
      (5L to 9L).map(j => (j, v(-1.0, j.toInt), 1))
    val corpus = rows.toDF("vec_id", "embedding", "label")
    val q = corpus.where(col("vec_id") === 0)
    val ivf = Similarity.ivfTopK(corpus, q, "vec_id", "embedding", "label",
        k = 3, nprobe = 1)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    val exact = Similarity.bruteForceTopK(
        corpus.where(col("label") === 0), q, "vec_id", "embedding", 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(ivf == exact, s"ivf $ivf vs in-cluster exact $exact")
    assert(ivf.forall(_ <= 4L), "nprobe=1 must not cross clusters")
  }

  test("termStats: hand-computed tf/df/tfidf on a tiny corpus") {
    val corpus = Seq(
      (1L, "apple apple banana"),
      (2L, "apple cherry"),
      (3L, "cherry cherry cherry"),
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.termStats(corpus, "doc_id", "text", minTf = 1)
      .select("doc_id", "term", "tf", "df", "tfidf")
      .as[(Long, String, Long, Long, Double)].collect().toSet
    // N=3; apple df=2, banana df=1, cherry df=2
    def w(tf: Long, df: Long) =
      BigDecimal(tf * math.log(3.0 / df)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows == Set(
      (1L, "apple", 2L, 2L, w(2, 2)), (1L, "banana", 1L, 1L, w(1, 1)),
      (2L, "apple", 1L, 2L, w(1, 2)), (2L, "cherry", 1L, 2L, w(1, 2)),
      (3L, "cherry", 3L, 2L, w(3, 2))), rows.toString)
  }

  test("hash split: deterministic, partitioning-invariant, roughly proportional") {
    val ids = spark.range(0, 2000).toDF("id")
    val a = ext.Sampling.withSplit(ids, col("id"), "s1")
      .select("id", "split").as[(Long, String)].collect().toMap
    val b = ext.Sampling.withSplit(ids.repartition(7), col("id"), "s1")
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(a == b, "split must not depend on partitioning")
    val n = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(n("train") > 1500 && n("train") < 1700, s"~80% train: $n")
    assert(n("val") > 130 && n("val") < 270, s"~10% val: $n")
    val c = ext.Sampling.withSplit(ids, col("id"), "s2")
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(a != c, "a different salt must draw a different assignment")
  }

  test("langId: real multilingual samples classify correctly") {
    val df = Seq(
      "the cat is in the house and it is lazy",
      "der hund ist nicht mit der katze und das ist gut",
      "le chat est dans la maison et il est content",
      "el perro es bueno y que esta en la casa con el gato",
      "这是一个中文句子没有空格",
      "zzz qqq xxx", // no markers at all
    ).toDF("text")
    val got = df.select(TextAnalysis.langId(col("text"))).as[String].collect().toSeq
    assert(got == Seq("en", "de", "fr", "es", "zh", "unk"), got.toString)
  }

  test("withTextStats: exact counts on a known string") {
    val df = Seq((1L, "the the fox")).toDF("doc_id", "text")
    val r = TextAnalysis.withTextStats(df)
      .select("n_tokens", "n_distinct_tokens", "stopword_ratio", "avg_token_len")
      .as[(Long, Long, Double, Double)].head()
    assert(r == ((3L, 2L, 2.0 / 3.0, 9.0 / 3.0)))
  }

  test("fingerprint: stable across whitespace/case normalization") {
    val df = Seq(("a", "The  Quick   Fox"), ("b", "the quick fox")).toDF("id", "text")
    val fps = df.select(TextAnalysis.fingerprint(col("text"))).as[String].collect()
    assert(fps(0) == fps(1) && fps(0).length == 16)
  }

  test("MinHashUnion aggregator: merged signature == signature of the unioned shingle set") {
    // mergeability is EXACT for minhash (min over a union is the min of
    // mins) — the property that lets cluster-level sketches reduce with a
    // fixed-size buffer at any group size
    import graft.functions.VectorExpressions
    val grouped = docs.withColumn("g", col("doc_id") % 2)
      .select(col("g"), col("doc_id"),
        Dedup.shingleHashesFromTokens(TextAnalysis.tokens(col("text"))).as("shh"))
    val viaAgg = grouped
      .select(col("g"), VectorExpressions.minhashSigNative(col("shh"), 64).as("sig"))
      .groupBy("g").agg(graft.ext.SketchAggs.minhashUnion(64)(col("sig")).as("u"))
      .as[(Long, Seq[Long])].collect().toMap
    val direct = grouped
      .groupBy("g").agg(flatten(collect_list(col("shh"))).as("all_shh"))
      .select(col("g"), VectorExpressions.minhashSigNative(col("all_shh"), 64).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaAgg.keySet == direct.keySet && viaAgg.keySet.nonEmpty)
    viaAgg.foreach { case (g, u) => assert(u == direct(g), s"group $g") }
  }

  test("Curation.curate: quality screens, min-id dedup, stable splits") {
    val many = (1 to 30).map(i => s"tok$i").mkString("the and of it is that ", " ", "")
    val corpus = Seq(
      (10L, many),                     // passes both screens
      (11L, many),                     // exact dup → dropped, 10 kept
      (12L, "too short to keep"),      // < minTokens → dropped
      (13L, (1 to 40).map(i => s"x$i").mkString(" ")), // no stopwords → dropped
    ).toDF("doc_id", "text")
    val out = graft.ext.Curation.curate(corpus, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
    assert(out.map(_._1).toSeq == Seq(10L), out.mkString(","))
    assert(out.head._2 == 36L, "kept doc carries its token count")
    assert(Set("train", "val", "test").contains(out.head._4))
    val again = graft.ext.Curation.curate(corpus, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
    assert(out.toSeq == again.toSeq, "salted-hash splits are run-stable")
  }

  test("groupSimilarity: sketch estimates land inside MinHash error bounds of exact group Jaccard") {
    // sketch outputs are implementation-defined → no cross-engine value
    // oracle; THIS bound check is the grading (see apx2 registration)
    val d = "/root/testdata/sf0.001"
    val docsTbl = graft.core.Tables.documents(spark, d)
    val est = graft.ext.SketchAggs.groupSimilarity(docsTbl, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(est.size == 6, s"4 groups → 6 pairs: ${est.keySet}")
    // exact group-level shingle sets, small enough to fold on the driver
    val sets = docsTbl
      .where(size(TextAnalysis.tokens(col("text"))) >= 3)
      .select(pmod(col("doc_id"), lit(4)).cast("long").as("grp"),
        Dedup.shingleHashesFromTokens(TextAnalysis.tokens(col("text")), 3).as("shh"))
      .as[(Long, Seq[Long])].collect()
      .groupBy(_._1).view.mapValues(_.flatMap(_._2).toSet).toMap
    // 128 hashes → σ = √(J(1−J)/128) ≤ 0.0442; allow 3.5σ ≈ 0.155
    est.foreach { case ((a, b), e) =>
      val inter = (sets(a) & sets(b)).size.toDouble
      val exact = inter / (sets(a) | sets(b)).size
      assert(math.abs(e - exact) <= 0.155, s"pair ($a,$b): est=$e exact=$exact")
    }
  }

  test("dedupIncremental: batch-internal dup and archived text both dropped") {
    val archive = Seq((0L, base)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base),   // already archived → dropped
      (11L, other), (12L, other), // internal dup → keep 11
      (13L, nearDup), // genuinely new
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupIncremental(batch, archive, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L), kept.toString)
  }

  test("packSequences: per-shard running chunk assignment, long docs span") {
    val df = Seq((0L, 300L), (8L, 300L), (16L, 1200L), (24L, 100L), (1L, 600L))
      .toDF("doc_id", "n_tokens")
    val got = graft.ext.Sampling.packSequences(df, col("doc_id"), col("n_tokens"),
        ctxLen = 512, shards = 8)
      .select("doc_id", "shard", "chunk_id").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // shard 0 stream: doc0 starts at 0 → chunk 0; doc8 at 300 → chunk 0;
    // doc16 at 600 → chunk 1 (spans into 2-3); doc24 at 1800 → chunk 3
    assert(got(0L) == ((0L, 0L)) && got(8L) == ((0L, 0L)), got.toString)
    assert(got(16L) == ((0L, 1L)) && got(24L) == ((0L, 3L)), got.toString)
    // shard 1 is independent: doc1 starts its own stream at offset 0
    assert(got(1L) == ((1L, 0L)), got.toString)
  }

  test("shardManifest: totals conserve, fingerprint is order-free and content-sensitive") {
    val df = Seq((0L, "alpha beta"), (1L, "gamma"), (2L, "delta epsilon zeta"),
      (3L, "eta"), (4L, "theta iota"))
      .toDF("doc_id", "text")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.ext.Sampling.shardManifest(d, col("doc_id"), col("text"),
        col("n_tokens"), "t", 4)
    val m = run(df).collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(m.values.map(_._1).sum == 5L, m.toString) // every doc in a shard
    assert(m.values.map(_._2).sum == 9L, m.toString) // token total conserved
    // order/partitioning-free: a shuffled input yields the identical manifest
    val m2 = run(df.repartition(7).orderBy(col("text"))).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(m == m2, s"$m vs $m2")
    // content-sensitive: mutating one doc's text flips its shard's fingerprint
    val mutated = run(df.withColumn("text",
      when(col("doc_id") === 1L, lit("gamma!")).otherwise(col("text")))).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    val shardOf1 = graft.ext.Sampling.hashBucket(lit(1L), "t", 4)
    val s1 = df.sparkSession.range(1).select(shardOf1).head().getLong(0)
    assert(mutated(s1) != m(s1)._4, s"fp must change for shard $s1")
    assert((m.keySet - s1).forall(k => mutated(k) == m(k)._4), "other shards unchanged")
  }

  test("tokenBudgetFill: two-phase result equals the single-window definition") {
    // 2 sources × 40 docs with varied sizes (plus zero-token rows) and a
    // budget that cuts mid-source: the two-phase bucket classification must
    // reproduce the pure running-sum window bit-for-bit
    val rows = (0L until 40L).flatMap(i => Seq(
      (i, "web", 1L + (i * 7) % 13), (i + 100L, "code", if (i % 9 == 0) 0L else 1L + (i * 5) % 11)))
    val df = rows.toDF("doc_id", "source", "n_tokens")
    val got = graft.ext.Sampling.tokenBudgetFill(df, col("source"),
        col("doc_id"), "bt", col("n_tokens"), budget = 60L)
      .as[(Long, String, Long)].collect().toSet
    df.createOrReplaceTempView("bud_docs")
    val want = spark.sql("""
      SELECT doc_id, source, n_tokens FROM (
        SELECT doc_id, source, n_tokens,
          SUM(n_tokens) OVER (PARTITION BY source ORDER BY
            CAST(conv(substring(sha2(cast(concat(cast(doc_id AS STRING), ':bt') AS BINARY), 256), 1, 15), 16, 10) AS BIGINT) % 1048576,
            doc_id) AS cum
        FROM bud_docs) WHERE cum <= 60""")
      .as[(Long, String, Long)].collect().toSet
    assert(got == want, s"two-phase ${got.size} vs window ${want.size}: " +
      s"missing ${want -- got}, extra ${got -- want}")
    assert(want.nonEmpty && want.size < rows.size, "budget must cut mid-source")
  }

  test("tokenBudgetFill materializeDocs: same result, cached tokenize") {
    val rows = (0L until 60L).map(i => (i, s"src${i % 3}", 1L + (i * 7) % 13))
    val df = rows.toDF("doc_id", "source", "n_tokens")
    val lazyRes = graft.ext.Sampling.tokenBudgetFill(df, col("source"),
      col("doc_id"), "bm", col("n_tokens"), budget = 40L).collect().map(_.toSeq).toSet
    val mat = graft.ext.Sampling.tokenBudgetFill(df, col("source"),
      col("doc_id"), "bm", col("n_tokens"), budget = 40L, materializeDocs = true)
    try {
      assert(mat.collect().map(_.toSeq).toSet == lazyRes,
        "materialization must not change the result")
      val p = mat.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
        s"expected both consumers to read the cached projection:\n$p")
    } finally spark.catalog.clearCache()
  }

  test("withRepetitionStats: duplicate-trigram and top-token fractions") {
    val df = Seq(
      (0L, "spam spam spam spam spam spam"),   // 6 tokens, 4 trigrams all equal
      (1L, "one two three four five six"),     // no repetition at all
      (2L, "ab"),                              // < 3 tokens: zero trigrams
    ).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.withRepetitionStats(df)
      .select("doc_id", "n_3grams", "dup_3gram_frac", "top_token_frac")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(got(0) == ((0L, 4L, 0.75, 1.0)), got(0).toString)   // 1 distinct of 4; 6/6 spam
    assert(got(1) == ((1L, 4L, 0.0, 1.0 / 6)), got(1).toString)
    assert(got(2)._2 == 0L && got(2)._3 == 0.0, got(2).toString)
    // the native counter agrees with an explode+groupBy oracle
    val viaAgg = df.select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").count().groupBy("doc_id").agg(max("count").as("m"))
      .as[(Long, Long)].collect().toMap
    val viaExpr = df.select(col("doc_id"),
        graft.functions.VectorExpressions.topTokenCountNative(
          TextAnalysis.tokens(col("text"))).as("m"))
      .as[(Long, Long)].collect().toMap
    assert(viaExpr == viaAgg, s"$viaExpr vs $viaAgg")
  }

  test("contaminationPairs: exact and near eval overlaps flagged, clean docs not") {
    val ev = Seq(
      (100L, base),                          // verbatim copy of doc 0/3 → exact
      (101L, base.replace("dog", "cat")),    // near copy → near
      (102L, "entirely unrelated benchmark prompt about cooking pasta dishes tonight"),
    ).toDF("doc_id", "text")
    val got = Dedup.contaminationPairs(docs, ev, "doc_id", "text", minJaccard = 0.5)
      .select("doc_id", "eval_id", "kind").as[(Long, Long, String)].collect().toSet
    assert(got.contains((0L, 100L, "exact")) && got.contains((3L, 100L, "exact")),
      s"verbatim eval doc must flag both exact copies: $got")
    assert(got.contains((0L, 101L, "near")), s"perturbed eval doc must flag near: $got")
    assert(!got.exists(_._2 == 102L), s"clean eval doc must flag nothing: $got")
    assert(!got.exists(_._1 == 2L), s"unrelated corpus doc must not be flagged: $got")
  }

  test("clusterRoots: min-label propagation reaches the fixpoint on chains") {
    // chain 5-4, 4-3, 3-2, 2-1: a single min-over-neighbors pass would
    // label 5 with 4; the fixpoint must label every vertex 1. Plus a
    // separate clique {10,11,12} and an isolated pair (20,21).
    val pairs = Seq((4L, 5L), (3L, 4L), (2L, 3L), (1L, 2L),
      (10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val roots = Dedup.clusterRoots(pairs).as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(roots(_) == 1L), roots.toString)
    assert((10L to 12L).forall(roots(_) == 10L), roots.toString)
    assert(roots(20L) == 20L && roots(21L) == 20L, roots.toString)
    assert(Dedup.clusterRoots(Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .isEmpty, "empty pair list → empty roots")
  }

  test("curateFuzzy: near-dup cluster collapses to its min id") {
    val many = (1 to 30).map(i => s"tok$i").mkString("the and of it is that ", " ", "")
    val corpus = Seq(
      (10L, many),                     // cluster root — kept
      (11L, many),                     // exact dup → dropped by stage 2
      (12L, many + " extradup"),       // near-dup (J≈0.97) → dropped by stage 3
      (13L, "too short to keep"),      // quality-screened
    ).toDF("doc_id", "text")
    val out = graft.ext.Curation.curateFuzzy(corpus, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
    assert(out.map(_._1).toSeq == Seq(10L), out.mkString(","))
    // exact curate would have kept the near-dup copy
    val exactOnly = graft.ext.Curation.curate(corpus, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
    assert(exactOnly.map(_._1).toSet == Set(10L, 12L), exactOnly.mkString(","))
  }

  test("simhashPairs: chunk widths stay non-empty for maxDist 0/8/16 (pigeonhole intact)") {
    // chunks ∈ {1, 9, 17} previously produced zero-width tail chunks whose
    // all-zero keys silently degraded the blocking to an all-pairs join
    for (d <- Seq(0, 8, 16)) {
      val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = d)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pairs.contains((0L, 3L)), s"maxDist=$d: exact dup pair (hamming 0)")
      if (d == 0)
        assert(pairs == Set((0L, 3L)), s"maxDist=0 keeps only identical fingerprints: $pairs")
    }
  }

  test("editDistancePairs: null texts, duplicate rows and int ids are handled") {
    // null text is not a duplicate of anything; a re-delivered identical
    // row must not self-pair; an IntegerType id column must not feed raw
    // getLong reads (cast happens inside the operator)
    val df = Seq(
      (1, Option("abc")), (2, Option("abd")),  // dist 1
      (3, None: Option[String]), (4, None),    // nulls: no pairs at all
      (5, Option("xyz")), (5, Option("xyz")),  // duplicated row: no self-pair
    ).toDF("id", "t")
    val got = Dedup.editDistancePairs(df, "id", "t")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 1)), got.toString)
  }

  test("approxStats: sketches land inside their error bounds vs exact aggregates") {
    // sketch outputs are implementation-defined → no cross-engine value
    // oracle; THIS bound check is the grading (see Analytics.approxStats)
    val d = "/root/testdata/sf0.001"
    val rsd = 0.05
    val approx = graft.queries.Analytics.approxStats(spark, d, rsd)
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val exact = graft.core.Tables.lineitem(spark, d)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("nd"),
        expr("percentile(l_quantity, array(0.45, 0.55))").as("med_band"),
        expr("percentile(l_extendedprice, array(0.85, 0.95))").as("p90_band"))
      .as[(String, Long, Seq[Double], Seq[Double])].collect()
    assert(exact.nonEmpty)
    exact.foreach { case (flag, nd, medBand, p90Band) =>
      val (aNd, aMed, aP90) = approx(flag)
      // HLL++: rsd is the standard error — 5σ would flake ~once in 3.5M runs
      assert(math.abs(aNd - nd) <= math.max(1.0, 5 * rsd * nd),
        s"$flag: approx_count_distinct $aNd vs exact $nd")
      // GK sketch at accuracy 10000 on ~6k-row groups: rank error ≤ 1, so
      // the value must sit inside a generous exact-quantile neighborhood
      assert(aMed >= medBand.head && aMed <= medBand.last,
        s"$flag: approx median $aMed outside exact [p45, p55] $medBand")
      assert(aP90 >= p90Band.head && aP90 <= p90Band.last,
        s"$flag: approx p90 $aP90 outside exact [p85, p95] $p90Band")
    }
  }

  test("substringDupStats: shared long spans counted, unique docs clean") {
    val a = (1 to 25).map("w" + _).mkString(" ")   // 25 tokens → 6 20-grams
    val c = (1 to 25).map("v" + _).mkString(" ")
    val df = Seq((1L, a), (2L, a), (3L, c), (4L, "too short")).toDF("doc_id", "text")
    val out = Dedup.substringDupStats(df, "doc_id", "text", n = 20)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L), "sub-n docs have no spans")
    assert(out(0) == ((1L, 6L, 6L, 1.0)) && out(1) == ((2L, 6L, 6L, 1.0)),
      "exact copies share every span")
    assert(out(2) == ((3L, 6L, 0L, 0.0)), "distinct doc shares none")
  }

  test("curateFuzzy materializeKept: same result, one scan via the cache") {
    val docs = (0L until 60L).map(i =>
      (i, s"the quick brown fox ${"w" + i % 7} jumps over the lazy dog and then " +
        s"it runs ${"x" + i % 5} far away to the old stone house by the river"))
      .toDF("doc_id", "text")
    val lazyRes = Curation.curateFuzzy(docs, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val mat = Curation.curateFuzzy(docs, "doc_id", "text", materializeKept = true)
    val matRes = mat.collect().map(_.toSeq).toSet
    try {
      assert(matRes == lazyRes, "materialization must not change the result")
      val p = mat.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
        s"expected the survivor branch to read the cached kept corpus:\n$p")
    } finally spark.catalog.clearCache()
  }

  test("chunkTokens: stride-aligned overlapping windows that cover the doc") {
    val doc = (1 to 99).map(i => s"w$i").mkString(" ")
    val out = TextAnalysis.chunkTokens(Seq((7L, doc)).toDF("doc_id", "text"),
        "doc_id", "text", chunkLen = 32, stride = 24)
      .orderBy("chunk_idx").collect()
    assert(out.length == 4, "1 + ceil((99-32)/24) = 4 chunks")
    val chunks = out.map(_.getString(3))
    for ((c, i) <- chunks.zipWithIndex)
      assert(c.split(" ").head == s"w${i * 24 + 1}", s"chunk $i starts at i*stride+1")
    assert(chunks.last.split(" ").last == "w99", "last chunk reaches the final token")
    assert(chunks.init.forall(_.split(" ").length == 32) &&
      chunks.last.split(" ").length == 99 - 3 * 24,
      "full chunks are chunkLen tokens; the tail keeps the remainder")
    assert(chunks.flatMap(_.split(" ")).toSet.size == 99, "windows cover every token")
    // docs at or under chunkLen → exactly one intact chunk
    val one = TextAnalysis.chunkTokens(Seq((1L, "a b c")).toDF("doc_id", "text"),
      "doc_id", "text").collect()
    assert(one.length == 1 && one.head.getString(3) == "a b c")
  }

  test("bigrams: adjacent token pairs, short-doc safe") {
    val b = docs.where(col("doc_id") === 0)
      .select(TextAnalysis.bigrams(col("text")).as("b")).head.getSeq[String](0)
    assert(b.head == "the quick" && b.contains("quick brown"))
    assert(b.length == base.split(" ").length - 1)
    val tiny = Seq((0L, "one")).toDF("doc_id", "text")
      .select(TextAnalysis.bigrams(col("text")).as("b")).head.getSeq[String](0)
    assert(tiny.isEmpty, "single-token docs have no bigrams")
  }

  test("stratifiedSample: k per populous stratum, whole rare strata, partition-invariant") {
    val df = (0L until 300L).map(i => (i, if (i % 10 == 9) "rare" else "big"))
      .toDF("id", "g")
    val out = Sampling.stratifiedSample(df, Seq("g"), col("id"), "s", 25)
      .as[(Long, String)].collect().toSet
    val byG = out.groupBy(_._2)
    assert(byG("big").size == 25, "populous stratum capped at k")
    assert(byG("rare").size == 25, "270 big → 25; 30 rare → 25")
    val small = Sampling.stratifiedSample(df.where(col("g") === "rare"),
      Seq("g"), col("id"), "s", 100).count()
    assert(small == 30, "k above the stratum population keeps it whole")
    // deterministic under any physical layout
    val re = Sampling.stratifiedSample(df.repartition(13), Seq("g"), col("id"), "s", 25)
      .as[(Long, String)].collect().toSet
    assert(re == out, "sample membership is partitioning-independent")
  }

  test("vocabCoverage: deterministic top-V vocab, OOV counts multiplicity") {
    val df = Seq((1L, "a a a b"), (2L, "a b c c")).toDF("doc_id", "text")
    // counts: a=4, b=2, c=2 → V=2 vocab is {a, b} (c loses the tie to b
    // lexicographically? no — b and c tie at 2; b < c wins the tie-break)
    val out = TextAnalysis.vocabCoverage(df, "doc_id", "text", vocabSize = 2)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(out(0) == ((1L, 4L, 0L, 0.0)), "doc 1 fully in-vocab")
    assert(out(1) == ((2L, 4L, 2L, 0.5)), "doc 2: both c occurrences are OOV")
  }

  test("quantizeInt8: away-from-zero rounding, all-zero degenerate encoding") {
    val df = Seq((1L, Array(0.5f, -1.0f, 0.25f)), (2L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df, "vec_id", "embedding").orderBy("vec_id")
      .as[(Long, Double, Seq[Int])].collect()
    assert(out(0)._2 == 127.0 && out(0)._3 == Seq(64, -127, 32),
      "0.5·127 = 63.5 rounds away from zero to 64; 0.25·127 = 31.75 to 32")
    assert(out(1)._2 == 0.0 && out(1)._3 == Seq(0, 0, 0),
      "all-zero vector: scale 0, all-zero q")
  }

  test("sourceQuality: per-source counts, averages and filter yield") {
    val df = Seq(
      ("sA", "the cat sat on the mat"), // 6 tokens, swr 2/6 → passes both
      ("sA", "x y"),                    // 2 tokens → fails minTokens
      ("sB", "foo bar baz qux"))        // 4 tokens, swr 0 → fails ratio
      .toDF("source", "text")
    val out = Curation.sourceQuality(df, "source", "text",
        minTokens = 3, minStopwordRatio = 0.2)
      .orderBy("source")
      .as[(String, Long, Double, Double, Long, Double)].collect()
    assert(out(0)._1 == "sA" && out(0)._2 == 2L && out(0)._3 == 4.0)
    assert(math.abs(out(0)._4 - (2.0 / 6) / 2) < 1e-5, "avg stopword ratio")
    assert(out(0)._5 == 1L && out(0)._6 == 0.5, "1 of 2 sA docs passes")
    assert(out(1) == (("sB", 1L, 4.0, 0.0, 0L, 0.0)))
  }

  test("dimStats: per-dimension count/mean/sample variance, exact on integers") {
    val df = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 4.0f)),
      (3L, Array(5.0f, 9.0f))).toDF("vec_id", "embedding")
    val out = Similarity.dimStats(df, "embedding").orderBy("dim")
      .as[(Long, Long, Double, Double)].collect()
    assert(out(0) == ((0L, 3L, 3.0, 4.0)), "dim 0: mean(1,3,5)=3, var=4")
    assert(out(1)._3 == 5.0 && math.abs(out(1)._4 - 13.0) < 1e-9,
      "dim 1: mean(2,4,9)=5, var=13")
  }
}
