package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import graft.core.Num

/** Sparse-retrieval scoring — BM25 top-k over the corpus for a BOUNDED
  * query set: the lexical leg of a retrieval stack (sim1/sim3 are the
  * dense leg), and the standard relevance baseline any hybrid RAG
  * pipeline keeps around. Okapi BM25 with the Lucene +1 idf variant
  * (idf stays positive even for terms in more than half the corpus).
  *
  * Scale shape: ONE corpus tokenize pass builds the (doc, term, tf, len)
  * relation; the bounded query vocabulary broadcasts and SEMI-filters it
  * immediately (only postings of query terms survive — the corpus never
  * shuffles on anything but its own tokenize fan-out), document
  * frequencies ride a window over the term-keyed candidate slice, corpus
  * totals ride a 1-row broadcast, and the per-query top-k compiles to a
  * rank-≤-k window (Catalyst's WindowGroupLimit partial limit). Nothing
  * is corpus-shuffled at any point — the only wide exchange moves the
  * candidate slice, whose size is (query terms × docs containing them).
  *
  * Determinism (the repo's cross-engine rule): tf / df / len / N are
  * integers; idf's `ln` — the one libm call — is quantized to 6 decimals
  * before use (the lm1/x2 policy); the remaining per-term arithmetic is
  * IEEE +,*,/ in a pinned evaluation order, and per-term scores quantize
  * to DECIMAL(30,6) so the per-document sum is summation-order-free. */
object Retrieval {

  /** BM25 top-`k` documents per query. `queries` = (query_id, terms) —
    * bounded by definition (a query set, not a corpus). Output:
    * (query_id, doc_id, score, rk), rk 1..k by (score desc, doc_id). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: Seq[(Int, Seq[String])], k: Int = 5,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = tokenized(docs, idCol, textCol)
    // corpus totals: one bounded scalar row
    val n = toks.agg(count(lit(1)).as("n_docs"),
      sum(size(col("toks"))).as("n_toks"))
    // the query VOCABULARY (distinct terms) semi-filters the postings
    // before anything wide happens; both relations are bounded → explicit
    // broadcast is safe (the repo's bounded-relation rule)
    val (_, qvocab, qmap) = queryTerms(docs.sparkSession, queries)
    val cand = postingsOf(toks).join(broadcast(qvocab), "term")
    // document frequency per (query) term over the candidate slice — the
    // slice holds EVERY posting of each query term, so this IS the corpus
    // df; window over the term-keyed slice, no self-join
    val withDf = cand.withColumn("dft",
      count(lit(1)).over(Window.partitionBy("term")))
    bm25Rank(withDf.crossJoin(broadcast(n)), qmap, col("n_docs"),
      col("n_toks"), k, k1, b)
  }

  /** The (doc_id, toks) frame of a corpus — ids as long, text through the
    * corpus tokenizer — behind the tokenize fan-out. */
  private def tokenized(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    graft.core.Par.fanOut(docs.select(col(idCol).cast("long").as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("toks")))

  /** The (doc_id, len_d, term, tf) postings of a [[tokenized]] frame —
    * the one derivation the inline scorer, the build and the append
    * share. */
  private def postingsOf(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), size(col("toks")).as("len_d"),
        explode_outer(col("toks")).as("term"))
      .where(col("term").isNotNull) // see TextAnalysis.termStats
      .groupBy("doc_id", "len_d", "term").agg(count(lit(1)).as("tf"))

  /** A bounded query set's vocabulary — its distinct terms, also as the
    * (term) semi-filter of every candidate slice — and its
    * (query_id, term) map. */
  private def queryTerms(spark: org.apache.spark.sql.SparkSession,
                         queries: Seq[(Int, Seq[String])])
      : (Seq[String], DataFrame, DataFrame) = {
    import spark.implicits._
    val terms = queries.flatMap(_._2).distinct
    (terms, terms.toDF("term"),
      queries.flatMap { case (q, ts) => ts.distinct.map((q, _)) }
        .toDF("query_id", "term"))
  }

  /** The postings bucket of a term, `pmod(xxhash64(term), buckets)` —
    * the one expression the build, the append and the probe hash with.
    * Built from Catalyst nodes so [[probe]] can evaluate it over literal
    * terms on the driver. */
  private def bucketOf(term: Column, buckets: Column): Column =
    Bridge.column(Pmod(new XxHash64(Seq(Bridge.expression(term))),
      Bridge.expression(buckets)))

  /** The stored-index probe of a query vocabulary: its bucket ids under
    * the artifact's STORED bucket count, evaluated on the driver (no
    * job), become the returned filter's partition IN-literal, followed
    * by the vocabulary semi-filter. Every posting of a query term lives
    * in that term's bucket, so the pruned slice holds each term's full
    * list. */
  private def probe(terms: Seq[String], qvocab: DataFrame, buckets: Int)
      : DataFrame => DataFrame = {
    val pbs = terms.map(t => Bridge.expression(bucketOf(
        Bridge.column(Literal(t)), Bridge.column(Literal(buckets.toLong))))
        .eval().asInstanceOf[Long])
      .distinct.sorted
    _.where(col("pb").isin(pbs: _*)).join(broadcast(qvocab), "term")
  }

  /** BM25 scoring + per-query rank over candidate rows (term, doc_id,
    * len_d, tf, dft) — the one definition every query path answers
    * through, so the inline and stored arithmetic cannot drift. Corpus
    * totals are Columns: the inline scorer passes its broadcast totals
    * row's columns, the stored paths literals. idf is quantized at its
    * libm boundary; everything after is pinned-order IEEE arithmetic
    * mirrored verbatim by the oracle. */
  private def bm25Rank(cand: DataFrame, qmap: DataFrame, nDocs: Column,
                       nToks: Column, k: Int, k1: Double,
                       b: Double): DataFrame = {
    val idf = round(log(((nDocs - col("dft")).cast("double") + lit(0.5)) /
      (col("dft").cast("double") + lit(0.5)) + lit(1.0)), 6)
    val tfd = col("tf").cast("double")
    val denom = tfd + lit(k1) * (lit(1.0 - b) +
      lit(b) * ((col("len_d") * nDocs) / nToks))
    val termScore = idf * (tfd * lit(k1 + 1.0)) / denom
    val scored = cand.join(broadcast(qmap), "term")
      .groupBy("query_id", "doc_id")
      .agg(Num.dsum(termScore).as("score"))
    val rk = rank().over(Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id")))
    scored.withColumn("rk", rk).where(col("rk") <= k)
      .select(col("query_id"), col("doc_id"), col("score"),
        col("rk").cast("long").as("rk"))
  }

  /** BUILD the stored POSTINGS index for [[bm25TopK]] — the lexical
    * counterpart of the stored ANN index (sim6): production retrieval
    * never re-tokenizes the corpus per query; it builds the inverted
    * index once and queries read only the slivers they touch (Lucene's
    * segment layout, re-expressed columnar). The artifact:
    * `postings/pb=…` — (term, doc_id, len_d, tf) directory-partitioned
    * by a term-hash bucket so a query's terms prune to their buckets;
    * `terms/pb=…` — (term, dft) the BASE term dictionary with document
    * frequency PRECOMPUTED at build; `meta` — one row (n_docs, n_toks,
    * buckets) of BASE corpus totals, the bucket count stored WITH the
    * artifact so the query side can never hash with mismatched
    * parameters (the bf2 discipline). `terms`/`meta` describe the BASE
    * alone and are IMMUTABLE between build and compact — appends never
    * rewrite them; the HEAD dictionary/totals derive at READ time by
    * folding the committed segments onto them ([[headTermDict]]/
    * [[foldedTotals]], Lucene's open-a-reader-over-a-segment-set design:
    * no per-append write of the vocabulary-sized dictionary).
    *
    * Build shape: ONE corpus tokenize pass writes the postings; the term
    * dictionary and corpus totals derive from ONE persisted read-back of
    * the WRITTEN postings ([[writeSummaries]] — no second tokenize, no
    * build-time cache of a corpus-sized frame). Every document has ≥ 1
    * posting (the tokenizer emits [""] for empty text), so n_docs/n_toks
    * reconstruct exactly. The trio publishes as one new root
    * ([[Forget.rebuild]]). */
  def writePostingsIndex(docs: DataFrame, idCol: String, textCol: String,
                         dir: String, buckets: Int = 64): Unit = {
    require(buckets >= 1)
    val spark = docs.sparkSession
    val toks = tokenized(docs, idCol, textCol)
    Forget.rebuild(spark, dir) { tmp =>
      postingsOf(toks)
        .withColumn("pb", bucketOf(col("term"), lit(buckets.toLong)))
        .write.partitionBy("pb").parquet(s"$tmp/postings")
      // the projection is the union of what both summaries need (len_d
      // stays columnar-pruned away); the terms write materializes the
      // persist and the meta aggregate reads it
      val post = spark.read.parquet(s"$tmp/postings")
        .select(col("pb"), col("term"), col("doc_id"), col("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try writeSummaries(post, tmp)(_.withColumn("buckets", lit(buckets)))
      finally post.unpersist(blocking = false)
    }
  }

  /** Stage the BASE summaries of a (pb, term, doc_id, tf) postings
    * relation under `tmp` — `terms/pb=…` (term, dft) and the 1-row `meta`
    * (n_docs, n_toks, buckets) — shared by the build and the compact;
    * `withBuckets` attaches the bucket count to the totals row. */
  private def writeSummaries(post: DataFrame, tmp: String)
                            (withBuckets: DataFrame => DataFrame): Unit = {
    post.groupBy("pb", "term").agg(count(lit(1)).as("dft"))
      .write.partitionBy("pb").parquet(s"$tmp/terms")
    withBuckets(postingsTotals(post)).coalesce(1).write.parquet(s"$tmp/meta")
  }

  /** The HEAD term dictionary (pb, term, dft): the immutable base
    * dictionary + a re-aggregation of the committed segments' postings,
    * folded additively — dft is additive across the base/segment
    * partition because the append-time doc-id anti-join keeps segments
    * doc-disjoint, so this equals a full-store rebuild (Round16Spec pins
    * it) while never re-scanning the base postings. `pb` stays a
    * grouping key so a caller's bucket filter pushes below the fold into
    * every root's partition pruning. */
  private[graft] def headTermDict(spark: org.apache.spark.sql.SparkSession,
                                  dir: String): DataFrame = {
    val base = spark.read.parquet(s"$dir/terms")
      .select(col("pb"), col("term"), col("dft"))
    segmentPostings(spark, graft.core.Artifacts.segments(spark, dir)) match {
      case None => base
      case Some(sp) => base.unionByName(
          sp.groupBy("pb", "term").agg(count(lit(1)).cast("long").as("dft")))
        .groupBy("pb", "term").agg(sum("dft").as("dft"))
    }
  }

  /** The corpus totals (n_docs, n_toks, buckets) at head or `asOf`, in
    * ONE bounded action: the base meta + the additive totals of the
    * committed (or pinned-prefix) segments. Additive because the doc-id
    * anti-join keeps segments doc-disjoint. Like the stored meta it
    * extends, this INCLUDES tombstoned documents until compact —
    * Lucene's docFreq-includes-deletions semantics (the ret7 two-phase
    * grade). */
  private[graft] def foldedTotals(spark: org.apache.spark.sql.SparkSession,
                                  dir: String,
                                  asOf: Option[Long] = None): (Long, Long, Int) = {
    val meta = spark.read.parquet(s"$dir/meta")
    val r = segmentPostings(spark,
        graft.core.Artifacts.segments(spark, dir, asOf)).fold(meta) { sp =>
      meta.crossJoin(postingsTotals(sp).toDF("seg_docs", "seg_toks"))
        .select((col("n_docs") + col("seg_docs")).as("n_docs"),
          (col("n_toks") + col("seg_toks")).as("n_toks"), col("buckets"))
    }.head()
    (r.getLong(0), r.getLong(1), r.getInt(2))
  }

  /** The full stored postings relation at head (segmented store, base
    * `postings`). Every root is pb-partitioned, so a `pb IN (…)` filter
    * partition-prunes each root identically to the single-dir layout. */
  private def postingsRelation(spark: org.apache.spark.sql.SparkSession,
                               dir: String): DataFrame =
    graft.core.Artifacts.readSegmented(spark, dir, "postings")

  /** MAINTAIN the stored postings index per ingest batch — the sim7
    * counterpart for the lexical index: new documents tokenize ONCE and
    * their postings land as a NEW pb-partitioned SEGMENT under the
    * artifact's STORED bucket count. Nothing else writes: the HEAD
    * dictionary and corpus totals derive at READ time by folding the
    * committed segments onto the immutable base summaries
    * ([[headTermDict]]/[[foldedTotals]] — dft, n_docs and n_toks are all
    * ADDITIVE across the base/segment partition because the doc-id
    * anti-join keeps segments doc-disjoint, so the derivation is
    * value-identical to a full-store rebuild, Round16Spec pins it) — the
    * Lucene design (a reader opens a named segment set and merges
    * dictionaries on the fly; appends only add segments). A periodic
    * [[compactPostingsIndex]] folds segments into a new base, which is
    * what keeps the read-side segment fold bounded. That is NOT
    * `meta += batch` arithmetic, which remains forbidden: every read
    * re-derives from what actually COMMITTED, so no crash can ever leave
    * a stale head state anywhere — there is no stored head state.
    *
    * Idempotence under at-least-once retry: the batch anti-joins the
    * stored postings' doc ids first (an id-column-only columnar probe —
    * the inc2s discipline) and commits through
    * [[graft.core.Artifacts.appendSegment]], whose staged segment is
    * all-or-nothing — a half-visible document would be skipped forever
    * by the retry's anti-join. There is no dictionary swap, so no crash
    * window between segment and dictionary exists. */
  def appendToPostingsIndex(batch: DataFrame, idCol: String, textCol: String,
                            dir: String): Unit = {
    val spark = batch.sparkSession
    val fresh = batch.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("__text"))
      .join(postingsRelation(spark, dir).select("doc_id").distinct(),
        Seq("doc_id"), "left_anti")
    // the stored bucket count rides the segment-write job as a broadcast
    // 1-row scalar, not a separate meta.head() action per append
    // (explicit broadcast is the 1-row-scalar case the repo's broadcast
    // policy allows)
    val bucketsCol = broadcast(
      spark.read.parquet(s"$dir/meta").select(col("buckets")))
    val posted = postingsOf(tokenized(fresh, "doc_id", "__text"))
      .crossJoin(bucketsCol)
      .withColumn("pb", bucketOf(col("term"), col("buckets").cast("long")))
      .drop("buckets")
    graft.core.Artifacts.appendSegment(spark, dir)(
      posted.write.partitionBy("pb").parquet(_))
  }

  /** The union of a committed-segment path list under the pinned
    * [[segmentSchema]] (None when no segments committed) — the ONE
    * definition of "postings rows of these segments" shared by the
    * read-time head dictionary ([[headTermDict]]) and the head or pinned
    * totals fold ([[foldedTotals]]), so the segment layout can never
    * drift between its additivity consumers. */
  private def segmentPostings(spark: org.apache.spark.sql.SparkSession,
                              segPaths: Seq[String]): Option[DataFrame] =
    segPaths.map(sp =>
        spark.read.schema(segmentSchema).parquet(sp)
          .select(col("pb"), col("term"), col("doc_id"), col("tf")))
      .reduceOption(_ unionByName _)

  /** The corpus totals of a postings-row frame — 1 row (n_docs, n_toks);
    * `coalesce` keeps the empty frame a 0, not a NULL that would poison
    * a fold. */
  private def postingsTotals(post: DataFrame): DataFrame =
    post.agg(count_distinct(col("doc_id")).as("n_docs"),
      coalesce(sum(col("tf")), lit(0L)).as("n_toks"))

  /** The postings row schema as read back from any committed root —
    * pinned so EMPTY segments (a fully-landed batch's retry commits one)
    * read as zero rows instead of failing schema inference, without
    * touching the base's footers. `pb` reads as INT here because
    * directory-partition values are inferred integers on every existing
    * read path; pinning the same type keeps segment reads union-
    * compatible with the base. */
  private val segmentSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("len_d",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("tf",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("pb",
      org.apache.spark.sql.types.IntegerType)))

  /** FORGET documents from the stored postings index — right-to-be-
    * forgotten for the lexical tier ([[Forget.forgetFrom]]; the forget,
    * living-view, compact and re-add rules are [[Forget]]'s). Queries
    * answer from [[postingsLiving]], and [[compactPostingsIndex]] is the
    * amortized physical rewrite.
    *
    * SEMANTICS BEFORE COMPACT (deliberately Lucene's): a tombstoned
    * document disappears from RESULTS immediately, but document
    * frequencies and corpus totals still reflect the pre-forget store —
    * exactly Lucene's docFreq-includes-deletions behavior until a
    * segment merge; [[compactPostingsIndex]] is that merge, after which
    * scores equal a from-scratch index over the survivors (what ret7
    * grades). */
  def forgetFromPostingsIndex(ids: DataFrame, idCol: String,
                              dir: String): Unit =
    Forget.forgetFrom(ids, idCol, dir)

  /** The LIVING postings view ([[Forget.living]]) — what every query path
    * scans once deletes exist. `asOf = Some(v)` reads version `v` (the
    * build is version `floor` — 0 until a compact — and each committed
    * append adds one) with current tombstones still applied, so pre- and
    * post-compact reads of the same pin agree. */
  def postingsLiving(spark: org.apache.spark.sql.SparkSession,
                     dir: String,
                     asOf: Option[Long] = None): DataFrame =
    Forget.living(spark, dir, "postings", "doc_id", asOf)

  /** Amortized physical rewrite of a tombstoned postings index
    * ([[Forget.compactStore]]): postings/terms/meta derived from the
    * LIVING relation. After the compact, df and corpus totals reflect the
    * survivors — scores equal a from-scratch build. */
  def compactPostingsIndex(spark: org.apache.spark.sql.SparkSession,
                           dir: String): Unit =
    Forget.compactStore(spark, dir, "postings", "doc_id",
        "compactPostingsIndex") { (living, tmp) =>
      living.write.partitionBy("pb").parquet(s"$tmp/postings")
      // the staged terms/meta ARE the new base summaries; the stored
      // bucket count rides the meta job as a 1-row cross join
      writeSummaries(living, tmp)(_.crossJoin(
        spark.read.parquet(s"$dir/meta").select("buckets")))
    }

  /** [[bm25TopK]] answered from the STORED index: the query vocabulary
    * hashes to its buckets under the artifact's OWN stored bucket count,
    * and the bucket ids — bounded by |query terms| — push into both the
    * postings and term-dictionary scans as partition IN-filters, so only
    * the touched slivers of the index are READ (the sim6 probed-list
    * discipline; spec-pinned). Document frequencies come from the HEAD
    * dictionary ([[headTermDict]] — the base dictionary + the committed
    * segments folded at read time, never a window over the candidate
    * slice) and corpus totals ride as literals from ONE bounded
    * [[foldedTotals]] action. Identical results to the inline
    * [[bm25TopK]] for any corpus and query set: same postings, same df
    * values, same scoring arithmetic ([[bm25Rank]]).
    *
    * `asOf = Some(v)` answers AS OF pinned index version `v` — the
    * reproducibility verb a training pipeline needs ("re-run yesterday's
    * retrieval after today's append landed"): answers from the pinned
    * segment prefix, with document frequencies and corpus totals derived
    * from THAT relation (the stored dictionary/meta are HEAD state — a
    * pinned read that used them would mix today's df into yesterday's
    * candidates and drift every score; deriving from the pinned postings
    * is Lucene's "open a reader over a named segment set"). The df
    * derivation adds no extra scan: the pb-pruned candidate slice already
    * holds each query term's FULL posting list ([[probe]]), so dft is one
    * count over it. Current tombstones apply to pins
    * ([[postingsLiving]]). */
  def bm25TopKFromIndex(spark: org.apache.spark.sql.SparkSession,
                        queries: Seq[(Int, Seq[String])], dir: String,
                        k: Int = 5, k1: Double = 1.2, b: Double = 0.75,
                        asOf: Option[Long] = None): DataFrame =
    asOf.fold(bm25Head(spark, queries, dir, k, k1, b))(
      bm25Pinned(spark, queries, dir, _, k, k1, b))

  private def bm25Head(spark: org.apache.spark.sql.SparkSession,
                       queries: Seq[(Int, Seq[String])], dir: String,
                       k: Int, k1: Double, b: Double): DataFrame = {
    graft.core.Artifacts.heal(spark, dir)
    val (nDocs, nToks, buckets) = foldedTotals(spark, dir)
    val (terms, qvocab, qmap) = queryTerms(spark, queries)
    val inBuckets = probe(terms, qvocab, buckets)
    // LIVING view: tombstoned documents leave the candidate set at once;
    // df/meta stay head-state until compact (the Lucene pre-merge
    // semantics — forgetFromPostingsIndex scaladoc, Round11Spec pins
    // both phases). The pb filter pushes below the head-dict fold into
    // every root's partition pruning.
    val post = inBuckets(postingsLiving(spark, dir))
    val dict = inBuckets(headTermDict(spark, dir))
      .select(col("term"), col("dft"))
    bm25Rank(post.join(dict, "term"), qmap, lit(nDocs), lit(nToks),
      k, k1, b)
  }

  private def bm25Pinned(spark: org.apache.spark.sql.SparkSession,
                         queries: Seq[(Int, Seq[String])], dir: String,
                         asOf: Long, k: Int, k1: Double,
                         b: Double): DataFrame = {
    val pinned = postingsLiving(spark, dir, Some(asOf))
    // Pinned corpus totals. When nothing was ever forgotten they are
    // additive across the doc-disjoint base + pinned-segment-prefix
    // partition ([[foldedTotals]]: the 1-row base meta + an aggregate of
    // the batch-sized pinned segments, not a full pinned-relation pass).
    // Tombstones break the additivity shortcut (the pinned relation
    // excludes them and the summaries do not), so any tombstone store
    // takes the exact full aggregate — value-identical either way.
    val (nDocs, nToks, buckets) =
      if (Forget.tombstones(spark, dir, "doc_id").isEmpty)
        foldedTotals(spark, dir, Some(asOf))
      else {
        val t = postingsTotals(pinned).crossJoin(
          spark.read.parquet(s"$dir/meta").select(col("buckets"))).head()
        (t.getLong(0), t.getLong(1), t.getInt(2))
      }
    val (terms, qvocab, qmap) = queryTerms(spark, queries)
    val post = probe(terms, qvocab, buckets)(pinned)
    val dict = post.groupBy("term").agg(count(lit(1)).as("dft"))
    bm25Rank(post.join(dict, "term"), qmap, lit(nDocs), lit(nToks),
      k, k1, b)
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09) of N retrieval
    * legs — the standard hybrid-retrieval combiner (BM25 leg + dense-ANN
    * leg in a RAG stack): rrf(q, d) = Σ_legs 1 ∕ (k0 + rank_leg(q, d)),
    * summing only over legs that ranked d. Rank-only fusion — leg SCORES
    * never mix, so legs with incomparable score scales (idf sums vs
    * cosines) compose without calibration.
    *
    * Each leg is (query_id, doc_id, rk). Legs UNION (no N-way outer join —
    * a union is shuffle-free into the fusion aggregate's own exchange) and
    * one (query_id, doc_id) hash-aggregate sums the contributions; the
    * per-query top-`k` compiles to a rank-≤-k window (WindowGroupLimit).
    * Everything upstream is per-leg top-k, so the fused relation is
    * ≤ Σ leg-k rows per query — bounded by construction, never
    * corpus-sized.
    *
    * Determinism: ranks are integers; 1∕(k0+rk) is one correctly-rounded
    * IEEE division (the cross-engine rule), and contributions quantize to
    * DECIMAL(30,6) via [[Num.dsum]] so the per-document sum is
    * summation-order-free. No denominator in 61..80 (k0=60, leg-k ≤ 20)
    * hits a decimal half-way point at 6 places, so the quantization is
    * rounding-mode-free too. */
  /** EXACT PHRASE SEARCH over positional postings — the retrieval
    * capability BM25's bag-of-words scoring cannot express ("spark sql"
    * must not match "sql … spark"; Lucene's PhraseQuery over term
    * positions, re-expressed relational). For each bounded query phrase:
    * anchor on the phrase's OCCURRENCE-RAREST term (the classic phrase-
    * query optimization — candidate windows are as selective as the
    * rarest word, ties broken on offset then term so both engines pick
    * identically), turn each anchor occurrence into a candidate start
    * (pos − j* + 1), then verify every remaining offset with ONE
    * positional equi-join and keep windows where all m offsets hit.
    * Overlapping occurrences count separately (defined, deterministic).
    *
    * Scale shape: one corpus tokenize pass; the bounded phrase
    * vocabulary IN-filters the positional relation immediately (only
    * postings of phrase terms survive — the corpus never shuffles; the
    * filtered slice persists for its three consumers: the df probe, the
    * anchor scan, the verify join); the df probe collects |phrase-terms|
    * rows (bounded driver state); candidates × m verify rows join the
    * slice on (doc, term, pos). With a STORED positional index
    * ([[writePostingsIndex]] + a pos column) the tokenize pass drops and
    * the bucket filter prunes to the touched terms — same join shape.
    * Output: (query_id, doc_id, n_occ) for matching docs only. */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrases: Seq[(Long, String)]): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(phrases.nonEmpty)
    val spark = docs.sparkSession
    import spark.implicits._
    // phrase terms under the corpus tokenizer's own contract
    val pterms: Seq[(Long, Int, String)] = phrases.flatMap { case (q, p) =>
      p.trim.toLowerCase.split("\\s+").toSeq.zipWithIndex
        .map { case (t, i) => (q, i + 1, t) }
    }
    // the corpus tokenizer emits [""] for empty text — an empty phrase
    // term would silently match every empty document's sentinel token
    require(pterms.forall(_._3.nonEmpty), "phrases must be non-blank")
    val vocab = pterms.map(_._3).distinct
    val pos0 = tokenized(docs, idCol, textCol)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p0", "term")))
      .where(col("term").isin(vocab: _*))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("term"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // |phrase-terms| rows of bounded driver state; an absent term has
    // df 0 → it anchors → zero candidates → no matches (correct)
    val dfs = pos0.groupBy("term").agg(count(lit(1)).as("df")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val anchors = pterms.groupBy(_._1).map { case (q, xs) =>
      val (_, j, t) = xs.minBy { case (_, j, t) =>
        (dfs.getOrElse(t, 0L), j, t) }
      (q, j, t)
    }.toSeq
    val cands = pos0
      .join(broadcast(anchors.toDF("query_id", "jstar", "aterm")),
        col("term") === col("aterm"))
      .select(col("query_id"), col("doc_id"),
        (col("pos") - col("jstar") + 1).as("start"))
      .where(col("start") >= 1)
    val need = broadcast(pterms.toDF("query_id", "j", "term"))
    val m = pterms.groupBy(_._1).map { case (q, xs) => (q, xs.size.toLong) }
      .toSeq.toDF("query_id", "m")
    cands.join(need, "query_id")
      .select(col("query_id"), col("doc_id"), col("start"), col("term"),
        (col("start") + col("j") - 1).as("pos"))
      .join(pos0, Seq("doc_id", "term", "pos"))
      .groupBy("query_id", "doc_id", "start")
      .agg(count(lit(1)).as("hit"))
      .join(broadcast(m), "query_id")
      .where(col("hit") === col("m"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_occ"))
  }

  /** TERM-PROXIMITY ranking — the relaxation between [[bm25TopK]]'s
    * bag-of-words and [[phraseSearch]]'s exact adjacency: for each
    * bounded (term_a, term_b) query, rank documents containing BOTH by
    * the minimal positional distance between any occurrence pair
    * (Lucene's SpanNearQuery / sloppy phrase). Output per query: top-k
    * docs by (min_dist ASC, doc_id ASC), with per-doc occurrence counts.
    *
    * Shape at scale: the bounded pair vocabulary IN-filters the
    * positional relation before any shuffle (the ret5 slice); per-doc
    * occurrence lists of the two terms join within the (query, doc) key —
    * |occ_a|·|occ_b| pairs per doc, fine for natural term frequencies;
    * documents where a query term goes heavy-hitter (stopword pairs)
    * want the sorted-positions linear merge instead (same output
    * contract, one mapGroups over (query, doc)). */
  def termProximity(docs: DataFrame, idCol: String, textCol: String,
                    pairs: Seq[(Long, String, String)],
                    k: Int = 10): DataFrame = {
    require(pairs.nonEmpty)
    require(pairs.forall(p => p._2.nonEmpty && p._3.nonEmpty),
      "query terms must be non-blank (the empty-doc sentinel token is \"\")")
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = pairs.flatMap(p => Seq(p._2, p._3)).distinct
    val pos = tokenized(docs, idCol, textCol)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p0", "term")))
      .where(col("term").isin(vocab: _*))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("term"))
    val pr = pairs.toDF("query_id", "ta", "tb")
    val a = pos.join(broadcast(pr), col("term") === col("ta"))
      .select(col("query_id"), col("doc_id"), col("pos").as("pa"))
    val bSide = pos.join(broadcast(pr), col("term") === col("tb"))
      .select(col("query_id").as("qb"), col("doc_id").as("db"),
        col("pos").as("pb"))
    val j = a.join(bSide,
        col("query_id") === col("qb") && col("doc_id") === col("db"))
      .groupBy("query_id", "doc_id")
      .agg(min(abs(col("pa") - col("pb"))).cast("long").as("min_dist"),
        count_distinct(col("pa")).as("n_a"),
        count_distinct(col("pb")).as("n_b"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("min_dist").asc, col("doc_id").asc)
    j.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("min_dist"), col("n_a"), col("n_b"))
  }

  def rrfFuse(legs: Seq[DataFrame], k0: Int = 60, k: Int = 10): DataFrame = {
    require(legs.nonEmpty && k0 >= 1 && k >= 1)
    val contrib = legs.map(_.select(col("query_id"), col("doc_id"),
        (lit(1.0) / (lit(k0.toDouble) + col("rk").cast("double"))).as("c")))
      .reduce(_ unionByName _)
    val fused = contrib.groupBy("query_id", "doc_id")
      .agg(Num.dsum(col("c")).as("rrf"))
    val rk = row_number().over(Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id")))
    fused.withColumn("rk", rk).where(col("rk") <= k)
      .select(col("query_id"), col("doc_id"), col("rrf"),
        col("rk").cast("long").as("rk"))
  }
}
