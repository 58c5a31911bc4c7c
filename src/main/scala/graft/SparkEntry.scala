package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.queries.{Analytics, AsOf, Basket, Behavior, Cdc, Sessionize}
import graft.ext.{Dedup, Graph, Multimodal, Similarity, TextAnalysis}
import graft.streaming.Pipeline.Tier

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (plus the extension tier) is exposed as a
  * named query over the `/root/testdata/sf*` parquet tables, with an
  * equivalent DuckDB oracle in [[oracleSql]]. Column names and aliases match
  * between the Spark query and the oracle exactly (the driver sorts columns
  * by name before hashing). Every query ends in a deterministic ORDER BY on
  * a unique key so row order can never cause a hash mismatch; double sums go
  * through exact decimal arithmetic ([[graft.core.Num]]) so summation order
  * can't either.
  *
  * Domain mapping (survey §7.1): events.ts → timestamp, events.user_id → id,
  * events.event_type → antenna_id, JSON props.k → app, events.value → bytes,
  * customer(c_custkey, c_name, c_acctbal) → user_metadata(id, email, quota).
  */
object SparkEntry {

  /** Session settings the engine requires. Our own mains/specs pass these
    * at builder time; [[entry]] is the one contract point handed an
    * ALREADY-BUILT session by the driver, so it applies them here (runtime
    * SQLConf, before any read) rather than inside a table loader. */
  def configureSession(spark: SparkSession): SparkSession = {
    // events.ts is TIMESTAMP_NTZ (zone-free wall clock); pin the session
    // zone anyway so any zoned casts a caller adds behave identically to
    // the UTC-pinned oracle session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A4: hourly tumbling-window sum of value per event_type over events. */
  def entry(spark: SparkSession): DataFrame =
    Agg.windowedSum(
      Tables.events(configureSession(spark), "/root/testdata/sf0.001"),
      col("event_type"), col("ts"), "1 hour", col("value"),
      "antenna_bytes_total")

  // ---- helpers -----------------------------------------------------------

  private def events(s: SparkSession, d: String)   = Tables.events(s, d)

  /** Shared fixture for fit1/cur5: engineered integer doc features (bias,
    * capped token / distinct-token / char-decile counts) with a planted
    * integer linear target the probe must learn. */
  private def probeFeatures(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
        ext.TextAnalysis.tokens(col("text")).as("toks"), col("text"))
      .select(col("doc_id"), lit(1L).as("x0"),
        least(size(col("toks")).cast("long"), lit(100L)).as("x1"),
        least(size(array_distinct(col("toks"))).cast("long"), lit(100L)).as("x2"),
        least((length(col("text")) / 10).cast("long"), lit(100L)).as("x3"))
      .withColumn("y",
        lit(2L) * col("x1") + lit(3L) * col("x2") - col("x3") + lit(7L))
  private def customer(s: SparkSession, d: String) = Tables.customer(s, d)

  /** events enriched with the customer dimension (J1), reference semantics:
    * inner equi-join on user id, broadcast dim, drop duplicate key. */
  private def enriched(s: SparkSession, d: String): DataFrame =
    Enrich.enrich(events(s, d), customer(s, d), "user_id", "c_custkey")

  /** events with the JSON props payload parsed: adds int column `k` (P3). */
  private def withK(s: SparkSession, d: String): DataFrame =
    Parse.withJsonField(events(s, d), col("props"), Parse.propsSchema, "k", "k")

  /** PLANT-OFFSET UNIT for the documents-table fixtures, derived from the
    * corpus itself (round-6 verdict #3 — the fixed +k·100000 offsets
    * collided with real doc_ids past ~100k-doc corpora): the smallest
    * P > max(doc_id) with P ≡ 1 (mod 3). Planted re-keys are
    * doc_id + k·P — collision-free with real ids at ANY SF (ids < P),
    * class-disjoint (k·P apart), and k·P ≡ k (mod 3) exactly like the
    * retired k·100000, so every replay-slice property (inc1s/inc2s cut on
    * doc_id % 3) is preserved verbatim. One bounded driver scalar per
    * fixture build (pr1's budget class), memoized per SF dir; the oracle
    * SQL derives the identical P inline ([[plantUnitSql]]). */
  private val plantUnitCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  private def plantUnit(s: SparkSession, d: String): Long =
    plantUnitCache.computeIfAbsent(d, _ =>
      Tables.documents(s, d).agg(max(col("doc_id"))).head.getLong(0) / 3 * 3 + 4)

  /** [[plantUnit]]'s formula in DuckDB SQL (uncorrelated scalar subquery,
    * evaluated once): mx/3*3+4 ≡ (mx - mx%3) + 4 > mx and ≡ 1 (mod 3)
    * for any non-negative mx — identical integer arithmetic both sides. */
  private val plantUnitSql = "(SELECT MAX(doc_id)//3*3+4 FROM documents)"

  /** er1's variant-id offset over the part catalog — same collision-free
    * derivation discipline as [[plantUnit]]: mx/2*2+2 > mx at any SF, so
    * pk + k·U never collides with a real partkey or another k. */
  private val partUnitCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  /** wsp1/mst1's shared fixture: the co-purchase graph with strength as
    * closeness — w = max(1, 8 − n_orders), both directions. The pair
    * relation localCheckpoints once (the bfs1 multi-consumer barrier:
    * both union orientations plus any seed derivation read it). One
    * definition so the two graphs can never drift (round-9 review). */
  private def coPurchaseWeightedEdges(s: SparkSession, d: String): DataFrame = {
    val p = Basket.frequentPairs(Tables.lineitem(s, d), minSupport = 2L)
      .localCheckpoint()
    val w = greatest(lit(1L), lit(8L) - col("n_orders"))
    p.select(col("part_a").as("src"), col("part_b").as("dst"), w.as("w"))
      .unionByName(p.select(col("part_b").as("src"),
        col("part_a").as("dst"), w.as("w")))
  }

  /** Directed nation-level trade-flow edges: customer nation → supplier
    * nation for every above-average flow (n·npairs ≥ total — scale-free,
    * no fixed count pinned). Corpus-scale join spine aggregated to the
    * nations²-bounded flow relation; ONE definition shared by scc1 and
    * topo1 (the coPurchaseWeightedEdges no-drift lesson). */
  private def nationFlowEdges(s: SparkSession, d: String): DataFrame = {
    val oc = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey").as("cn"))
    val ls = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("s_nationkey").as("sn"))
    val flow = oc.join(ls, col("o_orderkey") === col("l_orderkey"))
      .groupBy("cn", "sn").agg(count(lit(1)).as("n"))
      .where(col("cn") =!= col("sn"))
      .localCheckpoint() // nations²-bounded; scalar agg + filter consume it
    val t = flow.agg(coalesce(sum(col("n")), lit(0L)), count(lit(1))).head()
    val (total, npairs) = (t.getLong(0), t.getLong(1))
    require(total > 0 && npairs > 0,
      s"nationFlowEdges: empty cross-nation flow relation (total=$total, " +
        s"pairs=$npairs) — the trade-flow graph needs at least one " +
        "customer-nation != supplier-nation order; check the input tables")
    flow.where(col("n") * lit(npairs) >= lit(total))
      .select(col("cn").as("src"), col("sn").as("dst"))
  }

  private def partUnit(s: SparkSession, d: String): Long =
    partUnitCache.computeIfAbsent(d, _ =>
      Tables.table(s, d, "part").agg(max(col("p_partkey").cast("long")))
        .head.getLong(0) / 2 * 2 + 2)
  // DuckDB form (er1's pu CTE): SELECT MAX(p_partkey)//2*2+2 FROM part

  /** The composed pipes' curation screen (pipe1s/pipe2s/pipe3s). */
  private val pipeCuratedP: Column =
    col("lang") =!= "zh" && col("n_chars") >= 100

  /** pipe1s/pipe2s's build and stream over one `p`. The stores build
    * over the documents with `doc_id % 4 != 1` — the bloom archive over
    * all of them, the index tiers over the curated (and, with a gate,
    * decontaminated) ones; the `% 4 = 1` quarter streams in three
    * batches: batch 1 re-delivers batch 0 in full PLUS planted content
    * duplicates under fresh ids (+1e6), and the takedown (indexed build
    * docs with `doc_id % 7 = 3`) fires inside batch 1, while batch 2 is
    * still to come. */
  private def replayComposedPipe(s: SparkSession, d: String, tag: String,
                                 p: graft.streaming.Pipeline): Unit = {
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    val rec = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(docs("doc_id"), col("text"), col("lang"), col("n_chars"),
        col("label"), col("embedding"))
    val build = rec.where(col("doc_id") % 4 =!= 1)
    p.build(build)
    val takedown = p.indexed(build).where(col("doc_id") % 7 === 3)
      .select("doc_id")
    val q = rec.where(col("doc_id") % 4 === 1)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
        col("embedding"))
    // corpus-contract guard (round-14 ADVICE): the oracle's population
    // is purely id/lang/length-predicated, while the engine's content
    // screen drops any streamed doc whose text exactly matches an
    // archived doc — the two agree ONLY while the genuine streamed
    // texts are content-disjoint from the build's (the planted +1e6
    // dups are the deliberate exception: screened by the engine AND
    // excluded from the oracle by id predicate). A regenerated corpus
    // with cross-population exact-content duplicates must fail HERE
    // with a message, not as a hash diff (the boruvkaForestBudgeted
    // convention). No stream has run yet, so the stored fps relation IS
    // the build's fingerprint set.
    val crossDups = q
      .select(TextAnalysis.fingerprint(col("text")).as("content_fp"))
      .join(Dedup.fpsRelation(s, p.screen.get), Seq("content_fp"),
        "left_semi").count()
    require(crossDups == 0L,
      s"$tag: $crossDups streamed doc(s) share exact content with the " +
        "build population — the content screen would drop them but the " +
        "id-predicated oracle would keep them; regenerate the fixture " +
        "predicates so the stream and build texts are content-disjoint")
    val s0 = q.where(pmod(col("doc_id"), lit(8)) === 1)
    val s1 = s0.unionByName(s0.select(
      (col("doc_id") + 1000000L).as("doc_id"), col("text"), col("lang"),
      col("n_chars"), col("embedding"))) // full redelivery + content dups
    val s2 = q.where(pmod(col("doc_id"), lit(8)) === 5)
    graft.streaming.Replay.slicedSourceReplay(s, Seq(s0, s1, s2),
        "doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT, " +
          "embedding ARRAY<FLOAT>", s"$tag-") { (src, dir) =>
      graft.core.Sinks.foreachBatchSink(src, s"$dir/ckpt") { (b, bid) =>
        p.ingest(b)
        if (bid == 1L) p.forget(takedown) // mid-stream: batch 2 to come
      }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
  }

  /** pipe1s/pipe2s's graded answer: one leg per index tier under `dir0`
    * (bm25, ivf, pq when `withPq`, knn), unioned as
    * (tier, qid, rank, item, score). Postings compact first for
    * survivor-exact df (the ret7 rule: pre-compact keeps Lucene's
    * docFreq-includes-deletions semantics). */
  private def pipeAnswer(s: SparkSession, d: String, dir0: String,
                         withPq: Boolean): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val fetch = emb.select(col("vec_id"), col("embedding").as("v"))
    val queries = emb.where(col("vec_id") < 5)
    def leg(tier: String, df: DataFrame, qid: String, rank: String,
            item: String, score: String) =
      df.select(lit(tier).as("tier"), col(qid).cast("long").as("qid"),
        col(rank).cast("long").as("rank"), col(item).as("item"),
        col(score).as("score"))
    ext.Retrieval.compactPostingsIndex(s, s"$dir0/postings")
    val bm = leg("bm25", ext.Retrieval.bm25TopKFromIndex(s,
        Seq(0 -> Seq("spark", "join", "table"),
          1 -> Seq("hash", "merge", "sort"),
          2 -> Seq("stream", "window", "batch")), s"$dir0/postings", k = 5),
      "query_id", "rk", "doc_id", "score")
    val ivf = leg("ivf", Similarity.ivfQuantizedTopKFromIndex(
        s.read.parquet(s"$dir0/ivf/centroids"),
        Similarity.ivfLivingIndex(s, s"$dir0/ivf"), fetch, queries,
        "vec_id", "embedding", k = 10, nprobe = 3, shortlist = 30),
      "query_id", "rank", "neighbor_id", "cos")
    val pq = if (!withPq) Nil else Seq(leg("pq", Similarity.pqTopKFromIndex(
        s, s"$dir0/pq", fetch, queries, "vec_id", "embedding", k = 10,
        shortlist = 30), "query_id", "rank", "neighbor_id", "cos"))
    val knn = leg("knn", Similarity.knnGraphFromIndex(s, s"$dir0/knn"),
      "query_id", "rank", "neighbor_id", "cos")
    ((bm +: ivf +: pq) :+ knn).reduce(_ unionByName _)
      .orderBy("tier", "qid", "rank")
  }

  // ---- queries -----------------------------------------------------------

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1-A3 run through the SPEED-LAYER code path (Speed.windowedSum with
    // the reference's 15 s watermark — a no-op on batch frames), so the
    // oracle checks the very code the streaming queries execute.
    // A1: bytes per antenna, 90 s tumbling window
    "a1_antenna_90s" -> ((s, d) =>
      graft.streaming.Speed.windowedSum(events(s, d), col("event_type"), "ts",
        "90 seconds", "15 seconds", col("value"), "antenna_bytes_total")
        .orderBy("timestamp", "id")),

    // A1s: the SAME aggregate as a1 executed by the STREAMING engine — the
    // sf events replayed through a FILE-SOURCE stream into Speed.windowedSum
    // (watermark, windowed state store, append-mode emission), run to
    // completion with Trigger.AvailableNow into a parquet sink, read back
    // and graded by the IDENTICAL oracle as a1. Closes the "streaming is
    // spec-only" gap: this correctness row executed the streaming engine —
    // and nothing touches the driver (the staging write, the stream read
    // and the sink are all distributed; see Replay's scaladoc).
    "a1s_stream_replay" -> ((s, d) =>
      graft.streaming.Replay.windowedSumReplay(s,
          events(s, d).select(col("ts"), col("event_type"), col("value")),
          "90 seconds", "15 seconds", "antenna_bytes_total")
        .orderBy("timestamp", "id")),

    // sess1s: SESSION windows executed by the STREAMING engine — the last
    // stateful-operator class without an engine-executed oracle row
    // (windowed agg = a1s, stream-stream join = ss1). Gap-merged session
    // state per user, replayed through the file-source harness; the
    // sentinel sits 40 min out (> 30 min gap + 15 s delay) so every real
    // session closes. Oracle = gap sessionization in SQL with the
    // session_window merge rule (a new session starts when the gap is ≥
    // the threshold — session_window merges only strictly-overlapping
    // [ts, ts+gap) intervals, unlike sess1's strictly-greater batch rule).
    "sess1s_session_replay" -> ((s, d) =>
      graft.streaming.Replay.sessionWindowSumReplay(s,
          events(s, d).select(col("ts"), col("user_id").cast("string"),
            col("value")),
          "30 minutes", "15 seconds", "user_session_total",
          java.time.Duration.ofMinutes(40))
        .orderBy("timestamp", "id")),

    // fb1s: CUSTOM ARBITRARY STATE executed by the STREAMING engine —
    // flatMapGroupsWithState (QuotaAlert.firstBreach): per-user running
    // usage in the state store, one row emitted at the first event-time-
    // ordered crossing of the quota. The last custom-state class without
    // an engine-executed oracle row (windowed agg = a1s, session = sess1s,
    // stream-stream join = ss1). Values integerize via floor(value·10⁶)
    // (identical floor in both engines) so the running sum is exact and
    // order-free; threshold 3000·10⁶ lands mid-stream for ~60% of users
    // at every graded SF (per-user totals ≈ 1 500–5 700).
    "fb1s_quota_breach" -> ((s, d) => {
      val in = events(s, d).select(
        col("user_id").as("id"), col("ts").cast("timestamp").as("ts"),
        col("event_id").as("seq"),
        expr("CAST(floor(value * 1000000) AS BIGINT)").as("v"))
      graft.streaming.Replay.transformReplay(s, in,
          "id BIGINT, ts TIMESTAMP, seq BIGINT, v BIGINT", "breach-") { src =>
        graft.streaming.QuotaAlert.firstBreach(src, 3000000000L).toDF()
      }.withColumn("breach_ts", col("breach_ts").cast("timestamp_ntz"))
        .orderBy("user_id")
    }),

    // fb2s: the EVENT-TIME-TIMEOUT state-expiry branch of custom state —
    // the production pairing fb1s's operator scaladoc defers to ("expire
    // idle users"), graded: gap-idle session summaries through
    // flatMapGroupsWithState with GroupStateTimeout.EventTimeTimeout.
    // A session closes on a ≥30-min same-key gap (arrival branch) or
    // when the watermark passes last-event + gap (hasTimedOut branch —
    // emit and state.remove(), reclaiming the state firstBreach keeps
    // forever); every key's FINAL session can only leave through the
    // timeout, so the expiry path provably executes for every user.
    // Boundaries depend only on event-time gaps in exact micro-units —
    // never batch boundaries — so the oracle is the standard batch
    // lag/flag/cumsum gap sessionization.
    "fb2s_idle_expiry" -> ((s, d) => {
      val in = events(s, d).select(col("user_id").as("id"),
        col("ts").cast("timestamp").as("ts"), col("event_id").as("seq"),
        expr("CAST(floor(value * 1000000) AS BIGINT)").as("v"))
      graft.streaming.Replay.idleSessionReplay(s, in,
          java.time.Duration.ofMinutes(30), "15 seconds",
          java.time.Duration.ofMinutes(40))
        .orderBy("user_id", "session_start")
    }),

    // tws1: Spark 4 transformWithState (the ARBITRARY-STATE successor to
    // fb1s's flatMapGroupsWithState — typed named state variables,
    // RocksDB-only) driven by the real engine across 3 event-time
    // micro-batches: per-key running (count, micro-unit total) in one
    // ValueState, a cumulative emission per touched batch, the FINAL
    // emission per key (count is strictly monotone) graded against the
    // plain batch GROUP BY (streaming.StateApi scaladoc).
    "tws1_running_totals" -> ((s, d) => {
      val sink = streaming.StateApi.runningTotalsReplay(s,
        events(s, d).select(col("ts"), col("user_id"), col("value")),
        slices = 3)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
        .orderBy(col("n_events").desc)
      sink.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("id").cast("long").as("id"), col("n_events"),
          col("total_vm"))
        .orderBy("id")
    }),

    // dd1s: STREAMING EXACT DEDUP on ingest executed by the engine —
    // dropDuplicatesWithinWatermark (Speed.dedupStream, the d1 operator's
    // speed-layer twin) over a corpus with planted exact-duplicate rows
    // (every event_id ≡ 3 mod 7 re-ingested verbatim). Duplicates are
    // identical full rows, so the kept-first-arrival semantics are
    // value-deterministic and the oracle is simply the original table.
    "dd1s_dedup_replay" -> ((s, d) => {
      val ev = events(s, d).select(col("event_id"),
        col("ts").cast("timestamp").as("ts"), col("user_id"),
        col("event_type"), col("value"))
      val planted = ev.unionByName(ev.where(col("event_id") % 7 === 3))
      graft.streaming.Replay.transformReplay(s, planted,
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE",
          "dedup-") { src =>
        graft.streaming.Speed.dedupStream(src, Seq("event_id"), "ts", "30 seconds")
      }.withColumn("ts", col("ts").cast("timestamp_ntz"))
        .orderBy("event_id")
    }),

    // inc1s: STREAMING INCREMENTAL INGEST DEDUP executed by the engine —
    // inc1's cross-run archive anti-join as it actually runs in production:
    // a document stream arrives in micro-batches (sliced-file replay pins
    // batch i = doc_id ≡ i mod 3), each batch dedups internally and against
    // the accumulated parquet archive via the K2 foreachBatch sink, and the
    // archive is both state and output. EARLIEST BATCH WINS, then min id:
    // originals in batches 0/1 beat their +100000 copies (next batch), but
    // batch-2 originals LOSE to their copies (which wrapped to batch 0) —
    // so the oracle provably grades cross-batch arrival order, not just
    // the min-id collapse; the +300000 slice plants same-batch duplicates
    // for the within-batch path.
    "inc1s_stream_ingest_dedup" -> ((s, d) => {
      val pu = plantUnit(s, d)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val planted = docs
        .union(docs.select((col("doc_id") + pu).as("doc_id"), col("text")))
        .union(docs.where(col("doc_id") % 10 === 1)
          .select((col("doc_id") + 3 * pu).as("doc_id"), col("text")))
      val slices = (0 until 3).map(i =>
        planted.where(pmod(col("doc_id"), lit(3)) === i))
      val dir = graft.streaming.Replay.slicedSourceReplay(s, slices,
          "doc_id BIGINT, text STRING", "ingest-") { (src, dir) =>
        val arch = s"$dir/archive"
        planted.limit(0)
          .select(col("doc_id"),
            TextAnalysis.fingerprint(col("text")).as("content_fp"))
          .write.parquet(arch)
        graft.streaming.Ingest.dedupIngest(src, "doc_id", "text", arch,
          s"$dir/ckpt")
      }
      s.read.parquet(s"$dir/archive")
        .select(col("doc_id"), col("content_fp"))
        .orderBy("doc_id")
    }),

    // inc2s: STREAMING FUZZY ingest dedup — the near-dup counterpart of
    // inc1s (Ingest.nearDupIngest: per-batch LSH blocking vs the archived
    // survivors, exact verify, survivors append). Planted near-dup copies
    // (+100000 ≡ +1 mod 3) land exactly one replay batch AFTER their
    // original, except i ≡ 2 originals whose copies WRAP to batch 0 and
    // arrive FIRST — so both drop directions execute: later copies drop
    // against archived originals (b1, b2), and b2's originals drop against
    // their own earlier-archived copies. Docs under 6 tokens fall below
    // J = (t−2)/(t−1) < 0.7 and both survive; the oracle's exact
    // batch-by-batch replay prices all of it.
    "inc2s_stream_neardup" -> ((s, d) => {
      val pu = plantUnit(s, d)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val planted = docs
        .union(docs.select((col("doc_id") + pu).as("doc_id"),
          concat(col("text"), lit(" graftdup")).as("text")))
      val slices = (0 until 3).map(i =>
        planted.where(pmod(col("doc_id"), lit(3)) === i))
      val dir = graft.streaming.Replay.slicedSourceReplay(s, slices,
          "doc_id BIGINT, text STRING", "neardup-") { (src, dir) =>
        val arch = s"$dir/archive"
        planted.limit(0).write.parquet(arch)
        graft.streaming.Ingest.nearDupIngest(src, "doc_id", "text", arch,
          s"$dir/ckpt")
      }
      s.read.parquet(s"$dir/archive")
        .select(col("doc_id")).orderBy("doc_id")
    }),

    // cur1s: the FULL CURATION PIPELINE as one streaming query — inc2s's
    // replay fixture through Ingest.curationIngest: each batch passes the
    // curateFuzzy quality screen (n_tokens ≥ 20, stopword ratio ≥ 0.04)
    // BEFORE the stored-band-index fuzzy dedup, so rejected documents
    // provably never enter the archive or its artifacts and later
    // batches never dedup against rejected content. The corpus's sub-20-
    // token documents make the quality leg fire for real; the planted
    // copies make both drop directions fire as in inc2s; the oracle
    // replays batch-by-batch with the same screen then exact Jaccard.
    "cur1s_stream_curation" -> ((s, d) => {
      val pu = plantUnit(s, d)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val planted = docs
        .union(docs.select((col("doc_id") + pu).as("doc_id"),
          concat(col("text"), lit(" graftdup")).as("text")))
      val slices = (0 until 3).map(i =>
        planted.where(pmod(col("doc_id"), lit(3)) === i))
      val dir = graft.streaming.Replay.slicedSourceReplay(s, slices,
          "doc_id BIGINT, text STRING", "curingest-") { (src, dir) =>
        val arch = s"$dir/archive"
        planted.limit(0).write.parquet(arch)
        graft.streaming.Ingest.curationIngest(src, "doc_id", "text", arch,
          s"$dir/ckpt")
      }
      s.read.parquet(s"$dir/archive")
        .select(col("doc_id")).orderBy("doc_id")
    }),

    // mv1: UPDATE-mode streaming aggregation maintaining a MATERIALIZED
    // VIEW by per-batch upsert (Ingest.upsertMatview) — the output-mode
    // class the Append replays can't reach: a window's running total
    // re-emits every batch that changes it and must REPLACE its snapshot
    // row. Replay slices cut at 00:30 (mid-window), so hour windows
    // straddling a cut are provably emitted in one batch and replaced in
    // the next; the final snapshot must equal the batch aggregate.
    "mv1_streaming_matview" -> ((s, d) => {
      val ev = events(s, d).select(col("ts").cast("timestamp").as("ts"),
        col("user_id").cast("string").as("id"),
        col("value").cast("double").as("value"))
      val cut1 = lit("2024-01-11 00:30:00").cast("timestamp")
      val cut2 = lit("2024-01-21 00:30:00").cast("timestamp")
      val slices = Seq(ev.where(col("ts") < cut1),
        ev.where(col("ts") >= cut1 && col("ts") < cut2),
        ev.where(col("ts") >= cut2))
      val dir = graft.streaming.Replay.slicedSourceReplay(s, slices,
          "ts TIMESTAMP, id STRING, value DOUBLE", "mv-") { (src, dir) =>
        val agg = graft.streaming.Speed.windowedSum(src, col("id"), "ts",
          "1 hour", "30 seconds", col("value"), "user_hourly_mv")
        graft.streaming.Ingest.upsertMatview(agg, Seq("timestamp", "id"),
          s"$dir/snap", s"$dir/ckpt")
      }
      graft.streaming.Ingest.latestSnapshot(s, s"$dir/snap")
        .withColumn("timestamp", col("timestamp").cast("timestamp_ntz"))
        .orderBy("timestamp", "id")
    }),

    // mv2: MATVIEW VERSION COMPACTION graded through the oracle — the
    // maintenance mv1's layout prices (versions-per-bucket grow with
    // batches; Ingest.compactMatview folds them back to one, keeping the
    // newest id so writer batch ids never collide). Three update-mode
    // batches run through the SAME versioned copy-on-write upsert as mv1
    // (upsertMatviewBatch — the foreachBatch body, driven directly so the
    // grade isolates the STORAGE protocol from the streaming engine mv1
    // already grades), then the snapshot is COMPACTED and read back: the
    // graded rows pass THROUGH the compaction, so snapshot ≡ batch
    // aggregate proves view-invariance, not just the spec's version
    // count. Update-mode emission is emulated exactly: batch b upserts
    // the CUMULATIVE aggregate restricted to keys its slice changed —
    // every key's newest version holds its full running total.
    "mv2_matview_compaction" -> ((s, d) => {
      import java.time.LocalDateTime
      val ev = events(s, d).select(col("ts"), col("event_type").as("id"),
        col("value").cast("double").as("value"))
      val day = date_trunc("day", col("ts")).cast("timestamp_ntz").as("day")
      val cuts = Seq(LocalDateTime.parse("2024-01-11T00:30:00"),
        LocalDateTime.parse("2024-01-21T00:30:00"))
      val root = graft.core.Scratch.dir("mv2-") + "/snap"
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(day, col("id")).agg(Num.dsum(col("value")).as("value"))
      val slices = Seq(
        ev.where(col("ts") < lit(cuts(0))),
        ev.where(col("ts") >= lit(cuts(0)) && col("ts") < lit(cuts(1))),
        ev.where(col("ts") >= lit(cuts(1))))
      val cums = Seq(ev.where(col("ts") < lit(cuts(0))),
        ev.where(col("ts") < lit(cuts(1))), ev)
      for (b <- slices.indices) {
        val changed = slices(b).select(day, col("id")).distinct()
        graft.streaming.Ingest.upsertMatviewBatch(
          agg(cums(b)).join(changed, Seq("day", "id"), "left_semi"),
          Seq("day", "id"), root, b.toLong)
      }
      graft.streaming.Ingest.compactMatview(s, root)
      graft.streaming.Ingest.latestSnapshot(s, root).orderBy("day", "id")
    }),

    // mv3: TIME TRAVEL — the snapshot-isolation verb mv1/mv2's immutable
    // version layout buys: the SAME three update-mode upserts as mv2,
    // then a read AS OF version 1 (the middle batch) — per bucket the
    // newest committed version ≤ 1 — which must equal the state the view
    // held at that moment: keys last changed in slice 1 carry their
    // cumulative-to-cut2 totals, keys changed only in slice 0 keep their
    // cumulative-to-cut1 totals, keys first seen in slice 2 are absent.
    // The oracle states exactly that keyed-prefix semantics; the third
    // upsert happening AFTER must be invisible — that invisibility IS
    // what the grade proves (a reader pinned to v1 is unaffected by
    // later writers). Compaction deliberately NOT run here: it folds
    // history (asOfSnapshot then fails loudly — spec-pinned), the
    // standard lakehouse retention contract.
    "mv3_time_travel" -> ((s, d) => {
      import java.time.LocalDateTime
      val ev = events(s, d).select(col("ts"), col("event_type").as("id"),
        col("value").cast("double").as("value"))
      val day = date_trunc("day", col("ts")).cast("timestamp_ntz").as("day")
      val cuts = Seq(LocalDateTime.parse("2024-01-11T00:30:00"),
        LocalDateTime.parse("2024-01-21T00:30:00"))
      val root = graft.core.Scratch.dir("mv3-") + "/snap"
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(day, col("id")).agg(Num.dsum(col("value")).as("value"))
      val slices = Seq(
        ev.where(col("ts") < lit(cuts(0))),
        ev.where(col("ts") >= lit(cuts(0)) && col("ts") < lit(cuts(1))),
        ev.where(col("ts") >= lit(cuts(1))))
      val cums = Seq(ev.where(col("ts") < lit(cuts(0))),
        ev.where(col("ts") < lit(cuts(1))), ev)
      for (b <- slices.indices) {
        val changed = slices(b).select(day, col("id")).distinct()
        graft.streaming.Ingest.upsertMatviewBatch(
          agg(cums(b)).join(changed, Seq("day", "id"), "left_semi"),
          Seq("day", "id"), root, b.toLong)
      }
      graft.streaming.Ingest.asOfSnapshot(s, root, asOf = 1L)
        .orderBy("day", "id")
    }),

    // rs1: CHECKPOINT RECOVERY graded by the oracle — the a4-class hourly
    // aggregate split across a stop/restart at 2024-01-16: run 1 processes
    // the first half and terminates; run 2 starts a NEW query from the
    // SAME checkpoint, restores window state + watermark, reads only the
    // unseen files, and the combined sink must equal the single-run batch
    // aggregate (Replay.restartReplay).
    "rs1_restart_replay" -> ((s, d) => {
      val ev = events(s, d).select(col("ts").cast("timestamp").as("ts"),
        col("event_type").as("id"), col("value").cast("double").as("value"))
      val cut = lit("2024-01-16 00:30:00").cast("timestamp")
      graft.streaming.Replay.restartReplay(s,
          ev.where(col("ts") < cut), ev.where(col("ts") >= cut),
          "1 hour", "30 seconds", "antenna_bytes_total")
        .orderBy("timestamp", "id")
    }),

    // cm1: COMPLETE output mode — the third and last mode (a1s grades
    // Append, mv1 Update): unwindowed running totals per event type, the
    // engine re-emitting the whole bounded aggregate each batch into an
    // overwrite snapshot. With the three mid-window replay slices the
    // totals provably accumulate across batches before the final emission
    // matches the batch GROUP BY.
    "cm1_complete_totals" -> ((s, d) => {
      val ev = events(s, d).select(col("ts").cast("timestamp").as("ts"),
        col("event_type").as("id"), col("value").cast("double").as("value"))
      val cut1 = lit("2024-01-11 00:30:00").cast("timestamp")
      val cut2 = lit("2024-01-21 00:30:00").cast("timestamp")
      val slices = Seq(ev.where(col("ts") < cut1),
        ev.where(col("ts") >= cut1 && col("ts") < cut2),
        ev.where(col("ts") >= cut2))
      val dir = graft.streaming.Replay.slicedSourceReplay(s, slices,
          "ts TIMESTAMP, id STRING, value DOUBLE", "cm-") { (src, dir) =>
        val agg = src.groupBy("id").agg(Num.dsum(col("value")).as("value"))
        graft.streaming.Ingest.completeSnapshot(agg, s"$dir/snap",
          s"$dir/ckpt")
      }
      graft.streaming.Ingest.latestSnapshot(s, s"$dir/snap").orderBy("id")
    }),

    // es1s: stream-static enrichment (J1 ON THE STREAM) executed by the
    // engine — Speed.enrichStream against the customer dimension, graded
    // by the identical oracle as batch j1_enrich. hintBroadcast = false:
    // customer is SF-scaled, so the per-micro-batch planner sizes the
    // static side (broadcast invariant; forced hints are for provably
    // bounded dims only).
    "es1s_enrich_replay" -> ((s, d) => {
      val ev = events(s, d).select(col("event_id"),
        col("ts").cast("timestamp").as("ts"), col("user_id"),
        col("event_type"), col("value"))
      val dim = Tables.table(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment"))
      graft.streaming.Replay.transformReplay(s, ev,
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE",
          "enrich-") { src =>
        graft.streaming.Speed.enrichStream(src, dim, "user_id", "c_custkey",
          hintBroadcast = false)
      }.withColumn("ts", col("ts").cast("timestamp_ntz"))
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
        .orderBy("event_id")
    }),

    // ts1: fixed-interval resample + GAP FILL + LOCF (telemetry
    // densification). 6 h buckets over the 30-day corpus → ~120 grid rows
    // per user, roughly half of them materialized gaps at the graded SFs
    // (~67 events/user), so both the filled and carried-forward paths are
    // exercised. Grid rows are sequence()-exploded on the executors.
    "ts1_resample_locf" -> ((s, d) =>
      graft.queries.TimeSeries.resampleLocf(events(s, d),
          col("user_id"), col("ts"), col("value"), bucketSeconds = 21600L)
        .orderBy("key", "bucket_ts")),

    // ts3: the LINEAR-INTERPOLATION resample next to ts1's LOCF — gap
    // buckets ramp between their observed neighbors (two frames over one
    // key sort; TimeSeries.resampleInterp scaladoc for the determinism
    // policy). Same 6 h grid as ts1 so both fill families are graded on
    // the identical gap structure.
    "ts3_resample_interp" -> ((s, d) =>
      graft.queries.TimeSeries.resampleInterp(events(s, d),
          col("user_id"), col("ts"), col("value"), bucketSeconds = 21600L)
        .orderBy("key", "bucket_ts")),

    // scd1: SCD2 attribute history (the CDC dimension-history build) —
    // collapse each user's event log into the intervals over which
    // event_type held each value; event_id breaks event-time ties.
    "scd1_type_history" -> ((s, d) =>
      graft.queries.TimeSeries.scd2History(events(s, d),
          col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .orderBy("key", "valid_from")),

    // ts2: trailing-24h z-score anomaly screen over hourly per-antenna
    // totals — integer micro-unit hourly sums (exact, order-free), exact
    // decimal window sums, one double formula at the end (see
    // TimeSeries.hourlyAnomaly's determinism note).
    "ts2_hourly_anomaly" -> ((s, d) =>
      graft.queries.TimeSeries.hourlyAnomaly(events(s, d),
          col("event_type"), col("ts"), col("value"))
        .orderBy("id", "hour")),

    // w5: trailing 3-hour EVENT-TIME-RANGE window sum — the RANGE
    // BETWEEN INTERVAL frame type (value-bounded, gap-aware) that ROWS
    // frames like ts2's approximate only on dense series; exact integer
    // micro-unit sums (TimeSeries.trailingRangeSum scaladoc).
    "w5_range_frame" -> ((s, d) =>
      graft.queries.TimeSeries.trailingRangeSum(events(s, d),
          col("event_type"), col("ts"), col("value"), "3 hours")
        .orderBy("id", "hour")),

    // ewma1: lag-8 DYADIC exponential smoothing of the same hourly
    // micro-unit totals — power-of-two weights keep the weighted
    // numerator and the present-weight denominator exact BIGINTs, and
    // the emitted quotient is truncating integer division (scaled-BIGINT
    // fixed point — no float, no round-tie; TimeSeries.dyadicSmooth
    // scaladoc). One window pass; short leading windows normalize by the
    // weights present.
    "ewma1_dyadic_smooth" -> ((s, d) =>
      graft.queries.TimeSeries.dyadicSmooth(events(s, d),
          col("event_type"), col("ts"), col("value"), lags = 8)
        .orderBy("id", "hour")),

    // rob1: median/MAD robust outlier screen — ts2's z-score companion
    // with a 50% breakdown point; both medians are p=0.5 interpolated
    // quantiles over exact integers → exact dyadic doubles, so the
    // strict threshold compare is engine-free
    // (TimeSeries.madOutliers scaladoc).
    "rob1_mad_outliers" -> ((s, d) =>
      graft.queries.TimeSeries.madOutliers(events(s, d),
          col("event_type"), col("ts"), col("value"), nMads = 3)
        .orderBy("id", "hour")),

    // win1: per-type WINSORIZED stats — values clip to the exact
    // [p5, p95] order statistics (integer ranks, never an interpolated
    // float quantile) and the clipped sum stays exact micro-unit BIGINT;
    // ranks come from global ordinals minus bounded per-group offsets,
    // never a group-partitioned window (Stats.winsorizedStats scaladoc).
    "win1_winsorize" -> ((s, d) =>
      graft.queries.Stats.winsorizedStats(events(s, d),
          col("event_type"), col("event_id"), col("value"))
        .orderBy("id")),

    // cp1: CUSUM changepoint detection over the SAME hourly per-type
    // micro-unit totals as ts2/rob1 — the LEVEL-SHIFT monitor those point
    // screens are blind to (a sustained mean shift accumulates linearly
    // in a cumulative sum but never trips a per-point z-score). The
    // recursion is re-expressed as prefix-sum minus running-extremum, so
    // the whole statistic is two stock window frames and every emitted
    // value an exact n-scaled integer (TimeSeries.cusumChangepoints
    // scaladoc). One summary row per key: both one-sided maxima and
    // their earliest argmax hours.
    "cp1_cusum_changepoint" -> ((s, d) =>
      graft.queries.TimeSeries.cusumChangepoints(events(s, d),
          col("event_type"), col("ts"), col("value"))
        .orderBy("id")),

    // sea1: hour-of-day SEASONAL anomaly ranking — each hour scored
    // against its own diurnal cohort (3 a.m. vs other 3 a.m.s), the
    // baseline that catches what trailing windows (ts2), full-history
    // medians (rob1) and level shifts (cp1) normalize away; top-3 hours
    // per key by truncating fixed-point deviation
    // (TimeSeries.seasonalAnomalies scaladoc). Unique key (id, rank).
    "sea1_seasonal_anomaly" -> ((s, d) =>
      graft.queries.TimeSeries.seasonalAnomalies(events(s, d),
          col("event_type"), col("ts"), col("value"), topK = 3)
        .orderBy("id", "rank")),

    // acf1: sample AUTOCORRELATION of the hourly per-type count series
    // at lags 1..3 — the window-sizing diagnostic behind ts2/sea1's
    // hand-chosen spans (Box–Jenkins identification). Exact integer
    // centering (z = n·y − S, the cp1 trick — the n² cancels in the
    // ratio) and ONE truncating micro-unit quotient per lag; constant
    // series emit 0 by definition (TimeSeries.autocorr scaladoc).
    "acf1_autocorrelation" -> ((s, d) =>
      graft.queries.TimeSeries.autocorr(events(s, d),
          col("event_type"), col("ts"), lags = 3)
        .orderBy("id", "lag")),

    // ts4: CROSS-CORRELATION of the hourly click vs purchase count
    // series at lags −3..3 — the LEAD-LAG diagnostic acf1 cannot express
    // (which series moves first). acf1's exact integer centering; the
    // single non-integer step (num·10⁶ / (√dx·√dy)) is a chain of
    // IEEE-correctly-rounded ops on exact BIGINT inputs, identical bits
    // both engines, then a sign-split TRUNCATION (no round(·,6)
    // half-boundary — TimeSeries.crossCorr scaladoc). Unique key: lag.
    "ts4_cross_correlation" -> ((s, d) =>
      graft.queries.TimeSeries.crossCorr(events(s, d), col("ts"),
          col("event_type") === "click", col("event_type") === "purchase",
          lags = 3)
        .orderBy("lag")),

    // ttl1: PARTITION-TTL retention on the K3 archive — the maintenance
    // job next to compaction: the event archive lands y/m/d/h-partitioned,
    // hour partitions older than min(ts)+72h delete as whole directories
    // (pure metadata work, zero rows read or rewritten — the reason
    // time-partitioned layouts exist; Sinks.expirePartitions scaladoc),
    // and the surviving store must aggregate exactly like the oracle's
    // WHERE over the raw table. The require keeps the sweep honest: it
    // must actually remove partitions at every graded SF.
    "ttl1_partition_retention" -> ((s, d) => {
      val ev = events(s, d)
      val dir = graft.core.Scratch.dir("ttl1-") + "/arch"
      // co-locate each hour before the partitioned write: an unshaped
      // write sprays every task across all ~720 hour dirs (tasks × hours
      // small files, the dominant cost — measured 9.2 → 4.3 s at sf0.1);
      // hash-repartitioning on the hour writes each dir once
      graft.core.Sinks.writePartitionedParquet(
        ev.repartition(date_trunc("hour", col("ts"))), "ts", dir)
      val cutoff = ev
        .agg(date_trunc("hour", min(col("ts"))).cast("timestamp_ntz"))
        .head().getAs[java.time.LocalDateTime](0).plusHours(72)
      val removed = graft.core.Sinks.expirePartitions(s, dir, cutoff)
      require(removed > 0, s"ttl1: retention sweep removed nothing ($dir)")
      s.read.parquet(dir)
        .groupBy(col("event_type").as("id"),
          date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"))
        .agg(sum(floor(col("value") * lit(1000000d)).cast("long")).as("vm"),
          count(lit(1)).cast("long").as("n"))
        .orderBy("id", "hour")
    }),

    // src1/src2: non-parquet batch sources behind the parquet oracle — a
    // distributed JSON-lines (resp. headered CSV) stage + explicit-schema
    // read-back of orders (resp. customer), then an aggregate that can
    // only match the parquet-side oracle if the writer and reader
    // preserved every long/double/string exactly (core.Formats scaladoc).
    // The date column rides as a formatted string: the round-trip under
    // test is the text format's value fidelity, not timestamp-zone
    // plumbing (events' ns-timestamp handling is graded elsewhere).
    "src1_json_roundtrip" -> ((s, d) => {
      val staged = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
      Formats.jsonRoundTrip(s, staged,
          "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
            "o_totalprice DOUBLE, o_date STRING", "json-")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), Num.dsum(col("o_totalprice")).as("total"),
          min("o_date").as("first_date"), max("o_date").as("last_date"))
        .orderBy("o_orderstatus")
    }),
    "src2_csv_roundtrip" -> ((s, d) => {
      val staged = Tables.customer(s, d).select(
        col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
      Formats.csvRoundTrip(s, staged,
          "c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
            "c_acctbal DOUBLE, c_mktsegment STRING", "csv-")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          Num.dsum(col("c_acctbal")).as("total_bal"))
        .orderBy("c_mktsegment")
    }),
    // src3: the in-core columnar alternative (ORC) behind the same oracle —
    // proves a second binary codec preserves long/int/double/string exactly
    // through the identical scan surface (Formats.orcRoundTrip scaladoc).
    // src10: XML round-trip through Spark 4's NATIVE xml source (spark-xml
    // folded into core — no connector jar): supplier stages to XML and
    // reads back under an explicit schema; the oracle can only match if
    // the writer entity-encoded and the reader decoded every string
    // exactly, on top of the long/double fidelity the JSON/CSV twins
    // grade (core.Formats.xmlRoundTrip scaladoc).
    "src10_xml_roundtrip" -> ((s, d) => {
      val staged = Tables.table(s, d, "supplier").select(
        col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
      Formats.xmlRoundTrip(s, staged,
          "s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT, " +
            "s_acctbal DOUBLE", "xml-")
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"),
          Num.dsum(col("s_acctbal")).as("total_bal"),
          min("s_name").as("first_name"), max("s_name").as("last_name"))
        .orderBy("s_nationkey")
    }),

    "src3_orc_roundtrip" -> ((s, d) => {
      val staged = Tables.table(s, d, "part").select(
        col("p_partkey"), col("p_brand"), col("p_size"), col("p_retailprice"))
      Formats.orcRoundTrip(s, staged,
          "p_partkey BIGINT, p_brand STRING, p_size INT, p_retailprice DOUBLE",
          "orc-")
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"),
          Num.dsum(col("p_retailprice")).as("total_price"),
          min("p_size").as("min_size"), max("p_size").as("max_size"))
        .orderBy("p_brand")
    }),

    // src4: the JDBC source/sink (S3/K1) behind the same oracle — the
    // customer dimension goes through a REAL JDBC database (embedded
    // Derby, in Spark's own distribution jars) and comes back through the
    // range-partitioned parallel scan: per-partition parallel INSERTs on
    // the way in (core.Sinks.replaceJdbc — idempotent, so bench re-runs
    // don't append-duplicate), one connection per disjoint key range on
    // the way out (core.Tables.jdbcTablePartitioned — a single-connection
    // JDBC pull is the classic ingest bottleneck at scale). The upper
    // bound is one bounded scalar driver action (pr1's budget class).
    "src4_jdbc_roundtrip" -> ((s, d) => {
      val staged = Tables.customer(s, d).select(
        col("c_custkey").cast("long").as("c_custkey"),
        col("c_nationkey"),    // keep INT: the oracle's int32 group key
        col("c_acctbal").cast("double").as("c_acctbal"))
      val url = "jdbc:derby:memory:graftsrc4;create=true"
      core.Sinks.replaceJdbc(staged, url, "CUSTOMER_RT", "", "")
      val hi = staged.agg(max(col("c_custkey"))).head().getLong(0)
      Tables.jdbcTablePartitioned(s, url, "CUSTOMER_RT",
          "c_custkey", 0L, hi, 8, "", "")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_customers"),
          Num.dsum(col("c_acctbal")).as("total_bal"))
        .orderBy("c_nationkey")
    }),

    // src5: S4 for real — the supplier dimension through Avro container
    // files on the stock classpath (sources.Avro scaladoc: avro-mapred
    // Hadoop I/O, splittable, executor-side both ways; spark-avro is the
    // drop-in at deploy time). min/max over s_name grade string fidelity
    // through Avro's Utf8 alongside the long/int/double aggregates.
    "src5_avro_roundtrip" -> ((s, d) => {
      val staged = Tables.table(s, d, "supplier").select(
        col("s_suppkey").cast("long").as("s_suppkey"),
        col("s_nationkey"), col("s_name"),
        col("s_acctbal").cast("double").as("s_acctbal"))
      sources.Avro.avroRoundTrip(s, staged, "avro-src5-")
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"),
          Num.dsum(col("s_acctbal")).as("total_bal"),
          min("s_name").as("first_name"), max("s_name").as("last_name"))
        .orderBy("s_nationkey")
    }),

    // src6: SCHEMA EVOLUTION across ingest epochs — epoch 1 wrote
    // (doc_id, text), epoch 2 added lang_hint; a mergeSchema read unions
    // the schemas and fills the missing column with NULLs for epoch-1
    // rows (Formats.schemaEvolutionRead scaladoc for the 100 TB footer
    // cost note).
    "src6_schema_evolution" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val epoch1 = docs.where(col("doc_id") % 2 === 0)
      val epoch2 = docs.where(col("doc_id") % 2 === 1)
        .withColumn("lang_hint", pmod(col("doc_id"), lit(7L)))
      Formats.schemaEvolutionRead(s, Seq(epoch1, epoch2), "evo-src6-")
        .select(col("doc_id"), col("text"), col("lang_hint"))
        .orderBy("doc_id")
    }),

    // src7: the binaryFile SOURCE — multimodal assets as one file per
    // blob, the other arrival shape next to m1's parquet binary column.
    // A slice of documents exports as <doc_id>.bin (distributed
    // executor-side writes, BinaryFiles scaladoc), reads back through
    // spark.read.format("binaryFile"), and is graded on the parsed id,
    // the listing-side byte length, and a sha256-of-hex content digest
    // (the m3 digest portability pattern) against the parquet originals —
    // a full write→list→read→hash round trip of the source.
    "src7_binaryfile_roundtrip" -> ((s, d) => {
      val root = graft.core.Scratch.dir("binsrc-")
      val slice = Tables.documents(s, d).where(col("doc_id") % 20 === 0)
      graft.sources.BinaryFiles.writeBlobs(
        Multimodal.withBlob(slice, "text"), "doc_id", "payload", root)
      graft.sources.BinaryFiles.readBlobs(s, root)
        .select(col("id").as("doc_id"), col("n_bytes"),
          sha2(hex(col("content")), 256).as("digest"))
        .orderBy("doc_id")
    }),

    // src8: NESTED Avro — array<struct>, a struct column, and a
    // string-keyed map round-trip through the recursive schema mapper in
    // sources.Avro (container files on the stock classpath, as src5, but
    // exercising every container type plus a nullable field INSIDE a
    // nested struct). The read-back is consumed by HOFs so the graded
    // projection is flat exact-integer scalars: the array's size, a
    // null-skipping aggregate over the nested nullable field, a struct
    // field access, and a map lookup.
    "src8_avro_nested" -> ((s, d) => {
      val nested = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(
          array_sort(collect_list(struct(
            col("l_linenumber"),
            when(col("l_quantity") > 25.0,
              round(col("l_extendedprice") * 100).cast("long"))
              .as("big_cents")))).as("lines"),
          struct(count(lit(1)).as("n"),
            max("l_linenumber").as("max_line")).as("meta"))
        .withColumn("tags",
          map(lit("n_lines"), size(col("lines")).cast("long")))
      sources.Avro.avroRoundTrip(s, nested, "avro-src8-")
        .select(col("l_orderkey"),
          size(col("lines")).cast("long").as("n_lines"),
          aggregate(col("lines"), lit(0L),
            (acc, x) => acc + coalesce(x.getField("big_cents"), lit(0L)))
            .as("big_cents"),
          col("meta.max_line").cast("long").as("max_line"),
          element_at(col("tags"), "n_lines").as("tag_n"))
        .orderBy("l_orderkey")
    }),

    // src9: Avro LOGICAL TYPES — decimal (unscaled-bytes annotation),
    // local-timestamp-micros (TIMESTAMP_NTZ, the engine's event-time
    // convention) and date survive the container round trip bit-exact;
    // closes the round-7 "logical types out of scope" residual without
    // the spark-avro connector. Decimal fixtures are EXACT DYADICS
    // derived from integers (k + 0.25, k + 0.5) — never double→decimal
    // casts, whose half-boundary rounding is the cross-engine trap the
    // repo rule bans; graded projections cast back to double (exact) and
    // render the date as ISO text.
    "src9_avro_logical" -> ((s, d) => {
      val o = Tables.table(s, d, "orders").select(
        col("o_orderkey"),
        (col("o_orderkey").cast("decimal(18,2)")
          + lit(0.25).cast("decimal(18,2)")).as("dec2"),
        when(col("o_orderkey") % 3 === 0,
          col("o_orderkey").cast("decimal(30,6)")
            + lit(0.5).cast("decimal(30,6)")).as("dec30"),
        col("o_orderdate").as("ts_ntz"),
        col("o_orderdate").cast("date").as("dt"))
      sources.Avro.avroRoundTrip(s, o, "avro-src9-")
        .select(col("o_orderkey"),
          col("dec2").cast("double").as("dec2_d"),
          col("dec30").cast("double").as("dec30_d"),
          col("ts_ntz"),
          date_format(col("dt"), "yyyy-MM-dd").as("dt_iso"))
        .orderBy("o_orderkey")
    }),

    // prof1: one-pass column profiler over orders (non-null / null /
    // exact-distinct counts, typed min/max per column in ONE aggregate;
    // the exact multi-distinct plans as a single Expand pass — swap in
    // approx_count_distinct at the 100 TB end, see Profile's scaladoc).
    "prof1_column_profile" -> ((s, d) =>
      ext.Profile.profile(Tables.table(s, d, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"))
        .orderBy("col_name")),

    // pv2: pivot→MELT round trip — the pivot side is Reshape.pivotCounts
    // (explicit vocabulary, one hash aggregate; same operator class the
    // graded pv1_nation_segment_pivot covers), the melt side is the
    // missing inverse: a stack projection back to long form, zero extra
    // shuffles. Zero-count combinations survive the round trip (count
    // semantics), which a plain GROUP BY cannot produce.
    "pv2_event_melt" -> ((s, d) =>
      graft.queries.Reshape.melt(
          graft.queries.Reshape.pivotCounts(events(s, d), col("user_id"),
            col("event_type"), EventTypes),
          col("id"), EventTypes.map("n_" + _), "event_type", "n")
        .withColumnRenamed("id", "user_id")
        .withColumn("event_type", expr("substring(event_type, 3)"))
        .orderBy("user_id", "event_type")),

    // st1: EXACT bivariate statistics (corr / covar / OLS slope) from
    // integer moment sums — order-free and engine-identical where the
    // built-in double-streaming corr/covar_samp is neither
    "st1_bivariate_stats" -> ((s, d) =>
      graft.queries.Stats.bivariate(Tables.lineitem(s, d), Seq("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"), scale = 2)
        .orderBy("l_returnflag")),

    // inc6: st1 maintained INCREMENTALLY from stored MOMENT SUMS — exact
    // decimal moments are purely additive, so the |groups|-row summary
    // absorbs batches without ever re-scanning the archive and finishes
    // with st1's identical expression; the graded query retries a
    // duplicate batch id (the one-swap id+state commit must no-op it) —
    // oracle is st1's from-scratch verbatim
    // (Stats.appendToBivariateMoments scaladoc).
    "inc6_incremental_bivariate" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val gc = Seq("l_returnflag")
      val (x, y) = (col("l_quantity"), col("l_extendedprice"))
      val dir = graft.core.Scratch.dir("inc6-") + "/moments_art"
      graft.queries.Stats.writeBivariateMoments(
        li.where(col("l_orderkey") % 2 === 0), gc, x, y, dir)
      val batch = li.where(col("l_orderkey") % 2 === 1)
      graft.queries.Stats.appendToBivariateMoments(batch, gc, x, y, dir, 0L)
      graft.queries.Stats.appendToBivariateMoments(batch, gc, x, y, dir, 0L) // retry
      graft.queries.Stats.bivariateFromMoments(s, dir, gc)
        .orderBy("l_returnflag")
    }),

    // A2: bytes per user, 90 s tumbling window
    "a2_user_90s" -> ((s, d) =>
      graft.streaming.Speed.windowedSum(events(s, d),
        col("user_id").cast("string"), "ts",
        "90 seconds", "15 seconds", col("value"), "user_bytes_total")
        .orderBy("timestamp", "id")),

    // A3: bytes per app (JSON-parsed props.k), 90 s tumbling window (+P3)
    "a3_app_90s" -> ((s, d) =>
      graft.streaming.Speed.windowedSum(withK(s, d), col("k").cast("string"),
        "ts", "90 seconds", "15 seconds", col("value"), "app_bytes_total")
        .orderBy("timestamp", "id")),

    // A4: bytes per antenna, 1 h tumbling window (batch layer)
    "a4_antenna_1h" -> ((s, d) =>
      Agg.windowedSum(events(s, d), col("event_type"), col("ts"),
        "1 hour", col("value"), "antenna_bytes_total")
        .orderBy("timestamp", "id")),

    // A5: bytes per user email, 1 h window — requires the J1 enrichment
    "a5_email_1h" -> ((s, d) =>
      Agg.windowedSum(enriched(s, d), col("c_name"), col("ts"),
        "1 hour", col("value"), "email_bytes_total")
        .orderBy("timestamp", "id")),

    // A6: bytes per app, 1 h window
    "a6_app_1h" -> ((s, d) =>
      Agg.windowedSum(withK(s, d), col("k").cast("string"), col("ts"),
        "1 hour", col("value"), "app_bytes_total")
        .orderBy("timestamp", "id")),

    // A-ext: sliding window (2 h windows every 1 h) — beyond the
    // reference's tumbling-only surface
    "a8_sliding_2h" -> ((s, d) =>
      Agg.windowedSumSliding(events(s, d), col("event_type"), col("ts"),
        "2 hours", "1 hour", col("value"), "antenna_bytes_sliding")
        .orderBy("timestamp", "id")),

    // A-ext: salted two-stage aggregation — the skewed-hot-key escape
    // hatch; exact-decimal partials make it ≡ the plain GROUP BY, which is
    // exactly what the oracle checks
    "a9_salted_total" -> ((s, d) =>
      Agg.saltedSum(events(s, d), col("event_type"), col("event_id"), 16,
        col("value"), "value")
        .orderBy("id")),

    // sj1: SALTED REPLICATED JOIN — a9's companion for the join leg
    // (core.Skew scaladoc: when to prefer AQE's skew split and when it
    // cannot see the skew). A planted hot key (70% of events collapse
    // onto user_key 0) joins a per-key weight dim through the salted
    // rewrite; result must be row-identical to the plain join, which is
    // what the oracle computes.
    "sj1_salted_join" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("event_id"), col("value"),
          when(col("event_id") % 10 < 7, lit(0L))
            .otherwise(col("user_id")).cast("long").as("uk"))
      val dim = ev.select(col("uk").as("du")).distinct()
        .withColumn("weight", pmod(col("du"), lit(97L)))
      core.Skew.saltedEquiJoin(ev, "uk", col("event_id"), dim, "du", 16)
        .groupBy(col("uk").as("user_key"))
        .agg(count(lit(1)).as("n_events"),
          Num.dsum(col("value") * col("weight")).as("weighted"))
        .orderBy("user_key")
    }),

    // bk1: CATALOG-BUCKETED tables in the graded path — both sides stage
    // as bucketed managed-catalog tables (external data in scratch), then
    // join on the bucket key and aggregate. At 100 TB the co-located
    // layout makes every later equi-join/keyed agg on the key zero-shuffle
    // (LayoutSpec pins the no-Exchange plan under a no-broadcast session);
    // at graded SF, AQE rightly broadcasts the small side — the layout
    // surface under grade is the bucketed WRITE + catalog READ round trip.
    "bk1_bucketed_join" -> ((s, d) => {
      val root = graft.core.Scratch.dir("bk-")
      s.sql("DROP TABLE IF EXISTS graft_bk_orders")
      s.sql("DROP TABLE IF EXISTS graft_bk_lineitem")
      Layout.writeBucketed(Tables.orders(s, d)
          .select("o_orderkey", "o_orderstatus"),
        "graft_bk_orders", "o_orderkey", 8, path = Some(s"$root/o"))
      Layout.writeBucketed(Tables.lineitem(s, d)
          .select("l_orderkey", "l_extendedprice"),
        "graft_bk_lineitem", "l_orderkey", 8, path = Some(s"$root/l"))
      s.table("graft_bk_orders")
        .join(s.table("graft_bk_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), Num.dsum(col("l_extendedprice")).as("total"))
        .orderBy("o_orderstatus")
    }),

    // zo1: the Z-ORDER layout tier in the GRADED path — lineitem staged
    // Morton-clustered on (l_orderkey, l_partkey) via Layout.writeZOrdered,
    // then a 2-D range query runs against the staged files. Results are
    // layout-invariant (the oracle reads the plain table), so a green row
    // proves the clustering rewrite is lossless; the layout's POINT —
    // parquet row-group min/max pruning engaging on BOTH dimensions —
    // is asserted from the scan metrics of this same staged layout by
    // LayoutSpec (the z-scan reads a strict subset of row groups where a
    // round-robin layout reads every row; the geometric file-envelope
    // version also lives there). Range bounds derive from two max()
    // scalars (bounded driver state), so selectivity stays ~1/16 at any
    // SF and the predicate pushes into the parquet scan as a plain range.
    "zo1_zorder_scan" -> ((s, d) => {
      val root = graft.core.Scratch.dir("zo-")
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_linenumber",
        "l_partkey", "l_quantity", "l_extendedprice")
      Layout.writeZOrdered(li, "l_orderkey", "l_partkey", s"$root/li", files = 16)
      val m = li.agg(max(col("l_orderkey")), max(col("l_partkey"))).head
      val (okHi, pkHi) = (m.getLong(0), m.getLong(1))
      s.read.parquet(s"$root/li")
        .where(col("l_orderkey").between(okHi / 4, okHi / 2) &&
          col("l_partkey").between(pkHi / 4, pkHi / 2))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // dpp1: DYNAMIC PARTITION PRUNING over a day-partitioned fact layout —
    // the star-join scale feature: the campaign flag is dimension DATA
    // (not an expression of the join key, so constraint inference cannot
    // statically push it to the facts); the date constraint reaches the
    // fact scan only THROUGH the join, and Spark injects a dynamicpruning
    // subquery into the fact's PartitionFilters, reading 7 of 30
    // day-directories (PlanSpec pins the mechanism). At 100 TB this is
    // scanning a week instead of a month when the date constraint lives in
    // a dimension. The partitioned stage is a distributed write of the K3
    // layout class.
    "dpp1_partition_pruned_join" -> ((s, d) => {
      import s.implicits._
      val root = graft.core.Scratch.dir("dpp-")
      events(s, d).select(col("event_id"), col("event_type"),
          col("value"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .write.partitionBy("day").parquet(s"$root/facts")
      val facts = s.read.parquet(s"$root/facts")
      // the dim stages to parquet too: a driver-local relation would
      // constant-fold its filter away, and without a Filter node the DPP
      // rule sees no selective predicate to prune with
      (1 to 30).map(i => (f"2024-01-$i%02d", if (i >= 8 && i <= 14) 1 else 0))
        .toDF("day", "is_campaign").write.parquet(s"$root/dim")
      val dim = s.read.parquet(s"$root/dim")
      facts.join(broadcast(dim.where(col("is_campaign") === 1)), "day")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), Num.dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // A7/P8: hourly quota violators — groupBy + HAVING over the enrichment
    "a7_quota_violations" -> ((s, d) =>
      QuotaCheck.quotaViolations(enriched(s, d), col("c_name"),
        col("c_acctbal"), col("ts"), col("value"), "1 hour")
        .orderBy("email", "timestamp")),

    // J1/P1/P5/P10: the enrichment join itself (row-level output)
    "j1_enrich" -> ((s, d) =>
      enriched(s, d).select(
        col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
        .orderBy("event_id")),

    // S2/P7/P9: one y/m/d/h slice (the reference's partition-pruned scan,
    // BatchJobImpl.scala:22-26) as a PUSHABLE timestamp range — same
    // semantics, but the predicate reaches parquet row-group pruning
    "s2_hour_slice" -> ((s, d) =>
      Prune.hourSlice(events(s, d), "ts", 2024, 1, 1, 10)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
        .orderBy("event_id")),

    // P2/P3/P4: JSON parse with explicit schema, struct field extraction
    "p3_json_parse" -> ((s, d) =>
      withK(s, d).select(col("event_id"), col("k"))
        .orderBy("event_id")),

    // var1: p3's extraction restated SCHEMA-FREE via Spark 4 VARIANT —
    // parse_json into the binary variant encoding, lazy variant_get path
    // extraction, try_-semantics NULL for the absent path (schema drift
    // without migration; Parse.variantField scaladoc). Same oracle family
    // as p3: DuckDB's JSON path extraction.
    "var1_variant_extract" -> ((s, d) =>
      Parse.variantField(
          Parse.variantField(events(s, d), col("props"), "$.k", "int", "k"),
          col("props"), "$.absent", "int", "absent")
        .select(col("event_id"), col("k"), col("absent"))
        .orderBy("event_id")),

    // ---- analytics breadth (graft.queries.Analytics) --------------------
    "q1_pricing_summary" -> ((s, d) => Analytics.pricingSummary(s, d)),
    "q3_top_orders" -> ((s, d) => Analytics.topUnshippedOrders(s, d)),
    "q4_priority_semijoin" -> ((s, d) => Analytics.orderPriorityCount(s, d)),
    "q5_local_supplier" -> ((s, d) => Analytics.localSupplierVolume(s, d)),
    "q10_returned_items" -> ((s, d) => Analytics.returnedItemReport(s, d)),
    "q6_forecast_revenue" -> ((s, d) => Analytics.forecastRevenue(s, d)),
    "q12_priority_shipping" -> ((s, d) => Analytics.priorityShippingCounts(s, d)),
    "q14_promo_share" -> ((s, d) => Analytics.promoRevenueShare(s, d)),
    "q17_small_qty_revenue" -> ((s, d) => Analytics.smallQuantityRevenue(s, d)),
    "q13_order_distribution" -> ((s, d) => Analytics.orderCountDistribution(s, d)),
    "q11_important_parts" -> ((s, d) => Analytics.importantParts(s, d)),
    // Round 6: the remaining classic TPC-H shapes, adapted to the testdata
    // schema (lineitem's DISTINCT (partkey, suppkey) relation stands in for
    // the absent partsupp; acctbal predicates for the absent comment/phone
    // string filters) — correlated-min exact-match (q2), bidirectional
    // nation-pair volume (q7), market-share ratio (q8), profit rollup (q9),
    // scalar-max supplier (q15), count-distinct variety (q16), correlated-
    // threshold semijoin chain (q20), scalar-avg anti-join report (q22).
    "q2_min_cost_offer" -> ((s, d) => Analytics.minCostOffer(s, d)),
    "q7_volume_shipping" -> ((s, d) => Analytics.volumeShipping(s, d)),
    "q8_market_share" -> ((s, d) => Analytics.marketShare(s, d)),
    "q9_product_profit" -> ((s, d) => Analytics.productProfit(s, d)),
    "q15_top_supplier" -> ((s, d) => Analytics.topSupplier(s, d)),
    "q16_supplier_variety" -> ((s, d) => Analytics.supplierVariety(s, d)),
    "q20_excess_shippers" -> ((s, d) => Analytics.excessShippers(s, d)),
    "q22_idle_balances" -> ((s, d) => Analytics.idleBalances(s, d)),
    "fo1_snapshot_diff" -> ((s, d) => Analytics.customerActivityDiff(s, d)),
    // NO oracleSql on purpose: sketch results (HLL++, GK quantiles) are
    // implementation-defined and cannot value-match another engine — the
    // driver records its weaker rows-only check here, and the REAL grading
    // is ExtSpec's bound assertions vs the exact aggregates (same rationale
    // as pct1's comment for why only exact percentiles carry an oracle).
    "apx1_sketch_stats" -> ((s, d) => Analytics.approxStats(s, d)),
    // apx2: MinHashUnion typed Aggregator end-to-end — group-level Jaccard
    // estimates from merged sketches. Implementation-defined values → no
    // cross-engine oracle (driver records rows-only); ExtSpec grades the
    // estimates against exact group Jaccard with MinHash error bounds.
    "apx2_group_sketch_sim" -> ((s, d) =>
      ext.SketchAggs.groupSimilarity(Tables.documents(s, d), "doc_id", "text")),
    "w3_running_totals" -> ((s, d) => Analytics.runningOrderTotals(s, d)),
    "int1_open_and_finished" -> ((s, d) => Analytics.openAndFinishedCustomers(s, d)),
    "q18_large_orders" -> ((s, d) => Analytics.largeVolumeOrders(s, d)),
    "q21_fully_late" -> ((s, d) => Analytics.fullyLateOrders(s, d)),
    "q19_band_revenue" -> ((s, d) => Analytics.disjunctiveBandRevenue(s, d)),
    "w1_top_order_per_customer" -> ((s, d) => Analytics.topOrderPerCustomer(s, d)),

    // w4: the RANKING-FUNCTION family under genuine ties — every order
    // planted twice (re-key +10000000, same customer/price), so rank gaps,
    // dense_rank compaction, and the percent_rank/cume_dist rationals all
    // exercise tie semantics for real. Both rationals divide exactly
    // representable small integers (IEEE-exact both engines). Graded on
    // the top-2 price ranks per customer to keep the output bounded.
    "w4_rank_functions" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select("o_custkey", "o_orderkey", "o_totalprice")
      val planted = o.unionByName(o.select(col("o_custkey"),
        (col("o_orderkey") + 10000000L).as("o_orderkey"), col("o_totalprice")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_totalprice").desc)
      planted.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          percent_rank().over(w).as("prnk"),
          cume_dist().over(w).as("cdist"))
        .where(col("drnk") <= 2)
        .orderBy("o_custkey", "o_orderkey")
    }),
    "w2_order_gaps" -> ((s, d) => Analytics.orderGaps(s, d)),
    "ag1_order_part_lists" -> ((s, d) => Analytics.orderPartLists(s, d)),
    "r1_revenue_rollup" -> ((s, d) => Analytics.revenueRollup(s, d)),
    "set1_open_not_finished" -> ((s, d) => Analytics.openNotFinishedCustomers(s, d)),
    "aj1_customers_without_orders" -> ((s, d) => Analytics.customersWithoutOrders(s, d)),
    "cd1_distinct_parts" -> ((s, d) => Analytics.distinctPartsPerFlag(s, d)),
    "str1_brand_parse" -> ((s, d) => Analytics.partBrandParse(s, d)),
    "r2_revenue_cube" -> ((s, d) => Analytics.revenueCube(s, d)),
    "gs1_grouping_sets" -> ((s, d) => Analytics.revenueGroupingSets(s, d)),

    // nd1: NESTED data model round trip — lineitems nest per order as an
    // array<struct> (deterministic linenumber order), then the nested rows
    // are consumed with codegen'd higher-order lambdas (size / filter /
    // aggregate) instead of re-flattening. Graded against the flat
    // relational equivalent, proving nest→HOF ≡ GROUP BY. Per-line money
    // folds as integer cents inside the lambda (order-free exact sum);
    // baskets are bounded (≤7 lines), so the per-row lambda cost is a
    // constant — this is array-shaping, not a hot scalar kernel.
    "nd1_nested_lines" -> ((s, d) => {
      val nested = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(array_sort(collect_list(struct(
          col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice")))).as("lines"))
      nested.select(col("l_orderkey"),
          size(col("lines")).cast("long").as("n_lines"),
          size(filter(col("lines"), x => x.getField("l_quantity") > 25.0))
            .cast("long").as("n_big"),
          aggregate(
            filter(col("lines"), x => x.getField("l_quantity") > 25.0),
            lit(0L),
            (acc, x) => acc +
              round(x.getField("l_extendedprice") * 100).cast("long"))
            .as("big_cents"))
        .orderBy("l_orderkey")
    }),
    "dt1_ship_delay_hist" -> ((s, d) => Analytics.shipDelayHistogram(s, d)),

    // dt2: EQUI-DEPTH histogram of order totals — dt1's equi-width
    // complement: exact-quantile edges from ONE percentile aggregate
    // inlined as literals (bf1 discipline), bucket projection pure
    // codegen, one map-side-combined group-by; cells emit counts + actual
    // data min/max, never the interpolated edges
    // (Stats.equiDepthHistogram scaladoc for the 1-ulp edge analysis).
    "dt2_equidepth_hist" -> ((s, d) =>
      graft.queries.Stats.equiDepthHistogram(
          Tables.orders(s, d), col("o_totalprice"), splits = 4)
        .select(col("bucket"), col("n"), col("min_v"), col("max_v"))
        .orderBy("bucket")),

    // rfm1: RFM behavioral segmentation — per customer the recency /
    // frequency / monetary metrics scored 1..5 by deterministic NTILE
    // (customer-key tie-break pins the order-sensitive bucket
    // boundaries), composed into the classic 3-digit segment code; the
    // global ntile runs over the |customers|-row aggregate, never the
    // facts (Behavior.rfmScores scaladoc, incl. the ord1 swap).
    "rfm1_segmentation" -> ((s, d) =>
      graft.queries.Behavior.rfmScores(Tables.orders(s, d),
          col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
        .orderBy("cust")),

    // ab1: two-variant A/B conversion lift + pooled two-proportion
    // z-statistic — variants by customer-key parity, conversion = placed
    // an urgent order; rates/lift as truncating micro-unit BIGINTs (the
    // ewma1 fixed-point discipline — small-denominator ratios are the
    // round-tie population), z rounded (irrational, no terminating
    // decimals; Behavior.abLift scaladoc).
    "ab1_test_lift" -> ((s, d) => {
      val cust = Tables.customer(s, d).select(col("c_custkey").as("unit"),
        when(col("c_custkey") % 2 === 0, "A").otherwise("B").as("variant"))
      val conv = Tables.orders(s, d)
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      graft.queries.Behavior.abLift(cust, col("unit"), col("variant"),
        conv, col("o_custkey"), "A", "B")
    }),

    // qq1: QUANTILE-QUANTILE drift between the even- and odd-order
    // snapshots — exact discrete deciles via integer target ranks over
    // the ord1 ranking machinery (never ceil(p·n) in floats — the FP
    // trap Stats.qqDrift's scaladoc documents), emitted values are
    // actual data doubles, the gap one correctly-rounded subtraction.
    "qq1_quantile_drift" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice"))
      graft.queries.Stats.qqDrift(
          o.where(col("o_orderkey") % 2 === 0),
          o.where(col("o_orderkey") % 2 === 1),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy("decile")
    }),

    // ks1: EXACT two-sample KOLMOGOROV–SMIRNOV between the even- and
    // odd-user event-value distributions — qq1 compares nine fixed
    // quantiles; this takes the supremum CDF gap over EVERY distinct
    // value, with the maximum found on integer cross-products (never the
    // float quotient) and the global running CDFs built by the ord1
    // two-phase range machinery — no global sort, no single-reducer
    // window (Stats.ksTwoSample scaladoc). One summary row: both side
    // sizes, the argmax value, both CDF counts there, the scaled gap.
    "ks1_two_sample_ks" -> ((s, d) => {
      val ev = events(s, d)
      graft.queries.Stats.ksTwoSample(
        ev.where(col("user_id") % 2 === 0),
        ev.where(col("user_id") % 2 === 1),
        floor(col("value") * lit(1000000d)).cast("long"))
    }),

    // ben1: BENFORD FIRST-DIGIT audit of line-item amounts — the classic
    // fabricated/synthetic/unit-corrupted-data screen next to ks1/qq1
    // (those test two samples against each other; Benford tests ONE
    // sample against the law naturally-occurring multi-magnitude
    // quantities follow). First digit = the positive BIGINT cents'
    // decimal string head (no logarithm near data); expected shares are
    // driver-computed micro literals interpolated into BOTH engines
    // (the ndcg1 device); a 9-row spine keeps zero-count digits visible
    // (Stats.benfordDigits scaladoc; loud 9e12 overflow guard).
    "ben1_benford_digits" -> ((s, d) =>
      graft.queries.Stats.benfordDigits(Tables.lineitem(s, d),
          round(col("l_extendedprice") * 100).cast("long"))
        .orderBy("digit")),

    // qn1: QUANTILE NORMALIZATION of order totals across order-status
    // groups — each row's value replaced by the POOLED distribution's
    // value at the same within-group quantile (integer target ranks,
    // actual data values — the batch-effect remover that makes
    // cross-group thresholds comparable; Curation.quantileNormalize
    // scaladoc for why NO per-group window appears at scale).
    "qn1_quantile_normalize" -> ((s, d) =>
      ext.Curation.quantileNormalize(Tables.orders(s, d),
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy("id")),

    // imp1: GROUP-MEDIAN IMPUTATION — dq1 counts the nulls, this repairs
    // them: planted nulls (%7) refill from the segment's non-null median
    // (robust, the rob1 argument) with an audit flag; the p=0.5
    // interpolated quantile of data values is engine-exact
    // (Quality.imputeByGroupMedian scaladoc).
    "imp1_median_impute" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey"),
        col("c_mktsegment"),
        when(col("c_custkey") % 7 === 0, lit(null).cast("double"))
          .otherwise(col("c_acctbal")).as("bal"))
      ext.Quality.imputeByGroupMedian(c, col("c_mktsegment"), col("bal"))
        .select(col("c_custkey"), col("c_mktsegment"), col("was_imputed"),
          col("imputed"))
        .orderBy("c_custkey")
    }),

    // ord1: GLOBAL ORDINALS without the single-reducer global sort — the
    // two-phase zipWithIndex shape expressed relationally: range
    // repartition on the (unique) sort composite, per-partition counts to
    // a literal offset map (bounded driver state = #ranges), local
    // row_number + offset (Curation.globalOrdinals scaladoc). The oracle
    // states the contract as the plain global window.
    "ord1_global_ordinals" -> ((s, d) =>
      ext.Curation.globalOrdinals(
          Tables.orders(s, d).select("o_orderkey", "o_totalprice"),
          Seq(col("o_totalprice"), col("o_orderkey")), numRanges = 32)
        .select(col("o_orderkey"), col("ordinal"))
        .orderBy("o_orderkey")),
    "pct1_percentiles" -> ((s, d) => Analytics.quantityPercentiles(s, d)),
    "pv1_nation_segment_pivot" -> ((s, d) => Analytics.customersByNationSegment(s, d)),

    // sessionization: 30-minute-gap sessions per user over events
    "sess1_sessions" -> ((s, d) =>
      Sessionize.sessionStats(events(s, d), col("user_id"), col("ts"),
        col("value"), gapSeconds = 1800)
        .select(col("key").as("user_id"), col("session_no"),
          col("session_start"), col("n_events"), col("total_value"))
        .orderBy("user_id", "session_no")),

    // tj1: TEMPORAL DIMENSION ATTRIBUTION — the SCD2 CONSUMPTION pattern
    // (scd1 builds attribute history; tj1 joins facts to the version valid
    // at fact time). Planted 2-version dimension: every customer has a v1
    // effective 1990-01-01 (original balance); customers ≡1 mod 3 get a v2
    // at the 1998-01-01 cutover (+500 balance, segment MOVED), so orders
    // split deterministically across version eras and every fact has a
    // match. Same union-and-window as-of scan as asof1 — one shuffle +
    // one sort over |facts|+|versions|, never a per-fact range probe.
    "tj1_temporal_dim_join" -> ((s, d) => {
      val cust = customer(s, d)
      val v1 = cust.select(col("c_custkey").as("k"),
        lit("1990-01-01 00:00:00").cast("timestamp_ntz").as("vt"),
        col("c_acctbal").as("bal"), col("c_mktsegment").as("seg"))
      val v2 = cust.where(col("c_custkey") % 3 === 1)
        .select(col("c_custkey").as("k"),
          lit("1998-01-01 00:00:00").cast("timestamp_ntz").as("vt"),
          (col("c_acctbal") + 500.0).as("bal"), lit("MOVED").as("seg"))
      val facts = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey").as("k"),
        col("o_orderdate").cast("timestamp_ntz").as("vt"))
      AsOf.asofBackward(facts, v1.unionByName(v2), "k", "vt",
          Seq("bal", "seg"), prefix = "dim_")
        .select(col("o_orderkey"), col("k").as("o_custkey"),
          col("dim_bal"), col("dim_seg"))
        .orderBy("o_orderkey")
    }),

    // as-of join: for each error event, the user's most recent click at or
    // before it (union-and-scan formulation; oracle uses native ASOF JOIN)
    "asof1_prev_click" -> ((s, d) => {
      val ev = events(s, d)
      AsOf.asofBackward(
        ev.where(col("event_type") === "error")
          .select("event_id", "user_id", "ts"),
        ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
            col("ts").as("click_ts")),
        key = "user_id", ts = "ts",
        rightCols = Seq("click_id", "click_ts"), prefix = "")
        .orderBy("event_id")
    }),

    // asof2: asof1 with a TOLERANCE bound — the latest same-user click
    // counts only within 2 hours of the error, else NULL (the pandas
    // merge_asof(tolerance=…) / financial quote-match contract); same
    // union-and-scan window pass, tolerance as an inclusive post-filter
    // on the carried right timestamp (AsOf.asofBackwardWithin scaladoc).
    "asof2_tolerant_match" -> ((s, d) => {
      val ev = events(s, d)
      AsOf.asofBackwardWithin(
        ev.where(col("event_type") === "error")
          .select("event_id", "user_id", "ts"),
        ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id")),
        key = "user_id", ts = "ts", rightCols = Seq("click_id"),
        tolerance = "2 HOURS", prefix = "m_")
        .orderBy("event_id")
    }),

    // funnel: view→click→purchase dependent-min chain, 24 h per-step
    // deadline — one (user, ts) shuffle + sort for all three steps
    "fun1_funnel" -> ((s, d) =>
      Behavior.funnelCounts(events(s, d), col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase"),
        stepWindowSeconds = 24 * 3600)),

    // att1: LINEAR MULTI-TOUCH ATTRIBUTION — every purchase's value
    // splits EQUALLY over the user's click/view touches in the preceding
    // hour; a touch row reports conversions influenced + attributed
    // micro-units. Pure scaled-BIGINT fixed point: vmicro = round(v·10⁶)
    // once (near-integer product, no half-boundary), share = truncating
    // integer div — no float quotient anywhere (the ewma1 discipline);
    // oracle mirrors with // (floor ≡ truncation on the non-negative
    // values the corpus has).
    "att1_linear_attribution" -> ((s, d) =>
      Behavior.linearAttribution(events(s, d), col("user_id"), col("ts"),
          col("event_id"), col("event_type"), col("value"),
          Seq("click", "view"), "purchase", "1 hour")
        .orderBy("touch_id")),

    // seq1: regex EVENT-SEQUENCE pattern matching — fun1's regex
    // generalization (MATCH_RECOGNIZE class): per-user symbol string in
    // (ts, event_id) order, non-overlapping counts of three
    // alternation-free greedy patterns (the backtracking/RE2 agreement
    // class — Behavior.eventPatterns scaladoc).
    "seq1_event_patterns" -> ((s, d) =>
      Behavior.eventPatterns(events(s, d), col("user_id"), col("ts"),
          col("event_id"), col("event_type"),
          Seq("click" -> "c", "error" -> "e", "purchase" -> "p",
            "signup" -> "s", "view" -> "v"),
          Seq("n_view_purchase" -> "v+p", "n_error_runs" -> "ee+",
            "n_click_convert" -> "c[^p]*p"))
        .orderBy("user_id")),

    // pit1: POINT-IN-TIME join against the SCD2 history — the
    // feature-store "as the dimension looked then" semantics: a user's
    // value-tier profile evolves with NON-purchase activity (scd1's
    // history build over that slice), and each purchase reads the tier
    // version valid AT its timestamp via the as-of formulation (SCD2
    // runs tile time, so most-recent-start = containing interval);
    // purchases before a user's first profile event null out. The
    // oracle states it as the LEFT BETWEEN-join over the same history.
    "pit1_point_in_time" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("ts"),
        col("event_id"), col("event_type"), col("value"))
      val tiered = ev.withColumn("tier",
        when(col("value") >= 500.0, lit("high")).otherwise(lit("std")))
      val hist = graft.queries.TimeSeries.scd2History(
        tiered.where(col("event_type") =!= "purchase"),
        col("user_id"), col("ts"), col("event_id"), col("tier"))
      graft.queries.AsOf.pointInTime(
          ev.where(col("event_type") === "purchase")
            .select(col("user_id"), col("ts"), col("event_id")),
          hist, "user_id", "ts", attrOut = "tier_at_purchase")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("tier_at_purchase"))
        .orderBy("event_id")
    }),

    // cohort retention: first-active-day cohorts × day offset, distinct
    // returning users per cell
    "coh1_cohort_retention" -> ((s, d) =>
      Behavior.cohortRetention(events(s, d), col("user_id"), col("ts"))),

    // market-basket frequent pairs over lineitem baskets (support >= 2)
    "fi1_frequent_pairs" -> ((s, d) =>
      Basket.frequentPairs(Tables.lineitem(s, d), minSupport = 2L)),

    // mk1: first-order Markov transition matrix over per-user event
    // sequences — one lead() window on the shared (user, ts) sort, then a
    // |types|²-group aggregate; per-from totals as a window sum over the
    // aggregate (no join-back). p = BIGINT/BIGINT IEEE division.
    "mk1_markov_transitions" -> ((s, d) =>
      Behavior.transitionMatrix(events(s, d), col("user_id"), col("ts"),
          col("event_type"), col("event_id"))
        .orderBy("from_type", "to_type")),

    // merge1: CDC apply (MERGE/upsert) — fold a full-row-image change
    // batch into the customer snapshot; latest log offset per key wins.
    // Planted batch (same +1000000 insert-key headroom convention as the
    // other planted fixtures — customer is ≤15k keys at graded SFs):
    // seq 1 updates (%10==3, +100), deletes (%10==7), inserts (+1000000
    // re-key of %10==1); seq 2 OVERRIDES: a second update (%20==3, +500
    // from base — full image, not cumulative) and a delete→re-insert
    // resurrection (%20==7, zero balance). Exercises latest-wins, delete,
    // resurrect, insert and untouched-key passthrough in one batch.
    "merge1_cdc_apply" -> ((s, d) => {
      val base = customer(s, d)
      def img(rows: DataFrame, seq: Long, op: String,
              bal: Column => Column = identity[Column],
              name: Column => Column = identity[Column],
              seg: Column => Column = identity[Column],
              key: Column => Column = identity[Column]) =
        rows.select(key(col("c_custkey")).as("c_custkey"),
          name(col("c_name")).as("c_name"), col("c_nationkey"),
          bal(col("c_acctbal")).as("c_acctbal"),
          seg(col("c_mktsegment")).as("c_mktsegment"),
          lit(seq).as("seq"), lit(op).as("op"))
      val changes = img(base.where(col("c_custkey") % 10 === 3), 1L, "U",
          bal = _ + 100.0)
        .unionByName(img(base.where(col("c_custkey") % 10 === 7), 1L, "D"))
        .unionByName(img(base.where(col("c_custkey") % 10 === 1), 1L, "I",
          bal = _ => lit(0.0), name = n => concat(lit("new_"), n),
          seg = _ => lit("NEW"), key = _ + 1000000L))
        .unionByName(img(base.where(col("c_custkey") % 20 === 3), 2L, "U",
          bal = _ + 500.0))
        .unionByName(img(base.where(col("c_custkey") % 20 === 7), 2L, "I",
          bal = _ => lit(0.0), seg = _ => lit("REBORN")))
      Cdc.applyChanges(base, changes, "c_custkey", "seq", "op")
        .orderBy("c_custkey")
    }),

    // mv4: merge1's CDC semantics applied INCREMENTALLY through the
    // STREAMING versioned matview — the delete verb the matview tier
    // was missing (mv1 upserts aggregate re-emissions; a CDC source
    // ships row images AND deletions, and the synced keyed view must
    // apply both): the base table lands as version 0, the change
    // stream replays through the K2 foreachBatch sink with
    // applyCdcMatviewBatch folding each batch newest-wins and writing
    // only the affected buckets (deletes physically absent from the
    // new version — no tombstones, the copy-on-write rewrite pays the
    // copy anyway), and slice 1 RE-DELIVERS every slice-0 change with
    // the seq-2 wave (the at-least-once worst case — a redelivered
    // DELETE must stay a no-op and a redelivered UPSERT must not
    // resurrect anything; within-batch the newest seq wins, so the
    // %20=7 delete-then-reinsert lands as the reinsert). The final
    // snapshot must equal the BATCH CDC fold — merge1's oracle
    // verbatim.
    "mv4_matview_cdc" -> ((s, d) => {
      val base = customer(s, d)
      def img(rows: org.apache.spark.sql.DataFrame, seq: Long, op: String,
              bal: Column => Column = identity[Column],
              name: Column => Column = identity[Column],
              seg: Column => Column = identity[Column],
              key: Column => Column = identity[Column]) =
        rows.select(key(col("c_custkey")).as("c_custkey"),
          name(col("c_name")).as("c_name"), col("c_nationkey"),
          bal(col("c_acctbal")).as("c_acctbal"),
          seg(col("c_mktsegment")).as("c_mktsegment"),
          lit(seq).as("seq"), lit(op).as("op"))
      val wave1 = img(base.where(col("c_custkey") % 10 === 3), 1L, "U",
          bal = _ + 100.0)
        .unionByName(img(base.where(col("c_custkey") % 10 === 7), 1L, "D"))
        .unionByName(img(base.where(col("c_custkey") % 10 === 1), 1L, "I",
          bal = _ => lit(0.0), name = n => concat(lit("new_"), n),
          seg = _ => lit("NEW"), key = _ + 1000000L))
      val wave2 = img(base.where(col("c_custkey") % 20 === 3), 2L, "U",
          bal = _ + 500.0)
        .unionByName(img(base.where(col("c_custkey") % 20 === 7), 2L, "I",
          bal = _ => lit(0.0), seg = _ => lit("REBORN")))
      val root = graft.core.Scratch.dir("mv4-") + "/snap"
      graft.streaming.Ingest.upsertMatviewBatch(
        base.select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment"),
        Seq("c_custkey"), root, id = 0L)
      // c_nationkey is INT (int32) in the source parquet — the replay
      // schema must declare it identically or the stream-written
      // versions diverge from the base v=0's file schema and the
      // newest-per-bucket union read fails on the physical-type
      // mismatch (caught by DumpPlans at sf0.001, where some buckets'
      // newest version was still the base)
      graft.streaming.Replay.slicedSourceReplay(s,
          Seq(wave1, wave1.unionByName(wave2)),
          "c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
            "c_acctbal DOUBLE, c_mktsegment STRING, seq BIGINT, op STRING",
          "mv4-") { (src, dir) =>
        graft.core.Sinks.foreachBatchSink(src, s"$dir/ckpt") { (b, bid) =>
          graft.streaming.Ingest.applyCdcMatviewBatch(b, Seq("c_custkey"),
            "seq", "op", root, id = bid + 1)
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      graft.streaming.Ingest.latestSnapshot(s, root)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // mv5: COMPACTION over a version history that CONTAINS CDC DELETES —
    // round-15 verdict #3 (mv2 compacts upsert-only history and predates
    // mv4's delete verb): mv4's exact stream runs, then compactMatview
    // folds the three versions into one, and the GRADED answer reads the
    // FOLDED view (the pq4/cc5 discipline — view-equality with the
    // from-scratch CDC fold is part of the gate, so a compaction that
    // resurrected a deleted key or dropped a surviving one hash-fails).
    // Deleted keys stay physically absent in the folded version — with
    // history gone there is nothing older to resurrect from, which is
    // exactly why empty-marker buckets fold into plain absence
    // (Ingest.compactMatview; Round16Spec pins the emptied-bucket and
    // folded-pin-fails edges fixtures cannot reach at customer scale).
    // Oracle: merge1's batch CDC fold, verbatim — compact must be
    // view-invariant.
    "mv5_matview_cdc_compact" -> ((s, d) => {
      val base = customer(s, d)
      def img(rows: org.apache.spark.sql.DataFrame, seq: Long, op: String,
              bal: Column => Column = identity[Column],
              name: Column => Column = identity[Column],
              seg: Column => Column = identity[Column],
              key: Column => Column = identity[Column]) =
        rows.select(key(col("c_custkey")).as("c_custkey"),
          name(col("c_name")).as("c_name"), col("c_nationkey"),
          bal(col("c_acctbal")).as("c_acctbal"),
          seg(col("c_mktsegment")).as("c_mktsegment"),
          lit(seq).as("seq"), lit(op).as("op"))
      val wave1 = img(base.where(col("c_custkey") % 10 === 3), 1L, "U",
          bal = _ + 100.0)
        .unionByName(img(base.where(col("c_custkey") % 10 === 7), 1L, "D"))
        .unionByName(img(base.where(col("c_custkey") % 10 === 1), 1L, "I",
          bal = _ => lit(0.0), name = n => concat(lit("new_"), n),
          seg = _ => lit("NEW"), key = _ + 1000000L))
      val wave2 = img(base.where(col("c_custkey") % 20 === 3), 2L, "U",
          bal = _ + 500.0)
        .unionByName(img(base.where(col("c_custkey") % 20 === 7), 2L, "I",
          bal = _ => lit(0.0), seg = _ => lit("REBORN")))
      val root = graft.core.Scratch.dir("mv5-") + "/snap"
      graft.streaming.Ingest.upsertMatviewBatch(
        base.select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment"),
        Seq("c_custkey"), root, id = 0L)
      graft.streaming.Replay.slicedSourceReplay(s,
          Seq(wave1, wave1.unionByName(wave2)),
          "c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
            "c_acctbal DOUBLE, c_mktsegment STRING, seq BIGINT, op STRING",
          "mv5-") { (src, dir) =>
        graft.core.Sinks.foreachBatchSink(src, s"$dir/ckpt") { (b, bid) =>
          graft.streaming.Ingest.applyCdcMatviewBatch(b, Seq("c_custkey"),
            "seq", "op", root, id = bid + 1)
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      // fixture-drift guard: the compact must actually fold a
      // delete-carrying HISTORY, not a single version
      val nVersions = graft.streaming.Ingest.snapshotVersions(s, root).size
      require(nVersions >= 3,
        s"mv5: expected >= 3 committed versions pre-compact, got $nVersions")
      graft.streaming.Ingest.compactMatview(s, root)
      graft.streaming.Ingest.latestSnapshot(s, root)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // dq1: declarative data-quality constraint report over orders with
    // violations planted IN PLACE (t7 convention — no re-keying, so each
    // constraint provably fires and clean rows prove no false positives):
    // null keys (%1000==4), out-of-domain status (%1000==3), negative
    // totals (%1000==1), plus appended verbatim duplicates (%500==2) for
    // the uniqueness check; referential integrity checks lineitem against
    // the PLANTED key set, so the nulled-out keys orphan their lineitems.
    "dq1_constraint_checks" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val planted = o.select(
          when(col("o_orderkey") % 1000 === 4, lit(null).cast("long"))
            .otherwise(col("o_orderkey")).as("o_orderkey"),
          when(col("o_orderkey") % 1000 === 3, lit("X"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          when(col("o_orderkey") % 1000 === 1, -col("o_totalprice"))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        .unionByName(o.where(col("o_orderkey") % 500 === 2))
      val report = ext.Quality.constraintReport(planted, Seq(
        "o_orderkey_not_null" -> ext.Quality.notNull(col("o_orderkey")),
        "o_orderkey_unique" -> ext.Quality.unique(col("o_orderkey")),
        "o_totalprice_non_negative" -> ext.Quality.nonNegative(col("o_totalprice")),
        "o_orderstatus_in_domain" ->
          ext.Quality.inSet(col("o_orderstatus"), Seq("O", "F", "P")),
        // untouched column: proves the PASS path (0 violations, passed=1)
        "o_totalprice_not_null" -> ext.Quality.notNull(col("o_totalprice"))))
      report.unionByName(ext.Quality.riReport("lineitem_orderkey_ri",
          Tables.lineitem(s, d).select("l_orderkey"), col("l_orderkey"),
          planted.where(col("o_orderkey").isNotNull), col("o_orderkey")))
        .orderBy("check_name")
    }),

    // dq2: row-level rule QUARANTINE — dq1's aggregate profile routed as
    // a dead-letter stream with machine-readable reasons (comma-joined
    // rule names in declaration order; Governance.quarantine scaladoc).
    // Violations plant IN PLACE on non-key columns only (the key stays
    // unique for the ORDER BY); %1000==7 plants TWO violations on one
    // row, proving the reason-ordering contract.
    "dq2_quarantine" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val planted = o.select(col("o_orderkey"),
        when(col("o_orderkey") % 1000 === 9, lit(null).cast("long"))
          .otherwise(col("o_custkey")).as("o_custkey"),
        when(col("o_orderkey") % 1000 === 3 || col("o_orderkey") % 1000 === 7,
          lit("X")).otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(col("o_orderkey") % 1000 === 1 || col("o_orderkey") % 1000 === 7,
          -col("o_totalprice")).otherwise(col("o_totalprice"))
          .as("o_totalprice"))
      ext.Governance.quarantine(planted, Seq(
          "custkey_not_null" -> col("o_custkey").isNotNull,
          "status_in_domain" -> col("o_orderstatus").isin("O", "F", "P"),
          "price_non_negative" -> (col("o_totalprice") >= 0)))
        .select(col("o_orderkey"), col("reasons"))
        .orderBy("o_orderkey")
    }),

    // sar1: SUBJECT ACCESS REPORT — for the bounded request batch (every
    // 100th customer), the profile plus per-source activity rollups
    // (events by user id, orders by custkey), each fact source semi-joined
    // to the broadcast subject set BEFORE its aggregate so the fact
    // tables never shuffle their full key space
    // (Governance.subjectAccessReport scaladoc).
    "sar1_subject_access" -> ((s, d) => {
      val subjects = Tables.customer(s, d)
        .where(col("c_custkey") % 100 === 0)
        .select(col("c_custkey").as("id"), col("c_name"),
          col("c_mktsegment"))
      ext.Governance.subjectAccessReport(subjects, "id", Seq(
          "events" -> events(s, d).select(col("user_id").as("graft_sid"),
            col("value").as("graft_val")),
          "orders" -> Tables.orders(s, d).select(
            col("o_custkey").as("graft_sid"),
            col("o_totalprice").as("graft_val"))))
        .orderBy("id")
    }),

    // anon1: K-ANONYMITY / L-DIVERSITY audit over customer — equivalence
    // classes on the (nation, segment) quasi-identifier pair with class
    // size, distinct sensitive acctbal-bucket count, and the at-risk
    // flag at k=8 (Governance.kAnonymityAudit scaladoc). One hash
    // aggregate; |classes| output rows.
    // pii1: PII REDACTION over a planted contact fixture — every doc
    // gains a deterministic synthetic email + phone-like run, the scrub
    // must find and replace BOTH (plus anything naturally matching),
    // and the graded values are the exact match counts and the t3-style
    // fingerprint of the redacted text — the oracle can only match if
    // both engines' regex dialects agree match-for-match on the pinned
    // RE2∩Java pattern class and the same redaction order
    // (Governance.piiRedact scaladoc).
    "pii1_redact" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or 555-"),
          (col("doc_id") % 10000).cast("string")).as("text"))
      ext.Governance.piiRedact(planted, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // pii2: the INTERNATIONAL phone pattern family over a planted contact
    // fixture — every doc gains a +country-code grouped number and a
    // parenthesized area-code number (both doc_id-derived); the scrub
    // counts and redacts both classes in the pinned intl-then-paren
    // order (Governance.piiRedactIntl scaladoc; round-9 verdict asked
    // for exactly this second graded class).
    "pii2_redact_intl" -> ((s, d) => {
      val four = lpad((col("doc_id") % 10000).cast("string"), 4, "0")
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" ring +34 612 "), four,
          lit(" or (415) 555-"), four).as("text"))
      ext.Governance.piiRedactIntl(planted, "doc_id", "text")
        .orderBy("doc_id")
    }),

    "anon1_k_anonymity" -> ((s, d) =>
      ext.Governance.kAnonymityAudit(Tables.customer(s, d),
          Seq("nation" -> col("c_nationkey"), "segment" -> col("c_mktsegment")),
          floor(col("c_acctbal") / 1000), k = 8)
        .orderBy("nation", "segment")),

    // dp1: ε-LOCAL-DP randomized response (Warner; ε = ln 3) — per-type
    // prevalence of "value > 100" released with every row's report
    // noised by the hash-fate coin (sp1/sp2 discipline: fate is a pure
    // function of (event_id, salt), so the oracle replays the identical
    // mechanism draw) and the debiased estimate emitted DOUBLED so the
    // whole release is exact BIGINT — no division, no float
    // (Governance.randomizedResponse scaladoc).
    "dp1_randomized_response" -> ((s, d) =>
      ext.Governance.randomizedResponse(events(s, d),
          col("event_type"), col("event_id"), col("value") > 100.0)
        .orderBy("id")),

    // ---- extension tier: text analysis over documents --------------------
    // text projections go through Par.stage before their output sort:
    // orderBy's range-sampling job re-executes its child, so an unstaged
    // projection (tokenize/hash/score) would run TWICE (see Par.stage)
    "t1_token_count" -> ((s, d) =>
      Par.stage(TextAnalysis.withTextStats(Tables.documents(s, d))
        .select(col("doc_id"), col("n_tokens"))).orderBy("doc_id")),
    "t2_text_stats" -> ((s, d) =>
      Par.stage(TextAnalysis.withTextStats(Tables.documents(s, d))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
          col("type_token_ratio"), col("avg_token_len"), col("stopword_ratio")))
        .orderBy("doc_id")),
    // t6: repetition/boilerplate screens (Gopher-style): duplicate-trigram
    // fraction + most-frequent-token share, native per-row counting
    "t6_repetition_stats" -> ((s, d) =>
      Par.stage(TextAnalysis.withRepetitionStats(Tables.documents(s, d))
        .select(col("doc_id"), col("n_3grams"), col("dup_3gram_frac"),
          col("top_token_frac")))
        .orderBy("doc_id")),
    // t7: PII/URL redaction — the scrub pass before a corpus release.
    // Emails/URLs are planted on a 10% slice IN PLACE (no re-keying), so
    // the redaction provably fires and the remaining 90% proves the
    // patterns don't false-positive on natural text; the oracle
    // recomputes counts and the redacted text with the same RE2-safe
    // patterns.
    "t7_pii_redaction" -> ((s, d) =>
      Par.stage(TextAnalysis.withPiiRedaction(
          Tables.documents(s, d).select(col("doc_id"),
            when(col("doc_id") % 10 === 4,
              concat(col("text"), lit(PiiSuffix))).otherwise(col("text"))
              .as("text")))
        .select(col("doc_id"), col("n_emails"), col("n_urls"),
          col("redacted_text")))
        .orderBy("doc_id")),

    // norm1: Unicode NFC canonicalization — the pre-pass that makes
    // exact dedup see precomposed and combining-mark spellings as the
    // same document (no Spark builtin; graft_nfc is a native kernel over
    // the JDK normalizer, pinned by UAX #15 so the oracle's
    // nfc_normalize() emits identical bytes). Every third doc gains a
    // decomposed "café niño" suffix (combining U+0301/U+0303); the other
    // two thirds prove already-normalized text passes through untouched
    // (changed = 0, lengths equal).
    "norm1_nfc_normalize" -> ((s, d) =>
      Par.stage(Tables.documents(s, d)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" cafe\u0301 nin\u0303o")))
            .otherwise(col("text")).as("text"))
        .select(col("doc_id"), col("text"),
          graft.functions.VectorExpressions.nfcNormalizeNative(col("text"))
            .as("norm"))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_raw"),
          length(col("norm")).cast("long").as("n_chars_nfc"),
          (col("text") =!= col("norm")).cast("long").as("changed"),
          right(col("norm"), lit(8)).as("tail8")))
        .orderBy("doc_id")),

    // BPE-ish regex tokenizer (letter/digit runs), subword count per doc
    "t5_regex_tokens" -> ((s, d) =>
      Par.stage(Tables.documents(s, d)
        .select(col("doc_id"),
          size(TextAnalysis.regexTokens(col("text"))).cast("long").as("n_subwords")))
        .orderBy("doc_id")),

    "t3_fingerprint" -> ((s, d) =>
      Par.stage(Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp")))
        .orderBy("doc_id")),
    "t4_lang_id" -> ((s, d) =>
      Par.stage(Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred")))
        .orderBy("doc_id")),

    // x1: explode/lateral — corpus token frequency, top 20. Tokenize in the
    // cheap projection, fan out (the exchange materializes the token
    // arrays), THEN explode + partially aggregate at full parallelism — a
    // few large doc files must not serialize the explode onto a few cores.
    // explode_outer + isNotNull, not explode: a plain explode infers a
    // size(toks) > 0 constraint that gets pushed below the fan-out
    // exchange and re-runs the tokenizer inside the scan-stage Filter
    // (the same inferred-filter re-hash the d3 single-pass fix removed)
    "x1_top_tokens" -> ((s, d) =>
      Par.fanOut(Tables.documents(s, d)
          .select(TextAnalysis.tokens(col("text")).as("toks")))
        .select(explode_outer(col("toks")).as("token"))
        .where(col("token").isNotNull)
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)),

    // x2: corpus TF-IDF term weighting (tf, df, tf·ln(N/df) per doc-term)
    "x2_tfidf" -> ((s, d) =>
      TextAnalysis.termStats(Tables.documents(s, d), "doc_id", "text", minTf = 3)
        .orderBy("doc_id", "term")),

    // sp1: deterministic hash-based train/val/test split — reproducible
    // across runs/engines/partitionings, pure projection (no shuffle)
    // cur1: the composed curation pipeline (quality filter → exact dedup →
    // split assignment) over a corpus with PLANTED exact duplicates (every
    // document re-keyed +100000), so the dedup stage provably fires: the
    // oracle confirms each text survives once, under its original id.
    "cur1_corpus_curation" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val planted = docs.union(
        docs.select((col("doc_id") + plantUnit(s, d)).as("doc_id"), col("text")))
      ext.Curation.curate(planted, "doc_id", "text").orderBy("doc_id")
    }),

    // cur2: the FUZZY curation pipeline (quality filter → exact dedup →
    // MinHash-LSH near-dup pair detection → cluster-root collapse → split)
    // over a corpus with planted EXACT duplicates (+100000, identical text)
    // AND planted NEAR-duplicates (+200000, text with one appended token —
    // shingle-Jaccard ≈ n/(n+1) ≥ 0.9, far above the 0.7 threshold), so
    // both dedup stages provably fire. The oracle recomputes the pair set
    // with exact SQL Jaccard (recall equivalence on this corpus is the
    // same property d3's oracle already proves) and the cluster roots with
    // a recursive min-reachability CTE — the keeper set must match
    // hash-exactly.
    "cur2_fuzzy_curation" -> ((s, d) => {
      val pu = plantUnit(s, d)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val planted = docs
        .union(docs.select((col("doc_id") + pu).as("doc_id"), col("text")))
        .union(docs.select((col("doc_id") + 2 * pu).as("doc_id"),
          concat(col("text"), lit(" graftdup")).as("text")))
      // materializeKept: the fixture-owner decision curateFuzzy's
      // scaladoc assigns to the caller (the er1-recs precedent) — kept
      // feeds BOTH the pair finder and the survivor join, and without
      // the pin the tokenize+stats+fingerprint tier runs once per
      // consumer; the bench's per-query clearCache owns the release
      ext.Curation.curateFuzzy(planted, "doc_id", "text",
        materializeKept = true).orderBy("doc_id")
    }),

    // cc1: train/eval decontamination — corpus docs whose shingle overlap
    // with a (bounded) eval set reaches the threshold. The eval fixture
    // plants both contamination kinds: a 5% slice re-keyed +500000 with one
    // appended token (near matches, J ≈ n/(n+1)) and a 2% slice re-keyed
    // +600000 verbatim (exact matches, J = 1).
    "cc1_contamination" -> ((s, d) => {
      val pu = plantUnit(s, d)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val ev = docs.where(col("doc_id") % 20 === 3)
        .select((col("doc_id") + 5 * pu).as("doc_id"),
          concat(col("text"), lit(" evaltok")).as("text"))
        .union(docs.where(col("doc_id") % 50 === 7)
          .select((col("doc_id") + 6 * pu).as("doc_id"), col("text")))
      Dedup.contaminationPairs(docs, ev, "doc_id", "text")
        .orderBy("doc_id", "eval_id")
    }),

    // cc2: per-doc n-gram CONTAINMENT score against the same eval
    // fixture — the GPT-3-lineage decontamination METRIC (cc1 lists the
    // colliding pairs; this scores every corpus doc, clean docs
    // included, for the removal threshold). Truncating micro-quotient,
    // exact long counts, bounded eval shingle set broadcast
    // (Dedup.contaminationScore scaladoc).
    "cc2_containment_score" -> ((s, d) => {
      val pu = plantUnit(s, d)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val ev = docs.where(col("doc_id") % 20 === 3)
        .select((col("doc_id") + 5 * pu).as("doc_id"),
          concat(col("text"), lit(" evaltok")).as("text"))
        .union(docs.where(col("doc_id") % 50 === 7)
          .select((col("doc_id") + 6 * pu).as("doc_id"), col("text")))
      Dedup.contaminationScore(docs, ev, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // cc3: cc1's decontamination from a STORED eval index — the
    // production shape: the eval SUITE is fixed while ingest batches
    // stream past it, so its tokenize+shingle pass lands in a built-once
    // artifact and probes never re-read eval text. Wave 1 (the near
    // matches) builds the index, wave 2 (the verbatim slice) APPENDS as
    // a committed count-indexed segment (the commitIndexedSegment
    // single-writer guard's sixth tier), the wave-2 retry anti-joins to
    // a no-op and writes no segment — and the probe must equal cc1's
    // inline scan over the combined suite exactly (same postings, same
    // scoring core, shared by construction).
    "cc3_stored_decontamination" -> ((s, d) => {
      val pu = plantUnit(s, d)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val ev0 = docs.where(col("doc_id") % 20 === 3)
        .select((col("doc_id") + 5 * pu).as("doc_id"),
          concat(col("text"), lit(" evaltok")).as("text"))
      val ev1 = docs.where(col("doc_id") % 50 === 7)
        .select((col("doc_id") + 6 * pu).as("doc_id"), col("text"))
      val dir = graft.core.Scratch.dir("cc3-") + "/evalidx"
      Dedup.writeContaminationIndex(ev0, "doc_id", "text", dir)
      Dedup.appendToContaminationIndex(ev1, "doc_id", "text", dir)
      Dedup.appendToContaminationIndex(ev1, "doc_id", "text", dir) // retry
      Dedup.contaminationPairsFromIndex(docs, "doc_id", "text", dir)
        .orderBy("doc_id", "eval_id")
    }),

    // cc4: TIME TRAVEL for the stored eval suite — "which docs did
    // yesterday's decontamination flag" re-derivable after today's eval
    // wave lands (the inc7/ret8 contract on the decon tier; without it
    // a curation decision made against suite-v0 cannot be audited once
    // v1 exists). cc3's fixture with the probe pinned at version 0:
    // wave 1 builds, wave 2 appends as a committed segment, and the
    // pinned probe must flag exactly what a wave-1-only run flagged —
    // the appended wave's collisions provably absent. Oracle: cc1's
    // pair SQL with the wave-2 branch emptied (ccPairsSql seam).
    "cc4_decon_asof" -> ((s, d) => {
      val pu = plantUnit(s, d)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val ev0 = docs.where(col("doc_id") % 20 === 3)
        .select((col("doc_id") + 5 * pu).as("doc_id"),
          concat(col("text"), lit(" evaltok")).as("text"))
      val ev1 = docs.where(col("doc_id") % 50 === 7)
        .select((col("doc_id") + 6 * pu).as("doc_id"), col("text"))
      val dir = graft.core.Scratch.dir("cc4-") + "/evalidx"
      Dedup.writeContaminationIndex(ev0, "doc_id", "text", dir)
      Dedup.appendToContaminationIndex(ev1, "doc_id", "text", dir)
      Dedup.contaminationPairsFromIndex(docs, "doc_id", "text", dir,
          asOf = Some(0L))
        .orderBy("doc_id", "eval_id")
    }),

    // cc5: RETIRE eval tasks from the stored suite — benchmarks rotate
    // (deprecated tasks, superseded versions, takedowns), and a retired
    // task must stop flagging corpus docs WITHOUT a suite rebuild. Half
    // of wave 2 retires via O(retired) eval_id tombstones, the forget
    // retries (tombstones are a set), the compact folds the store
    // physically, and the probe must equal a from-scratch run over the
    // surviving suite — exercised across BOTH the tombstone-view path
    // (pre-compact) and the folded path (the pq4 discipline: the graded
    // answer runs post-compact, so view-equality is part of the gate).
    "cc5_decon_forget" -> ((s, d) => {
      val pu = plantUnit(s, d)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val ev0 = docs.where(col("doc_id") % 20 === 3)
        .select((col("doc_id") + 5 * pu).as("doc_id"),
          concat(col("text"), lit(" evaltok")).as("text"))
      val ev1 = docs.where(col("doc_id") % 50 === 7)
        .select((col("doc_id") + 6 * pu).as("doc_id"), col("text"))
      val dir = graft.core.Scratch.dir("cc5-") + "/evalidx"
      Dedup.writeContaminationIndex(ev0, "doc_id", "text", dir)
      Dedup.appendToContaminationIndex(ev1, "doc_id", "text", dir)
      val retired = docs.where(col("doc_id") % 100 === 7)
        .select((col("doc_id") + 6 * pu).as("eval_id"))
      Dedup.forgetFromContaminationIndex(retired, "eval_id", dir)
      Dedup.forgetFromContaminationIndex(retired, "eval_id", dir) // retry
      Dedup.compactContaminationIndex(s, dir)
      Dedup.contaminationPairsFromIndex(docs, "doc_id", "text", dir)
        .orderBy("doc_id", "eval_id")
    }),

    // cc6s: STREAMING eval-wave ingest — new benchmark tasks arrive as
    // a stream (the ret9s/bf3s shape on the decon tier): wave 1 builds
    // the suite, wave 2 replays in micro-batches through the K2
    // foreachBatch sink, slice 1 RE-DELIVERS every slice-0 task in full
    // (the at-least-once worst case) — the eval_id anti-join must
    // no-op it without writing a segment. Graded: the stream-built
    // suite answers cc1's from-scratch oracle verbatim (every task
    // indexed exactly once).
    "cc6s_stream_eval_waves" -> ((s, d) => {
      val pu = plantUnit(s, d)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val ev0 = docs.where(col("doc_id") % 20 === 3)
        .select((col("doc_id") + 5 * pu).as("doc_id"),
          concat(col("text"), lit(" evaltok")).as("text"))
      val ev1 = docs.where(col("doc_id") % 50 === 7)
        .select((col("doc_id") + 6 * pu).as("doc_id"), col("text"))
      val dir0 = graft.core.Scratch.dir("cc6s-")
      val idx = s"$dir0/evalidx"
      Dedup.writeContaminationIndex(ev0, "doc_id", "text", idx)
      // slice 0 = the wave's even-source half; slice 1 = the FULL wave
      // (slice 0 redelivered + the rest)
      val sliceA = docs.where(col("doc_id") % 50 === 7 &&
          col("doc_id") % 100 === 7)
        .select((col("doc_id") + 6 * pu).as("doc_id"), col("text"))
      graft.streaming.Replay.slicedSourceReplay(s, Seq(sliceA, ev1),
          "doc_id BIGINT, text STRING", "cc6s-") { (src, dir) =>
        graft.core.Sinks.foreachBatchSink(src, s"$dir/ckpt") { (b, _) =>
          Dedup.appendToContaminationIndex(b, "doc_id", "text", idx)
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      Dedup.contaminationPairsFromIndex(docs, "doc_id", "text", idx)
        .orderBy("doc_id", "eval_id")
    }),

    // sp2: length-weighted deterministic sampling — longer documents kept
    // with proportionally higher probability (the source-mixing shape);
    // fate is a pure function of (doc_id, salt), so the oracle recomputes
    // the identical keep-set
    "sp2_weighted_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      ext.Sampling.sampleByProb(
          docs.withColumn("n_tokens",
            size(TextAnalysis.tokens(col("text"))).cast("long")),
          col("doc_id"), "mix",
          least(lit(1.0), col("n_tokens").cast("double") / 60.0))
        .select(col("doc_id"), col("n_tokens"))
        .orderBy("doc_id")
    }),

    "sp1_hash_split" -> ((s, d) =>
      Par.stage(ext.Sampling.withSplit(Tables.documents(s, d), col("doc_id"), "graft")
        .select(col("doc_id"), col("bucket"), col("split")))
        .orderBy("doc_id")),

    // shard1: deterministic shard manifests — the export "last mile": every
    // doc lands in one of 16 salted-hash shards; per shard the manifest
    // carries counts, token/char totals and an order-free exact-decimal
    // content fingerprint a consumer can re-verify a downloaded shard with
    "shard1_manifest" -> ((s, d) =>
      ext.Sampling.shardManifest(
          Tables.documents(s, d).withColumn("n_tokens",
            size(TextAnalysis.tokens(col("text"))).cast("long")),
          col("doc_id"), col("text"), col("n_tokens"), "shard", 16)
        .orderBy("shard")),

    // bud1: token-budget fill — per-source salted-hash priority order until
    // 800 tokens per source (the "N tokens of web, M of code" mix spec —
    // cuts mid-source at every graded SF: per-source totals are ~1.4k at
    // sf0.01, ~14k at sf0.1);
    // two-phase bucket classification keeps each source parallel (only the
    // boundary bucket pays an exact window), bit-identical to the oracle's
    // single running-sum window
    "bud1_token_budget" -> ((s, d) =>
      ext.Sampling.tokenBudgetFill(
          Tables.documents(s, d).withColumn("n_tokens",
            size(TextAnalysis.tokens(col("text"))).cast("long")),
          col("source"), col("doc_id"), "bud", col("n_tokens"), 800L)
        .orderBy("doc_id")),

    // sp3: deterministic stratified sampling — the k=40 docs per language
    // whose salted hash is smallest (rebalance skewed strata: en has 3×
    // fr's docs in this corpus). WindowGroupLimit caps the per-partition
    // shuffle at k rows per stratum (PlanSpec asserts the node).
    "sp3_stratified_sample" -> ((s, d) =>
      ext.Sampling.stratifiedSample(
          Tables.documents(s, d).select("doc_id", "lang"),
          Seq("lang"), col("doc_id"), "strat", k = 40)
        .orderBy("doc_id")),

    // ch1: overlapping token-window chunking (max-sequence-length
    // splitting, the converse of pack1's short-doc packing): chunk i
    // covers tokens [i·24+1, i·24+32], exact integer chunk count
    "ch1_doc_chunking" -> ((s, d) =>
      Par.stage(TextAnalysis.chunkTokens(Tables.documents(s, d),
          "doc_id", "text", chunkLen = 32, stride = 24))
        .orderBy("doc_id", "chunk_idx")),

    // x3: corpus bigram frequency, top 20 — n-gram LM / collocation stats;
    // same fan-out-then-explode_outer shape as x1 (a plain explode would
    // re-run tokenize+bigram construction inside the scan-stage Filter)
    "x3_top_bigrams" -> ((s, d) =>
      Par.fanOut(Tables.documents(s, d)
          .select(TextAnalysis.tokens(col("text")).as("toks")))
        .select(explode_outer(TextAnalysis.bigramsFromTokens(col("toks"))).as("bigram"))
        .where(col("bigram").isNotNull)
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(20)),

    // pmi1: PMI collocations — the association-strength upgrade to x3's
    // raw bigram counts (raw frequency ranks stopword pairs first; PMI
    // ranks pairs that co-occur far more than their parts' popularity
    // predicts, the classic phrase-mining statistic). The monotone log
    // drops out: score = truncating scaled-BIGINT ratio
    // (N·c(ab)·10⁴)/(c(a)·c(b)) — integer-exact in both engines
    // (TextAnalysis.pmiCollocations scaladoc). Unique key: bigram.
    "pmi1_collocations" -> ((s, d) =>
      TextAnalysis.pmiCollocations(Tables.documents(s, d), "text",
          topK = 20, minCount = 5L)
        .orderBy(col("pmi_fp").desc, col("bigram").asc)),

    // cov1: VOCABULARY-COVERAGE CURVE — token-occurrence coverage of the
    // top-V vocabulary at V ∈ {1k, 2k, 4k, 8k} (vb1 audits ONE cut; a
    // tokenizer-sizing decision reads the curve's knee — the qf1 sweep
    // shape applied to vocabulary fitting). Token ranks come from the
    // range-partitioned two-phase global ordinals (never a single-reducer
    // sort over the vocabulary — the ord1/qn1 discipline), the four
    // coverage sums ride ONE conditional aggregate over the ranked
    // frequency table, and coverage is a truncating micro ratio
    // (positive, floor = truncation). The 4-row result localCheckpoints
    // so the ordinal cache releases before return (the qq1 contract).
    "cov1_vocab_coverage_curve" -> ((s, d) => {
      val cuts = Seq(1000L, 2000L, 4000L, 8000L)
      val freq = Par.fanOut(Tables.documents(s, d)
          .select(TextAnalysis.tokens(col("text")).as("toks")))
        .select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val (ranked, release) = ext.Curation.globalOrdinalsManaged(
        freq, Seq(col("c").desc, col("w").asc))
      val agg = ranked.agg(sum(col("c")).as("total"),
        cuts.map(v => sum(when(col("ordinal") <= v, col("c"))
          .otherwise(0L)).as(s"c$v")): _*)
      val out = agg.select(explode(array(cuts.map(v =>
          struct(lit(v).as("v"), col(s"c$v").as("covered"),
            col("total").as("total"))): _*)).as("r"))
        .select(col("r.v").as("v"), col("r.covered").as("covered"),
          col("r.total").as("total"),
          call_function("div", col("r.covered") * lit(1000000L),
            col("r.total")).as("coverage_micro"))
        .orderBy("v")
        .localCheckpoint()
      release()
      out
    }),

    // zipf1: ZIPF RANK-FREQUENCY SLOPE — the log-log OLS slope over the
    // top-100 token ranks (α ≈ 1 for natural language; a corpus whose
    // slope drifts is template-spam-heavy or vocabulary-collapsed — the
    // distribution-level screen next to lm1's per-doc surprisal).
    // ln(rank) is DRIVER-COMPUTED micro literals interpolated into BOTH
    // engines (the ndcg1 weight trick — ranks are constants, so no
    // engine evaluates that log); ln(freq) is the lm1 seam (engine ln
    // behind a DECIMAL(30,6) cast) scaled to exact micro BIGINT; all
    // four OLS moments are exact BIGINT sums over 100 rows, and slope =
    // ONE IEEE division of two exact integers (micro scales cancel) —
    // st1's engine-bit-identical-doubles discipline. Top-100 selection
    // is TakeOrderedAndProject (per-partition top-K, bounded driver
    // result), never a full vocabulary sort.
    "zipf1_rank_frequency" -> ((s, d) => {
      val K = 100
      val lnRankMicro: Seq[Long] = (1 to K).map(r =>
        math.floor(math.log(r.toDouble) * 1e6).toLong)
      val freq = Par.fanOut(Tables.documents(s, d)
          .select(TextAnalysis.tokens(col("text")).as("toks")))
        .select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val top = freq.orderBy(col("c").desc, col("w").asc).limit(K)
      // unpartitioned window over the ALREADY-LIMITED 100-row frame —
      // the single-reducer warning does not apply to a bounded input
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("w").asc)
      val xy = top.select(row_number().over(w).as("r"), col("c"))
        .select(
          element_at(array(lnRankMicro.map(lit): _*), col("r")).as("x"),
          (log(col("c").cast("double")).cast("decimal(30,6)") *
            lit(1000000L)).cast("long").as("y"))
      xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("slope"))
    }),

    // div1: CORPUS N-GRAM DIVERSITY — per-source distinct-trigram
    // type/token ratio (distinct-n, Li et al. 2016), the corpus-level
    // complement of t6's per-doc repetition screens: a source whose
    // boilerplate repeats across documents scores low here while every
    // individual doc passes t6. Trigram stream is NON-distinct per doc
    // (totals must count occurrences), distinct types via one exact
    // count_distinct (the prof1 Expand shape, group count = sources);
    // ttr in truncating micro fixed point (positive, floor =
    // truncation). Tokenize fans out before the trigram projection.
    "div1_ngram_diversity" -> ((s, d) =>
      Par.fanOut(Tables.documents(s, d)
          .select(col("source"), TextAnalysis.tokens(col("text")).as("toks")))
        .select(col("source"), explode(
          when(size(col("toks")) >= 3,
            transform(sequence(lit(1), size(col("toks")) - 2),
              i => array_join(slice(col("toks"), i, lit(3)), " ")))
            .otherwise(array().cast("array<string>"))).as("tg"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_3grams"),
          count_distinct(col("tg")).as("n_distinct"))
        .select(col("source"), col("n_3grams"), col("n_distinct"),
          call_function("div", col("n_distinct") * lit(1000000L),
            col("n_3grams")).as("ttr_micro"))
        .orderBy("source")),

    // fert1: TOKENIZER FERTILITY — per-language subwords-per-word ratio
    // (the tokenizer-equity metric multilingual pipelines audit: a
    // tokenizer trained on English segments other scripts into many more
    // pieces, inflating their effective sequence length and training
    // cost). Words = the whitespace tokenizer (t1), subwords = the
    // BPE-ish regex pre-tokenizer (t5) — both already oracle-pinned;
    // fertility in truncating micro fixed point. One map-side-combined
    // aggregate, group count = languages.
    "fert1_tokenizer_fertility" -> ((s, d) =>
      Par.fanOut(Tables.documents(s, d).select(col("lang"), col("text")))
        .select(col("lang"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("nw"),
          size(TextAnalysis.regexTokens(col("text"))).cast("long").as("ns"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("nw").as("n_words"),
          sum("ns").as("n_subwords"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_subwords"),
          call_function("div", col("n_subwords") * lit(1000000L),
            col("n_words")).as("fertility_micro"))
        .orderBy("lang")),

    // bpe1: corpus character-pair frequencies, top 30 — the statistic that
    // seeds BPE tokenizer induction (the first merge is this table's
    // argmax); native per-token pair kernel, one hash-aggregate
    "bpe1_pair_counts" -> ((s, d) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, d), "text")),

    // msk1: T5-style SPAN CORRUPTION, deterministic — the denoising
    // training-pair builder: fixed 3-token spans mask at 15% by the sp1
    // hash-fate rule (pure function of (doc, span, salt) — replayable,
    // retry-safe, oracle-replicable, unlike T5's random sampler),
    // sentinels number in span order, targets carry the masked spans.
    // Oracle restates the identical grouping/hash/window/string assembly.
    "msk1_span_corruption" -> ((s, d) =>
      TextAnalysis.maskSpans(Tables.documents(s, d), "doc_id", "text",
          "graftmask")
        .orderBy("doc_id")),

    // bpe2: the ITERATIVE loop bpe1 seeds — three actual BPE merge
    // rounds over the word-frequency vocabulary: count adjacent symbol
    // pairs, merge the argmax pair corpus-wide (lexicographic tie-break),
    // recount over the merged segmentation. The spaced-symbol-string
    // representation makes each merge one literal replace both engines
    // scan identically, so the oracle unrolls the identical three rounds
    // (TextAnalysis.bpeMergeRounds scaladoc, incl. the documented
    // boundary-sharing deviation).
    "bpe2_merge_rounds" -> ((s, d) =>
      TextAnalysis.bpeMergeRounds(Tables.documents(s, d), "text", rounds = 3)
        .orderBy("round")),

    // bpe3: BPE APPLY — the trained artifact's consumer (bpe2 trains the
    // merge list; this segments the corpus under it and reports per-doc
    // token counts in TRAINED-tokenizer units, the measurement vb1's
    // whitespace approximation stands in for). The merge list rides as
    // bounded driver state (`rounds` rows — the km1 budget); the
    // segmentation kernel runs once per DISTINCT WORD, never per
    // occurrence (TextAnalysis.bpeSegmentCounts scaladoc). Oracle unrolls
    // the identical three trained replaces over the same distinct-word
    // relation — tokenizer skew between train and apply would hash-fail.
    "bpe3_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = TextAnalysis.bpeMergeRounds(docs, "text", rounds = 3)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeSegmentCounts(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // bpe4: bpe3 answered from the STORED tokenizer artifact — the
    // tokenizer tier's pq2 (the corpus-sized vocabulary pass is
    // build-once; apply jobs load `rounds` merge rows as bounded driver
    // state and never re-train). stageCommit all-or-nothing build;
    // integer/string columns round-trip parquet exactly, so the oracle is
    // bpe3's VERBATIM — stored artifacts must answer identically to the
    // inline build.
    "bpe4_stored_vocab" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.core.Scratch.dir("bpe4-") + "/vocab_art"
      TextAnalysis.writeBpeVocab(docs, "text", dir, rounds = 3)
      TextAnalysis.bpeSegmentCountsFromVocab(s, dir, docs, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // bpe5: INCREMENTAL vocabulary growth — train 2 merges, store, extend
    // by 1 more from the STORED (sym, freq) training state (vocabulary-
    // sized work, no corpus re-scan), segment under the extended artifact.
    // A merge round depends on nothing but that state, so extension must
    // be byte-identical to continuous 3-round training: the oracle is
    // again bpe3's verbatim — the strongest extend≡retrain contract.
    "bpe5_vocab_extend" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.core.Scratch.dir("bpe5-") + "/vocab_art"
      TextAnalysis.writeBpeVocab(docs, "text", dir, rounds = 2)
      TextAnalysis.extendBpeVocab(s, dir, extraRounds = 1)
      TextAnalysis.bpeSegmentCountsFromVocab(s, dir, docs, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // bpe6: TIME TRAVEL for the tokenizer artifact — the one stored
    // tier without a reproducibility verb (matview/postings/PQ/IVF/
    // dedup/kNN/windowed sketches/eval suite all answer as-of): token
    // budgets, packing lengths and per-doc training cost are priced in
    // TOKENIZER units, so auditing last week's run means replaying
    // last week's vocabulary. Structurally free here: the merge list
    // is round-ordered and append-only under extension, so version v
    // IS the first v merge rows — bpe5's fixture (2 trained + 1
    // extended) pinned at version 2 must segment exactly as the
    // 2-round tokenizer did, the extension invisible. Oracle: bpe3's
    // unrolled apply at 2 rounds (bpeApplySqlRounds seam).
    "bpe6_vocab_asof" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.core.Scratch.dir("bpe6-") + "/vocab_art"
      TextAnalysis.writeBpeVocab(docs, "text", dir, rounds = 2)
      TextAnalysis.extendBpeVocab(s, dir, extraRounds = 1)
      TextAnalysis.bpeSegmentCountsFromVocab(s, dir, docs, "doc_id",
          "text", asOf = Some(2))
        .orderBy("doc_id")
    }),

    // lm1: unigram-LM quality scoring (per-doc mean surprisal against the
    // corpus's own unigram distribution — the CCNet/KenLM perplexity-
    // filter stand-in); one corpus pass, per-term contributions quantized
    // to exact decimal so the sum is order-free
    "lm1_surprisal" -> ((s, d) =>
      TextAnalysis.unigramSurprisal(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // dsir1: DSIR importance weights (Xie et al., NeurIPS 2023) — the
    // principled data-selection step between scoring (lm1) and sampling
    // (sp2): every raw-pool doc scored by the log-likelihood ratio of
    // hashed-unigram bag models, curated target (doc_id % 7 = 0) vs the
    // raw pool itself. The hashing trick (portable sha-60 buckets, so
    // the oracle rebuilds the exact collisions) keeps BOTH models
    // fixed-size at any corpus scale — that is why DSIR runs at 100 TB;
    // add-one smoothing keeps every ratio finite; lm1's exact per-term
    // DECIMAL(30,6) quantization + final round(·,6)
    // (TextAnalysis.dsirWeights scaladoc). Unique key: doc_id.
    "dsir1_importance_weights" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.dsirWeights(docs.where(col("doc_id") % 7 =!= 0),
          docs.where(col("doc_id") % 7 === 0), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // t8: per-doc CHARACTER-distribution Shannon entropy (nats/char) —
    // the below-token-level quality screen (repeated-char spam, padding
    // runs) next to lm1's corpus-relative surprisal; lm1's exact
    // per-term DECIMAL(30,6) quantization discipline verbatim
    // (TextAnalysis.charEntropy scaladoc).
    "t8_char_entropy" -> ((s, d) =>
      TextAnalysis.charEntropy(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // lm2: n-gram-LM QUALITY FILTER (CCNet-lineage perplexity-filter
    // family) in exact arithmetic — even docs form the reference LM,
    // odd docs are scored by trigram stupid-backoff coverage; see
    // TextAnalysis.backoffCoverage for the cascade and the
    // one-final-division determinism policy.
    "lm2_backoff_coverage" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.backoffCoverage(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ret1: BM25 top-k retrieval — the LEXICAL leg of a retrieval stack
    // (sim1/sim3 are the dense leg): a bounded query set broadcast-filters
    // the posting relation before anything wide happens, idf quantized at
    // its libm boundary, per-term scores exact-decimal-summed, rank<=k
    // via WindowGroupLimit. The corpus never shuffles on anything but its
    // tokenize fan-out.
    "ret1_bm25_topk" -> ((s, d) =>
      ext.Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text",
          Seq(0 -> Seq("spark", "join", "table"),
            1 -> Seq("hash", "merge", "sort"),
            2 -> Seq("stream", "window", "batch")), k = 5)
        .orderBy("query_id", "rk")),

    // ret3: ret1 answered from the STORED postings index — the lexical
    // counterpart of sim6's stored-ANN shape: Retrieval.writePostingsIndex
    // builds the term-hash-bucketed inverted index + term dictionary
    // (document frequency precomputed) + meta once; the query tier hashes
    // its vocabulary under the STORED bucket count and reads only those
    // buckets (partition IN-filter, spec-pinned), df from the dictionary,
    // totals as literals. Oracle: ret1's from-scratch BM25 verbatim.
    "ret3_stored_postings" -> ((s, d) => {
      val dir = graft.core.Scratch.dir("ret3-")
      ext.Retrieval.writePostingsIndex(Tables.documents(s, d), "doc_id",
        "text", dir)
      ext.Retrieval.bm25TopKFromIndex(s,
          Seq(0 -> Seq("spark", "join", "table"),
            1 -> Seq("hash", "merge", "sort"),
            2 -> Seq("stream", "window", "batch")), dir, k = 5)
        .orderBy("query_id", "rk")
    }),

    // ret4: INCREMENTAL maintenance of the stored postings index — the
    // sim7 counterpart for the lexical leg: half the corpus builds the
    // index, the other half APPENDS (tokenized once, postings land in
    // the stored buckets, dictionary + meta rebuild from the post-append
    // store and swap atomically — BM25's df/N coupling means a stale
    // dictionary drifts every score). Anti-joined doc ids make retries
    // no-ops (Retrieval.appendToPostingsIndex scaladoc). Must equal
    // ret1's from-scratch BM25 over the full corpus.
    "ret4_postings_append" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.core.Scratch.dir("ret4-")
      ext.Retrieval.writePostingsIndex(docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text", dir)
      ext.Retrieval.appendToPostingsIndex(docs.where(col("doc_id") % 2 === 1),
        "doc_id", "text", dir)
      ext.Retrieval.bm25TopKFromIndex(s,
          Seq(0 -> Seq("spark", "join", "table"),
            1 -> Seq("hash", "merge", "sort"),
            2 -> Seq("stream", "window", "batch")), dir, k = 5)
        .orderBy("query_id", "rk")
    }),

    // ret7: POSTINGS-INDEX FORGET — the lexical tier's delete verb,
    // completing forget across every artifact family (del1 archive,
    // sim9 IVF, this). A quarter of the corpus tombstones out (twice —
    // the set is idempotent, graded), then COMPACT rewrites the whole
    // root atomically (postings/terms/meta from the living relation; the
    // pre-compact phase keeps Lucene's docFreq-includes-deletions
    // semantics, spec-pinned), and the query tier's answer must equal
    // ret1's from-scratch BM25 over the SURVIVORS — df, corpus totals
    // and candidates all reflecting the post-merge store.
    "ret7_postings_forget" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.core.Scratch.dir("ret7-")
      ext.Retrieval.writePostingsIndex(docs, "doc_id", "text", dir)
      val doomed = docs.where(col("doc_id") % 4 === 2).select("doc_id")
      ext.Retrieval.forgetFromPostingsIndex(doomed, "doc_id", dir)
      ext.Retrieval.forgetFromPostingsIndex(doomed, "doc_id", dir)
      ext.Retrieval.compactPostingsIndex(s, dir)
      ext.Retrieval.bm25TopKFromIndex(s,
          Seq(0 -> Seq("spark", "join", "table"),
            1 -> Seq("hash", "merge", "sort"),
            2 -> Seq("stream", "window", "batch")), dir, k = 5)
        .orderBy("query_id", "rk")
    }),

    // ret8: TIME-TRAVEL read of the stored postings index — the
    // reproducibility verb (round-11 verdict #3): yesterday's index
    // (version 0 = the build over the even half) answers UNCHANGED after
    // today's append landed (version 1 = the odd half), because versions
    // are immutable committed segment sets and the pinned read derives
    // df/corpus totals from the pinned relation, never the HEAD
    // dictionary (Retrieval.bm25TopKFromIndex `asOf` scaladoc; folded-
    // history loud failure is Artifacts.segmentsAsOf's contract,
    // Round12Spec pins it with the mv3 retention semantics). Oracle:
    // ret1's from-scratch BM25 over the even half alone — exactly what
    // the index held yesterday.
    "ret8_postings_asof" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.core.Scratch.dir("ret8-")
      ext.Retrieval.writePostingsIndex(docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text", dir)
      ext.Retrieval.appendToPostingsIndex(docs.where(col("doc_id") % 2 === 1),
        "doc_id", "text", dir)
      ext.Retrieval.bm25TopKFromIndex(s,
          Seq(0 -> Seq("spark", "join", "table"),
            1 -> Seq("hash", "merge", "sort"),
            2 -> Seq("stream", "window", "batch")), dir, k = 5,
          asOf = Some(0L))
        .orderBy("query_id", "rk")
    }),

    // ret9s: STREAMING maintenance of the stored postings index — the
    // last untiered union (round-11 verdict #6): batch append exists
    // (ret4) and streaming ingest exists (inc1s/cur1s), but no graded
    // query maintained a stored index artifact FROM a stream. The real
    // engine replays the last corpus quarter in micro-batches through
    // the K2 foreachBatch sink, each batch folding into the index via
    // appendToPostingsIndex — whose doc-id anti-join + staged-segment
    // commit make redelivery a no-op WITHOUT an id fence (append-shaped
    // store, the del2s class; the MG/CMS counter tiers need the fence,
    // this provably does not) — and slice 1 RE-DELIVERS every slice-0
    // document (the at-least-once worst case, full overlap). Graded:
    // the post-replay artifact answers ret1's from-scratch BM25 over
    // the FULL corpus — df, totals and candidates all reflecting
    // build + every streamed batch exactly once.
    "ret9s_stream_postings" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir0 = graft.core.Scratch.dir("ret9s-")
      val idx = s"$dir0/idx"
      ext.Retrieval.writePostingsIndex(docs.where(col("doc_id") % 4 =!= 3),
        "doc_id", "text", idx)
      val quarter = docs.where(col("doc_id") % 4 === 3)
        .select(col("doc_id"), col("text"))
      val s0 = quarter.where(pmod(col("doc_id"), lit(8)) === 3)
      val s1 = quarter // slice 0 redelivered in full + the rest
      graft.streaming.Replay.slicedSourceReplay(s, Seq(s0, s1),
          "doc_id BIGINT, text STRING", "ret9s-") { (src, dir) =>
        graft.core.Sinks.foreachBatchSink(src, s"$dir/ckpt") { (b, _) =>
          ext.Retrieval.appendToPostingsIndex(b, "doc_id", "text", idx)
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      ext.Retrieval.bm25TopKFromIndex(s,
          Seq(0 -> Seq("spark", "join", "table"),
            1 -> Seq("hash", "merge", "sort"),
            2 -> Seq("stream", "window", "batch")), idx, k = 5)
        .orderBy("query_id", "rk")
    }),

    // qm1s: STREAMING DRIFT MONITOR — the streaming × drift cell (kl1
    // compares sources within one corpus, drift1 watches the embedding
    // space BETWEEN snapshots; a production ingest needs "did THIS
    // micro-batch's token mix move away from the reference the filters
    // were tuned on", per batch, against a STORED baseline). The
    // baseline is a fixed-size hashed-bucket unigram model (the dsir1
    // hashing trick — model size never grows with the corpus), each
    // replayed batch computes its smoothed bucket KL against it through
    // the K2 foreachBatch sink, and the per-batch metric row lands in a
    // batch-keyed directory with overwrite — so at-least-once
    // redelivery REWRITES the same row instead of duplicating the
    // metric (idempotence by key, the mv1 upsert class; no fence
    // needed). Oracle recomputes both slices' KL with the identical
    // bucket hash, smoothing, quantization and expression order.
    "qm1s_stream_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir0 = graft.core.Scratch.dir("qm1s-")
      val base = s"$dir0/baseline"
      val res = s"$dir0/results"
      TextAnalysis.writeTokenBaseline(
        docs.where(col("doc_id") % 4 =!= 3), "text", base)
      val quarter = docs.where(col("doc_id") % 4 === 3)
        .select(col("doc_id"), col("text"))
      val s0 = quarter.where(pmod(col("doc_id"), lit(8)) === 3)
      val s1 = quarter.where(pmod(col("doc_id"), lit(8)) === 7)
      graft.streaming.Replay.slicedSourceReplay(s, Seq(s0, s1),
          "doc_id BIGINT, text STRING", "qm1s-") { (src, dir) =>
        graft.core.Sinks.foreachBatchSink(src, s"$dir/ckpt") { (b, id) =>
          TextAnalysis.batchDriftKl(b, "text", base)
            .select(lit(id).as("batch_id"), col("n_tokens"), col("kl"))
            .coalesce(1).write.mode("overwrite").parquet(s"$res/batch=$id")
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      s.read.parquet(s"$res/batch=0")
        .unionByName(s.read.parquet(s"$res/batch=1"))
        .orderBy("batch_id")
    }),

    // ret5: EXACT PHRASE SEARCH — the positional capability BM25's
    // bag-of-words cannot express: anchor each phrase on its
    // occurrence-rarest term (ties: offset, then term — both engines
    // pick identically), expand anchor hits to candidate starts, verify
    // all m offsets with one positional equi-join, count windows where
    // every offset hit. Overlaps count separately
    // (Retrieval.phraseSearch scaladoc).
    "ret5_phrase_search" -> ((s, d) =>
      ext.Retrieval.phraseSearch(Tables.documents(s, d), "doc_id", "text",
          Seq(1L -> "table table", 2L -> "value fast merge",
            3L -> "scan slow fast"))
        .orderBy("query_id", "doc_id")),

    // ret6: TERM-PROXIMITY ranking — the sloppy-phrase middle ground
    // between BM25's bag-of-words (ret1) and exact adjacency (ret5):
    // docs containing both query terms ranked by minimal positional
    // distance; bounded pair vocabulary IN-filters the positional slice
    // before any shuffle (Retrieval.termProximity scaladoc).
    "ret6_term_proximity" -> ((s, d) =>
      ext.Retrieval.termProximity(Tables.documents(s, d), "doc_id", "text",
          Seq((1L, "spark", "join"), (2L, "hash", "merge"),
            (3L, "stream", "window")), k = 10)
        .orderBy("query_id", "rk")),

    // ret2: HYBRID retrieval — reciprocal-rank fusion of the lexical leg
    // (ret1's BM25, k=20) and the dense leg (sim1's exact cosine top-k,
    // k=20, query vectors = vec_id 0-2) into one ranking. Rank-only
    // fusion (Retrieval.rrfFuse scaladoc): incomparable score scales
    // never mix, contributions are 1/(60+rk) quantized to exact decimal,
    // and the fused relation is ≤ 40 rows/query before the final window —
    // both legs already end in per-query top-k, so fusion adds no
    // corpus-sized work to either.
    "ret2_rrf_fusion" -> ((s, d) => {
      val lex = ext.Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text",
          Seq(0 -> Seq("spark", "join", "table"),
            1 -> Seq("hash", "merge", "sort"),
            2 -> Seq("stream", "window", "batch")), k = 20)
        .select(col("query_id").cast("long").as("query_id"), col("doc_id"),
          col("rk"))
      val emb = Tables.embeddings(s, d)
      val dense = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 3),
          "vec_id", "embedding", 20)
        .select(col("query_id").cast("long").as("query_id"),
          col("neighbor_id").cast("long").as("doc_id"),
          col("rank").cast("long").as("rk"))
      ext.Retrieval.rrfFuse(Seq(lex, dense), k0 = 60, k = 10)
        .orderBy("query_id", "rk")
    }),

    // kl1: per-source token-distribution KL divergence vs the whole
    // corpus — the TEXT-side drift monitor (drift1 watches embeddings):
    // a feed that switched language / extractor / started emitting
    // boilerplate shows as a KL jump with no model in the loop. Same
    // quantized-ln policy as lm1; Q's support contains P's by
    // construction, so no zero-support guard.
    "kl1_source_kl" -> ((s, d) =>
      TextAnalysis.sourceTokenKl(Tables.documents(s, d), "text", "source")
        .orderBy("source")),

    // js1: per-source JENSEN–SHANNON divergence vs the corpus — kl1's
    // symmetric, BOUNDED companion (JSD ∈ [0, ln 2], so scores compare
    // across sources AND corpora; the two metrics disagree exactly when
    // a source is missing corpus mass, which is why drift dashboards
    // report both). The Q-side full-vocabulary sum collapses to ONE
    // closed-form term per source for terms absent from the source
    // (p = 0 there ⇒ q·ln 2 each), so the whole computation stays on
    // kl1's (source, term) frame — never |sources| × |vocab|
    // (TextAnalysis.sourceTokenJsd scaladoc; every ln argument is an
    // integer-valued double, contributions DECIMAL(30,6)-quantized).
    "js1_source_jsd" -> ((s, d) =>
      TextAnalysis.sourceTokenJsd(Tables.documents(s, d), "text", "source")),

    // gini1: GINI COEFFICIENT of the token-frequency distribution — the
    // vocabulary-inequality statistic next to zipf1 (head exponent) and
    // bal1 (source-level HHI): whole-distribution concentration in
    // [0, 1), flagging template/boilerplate corpora whose token mass
    // sits in a tiny head. Ranks from the two-phase global ordinals
    // (never a single-reducer vocabulary sort), moments in exact
    // DECIMAL(38,0), one truncating micro division on non-negatives
    // (TextAnalysis.tokenGini scaladoc).
    "gini1_token_gini" -> ((s, d) =>
      TextAnalysis.tokenGini(Tables.documents(s, d), "text")),

    // bal1: CORPUS SOURCE-BALANCE report — the concentration summary a
    // mixture designer reads before setting mix1's temperature: per-source
    // token shares reduced to the Herfindahl index and its reciprocal,
    // the EFFECTIVE NUMBER of sources (the "effective domains" statistic
    // corpus papers report — 20 sources with one at 90% behaves like
    // ~1.2). Whole report exact integer fixed point: shares truncate to
    // micro units, HHI = Σ share² rescaled by one truncating division,
    // effective count = 10¹² div HHI — no float anywhere, and the
    // truncation order is pinned so both engines agree bit-for-bit.
    // ONE map-side-combined aggregate (group count = sources) then a
    // 1-row reduction.
    "bal1_source_balance" -> ((s, d) => {
      val perSrc = Par.fanOut(Tables.documents(s, d)
          .select(col("source"), col("text")))
        .select(col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("nw"))
        .groupBy("source").agg(sum(col("nw")).as("a"))
      val tot = perSrc.agg(sum(col("a")).as("n")).select(col("n"))
      perSrc.crossJoin(broadcast(tot))
        .select(call_function("div", col("a") * lit(1000000L), col("n"))
          .as("share_micro"))
        .agg(count(lit(1)).as("n_sources"),
          max(col("share_micro")).as("top_share_micro"),
          sum(col("share_micro") * col("share_micro")).as("s2"))
        .select(col("n_sources"), col("top_share_micro"),
          call_function("div", col("s2"), lit(1000000L)).as("hhi_micro"))
        .select(col("n_sources"), col("top_share_micro"), col("hhi_micro"),
          when(col("hhi_micro") > 0,
            call_function("div", lit(1000000000000L), col("hhi_micro")))
            .as("eff_sources_micro"))
    }),

    // inc3: INCREMENTAL corpus-statistics maintenance — yesterday's
    // archived per-term (df, tf) summary (even docs, standing in for the
    // stored table) merged additively with today's batch (odd docs); the
    // oracle builds the same stats from scratch over the whole corpus, so
    // a green row proves the merge ≡ full rebuild with zero re-tokenizing
    // of the archive
    "inc3_incremental_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.mergeTermStats(
          TextAnalysis.termCounts(docs.where(col("doc_id") % 2 === 0),
            "doc_id", "text"),
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
        .orderBy("term")
    }),

    // cur3: URL-domain blocklist screen — every third doc gains a planted
    // URL whose host rotates through 5 sites, two of which are
    // blocklisted; URL-free docs must pass untouched. Bounded-by-
    // definition blocklist → broadcast anti join, corpus never shuffles
    "cur3_domain_filter" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" see https://site"),
            (col("doc_id") % 5).cast("string"), lit(".example/p?x=1 ok")))
          .otherwise(col("text")).as("text"))
      ext.Curation.domainFilter(planted, "doc_id", "text",
          Seq("site1.example", "site3.example"))
        .orderBy("doc_id")
    }),

    // par1: PARETO-FRONTIER curation — the efficient (vocabulary
    // richness, length) trade-offs of the corpus, no weighted collapse;
    // bucketed suffix-max skyline (Curation.paretoFrontier scaladoc for
    // why the textbook global window is the wrong plan). Criteria are
    // exact longs; the oracle states the same strict-dominance test as
    // one window.
    "par1_pareto_frontier" -> ((s, d) => {
      val toks = TextAnalysis.tokens(col("text"))
      ext.Curation.paretoFrontier(
          Par.fanOut(Tables.documents(s, d).select(col("doc_id"), col("text"))),
          col("doc_id"), size(array_distinct(toks)), size(toks))
        .select(col("doc_id"), col("x").as("n_distinct"),
          col("y").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // batch1: power-of-two length-bucketed batching stats with per-bucket
    // padding waste — pure projection + tiny aggregate (⌊log₂⌋ via binary
    // string length, integer-exact in both engines; a global ntile would
    // be a single-partition sort)
    "batch1_length_buckets" -> ((s, d) =>
      ext.Sampling.lengthBuckets(
          Tables.documents(s, d).select(col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens")),
          col("doc_id"), col("n_tokens"))
        .orderBy("bucket")),

    // mix1: temperature-flattened language mixture (α = 0.5) — expected
    // kept counts ∝ sqrt(N_lang); fate is the portable (doc_id, salt)
    // hash, so the oracle recomputes the identical keep-set
    "mix1_temperature_mix" -> ((s, d) =>
      ext.Sampling.temperatureMix(Tables.documents(s, d), col("lang"),
          col("doc_id"), "temp")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // mix2: fractional EPOCH upsampling — mix1 picks a keep-set, this
    // REPLICATES: "0.5 epochs of en, 2.25 of zh, 1.5 of fr, 3 of es"
    // turned into actual duplicated rows with a deterministic hash fate
    // for the fractional copy (Sampling.epochUpsample scaladoc). The
    // unique key is (doc_id, epoch_copy); de gets exactly 1.0 epochs —
    // the pass-through case.
    "mix2_epoch_upsample" -> ((s, d) =>
      ext.Sampling.epochUpsample(
          Tables.documents(s, d).select(col("doc_id"), col("lang")),
          col("doc_id"), "mix2",
          when(col("lang") === "en", 500)
            .when(col("lang") === "zh", 2250)
            .when(col("lang") === "fr", 1500)
            .when(col("lang") === "es", 3000)
            .otherwise(1000))
        .select(col("doc_id"), col("lang"), col("epoch_copy"))
        .orderBy("doc_id", "epoch_copy")),

    // emb1: per-dimension embedding QC stats — 64 groups at any corpus
    // scale, exact-decimal sums so mean/variance hash-match the oracle
    "emb1_dim_stats" -> ((s, d) =>
      Similarity.dimStats(Tables.embeddings(s, d), "embedding")
        .orderBy("dim")),

    // drift1: embedding drift between two snapshots — snapshot A = even
    // vec_ids as-is; snapshot B = odd vec_ids with a PLANTED +0.25 mean
    // shift on dims 0–7 (the swapped-model-version signature), far above
    // the ~0.01 natural even/odd mean noise, so exactly dims 0–7 flag and
    // the clean dims prove no false positives.
    "drift1_embedding_drift" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val a = emb.where(col("vec_id") % 2 === 0)
      val b = emb.where(col("vec_id") % 2 === 1)
        .select(col("vec_id"), transform(col("embedding"),
          (x, i) => when(i < 8, x.cast("double") + 0.25)
            .otherwise(x.cast("double"))).as("embedding"))
      Similarity.dimDrift(a, b, "embedding").orderBy("dim")
    }),

    // qd1: per-source quality dashboard — count / avg length / avg
    // stopword ratio / quality-filter yield per ingest feed (predicts
    // cur1's per-source survival); 20 groups at any corpus scale
    "qd1_source_quality" -> ((s, d) =>
      ext.Curation.sourceQuality(Tables.documents(s, d), "source", "text")
        .orderBy("source")),

    // qf1: quality-filter THRESHOLD SWEEP — the yield surface a corpus
    // team reads before committing to cur1's cut: docs/tokens surviving
    // at each (min_tokens × min_stopword_micro) grid cell, one corpus
    // scan + one grid-sized aggregate. Integer truncating micro-ratio
    // (never float-vs-float threshold compares); pass_rate is a single
    // exact-long double division (Curation.thresholdSweep scaladoc).
    "qf1_threshold_sweep" -> ((s, d) =>
      ext.Curation.thresholdSweep(Tables.documents(s, d), "text",
          minTokens = Seq(10L, 20L, 40L),
          minStopMicro = Seq(20000L, 40000L, 80000L))
        .orderBy("min_tokens", "min_swr_micro")),

    // emb2: symmetric int8 vector quantization (scale = 127/max|x|) — the
    // ANN index compression step; pure projection, engine-exact rounding.
    // The graded projection renders q as CSV (the compare layer cannot
    // hash array cells — same convention as ag1); the operator itself
    // returns the real array<int>.
    "emb2_int8_quant" -> ((s, d) =>
      Par.stage(Similarity.quantizeInt8(Tables.embeddings(s, d),
            "vec_id", "embedding")
          .select(col("vec_id"), col("scale"),
            array_join(col("q"), ",").as("q_csv")))
        .orderBy("vec_id")),

    // emb3: per-dimension z-score STANDARDIZATION in truncating micro
    // units — the whitening pass between embedding output and an ANN
    // index (emb1 measures the per-dim stats; this APPLIES them). μ/σ
    // from the same exact-decimal sums emb1 grades, inlined as dim-sized
    // array literals; floor fixed point, not round(float) — the ewma1
    // half-boundary lesson. Constant dims emit 0, not NaN.
    "emb3_standardize" -> ((s, d) =>
      Similarity.standardizeMicro(Tables.embeddings(s, d),
          "vec_id", "embedding")
        .orderBy("vec_id")),

    // vb1: vocabulary coverage / OOV rate against the top-20 corpus vocab
    // (the tokenizer-fit / domain-shift screen); one corpus pass, bounded
    // vocab broadcast
    "vb1_vocab_coverage" -> ((s, d) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, d), "doc_id", "text",
          vocabSize = 20)
        .orderBy("doc_id")),

    // hh1: RECALL-EXACT heavy hitters over the corpus token stream —
    // every token covering ≥ 1/200 of all token occurrences, found by
    // per-partition Misra–Gries (zero-shuffle phase 1, ≤ k candidates per
    // task) + an exact semi-joined count of candidates only — the
    // full-vocabulary groupBy a 100 TB token stream cannot afford
    // (Profile.heavyHitters scaladoc for the recall proof). The oracle
    // states it as the plain HAVING over the full groupBy.
    "hh1_heavy_hitters" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      ext.Profile.heavyHitters(toks, col("token"), k = 200)
        .select(col("key").as("token"), col("n"))
        .orderBy("token")
    }),

    // cms1: COUNT-MIN SKETCH point estimates — MG's (hh1) fixed-size
    // sibling for ANY-key frequency queries, graded MERGE-FIRST: two
    // half-corpus sketches (even/odd docs) sum counter-wise into the
    // union sketch, then the top-20 tokens probe it; est ≥ true always,
    // the slack being exactly the colliding mass. sha-prefix row hashes
    // make sketch, merge and estimates integer-exact in any engine — the
    // oracle builds the whole-corpus counters directly (≡ the merge, by
    // additivity) and replays the same probes
    // (Profile.countMinSketch scaladoc).
    "cms1_countmin" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def toks(df: org.apache.spark.sql.DataFrame) =
        Par.fanOut(df.select(
            explode(TextAnalysis.tokens(col("text"))).as("tok")))
          .where(col("tok") =!= "")
      val sketch = ext.Profile.cmsMerge(Seq(
        ext.Profile.countMinSketch(toks(docs.where(col("doc_id") % 2 === 0)),
          col("tok")),
        ext.Profile.countMinSketch(toks(docs.where(col("doc_id") % 2 === 1)),
          col("tok"))))
      val tf = toks(docs).groupBy("tok")
        .agg(count(lit(1)).as("true_cnt"))
      val probes = tf.orderBy(col("true_cnt").desc, col("tok").asc).limit(20)
      ext.Profile.cmsEstimate(sketch, probes, "tok")
        .join(probes, col("k") === col("tok"))
        .select(col("tok"), col("true_cnt"), col("est"),
          (col("est") - col("true_cnt")).as("overcount"))
        .orderBy("tok")
    }),

    // cms2: the STORED CMS lifecycle — build from even docs, append the
    // odd half as batch 0, then RETRY the same batch (the graded query
    // itself exercises at-least-once delivery: the id ≤ high-water-mark
    // no-op must swallow the duplicate or every count doubles); the
    // final artifact answers the same top-20 probes, so the oracle is
    // cms1's whole-corpus verbatim (Profile.appendToCmsSketch scaladoc
    // for the one-swap id+state commit).
    "cms2_stored_cms" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def toks(df: org.apache.spark.sql.DataFrame) =
        Par.fanOut(df.select(
            explode(TextAnalysis.tokens(col("text"))).as("tok")))
          .where(col("tok") =!= "")
      val dir = graft.core.Scratch.dir("cms2-") + "/sketch"
      ext.Profile.writeCmsSketch(toks(docs.where(col("doc_id") % 2 === 0)),
        col("tok"), dir)
      val odd = toks(docs.where(col("doc_id") % 2 === 1))
      ext.Profile.appendToCmsSketch(odd, col("tok"), dir, batchId = 0L)
      ext.Profile.appendToCmsSketch(odd, col("tok"), dir, batchId = 0L) // retry
      val tf = toks(docs).groupBy("tok")
        .agg(count(lit(1)).as("true_cnt"))
      val probes = tf.orderBy(col("true_cnt").desc, col("tok").asc).limit(20)
      ext.Profile.cmsEstimateFromSketch(s, dir, probes, "tok")
        .join(probes, col("k") === col("tok"))
        .select(col("tok"), col("true_cnt"), col("est"),
          (col("est") - col("true_cnt")).as("overcount"))
        .orderBy("tok")
    }),

    // cms3: EPOCH-WINDOWED CMS with physical retirement — the sketch
    // tier's forget verb (round-12 verdict #6: flat CMS/MG counters are
    // additive-only, so a takedown could never reach them; deletion
    // granularity moves to the EPOCH). Three "daily" batches land as
    // committed per-epoch counter segments (doc_id % 3 as the day); the
    // middle batch REDELIVERS (segment-name idempotence must swallow
    // it); epoch 0 then expires — one atomic fold whose new root simply
    // does not contain the expired mass — and a redelivery of the
    // folded batch 0 AFTER the expire must no-op off the folded
    // high-water, not re-add the dropped epoch. Graded: the same top-20
    // probe estimates as cms1, computed over the RETAINED population
    // only — the oracle proves the expired epoch's counts are GONE,
    // which the flat cms2 store can never do.
    "cms3_windowed_cms" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def toks(df: org.apache.spark.sql.DataFrame) =
        Par.fanOut(df.select(col("doc_id"),
            explode(TextAnalysis.tokens(col("text"))).as("tok")))
          .where(col("tok") =!= "")
      val dir = graft.core.Scratch.dir("cms3-") + "/sketch"
      ext.Profile.writeWindowedCms(s, dir)
      for (e <- 0 to 2)
        ext.Profile.ingestWindowedCmsBatch(
          toks(docs.where(col("doc_id") % 3 === e)), col("tok"),
          col("doc_id") % 3, dir, batchId = e.toLong)
      // redelivered mid-stream batch: segment-name idempotence
      ext.Profile.ingestWindowedCmsBatch(
        toks(docs.where(col("doc_id") % 3 === 1)), col("tok"),
        col("doc_id") % 3, dir, batchId = 1L)
      ext.Profile.expireWindowedCms(s, dir, minEpoch = 1L)
      // redelivery of a FOLDED batch after the expire: high-water no-op
      ext.Profile.ingestWindowedCmsBatch(
        toks(docs.where(col("doc_id") % 3 === 0)), col("tok"),
        col("doc_id") % 3, dir, batchId = 0L)
      val retained = toks(docs.where(col("doc_id") % 3 =!= 0))
      val tf = retained.groupBy("tok").agg(count(lit(1)).as("true_cnt"))
      val probes = tf.orderBy(col("true_cnt").desc, col("tok").asc).limit(20)
      ext.Profile.cmsEstimateWindowed(s, dir, probes, "tok", minEpoch = 1L)
        .join(probes, col("k") === col("tok"))
        .select(col("tok"), col("true_cnt"), col("est"),
          (col("est") - col("true_cnt")).as("overcount"))
        .orderBy("tok")
    }),

    // cms4: windowed-CMS TIME TRAVEL — the one segmented family that had
    // no as-of verb (round-13 verdict #3): the per-epoch counter
    // segments were already batch-id-named committed prefixes, so the
    // shared Artifacts.segmentsAsOf rule lifts directly. Three daily
    // batches land (versions 1..3); the graded read PINS version 2 —
    // epochs {0,1} — so yesterday's drift report is re-derived bit-
    // identically AFTER today's (version-3) ingest, which must be
    // invisible to the pin. Expire advances the floor atomically with
    // the fold and folded pins fail loudly (Round14Spec pins both).
    // Oracle: exact counts + sha-bucketed estimates over the version-2
    // population only.
    "cms4_windowed_asof" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def toks(df: org.apache.spark.sql.DataFrame) =
        Par.fanOut(df.select(col("doc_id"),
            explode(TextAnalysis.tokens(col("text"))).as("tok")))
          .where(col("tok") =!= "")
      val dir = graft.core.Scratch.dir("cms4-") + "/sketch"
      ext.Profile.writeWindowedCms(s, dir)
      for (e <- 0 to 2)
        ext.Profile.ingestWindowedCmsBatch(
          toks(docs.where(col("doc_id") % 3 === e)), col("tok"),
          col("doc_id") % 3, dir, batchId = e.toLong)
      val pinnedPop = toks(docs.where(col("doc_id") % 3 < 2))
      val tf = pinnedPop.groupBy("tok").agg(count(lit(1)).as("true_cnt"))
      val probes = tf.orderBy(col("true_cnt").desc, col("tok").asc).limit(20)
      ext.Profile.cmsEstimateWindowed(s, dir, probes, "tok",
          minEpoch = 0L, asOf = Some(2L))
        .join(probes, col("k") === col("tok"))
        .select(col("tok"), col("true_cnt"), col("est"),
          (col("est") - col("true_cnt")).as("overcount"))
        .orderBy("tok")
    }),

    // hh2: EPOCH-WINDOWED heavy hitters — cms3's forget discipline on
    // the MG tier, so the sketch family's epoch-window story is graded
    // on BOTH counter kinds: three daily batches land per-epoch MG
    // cells as committed segments (≤ k counters + the epoch's exact
    // token count per cell), the middle batch REDELIVERS (segment-name
    // no-op), epoch 0 expires (cells physically dropped, high-water
    // advanced), batch 0 redelivers AFTER the fold (hw no-op), and the
    // answer = candidates from the living cells exactly recounted over
    // the retained corpus against the WINDOW total N_w. Recall for
    // ≥ N_w/k is provable across cells (Profile.writeWindowedHh
    // scaladoc); oracle = hh1's HAVING set over the retained docs.
    "hh2_windowed_hh" -> ((s, d) => {
      val toks0 = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
      val dir = graft.core.Scratch.dir("hh2-") + "/hh"
      ext.Profile.writeWindowedHh(s, dir, k = 200)
      for (e <- 0 to 2)
        ext.Profile.ingestWindowedHhBatch(
          toks0.where(col("doc_id") % 3 === e), col("token"),
          col("doc_id") % 3, dir, batchId = e.toLong)
      ext.Profile.ingestWindowedHhBatch(
        toks0.where(col("doc_id") % 3 === 1), col("token"),
        col("doc_id") % 3, dir, batchId = 1L) // redelivery: no-op
      ext.Profile.expireWindowedHh(s, dir, minEpoch = 1L)
      ext.Profile.ingestWindowedHhBatch(
        toks0.where(col("doc_id") % 3 === 0), col("token"),
        col("doc_id") % 3, dir, batchId = 0L) // folded id: no-op
      ext.Profile.heavyHittersWindowed(
          toks0.where(col("doc_id") % 3 =!= 0), col("token"), dir,
          minEpoch = 1L)
        .select(col("key").as("token"), col("n"))
        .orderBy("token")
    }),

    // hh3: cms4's time travel on the MG tier — both windowed counter
    // kinds carry the as-of verb, not one by analogy (the hh2/cms3
    // pairing rule). Three daily batches, pin version 2 (epochs {0,1})
    // after the version-3 ingest landed; the exact phase recounts the
    // PINNED corpus slice, so the report equals what it would have said
    // yesterday. Oracle: hh1's HAVING set over the pinned population.
    "hh3_windowed_asof" -> ((s, d) => {
      val toks0 = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
      val dir = graft.core.Scratch.dir("hh3-") + "/hh"
      ext.Profile.writeWindowedHh(s, dir, k = 200)
      for (e <- 0 to 2)
        ext.Profile.ingestWindowedHhBatch(
          toks0.where(col("doc_id") % 3 === e), col("token"),
          col("doc_id") % 3, dir, batchId = e.toLong)
      ext.Profile.heavyHittersWindowed(
          toks0.where(col("doc_id") % 3 < 2), col("token"), dir,
          minEpoch = 0L, asOf = Some(2L))
        .select(col("key").as("token"), col("n"))
        .orderBy("token")
    }),

    // mov1: HEAVY MOVERS between two epochs of the windowed MG store —
    // the day-over-day drift question the per-window report cannot
    // answer ("which tokens CHANGED most", the signal a curation
    // pipeline retunes its filters on): |c1 − c0| ≥ max(N0, N1)/k with
    // exact counts. Recall is PROVABLE from the stored cells alone
    // (a mover's larger count is ≥ max/k ≥ its epoch's N/k, so it is
    // window-heavy there and survives an MG cell —
    // Profile.heavyMoversWindowed scaladoc); the exact phase counts
    // only the candidate semi-join, integer threshold, no division.
    "mov1_heavy_movers" -> ((s, d) => {
      val toks0 = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
      val dir = graft.core.Scratch.dir("mov1-") + "/hh"
      ext.Profile.writeWindowedHh(s, dir, k = 200)
      for (e <- 0 to 1)
        ext.Profile.ingestWindowedHhBatch(
          toks0.where(col("doc_id") % 2 === e), col("token"),
          col("doc_id") % 2, dir, batchId = e.toLong)
      ext.Profile.heavyMoversWindowed(toks0, col("token"),
          col("doc_id") % 2, dir, 0L, 1L)
        .select(col("key").as("token"), col("c0"), col("c1"), col("delta"))
        .orderBy("token")
    }),

    // mov2: mov1's drift report AS OF a pinned version — the movers ×
    // time-travel interaction on the windowed MG store (round-14
    // verdict #5). Batches and epochs are INDEPENDENT axes here
    // (batch = doc_id % 4, epoch = doc_id % 2), so the two POST-PIN
    // ingests add mass to the very epochs the movers compare — a green
    // row proves the pinned cell prefix fed both the candidate union
    // and the integer thresholds, where the head would answer with
    // twice the mass. `data` is the matching pinned corpus slice (the
    // hh3 contract); the expire-boundary edge (movers against an
    // expired epoch fail loudly, folded pins fail loudly) is pinned by
    // Round15Spec — exceptions are not oracle-gradeable.
    "mov2_movers_asof" -> ((s, d) => {
      val toks0 = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
      val dir = graft.core.Scratch.dir("mov2-") + "/hh"
      ext.Profile.writeWindowedHh(s, dir, k = 200)
      for (b <- 0 to 3)
        ext.Profile.ingestWindowedHhBatch(
          toks0.where(col("doc_id") % 4 === b), col("token"),
          col("doc_id") % 2, dir, batchId = b.toLong)
      ext.Profile.heavyMoversWindowed(
          toks0.where(col("doc_id") % 4 < 2), col("token"),
          col("doc_id") % 2, dir, 0L, 1L, asOf = Some(2L))
        .select(col("key").as("token"), col("c0"), col("c1"), col("delta"))
        .orderBy("token")
    }),

    // inc5: INCREMENTAL heavy hitters from a STORED mergeable summary —
    // the bf2/sim7 lifecycle applied to hh1: the archive's Misra–Gries
    // summary commits once (side-write + checked swap), each ingest
    // batch MERGES its own summary in (Agarwal 2012 mergeability — the
    // error bound survives any merge tree, so recall for ≥ n/k is
    // preserved without ever re-reading the archive key stream), and the
    // answer counts ONLY the ≤ k stored candidates via an IN-list
    // literal. Must equal hh1's from-scratch HAVING set over the
    // accumulated corpus (the inc4 discipline).
    "inc5_incremental_hh" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
      val dir = graft.core.Scratch.dir("inc5-")
      ext.Profile.writeHhSummary(toks.where(col("doc_id") % 2 === 0),
        col("token"), k = 200, dir)
      ext.Profile.appendToHhSummary(toks.where(col("doc_id") % 2 === 1),
        col("token"), dir)
      ext.Profile.heavyHittersFromSummary(toks, col("token"), dir)
        .select(col("key").as("token"), col("n"))
        .orderBy("token")
    }),

    // hh1s: inc5's summary lifecycle driven by the REAL STREAMING ENGINE
    // (the a1s/inc1s discipline): three replay batches each merge-shrink
    // their own MG summary into the stored artifact via foreachBatch,
    // with the batch id committed atomically WITH the merged state so
    // at-least-once redelivery is a provable no-op (a summary merge is
    // not naturally idempotent — Ingest.hhSummaryIngest scaladoc). The
    // answer from the stream-built artifact must equal hh1's
    // from-scratch HAVING set, in any batch order (mergeability).
    "hh1s_stream_hh" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val slices = (0 until 3).map(i =>
        docs.where(pmod(col("doc_id"), lit(3)) === i))
      val dir = graft.streaming.Replay.slicedSourceReplay(s, slices,
          "doc_id BIGINT, text STRING", "hh1s-") { (src, dir) =>
        graft.streaming.Ingest.hhSummaryIngest(src, "text", 200,
          s"$dir/hh", s"$dir/ckpt")
      }
      val toks = Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      ext.Profile.heavyHittersFromSummary(toks, col("token"), s"$dir/hh")
        .select(col("key").as("token"), col("n"))
        .orderBy("token")
    }),

    // cms1s: the CMS lifecycle driven by the REAL streaming engine —
    // hh1s's counter-tier sibling: three replay micro-batches fold into
    // the stored sketch via foreachBatch (first builds, later merge,
    // every swap fenced by the batch id since counter addition is not
    // idempotent), then the artifact answers cms1's probes — oracle is
    // the whole-corpus cms verbatim (sketch of a union = sum of batch
    // sketches, whatever the batch boundaries).
    "cms1s_stream_cms" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val slices = (0 until 3).map(i =>
        docs.where(pmod(col("doc_id"), lit(3)) === i))
      val dir = graft.streaming.Replay.slicedSourceReplay(s, slices,
          "doc_id BIGINT, text STRING", "cms1s-") { (src, dir) =>
        graft.streaming.Ingest.cmsIngest(src, "text", s"$dir/cms",
          s"$dir/ckpt")
      }
      val tf = Par.fanOut(Tables.documents(s, d).select(
          explode(TextAnalysis.tokens(col("text"))).as("tok")))
        .where(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("true_cnt"))
      val probes = tf.orderBy(col("true_cnt").desc, col("tok").asc).limit(20)
      ext.Profile.cmsEstimateFromSketch(s, s"$dir/cms", probes, "tok")
        .join(probes, col("k") === col("tok"))
        .select(col("tok"), col("true_cnt"), col("est"),
          (col("est") - col("true_cnt")).as("overcount"))
        .orderBy("tok")
    }),

    // ss1: the stream-stream watermark-bounded INNER join executed by the
    // STREAMING engine — error/click events replayed through
    // Speed.joinWithin (state-store symmetric hash join) to completion,
    // graded by the same interval-join oracle a batch formulation would
    // use. Extends the a1s pattern (graded streaming execution) from
    // windowed aggregates to stream-stream joins.
    "ss1_join_replay" -> ((s, d) => {
      def side(tp: String) = events(s, d).where(col("event_type") === tp)
        .select(col("event_id"), col("ts"), col("user_id"))
      graft.streaming.Replay.joinWithinReplay(s, side("error"), side("click"),
          "30 seconds", "60 minutes", "click_")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("click_event_id"), col("click_ts"))
        .orderBy("event_id", "click_event_id")
    }),

    // ss2: ss1 re-run as FOUR event-time-ordered micro-batches per side
    // (maxFilesPerTrigger staging) so the watermark advances BETWEEN
    // batches and EVICTS buffered join state — the state-lifecycle
    // behavior a single-batch replay never executes (round-6 verdict #8;
    // at 100 TB the join is viable ONLY because state stays bounded by
    // rate × (watermark + within), and this is the row that grades that
    // mechanism end-to-end). Eviction only retires state the time-range
    // bound proves dead, so the output still equals the batch interval
    // join — same oracle as ss1; StreamingSpec asserts numRowsRemoved > 0
    // on the same replay.
    "ss2_join_multibatch" -> ((s, d) => {
      def side(tp: String) = events(s, d).where(col("event_type") === tp)
        .select(col("event_id"), col("ts"), col("user_id"))
      graft.streaming.Replay.joinWithinSlicedReplay(s, side("error"),
          side("click"), 4, "30 seconds", "60 minutes", "click_")._1
        .select(col("event_id"), col("ts"), col("user_id"),
          col("click_event_id"), col("click_ts"))
        .orderBy("event_id", "click_event_id")
    }),

    // ss3: stream-stream LEFT OUTER join through the engine — the join
    // class where emission is driven by STATE LIFECYCLE, not arrival: an
    // error with no click in its hour window emits its null-padded row
    // only when the advancing watermark EXPIRES its buffered state
    // unmatched (Spark rejects an unconstrained outer stream join — the
    // engine could never prove "no future match"; the watermark bound is
    // what makes outer semantics decidable on a stream). Replayed as the
    // ss2 multi-batch staging plus a far-future sentinel slice per side
    // so every real row's state horizon passes before termination; the
    // oracle is the plain batch LEFT interval join.
    "ss3_left_outer_replay" -> ((s, d) => {
      def side(tp: String) = events(s, d).where(col("event_type") === tp)
        .select(col("event_id"), col("ts"), col("user_id"))
      graft.streaming.Replay.joinWithinSlicedReplay(s, side("error"),
          side("click"), 4, "30 seconds", "60 minutes", "click_",
          joinType = "left_outer")._1
        .where(col("event_id") >= 0)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("click_event_id"), col("click_ts"))
        .orderBy("event_id", "click_event_id")
    }),

    // rj1: 1-D range join (price → quadratic-width band) via bucketed
    // blocking — equi-join plan, no nested loop (PlanSpec asserts it)
    "rj1_price_band" -> ((s, d) => {
      import s.implicits._
      val bands = (0 until 10).map(b =>
        (b.toLong, 900.0 + b * b, 900.0 + (b + 1) * (b + 1))).toDF("band_id", "lo", "hi")
      graft.queries.RangeJoin.pointInInterval(
          Tables.part(s, d).select(col("p_partkey"), col("p_retailprice")),
          "p_retailprice", bands, "lo", "hi", bucketWidth = 8.0)
        .select(col("p_partkey"), col("band_id"), col("lo"), col("hi"))
        .orderBy("p_partkey", "band_id")
    }),

    // u1: UNION ALL across heterogeneous sources into one stats relation
    "u1_table_stats" -> ((s, d) => {
      def cnt(name: String) =
        Tables.table(s, d, name).agg(count(lit(1)).as("n_rows"))
          .select(lit(name).as("tbl"), col("n_rows"))
      cnt("customer").unionByName(cnt("orders")).unionByName(cnt("lineitem"))
        .unionByName(cnt("documents")).unionByName(cnt("embeddings"))
        .orderBy("tbl")
    }),

    // ---- extension tier: dedup over documents ----------------------------
    "d1_exact_dedup" -> ((s, d) =>
      Dedup.exactDedup(Tables.documents(s, d), "doc_id", "text")
        .orderBy("content_fp")),
    // inc1: cross-run incremental dedup — the batch replants every archive
    // doc (even ids) plus an internal duplicate of each doc (+100000), so
    // both drop reasons fire: internal dedup keeps the min id, the archive
    // anti-join removes texts ingested by the previous run.
    "inc1_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val archive = docs.where(col("doc_id") % 2 === 0)
      val batch = docs.union(
        docs.select((col("doc_id") + plantUnit(s, d)).as("doc_id"), col("text")))
      Dedup.dedupIncremental(batch, archive, "doc_id", "text")
        .orderBy("doc_id")
    }),
    // del1: RIGHT-TO-BE-FORGOTTEN propagation (ext.Forget scaladoc) —
    // the deletion half of the incremental-ingest story: two tombstone
    // APPENDS (ids ≡0 and ≡4 mod 8 — overlapping requests merge as a
    // set) retire a quarter of the stored archive; the next ingest batch
    // dedups against the LIVING view, so fresh copies of forgotten
    // content provably SURVIVE (the takedown semantics: forgotten docs
    // stop suppressing their own re-submissions) while copies of
    // retained content still drop. O(deleted) per request; compaction is
    // the amortized rewrite, spec-pinned view-invariant.
    "del1_forget_dedup" -> ((s, d) => {
      val pu = plantUnit(s, d)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val dir = graft.core.Scratch.dir("forget-")
      docs.where(col("doc_id") % 2 === 0).write.parquet(s"$dir/arch")
      ext.Forget.forget(docs.where(pmod(col("doc_id"), lit(8)) === 0)
        .select("doc_id"), "doc_id", s"$dir/tomb")
      ext.Forget.forget(docs.where(pmod(col("doc_id"), lit(8)) === 4)
        .select("doc_id"), "doc_id", s"$dir/tomb")
      val living = ext.Forget.applyTombstones(
        s.read.parquet(s"$dir/arch"), "doc_id", s"$dir/tomb")
      val batch = docs.where(pmod(col("doc_id"), lit(4)) === 0)
          .select((col("doc_id") + pu).as("doc_id"), col("text"))
        .unionAll(docs.where(pmod(col("doc_id"), lit(4)) === 2)
          .select((col("doc_id") + 2 * pu).as("doc_id"), col("text")))
        .unionAll(docs.where(col("doc_id") % 2 === 1))
      Dedup.dedupIncremental(batch, living, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // del2s: STREAMING forget propagation — takedown requests arrive as
    // a STREAM and fold into the tombstone store per micro-batch via the
    // K2 foreachBatch sink (the governance × streaming cell): slice 1
    // RE-DELIVERS every slice-0 request (the at-least-once worst case —
    // full overlap), and the living view must be invariant because
    // tombstones are a SET (append-shaped, applied distinct — the one
    // artifact class where redelivery needs no id fencing, exactly why
    // Forget.forget is safe behind foreachBatch where the MG/CMS merges
    // are not). Graded: the post-replay living archive = documents minus
    // every requested id.
    "del2s_stream_forget" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val dir0 = graft.core.Scratch.dir("del2s-")
      val arch = s"$dir0/archive"; val tomb = s"$dir0/tomb"
      docs.write.parquet(arch)
      val reqs = docs.select(col("doc_id")).where(col("doc_id") % 4 === 1)
      val s0 = reqs.where(pmod(col("doc_id"), lit(8)) === 1)
      val s1 = reqs // slice 0's requests redelivered in full + the rest
      graft.streaming.Replay.slicedSourceReplay(s, Seq(s0, s1),
          "doc_id BIGINT", "del2s-") { (src, dir) =>
        graft.core.Sinks.foreachBatchSink(src, s"$dir/ckpt") { (b, _) =>
          ext.Forget.forget(b, "doc_id", tomb)
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      ext.Forget.applyTombstones(s.read.parquet(arch), "doc_id", tomb)
        .select("doc_id").orderBy("doc_id")
    }),

    // del3s: STREAMING takedown into a STORED INDEX tier — del2s drove
    // the takedown stream into the document archive's tombstone store
    // (a pure set union, redelivery-safe for free); this drives it into
    // the HARDEST derived artifact (round-13 verdict #1): the kNN
    // graph's forget WRITES a repair version, so redelivered requests
    // must be VERSION-idempotent, not merely view-idempotent. That
    // falls out of the repair's no-op rule — a retried request finds
    // every tombstone already absent from the head and writes no
    // version (Similarity.repairKnnGraph; Round14Spec pins the version
    // count) — while the tombstone append itself stays a set. Slice 1
    // re-delivers every slice-0 request plus the rest (the
    // at-least-once worst case, full overlap). Oracle = knn1's
    // from-scratch build over corpus-minus-all-requested (knn3's
    // verbatim — the stream-driven forget must land exactly where the
    // batch verb does).
    "del3s_stream_index_forget" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir0 = graft.core.Scratch.dir("del3s-")
      val idx = s"$dir0/graph_art"
      Similarity.writeKnnGraph(emb, "vec_id", "embedding", idx, k = 3)
      val reqs = emb.where(col("vec_id") % 5 === 2).select("vec_id")
      val s0 = reqs.where(pmod(col("vec_id"), lit(10)) === 2)
      val s1 = reqs // slice 0's requests redelivered in full + the rest
      graft.streaming.Replay.slicedSourceReplay(s, Seq(s0, s1),
          "vec_id BIGINT", "del3s-") { (src, dir) =>
        graft.core.Sinks.foreachBatchSink(src, s"$dir/ckpt") { (b, _) =>
          Similarity.forgetFromKnnGraph(b, "vec_id", idx)
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      Similarity.knnGraphFromIndex(s, idx)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // pipe1s: ONE COMPOSED ARTIFACT PIPELINE end-to-end (round-13
    // verdict #7) — the per-tier verb matrices are complete; this row
    // grades their COMPOSITION, the 100 TB production shape: a
    // graft.streaming.Pipeline (bloom+fps content screen → curation →
    // postings + IVF + kNN) over replayComposedPipe's stream, and the
    // graded answer reads from all three index artifacts at once. The
    // planted +1e6 content dups are the one class only the CONTENT
    // screen can stop (every tier's internal id anti-join would admit
    // them), so a green row proves the screen gates the index tiers; the
    // redelivered batch must leave every artifact's version history
    // untouched (Round14Spec pins the segment counts). The takedown set
    // lives entirely in the build population, so no later batch can
    // resurrect it; the batch-2 appends after the takedown exercise
    // every tier's append-after-forget seam (kNN's loud-guard path
    // included). Oracle: three-leg UNION — ret1's BM25, sim7's IVF
    // pipeline and knn1's graph, each derived by guarded substitution
    // over the curated post-takedown population.
    "pipe1s_composed_pipeline" -> ((s, d) => {
      val dir0 = graft.core.Scratch.dir("pipe1s-")
      val p = graft.streaming.Pipeline(Some(s"$dir0/dedup"), pipeCuratedP,
        None, Seq(Tier.postings(s"$dir0/postings"), Tier.ivf(s"$dir0/ivf"),
          Tier.knn(s"$dir0/knn", k = 3)))
      replayComposedPipe(s, d, "pipe1s", p)
      pipeAnswer(s, d, dir0, withPq = false)
    }),

    // pipe2s: pipe1s + the STREAMING DECONTAMINATION GATE + the PQ tier
    // (round-14 verdict #1 and #2) — the full production ingest order.
    // The eval suite is a STORED artifact (cc3's contamination postings,
    // built once — eval suites are fixed while batches stream past);
    // every admitted batch probes it and QUARANTINES colliding docs
    // BEFORE any index append, so contaminated documents never reach an
    // artifact version (the pipe1s composition admitted them — the gap
    // this row closes). The build population is decontaminated by the
    // same probe, so clean ≡ "survives the cc1 predicate" uniformly.
    // The PQ tier joins the composition as the fourth index family:
    // codebooks train over the clean curated build and FREEZE, batches
    // append codes under the stored books (vec-id anti-join idempotence),
    // the mid-stream takedown forgets from all FOUR tiers, and the
    // answer adds a pq leg. Stream and takedown are pipe1s's.
    // Oracle: four-leg UNION, each leg derived by guarded substitution
    // with the cc1 containment predicate folded into the population.
    "pipe2s_decontaminated_pipeline" -> ((s, d) => {
      val pu = plantUnit(s, d)
      val dir0 = graft.core.Scratch.dir("pipe2s-")
      // the eval suite: cc1's planted fixture, stored once, before the
      // build's decontamination probe reads it
      val dt = Tables.documents(s, d).select("doc_id", "text")
      val ev = dt.where(col("doc_id") % 20 === 3)
        .select((col("doc_id") + 5 * pu).as("doc_id"),
          concat(col("text"), lit(" evaltok")).as("text"))
        .union(dt.where(col("doc_id") % 50 === 7)
          .select((col("doc_id") + 6 * pu).as("doc_id"), col("text")))
      Dedup.writeContaminationIndex(ev, "doc_id", "text", s"$dir0/evalidx")
      val p = graft.streaming.Pipeline(Some(s"$dir0/dedup"), pipeCuratedP,
        Some(s"$dir0/evalidx"), Seq(Tier.postings(s"$dir0/postings"),
          Tier.ivf(s"$dir0/ivf"), Tier.pq(s"$dir0/pq", dims = 64, m = 4,
            ksub = 4, iters = 2), Tier.knn(s"$dir0/knn", k = 3)))
      replayComposedPipe(s, d, "pipe2s", p)
      pipeAnswer(s, d, dir0, withPq = true)
    }),

    // pipe3s: the decontamination gate against a ROTATING eval suite —
    // round-15 verdict #1, the last untested composition ordering.
    // pipe2s froze the suite before the stream; production benchmarks
    // rotate WHILE ingest runs: an eval WAVE (cc6s's ingest verb) lands
    // between micro-batches and a RETIRE (cc5's verb) fires later, and
    // the gate must tighten/loosen PER BATCH with no retroactive effect
    // in either direction — batch 0 admits docs the extended suite
    // would have quarantined (admitted is admitted: the index tiers are
    // append-only and nothing re-probes them), batch 1 quarantines
    // against the extended suite, batch 2 re-admits the retired wave's
    // colliders. The suite mutations run INSIDE foreachBatch after the
    // batch's own ingest (the pipe2s takedown placement), so each
    // batch provably probes the suite-as-of-batch: the living view at
    // its own ingest time. Graded output = the final postings
    // population (doc_id, stored doc length) — every admit/quarantine/
    // readmit fate is one row present or absent; the oracle derives
    // per-batch contamination by guarded substitution over the
    // ccPairsSql seam (suite-v0 = wave-2 branch emptied, cc4's device;
    // extended = cc1's pair set) keyed on the batch-residue classes.
    // Content screen and multi-tier breadth stay pipe2s's axes — this
    // row isolates the gate-vs-mutation ordering (no screen, one tier).
    "pipe3s_rotating_eval_pipeline" -> ((s, d) => {
      val pu = plantUnit(s, d)
      val docs = Tables.documents(s, d)
      val dt = docs.select("doc_id", "text")
      val dir0 = graft.core.Scratch.dir("pipe3s-")
      val evalDir = s"$dir0/evalidx"; val postDir = s"$dir0/postings"
      val ev0 = dt.where(col("doc_id") % 20 === 3)
        .select((col("doc_id") + 5 * pu).as("doc_id"),
          concat(col("text"), lit(" evaltok")).as("text"))
      val ev1 = dt.where(col("doc_id") % 50 === 7)
        .select((col("doc_id") + 6 * pu).as("doc_id"), col("text"))
      Dedup.writeContaminationIndex(ev0, "doc_id", "text", evalDir)
      val p = graft.streaming.Pipeline(None, pipeCuratedP, Some(evalDir),
        Seq(Tier.postings(postDir)))
      // build population: the %4=3 quarter, gated against the suite live
      // at build time (v0)
      p.build(docs.where(col("doc_id") % 4 === 3))
      val retired = ev1.select(col("doc_id").as("eval_id"))
      // streamed quarter %4=1 split by mod-12 residue into three batches
      val q = docs.where(col("doc_id") % 4 === 1)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      val slices = Seq(1, 5, 9).map(r =>
        q.where(pmod(col("doc_id"), lit(12)) === r))
      graft.streaming.Replay.slicedSourceReplay(s, slices,
          "doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT",
          "pipe3s-") { (src, dir) =>
        graft.core.Sinks.foreachBatchSink(src, s"$dir/ckpt") { (b, bid) =>
          p.ingest(b)
          // suite rotation BETWEEN batches: the wave lands after batch
          // 0's ingest, the retire after batch 1's — so batch N+1 is
          // the first to probe the mutated suite
          if (bid == 0L)
            Dedup.appendToContaminationIndex(ev1, "doc_id", "text", evalDir)
          if (bid == 1L)
            Dedup.forgetFromContaminationIndex(retired, "eval_id", evalDir)
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      ext.Retrieval.postingsLiving(s, postDir)
        .select(col("doc_id"), col("len_d").cast("long").as("doc_len"))
        .distinct()
        .orderBy("doc_id")
    }),

    // bf1: inc1's fixture through the BLOOM-pruned archive check — the
    // 100 TB shape: the archive folds into one fixed-size mergeable
    // filter (the operator's only broadcast, 1 row), "definitely new"
    // batch rows skip the anti-join, only maybe-present candidates reach
    // it. Bloom parameters cannot change results (no false negatives;
    // false positives re-checked exactly), so the oracle is the SAME
    // plain anti-join as inc1 — a green row proves prune ≡ exact.
    "bf1_bloom_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val archive = docs.where(col("doc_id") % 2 === 0)
      val batch = docs.union(
        docs.select((col("doc_id") + plantUnit(s, d)).as("doc_id"), col("text")))
      Dedup.dedupIncrementalBloom(batch, archive, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // bf2: bf1 answered from STORED artifacts — the production shape
    // bf1's own scaladoc prices ("both archive passes vanish"): the
    // bloom filter and the fingerprint index are MAINTAINED files
    // (Dedup.writeBloomIndex / appendToBloomIndex — OR-merged filter,
    // appended fps; yesterday's filter never rebuilds), and the dedup
    // (dedupIncrementalBloomFromIndex) fingerprints ONLY the batch —
    // archive text is never re-read. Build over one quarter, a
    // maintenance batch appends another (so the probed filter is
    // provably the MERGED one — archive = doc_id % 2 = 0 exactly),
    // oracle = bf1's verbatim: stored ≡ inline ≡ exact.
    "bf2_stored_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val dir = graft.core.Scratch.dir("bf2-")
      Dedup.writeBloomIndex(docs.where(col("doc_id") % 4 === 0), "text", dir)
      Dedup.appendToBloomIndex(docs.where(col("doc_id") % 4 === 2), "text", dir)
      val batch = docs.union(
        docs.select((col("doc_id") + plantUnit(s, d)).as("doc_id"), col("text")))
      Dedup.dedupIncrementalBloomFromIndex(batch, "doc_id", "text", dir)
        .orderBy("doc_id")
    }),

    // bf3s: STREAMING maintenance of the stored bloom+fps index — the
    // dedup tier's foreachBatch cell (inc1s/inc2s maintain plain
    // archives; the bf2 ARTIFACT had build/append/as-of but no streaming
    // row): the engine replays the second corpus quarter in
    // micro-batches, each folding into the store via ingestBloomBatch —
    // idempotence is CONTENT-KEYED (the fingerprint is the tier's
    // natural key; a fully-redelivered batch anti-joins to empty and
    // touches neither artifact), and slice 1 RE-DELIVERS every slice-0
    // document (the at-least-once worst case, full overlap). Graded:
    // build(%4=0) + streamed(%4=2) = exactly the even archive, so the
    // post-replay store answers bf1's oracle verbatim.
    "bf3s_stream_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val dir0 = graft.core.Scratch.dir("bf3s-")
      val idx = s"$dir0/idx"
      Dedup.writeBloomIndex(docs.where(col("doc_id") % 4 === 0), "text", idx)
      val quarter = docs.where(col("doc_id") % 4 === 2)
      val s0 = quarter.where(pmod(col("doc_id"), lit(8)) === 2)
      val s1 = quarter // slice 0 redelivered in full + the rest
      graft.streaming.Replay.slicedSourceReplay(s, Seq(s0, s1),
          "doc_id BIGINT, text STRING", "bf3s-") { (src, dir) =>
        graft.core.Sinks.foreachBatchSink(src, s"$dir/ckpt") { (b, _) =>
          Dedup.ingestBloomBatch(b, "text", idx)
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      val batch = docs.union(
        docs.select((col("doc_id") + plantUnit(s, d)).as("doc_id"), col("text")))
      Dedup.dedupIncrementalBloomFromIndex(batch, "doc_id", "text", idx)
        .orderBy("doc_id")
    }),

    // inc7: TIME TRAVEL for the dedup archive — the curation-
    // reproducibility verb on the bf2 artifact (round-12 verdict #5:
    // every other mutated store answered as-of, but yesterday's dedup
    // run could not be re-derived after today's append). bf2's exact
    // fixture with the read pinned to YESTERDAY: fingerprints build over
    // one quarter (version 0), a maintenance batch appends another as a
    // committed segment (version 1), and the pinned version-0 dedup must
    // drop exactly what a day-one run dropped — the appended quarter's
    // texts provably SURVIVE. The probe still rides the CURRENT bloom
    // (later OR-merges only set bits — a superset filter adds only false
    // positives, which the exact anti-join against the PINNED fps
    // removes), so no per-version filter is stored. Oracle = bf1's with
    // the archive restricted to the version-0 population.
    "inc7_dedup_asof" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val dir = graft.core.Scratch.dir("inc7-")
      Dedup.writeBloomIndex(docs.where(col("doc_id") % 4 === 0), "text", dir)
      Dedup.appendToBloomIndex(docs.where(col("doc_id") % 4 === 2), "text", dir)
      val batch = docs.union(
        docs.select((col("doc_id") + plantUnit(s, d)).as("doc_id"), col("text")))
      Dedup.dedupIncrementalBloomFromIndex(batch, "doc_id", "text", dir,
          asOf = Some(0L))
        .orderBy("doc_id")
    }),

    // pr1: fixed-point PageRank over the customer↔supplier trade graph
    // (distinct (custkey, suppkey) pairs via orders⋈lineitem, both
    // directions = undirected walk; suppliers offset +10⁹ into the shared
    // id space — custkey stays ≪ 10⁹ up to SF ~10⁴, far past any graded
    // scale). Integer fixed-point arithmetic end-to-end, so the 3-round
    // iteration is bit-identical in both engines — the oracle unrolls the
    // same three rounds as CTEs.
    "pr1_pagerank" -> ((s, d) => {
      val e0 = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + 1000000000L).as("s"))
        .distinct()
      // both directions from ONE subtree (lp1's explode shape, not a union
      // of the swapped projection — the union de-canonicalizes the shared
      // derivation and the finalized plan runs the orders⋈lineitem
      // join+distinct TWICE, one ShuffleQueryStage per branch; round-9
      // verdict's top finding)
      val edges = e0.select(explode(array(
          struct(col("c").as("src"), col("s").as("dst")),
          struct(col("s").as("src"), col("c").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      Graph.pageRankFixedPoint(edges, iterations = 3)
        .orderBy("node")
    }),

    // tr1: TEXTRANK keyword extraction (Mihalcea & Tarau 2004) — pr1's
    // fixed-point kernel run over the word ADJACENCY graph: content
    // words (≥ 4 chars) that appear next to each other link, undirected;
    // a word's stationary mass is its keyword score. Node ids are the
    // portable 60-bit sha256 prefix (the sp1/d4 hash family — an
    // improbable collision would merge the same two words in BOTH
    // engines), edges canonicalize least/greatest before the distinct so
    // both textual orders collapse to ONE undirected edge, and the walk
    // is the identical 3-round integer iteration pr1's oracle unrolls.
    // Output: global top-20 keywords, ties broken on word.
    //
    // Shape at scale: one corpus tokenize pass (fanned out), pairs
    // collapse map-side to the DISTINCT adjacency vocabulary (edge count
    // bounded by vocab², in practice ~vocab·avg-neighbors); the
    // iteration then runs entirely on vocabulary-sized relations.
    "tr1_textrank" -> ((s, d) => {
      import graft.functions.VectorExpressions
      val ws = filter(TextAnalysis.tokens(col("text")),
        t => length(t) >= 4)
      val base = Par.fanOut(Tables.documents(s, d).select(ws.as("ws")))
        .select(col("ws"),
          VectorExpressions.sha60TokenHashesNative(col("ws")).as("hs"))
      val idx = when(size(col("hs")) >= 2, sequence(lit(0), size(col("hs")) - 2))
        .otherwise(array().cast("array<int>"))
      val pairs = base.select(explode(transform(idx, i =>
          struct(element_at(col("hs"), i + 1).as("x"),
            element_at(col("hs"), i + 2).as("y")))).as("p"))
        .select(least(col("p.x"), col("p.y")).as("a"),
          greatest(col("p.x"), col("p.y")).as("b"))
        .where(col("a") =!= col("b")).distinct()
      val edges = pairs.select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val vocab = base.select(explode(col("ws")).as("word")).distinct()
        .select(col("word"), element_at(
          VectorExpressions.sha60TokenHashesNative(array(col("word"))), 1)
          .as("node"))
      Graph.pageRankFixedPoint(edges, iterations = 3)
        .join(vocab, "node")
        .select(col("word"), col("rank_fp"))
        // distributed top-k (TakeOrdered) FIRST; the rank window then
        // orders 20 rows, not the vocabulary
        .orderBy(col("rank_fp").desc, col("word").asc).limit(20)
        .select(row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("rank_fp").desc, col("word").asc))
            .cast("long").as("rank"),
          col("word"), col("rank_fp"))
        .orderBy("rank")
    }),

    // lp1: label-propagation communities over the part co-occurrence
    // graph (tri1's graph — unipartite; synchronous LPA oscillates on
    // bipartite graphs, see Graph.labelPropagation scaladoc). Three
    // deterministic rounds — most-frequent neighbor label, min tie-break,
    // integer-only — so the oracle unrolls the identical rounds as CTEs.
    "lp1_label_prop" -> ((s, d) => {
      val pl = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"))
      val eu = pl.groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(
          graft.functions.VectorExpressions.pairExpandNative(col("ps"))).as("p"))
        // both directions from ONE subtree (explode, not union — a union
        // of the swapped projection de-canonicalizes the shared derivation
        // and re-scans lineitem per branch at cache build)
        .select(explode(array(
          struct(call_function("shiftright", col("p"), lit(32)).as("src"),
            col("p").bitwiseAND(lit(0xffffffffL)).as("dst")),
          struct(col("p").bitwiseAND(lit(0xffffffffL)).as("src"),
            call_function("shiftright", col("p"), lit(32)).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      Graph.labelPropagation(eu, iterations = 3).orderBy("node")
    }),

    // kcore1: fixed-round K-CORE PEELING over the part co-occurrence
    // graph — three rounds at the SF-adaptive threshold k = ⌊¾·avg deg⌋+1
    // (Graph.kCorePeel scaladoc: avg+1 cascades this graph to empty; ¾
    // peels the fringe + knock-on layer, ~22% of nodes at sf0.01);
    // survivors with residual degree. The oracle unrolls the identical
    // three integer rounds.
    "kcore1_peel" -> ((s, d) => {
      val pl = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"))
      val eu = pl.groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(
          graft.functions.VectorExpressions.pairExpandNative(col("ps"))).as("p"))
        .select(explode(array(
          struct(call_function("shiftright", col("p"), lit(32)).as("src"),
            col("p").bitwiseAND(lit(0xffffffffL)).as("dst")),
          struct(col("p").bitwiseAND(lit(0xffffffffL)).as("src"),
            call_function("shiftright", col("p"), lit(32)).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      Graph.kCorePeel(eu, rounds = 3).orderBy("node")
    }),

    // tri1: per-node triangle counts over the part CO-OCCURRENCE graph
    // (parts sharing an order are adjacent; triangles = part triples
    // pairwise co-bought, possibly via three different orders — the
    // community-density signal). Edge build: per-order sorted part set →
    // native pair expansion → distinct; counting is the degree-ordered
    // wedge enumeration (Graph.triangleCounts scaladoc). The oracle
    // enumerates each triangle once in plain id order (a<b<c) — the
    // triangle SET is orientation-invariant, so the simple SQL form and
    // the skew-proof Spark form must agree exactly.
    "tri1_triangle_counts" -> ((s, d) => {
      // no pre-distinct: collect_set dedups parts within an order, and
      // triangleCounts dedups the cross-order repeat pairs — a distinct
      // here would be a full extra shuffle of the scan
      val pl = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = pl.groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(
          graft.functions.VectorExpressions.pairExpandNative(col("ps"))).as("p"))
        .select(call_function("shiftright", col("p"), lit(32)).as("u"),
          col("p").bitwiseAND(lit(0xffffffffL)).as("v"))
      // no .distinct() here: triangleCounts canonicalizes + dedups anyway
      Graph.triangleCounts(edges).orderBy("node")
    }),

    // ccmp1: CONNECTED COMPONENTS over the frequent-co-purchase graph
    // (fi1's support-≥2 pairs as edges) — "product families" by
    // transitive co-purchase, the graph tier's exact clustering primitive
    // (and the general-graph form of the clusterRoots fixpoint sd1
    // already grades on near-dup pairs). Unlike pr1/lp1 the contract has
    // NO iteration count — min-label propagation runs to convergence, so
    // the oracle states the semantics engine-free as recursive transitive
    // closure: component(v) = min id reachable from v.
    "ccmp1_components" -> ((s, d) =>
      Graph.connectedComponents(
          Basket.frequentPairs(Tables.lineitem(s, d), minSupport = 2L),
          "part_a", "part_b")
        .orderBy("node")),

    // inc4: INCREMENTAL CONNECTED COMPONENTS — ccmp1's archive-friendly
    // form (the graph member of the inc1/inc3 family): the even-order
    // co-purchase graph folds into a label store, then the odd-order
    // batch merges against the label STAR — O(labels + batch) per round,
    // never O(archive edges) — provably ≡ from-scratch over the union,
    // which is exactly what the oracle recomputes
    // (Graph.incrementalComponents scaladoc).
    "inc4_incremental_components" -> ((s, d) => {
      def pairs(f: Column => Column) = Basket.frequentPairs(
        Tables.lineitem(s, d).where(f(col("l_orderkey"))), minSupport = 2L)
      val labels = Graph.connectedComponents(pairs(_ % 2 === 0),
        "part_a", "part_b")
      val e1 = pairs(_ % 2 === 1)
        .select(col("part_a").as("src"), col("part_b").as("dst"))
      Graph.incrementalComponents(labels, e1).orderBy("node")
    }),

    // bfs1: fixed-round multi-source BFS over ccmp1's symmetric
    // frequent-pair graph — hop distance (0..3) from the 3 lowest part
    // ids; level-synchronous frontier expansion, one cached-edge join +
    // one anti-join per round, frontier-sized frames only
    // (Graph.bfsHops scaladoc). The oracle unrolls the identical levels.
    "bfs1_seed_hops" -> ((s, d) => {
      // localCheckpoint: the pair relation has THREE consumers (both
      // union orientations + the seed derivation) across separate
      // actions — without the barrier the pair-expansion aggregate runs
      // once per consumer (measured 3.5 s → the checkpoint collapses it
      // to one; the kCorePeel return-shape discipline)
      val p = Basket.frequentPairs(Tables.lineitem(s, d), minSupport = 2L)
        .localCheckpoint()
      val e = p.select(col("part_a").as("src"), col("part_b").as("dst"))
        .unionByName(p.select(col("part_b").as("src"),
          col("part_a").as("dst")))
      val seeds = e.select(col("src").as("node")).distinct()
        .orderBy("node").limit(3)
      Graph.bfsHops(e, seeds, rounds = 3).orderBy("node")
    }),

    // wsp1: WEIGHTED shortest paths (3-round Bellman–Ford) over the same
    // frequent-pair graph as bfs1, with co-purchase strength as closeness
    // (w = max(1, 8 − n_orders)): bfs1 grades hop reachability, this
    // grades the cost-aware route — a 2-edge strong detour beats a direct
    // weak edge, which hop counting cannot express. Integer weights keep
    // every distance engine-exact; the oracle unrolls the identical three
    // min-relaxations (Graph.weightedHops scaladoc).
    "wsp1_weighted_paths" -> ((s, d) => {
      val e = coPurchaseWeightedEdges(s, d)
      val seeds = e.select(col("src").as("node")).distinct()
        .orderBy("node").limit(3)
      Graph.weightedHops(e, seeds, rounds = 3).orderBy("node")
    }),

    // fp1: FREQUENT TRIPLES via the Apriori candidate-pruning step over
    // the same per-order baskets as bfs1's pair graph — items outside
    // any frequent pair drop before the basket rebuild, only frequent
    // (a,b) legs expand, (b,c)/(a,c) legs prune before the exact count;
    // recall-exact by support monotonicity, explode volume bounded by
    // pair structure instead of C(basket,3)
    // (Basket.frequentTriples scaladoc). The oracle states the plain
    // 3-way self-join HAVING.
    "fp1_frequent_triples" -> ((s, d) =>
      Basket.frequentTriples(Tables.lineitem(s, d), minSupport = 2L)),

    // mst1: fixed-round BORŮVKA minimum-spanning forest over wsp1's
    // weighted co-purchase graph — the cheapest edge set that still
    // connects what it can (single-linkage clustering's dendrogram):
    // each round every component claims its minimum edge under the total
    // order (w, a, b) — unique claims, provably acyclic, MST-safe by the
    // cut property — then components merge through the claims via the
    // ccmp1 closure and the next round sees the quotient
    // (Graph.boruvkaEdges scaladoc). The oracle unrolls both rounds with
    // the identical tie-break and restates the merge as the recursive
    // closure.
    "mst1_boruvka" -> ((s, d) => {
      Graph.boruvkaEdges(coPurchaseWeightedEdges(s, d), rounds = 2)
        .select(col("a").as("part_a"), col("b").as("part_b"), col("w"))
    }),

    // mst2: Borůvka TO CONVERGENCE — the COMPLETE minimum spanning forest
    // over the same graph (mst1 grades the fixed-round prefix; this
    // closes the lifecycle the ccmp1 way: no round count in the
    // contract — Graph.boruvkaForest loops until a round claims nothing,
    // ≤ log₂(n) rounds since components at least halve). The oracle
    // unrolls a FIXED generous round budget (7; the graded corpus
    // converges in 5 — measured, with the giant component at 1 860
    // nodes): Borůvka rounds past convergence claim NOTHING (no
    // cross-component edge remains), so the unrolled form states the
    // identical fixpoint while staying engine-free and recursive-CTE
    // expressible. Distinct weights under the (w, a, b) total order make
    // the complete MSF unique, so fixed-point equality is exact. The
    // BUDGETED entry point makes the handshake loud (round-10 ADVICE):
    // if a testdata regeneration deepens the component chain past the
    // oracle's 7-round unroll, the engine raises an explicit round-budget
    // error instead of a silent hash mismatch. mst3 (same graph, same
    // oracle) is covered by this same corpus-level assert.
    "mst2_boruvka_msf" -> ((s, d) => {
      Graph.boruvkaForestBudgeted(coPurchaseWeightedEdges(s, d),
          oracleRounds = 7)
        .select(col("a").as("part_a"), col("b").as("part_b"), col("w"))
    }),

    // scc1: STRONGLY CONNECTED COMPONENTS of the directed nation-level
    // trade-flow graph — the directed counterpart ccmp1 cannot express
    // (A→B trade does not imply B→A). Edge build is corpus-scale (the
    // pr1 join spine aggregated to nation pairs); the graph itself is
    // bounded by nations², so the oracle can state scc(u) = min of u's
    // mutual-reachability class as a recursive-CTE closure while the
    // engine runs the scalable FW-BW-MIN peel
    // (Graph.stronglyConnectedComponents scaladoc). Above-average flows
    // survive (n·npairs ≥ total — scale-free, no fixed count pinned).
    "scc1_trade_flow_scc" -> ((s, d) =>
      Graph.stronglyConnectedComponents(nationFlowEdges(s, d))
        .orderBy("node")),

    // topo1: the CONDENSATION DAG layered topologically — what scc1's
    // decomposition exists for: contract each SCC to one node, then Kahn
    // peeling assigns every component its longest-path depth (layer 0 =
    // pure sources; stages in a layer are independent — the scheduling /
    // critical-path primitive). Oracle states the equivalence directly:
    // layer = MAX recursive path depth from the in-degree-0 components
    // (Graph.topologicalLayers scaladoc; the condensation is provably
    // acyclic, so the recursion terminates).
    "topo1_condensation_layers" -> ((s, d) => {
      val edges = nationFlowEdges(s, d).localCheckpoint()
      val lab = Graph.stronglyConnectedComponents(edges).localCheckpoint()
      val ce = edges
        .join(lab.select(col("node").as("src"), col("scc").as("su")), "src")
        .join(lab.select(col("node").as("dst"), col("scc").as("sv")), "dst")
        .where(col("su") =!= col("sv"))
        .select(col("su").as("src"), col("sv").as("dst")).distinct()
      val layers = Graph.topologicalLayers(ce,
        extraNodes = Some(lab.select(col("scc").as("node")).distinct()))
      lab.groupBy("scc").agg(count(lit(1)).as("n_members"))
        .join(layers.select(col("node").as("scc"), col("layer")), "scc")
        .select(col("scc"), col("layer"), col("n_members"))
        .orderBy("scc")
    }),

    // mst3: INCREMENTAL MSF — the forest maintained from the STORED
    // artifact under an edge-batch append via SPARSIFICATION
    // (MSF(G₁∪G₂) ⊆ MSF(G₁) ∪ MSF(G₂), so Borůvka re-runs over
    // node-sized stored state ∪ batch, never the archived edge set;
    // naturally idempotent, no batch-id fencing needed —
    // Graph.appendToMsfForest scaladoc). Edges split by parity of
    // (src + dst); result must equal mst2's from-scratch forest — its
    // oracle verbatim.
    "mst3_incremental_msf" -> ((s, d) => {
      val e = coPurchaseWeightedEdges(s, d)
      val dir = graft.core.Scratch.dir("mst3-") + "/msf"
      Graph.writeMsfForest(e.where((col("src") + col("dst")) % 2 === 0), dir)
      Graph.appendToMsfForest(e.where((col("src") + col("dst")) % 2 === 1), dir)
      Graph.msfFromStore(s, dir)
        .select(col("a").as("part_a"), col("b").as("part_b"), col("w"))
        // the store read has no inherent order (parquet file order) —
        // restore the deterministic unique-key sort the invariant wants
        .orderBy("part_a", "part_b")
    }),

    // er1: ENTITY RESOLUTION → GOLDEN RECORD over a planted product
    // catalog: originals plus three deterministic variant classes — a
    // name-mutated copy ('zz ' prefix, no SKU: only the word-set-Jaccard
    // leg can link it), a relisted copy (unrelated name, same SKU: only
    // the exact-key leg can link it), and a second name mutation on a
    // sub-slice ('yy ', linking transitively through the original into a
    // 3-member cluster). Membership = EntityResolution.matchComponents
    // (d2 blocking + ccmp1 closure); survivorship = min-id component,
    // member count, min name, max price. The oracle restates both match
    // legs as blocked SQL joins and the closure as ccmp1's recursive CTE.
    "er1_golden_record" -> ((s, d) => {
      val pu = partUnit(s, d)
      // entity name = name+brand+type (4 tokens): p_name alone is a
      // 64-value vocabulary at sf0.01 — every record would exact-match
      // dozens of others and the catalog would collapse into giant
      // chains. The composite puts variants at J = 4/5 = 0.8, natural
      // 3-of-4 attribute collisions at 0.6, exact composite duplicates
      // at 1.0 — the 0.75 gate links variants and true duplicates,
      // never the 3-of-4 neighbors.
      val p0 = Tables.table(s, d, "part").select(
        col("p_partkey").cast("long").as("pk"),
        concat_ws(" ", col("p_name"), col("p_brand"), col("p_type"))
          .as("p_name"),
        col("p_retailprice").cast("double").as("price"))
      val sku = concat(lit("S"), col("pk"))
      val recs = p0.select(col("pk").as("id"), col("p_name").as("name"),
          sku.as("sku"), col("price"))
        .unionAll(p0.where(col("pk") % 10 === 0)
          .select((col("pk") + pu).as("id"),
            concat(lit("zz "), col("p_name")).as("name"),
            lit(null).cast("string").as("sku"), (col("price") + 10).as("price")))
        .unionAll(p0.where(col("pk") % 10 === 1)
          .select((col("pk") + 2 * pu).as("id"),
            concat(lit("listing "), col("pk").cast("string")).as("name"),
            sku.as("sku"), (col("price") - 5).as("price")))
        .unionAll(p0.where(col("pk") % 20 === 0)
          .select((col("pk") + 3 * pu).as("id"),
            concat(lit("yy "), col("p_name")).as("name"),
            lit(null).cast("string").as("sku"), (col("price") + 20).as("price")))
        // localCheckpoint: the 4-branch union is consumed 4× (the three
        // matchComponents legs + the survivorship join) — without the
        // barrier that is 16 part scans in the finalized plan (the bfs1
        // fixture discipline; the operator's scaladoc leaves pinning a
        // catalog-sized relation to the caller, and this fixture is one)
        .localCheckpoint()
      ext.EntityResolution.matchComponents(recs, "id", "name", "sku",
          minJaccard = 0.75)
        .join(recs, "id")
        .groupBy("component")
        .agg(count(lit(1)).as("n_members"), min("name").as("first_name"),
          max("price").as("max_price"))
        .orderBy("component")
    }),

    // inc2: cross-run INCREMENTAL NEAR-dup dedup — inc1's fuzzy
    // counterpart. Archive = even-id docs; batch = odd-id docs plus a
    // planted near-dup of every archive doc (+700000, one appended token:
    // shingle-Jaccard n/(n+1) ≥ 0.9 vs its archive original, far above
    // the 0.7 threshold) — so every planted row provably drops and odd
    // docs survive unless they naturally near-dup an archive doc (the
    // oracle recomputes exactly that with exact SQL Jaccard; recall
    // equivalence of the band blocking on this corpus is the property
    // d3's oracle already proves).
    "inc2_incremental_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val archive = docs.where(col("doc_id") % 2 === 0)
      val batch = docs.where(col("doc_id") % 2 === 1)
        .union(archive.select((col("doc_id") + 7 * plantUnit(s, d)).as("doc_id"),
          concat(col("text"), lit(" graftdup")).as("text")))
      // The archive side runs off its STORED artifacts, exactly as the
      // ingest sink maintains them at append time (round-6 verdict #1):
      // signature store bucketed on id, band index bucketed on its single
      // bh key (derived FROM the stored signatures — archive text is
      // shingled once at write time and never again; NearDupIndexSpec
      // pins that the graded check's plan reads no archive text).
      val root = graft.core.Scratch.dir("inc2-")
      s.sql("DROP TABLE IF EXISTS graft_inc2_sig")
      s.sql("DROP TABLE IF EXISTS graft_inc2_idx")
      Layout.writeBucketed(Dedup.shingleSignatures(archive, "doc_id", "text"),
        "graft_inc2_sig", "id", 8, path = Some(s"$root/sig"))
      Layout.writeBucketed(Dedup.bandIndex(s.table("graft_inc2_sig")),
        "graft_inc2_idx", "bh", 8, path = Some(s"$root/idx"))
      Dedup.nearDupIncrementalIndexed(batch, s.table("graft_inc2_idx"),
          s.table("graft_inc2_sig"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // pack1: sharded greedy sequence packing (concat-and-cut layout):
    // chunk assignment from a per-shard running token count
    "pack1_sequence_packing" -> ((s, d) =>
      ext.Sampling.packSequences(
          Tables.documents(s, d).select(col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).as("n_tokens")),
          col("doc_id"), col("n_tokens"), ctxLen = 512, shards = 8)
        .orderBy("doc_id")),
    // ds1: substring-duplication screen (long-n-gram approximation of
    // suffix-array substring dedup) over a corpus with planted FULL-overlap
    // copies (+pu, one appended token: every original 20-gram shared)
    // and planted CROSS-doc boilerplate (+3pu on a 5% slice: a common
    // 25-token prefix, so those docs share spans with each other too) —
    // partial duplication that d1's whole-doc hash cannot see.
    // PLANT-OFFSET CONVENTION (ds1/ds2/inc1/inc1s/inc2/inc2s/bf1/cur1/
    // cur2/cc1 + their oracles): planted re-keys are doc_id + k·plantUnit,
    // where plantUnit > max(doc_id) is derived from the corpus (see the
    // helper's scaladoc) — collision-free at ANY SF by construction, with
    // k·plantUnit ≡ k (mod 3) preserving the replay-slice arithmetic the
    // retired fixed k·100000 offsets had. The remaining FIXED offsets on
    // other tables (orders +10⁷, custkey +10⁶, suppkey +10⁹, vec_id
    // +10⁶) have 200-600× headroom over sf1 and stay BOUND-CHECKED by
    // PlantedFixtureSpec. Test fixtures only — no production operator
    // re-keys ids.
    "ds1_substring_dups" -> ((s, d) => {
      val pu = plantUnit(s, d)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val planted = docs
        .union(docs.select((col("doc_id") + pu).as("doc_id"),
          concat(col("text"), lit(" graftdup")).as("text")))
        .union(docs.where(col("doc_id") % 20 === 5)
          .select((col("doc_id") + 3 * pu).as("doc_id"),
            concat(lit(BoilerPrefix + " "), col("text")).as("text")))
      Dedup.substringDupStats(planted, "doc_id", "text", n = 20)
        .orderBy("doc_id")
    }),
    // ds2: span REMOVAL over the identical ds1 fixture — ds1 measures the
    // shared-span fraction, ds2 clips the shared spans and rebuilds the
    // text (the CCNet/RefinedWeb boilerplate-clip step). Every original
    // doc's spans are all shared with its +100000 copy, so originals strip
    // to the tokens outside any 20-gram (short docs pass through whole),
    // and the planted boilerplate prefix vanishes from the +300000 rows —
    // the oracle recomputes all of it span-for-span.
    "ds2_strip_spans" -> ((s, d) => {
      val pu = plantUnit(s, d)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val planted = docs
        .union(docs.select((col("doc_id") + pu).as("doc_id"),
          concat(col("text"), lit(" graftdup")).as("text")))
        .union(docs.where(col("doc_id") % 20 === 5)
          .select((col("doc_id") + 3 * pu).as("doc_id"),
            concat(lit(BoilerPrefix + " "), col("text")).as("text")))
      Dedup.stripSharedSpans(planted, "doc_id", "text", n = 20)
        .orderBy("doc_id")
    }),
    // ld1: INTRA-document line dedup — the within-page boilerplate
    // companion to ds1/ds2's cross-document spans. The corpus has no
    // newlines, so the fixture synthesizes lines (a break after every 5th
    // token via one global regex both engines run identically) and plants
    // a guaranteed repeat (each doc's first line re-appended); dedupLines
    // keeps first occurrences in order as ONE codegen'd projection —
    // split / array_distinct (order-preserving) / array_join, zero
    // shuffles, zero custom kernels.
    "ld1_line_dedup" -> ((s, d) => {
      val lined = Tables.documents(s, d).select(col("doc_id"),
        regexp_replace(col("text"), "((?:\\S+ ){4}\\S+) ", "$1\n").as("lx"))
      val planted = lined.select(col("doc_id"),
        concat(col("lx"), lit("\n"), split(col("lx"), "\n", -1).getItem(0))
          .as("text"))
      TextAnalysis.dedupLines(planted, "doc_id", "text", delim = "\n",
          outSep = " | ")
        .orderBy("doc_id")
    }),

    "d2_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text")
        .orderBy("id_a", "id_b")),

    // leak1: TRAIN/TEST SPLIT-LEAKAGE audit — the decontamination check
    // WITHIN a corpus that cc1/cc2 run against an external eval suite:
    // every near-dup pair (d2's exact blocked semantics) annotated with
    // the sides sp1's hash split assigns its members, `leaks` = the pair
    // straddles train vs held-out — the contamination that silently
    // inflates held-out metrics. Sides are a PURE function of doc_id
    // (the sha-60 split projection), so the audit adds ZERO joins to the
    // pair stream — the right 100 TB shape; all pairs report (an audit
    // shows clean pairs as clean), leaking ones flagged.
    "leak1_split_leakage" -> ((s, d) => {
      def sideOf(c: Column) = {
        val b = ext.Sampling.hashBucket(c, "graft")
        when(b < 80, lit("train")).when(b < 90, lit("val"))
          .otherwise(lit("test"))
      }
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text")
        .select(col("id_a"), col("id_b"), col("j"),
          sideOf(col("id_a")).as("split_a"), sideOf(col("id_b")).as("split_b"))
        .withColumn("leaks", ((col("split_a") === "train") =!=
          (col("split_b") === "train")).cast("int"))
        .orderBy("id_a", "id_b")
    }),

    // leak2: CLUSTER-SAFE SPLIT ASSIGNMENT — leak1's audit turned into
    // the FIX (the Dolma/RedPajama curation rule): near-dup CLUSTERS
    // (components over d2's exact blocked pairs) are the split unit, so
    // no near-dup pair can ever straddle train/eval — every member
    // inherits its cluster ROOT's hash bucket, and singletons are their
    // own root (root = doc_id), making the assignment a pure function
    // of the root id. 100 TB shape: the pair graph is the blocked d2
    // stream (never all-pairs), components run over the sparse pair
    // set only (pair-volume-sized, the ccmp1 kernel with the bounded
    // driver-union-find switch), and the final label join broadcasts
    // the cluster-sized root map. Oracle: d2's pair SQL + the recursive
    // min-id closure + leak1's sha-bucket split, all by guarded
    // substitution.
    "leak2_cluster_safe_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
        .select(col("id_a"), col("id_b"))
      val comps = Graph.connectedComponents(pairs, "id_a", "id_b")
      val roots = docs.select(col("doc_id"))
        .join(comps.select(col("node").as("doc_id"), col("component")),
          Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("root"))
      ext.Sampling.withSplit(roots, col("root"), "graft")
        .select(col("doc_id"), col("root"), col("split"))
        .orderBy("doc_id")
    }),

    // dsz1: NEAR-DUP CLUSTER SIZE HISTOGRAM — the dedup IMPACT report a
    // curation run publishes before collapsing ("how much of the corpus
    // is clusters of 2? is there a mega-cluster?" — mega-clusters are
    // template/boilerplate families that deserve a rule, not pairwise
    // dedup): cluster sizes over leak2's components (singletons
    // included as size-1 clusters — a histogram that omitted them would
    // overstate duplication), reduced to (csize, n_clusters, n_docs).
    // Same 100 TB shape as leak2: components over the blocked pair
    // stream only, two label-sized aggregates after.
    "dsz1_dup_cluster_histogram" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
        .select(col("id_a"), col("id_b"))
      val comps = Graph.connectedComponents(pairs, "id_a", "id_b")
      val roots = docs.select(col("doc_id"))
        .join(comps.select(col("node").as("doc_id"), col("component")),
          Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("root"))
      roots.groupBy("root").agg(count(lit(1)).as("csize"))
        .groupBy("csize").agg(count(lit(1)).as("n_clusters"))
        .select(col("csize"), col("n_clusters"),
          (col("csize") * col("n_clusters")).as("n_docs"))
        .orderBy("csize")
    }),

    // exp1: the TRAINING-EXPORT composition — the batch half of the
    // production pipeline (pipe1s/pipe2s grade the index side; this
    // grades the emit-training-shards side): curation screen → exact
    // dedup (keep min id per content fingerprint, d1's rule) →
    // CLUSTER-SAFE split (leak2's near-dup closure assigns every doc
    // its cluster root's sha bucket — computed over the FULL corpus
    // DELIBERATELY, so a document's split fate is stable under
    // curation re-tuning; flipping train/test membership by changing a
    // length threshold is the reproducibility twin of the leakage
    // bug) → train split only → pack1's greedy concat-and-cut packing
    // into 8 shards. Scale shape: each leg is its separately-graded
    // operator (the pair stream blocked, the closure label-sized, the
    // screens row-local, the packing one window) — composition adds
    // joins, never new shuffle classes. Oracle: leak2's closure by
    // guarded substitution + d1's fingerprint + pack1's running-total
    // window, chained.
    "exp1_training_export" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
        .select(col("id_a"), col("id_b"))
      val comps = Graph.connectedComponents(pairs, "id_a", "id_b")
      val roots = docs.select(col("doc_id"))
        .join(comps.select(col("node").as("doc_id"), col("component")),
          Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("root"))
      val split = ext.Sampling.withSplit(roots, col("root"), "graft")
        .select(col("doc_id"), col("split"))
      val curated = docs
        .where(col("lang") =!= "zh" && col("n_chars") >= 100)
      val keep = curated
        .groupBy(TextAnalysis.fingerprint(col("text")).as("content_fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val pop = curated.join(keep, Seq("doc_id"), "left_semi")
        .join(split, Seq("doc_id"))
        .where(col("split") === "train")
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).as("n_tokens"))
      ext.Sampling.packSequences(pop, col("doc_id"), col("n_tokens"),
          ctxLen = 512, shards = 8)
        .orderBy("doc_id")
    }),

    // srcsim1: SOURCE-PAIR VOCABULARY JACCARD — the corpus-composition
    // matrix (which sources are redundant, which add coverage — the
    // mixing-weight input mix1 consumes): exact distinct-token-set
    // Jaccard for every source pair. Scale shape: DISTINCT (source,
    // token) first — vocabulary-sized, never corpus-sized — then the
    // token self-join's candidate volume is ≤ C(|sources|,2) per token
    // (each token appears at most once per source after the distinct),
    // so the pair stream is vocabulary-bounded. The quotient lands as
    // truncating micro fixed point (the cc2 rule — no float division
    // in a graded cell).
    "srcsim1_source_jaccard" -> ((s, d) => {
      val st = Par.fanOut(Tables.documents(s, d).select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("tok")))
        .where(col("tok") =!= "").distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sizes = st.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = st.as("a")
        .join(st.as("b"), col("a.tok") === col("b.tok") &&
          col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("inter"))
      // eager-materialize the ≤ C(|sources|,2)-row result so the
      // vocabulary-sized distinct cache can release NOW — Verify has no
      // per-query clearCache, so a lingering persist would occupy
      // executor storage for every remaining graded query (round-14
      // ADVICE); the explicit orderBy after the checkpoint keeps the
      // graded ordering deterministic
      val out = inter
        .join(sizes.select(col("source").as("src_a"), col("n").as("na")),
          Seq("src_a"))
        .join(sizes.select(col("source").as("src_b"), col("n").as("nb")),
          Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("inter"),
          (col("na") + col("nb") - col("inter")).as("uni"))
        .withColumn("j_micro",
          expr("CAST((inter * 1000000L) DIV uni AS BIGINT)"))
        .localCheckpoint()
      st.unpersist(blocking = false)
      out.orderBy("src_a", "src_b")
    }),

    "d3_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text")
        .orderBy("id_a", "id_b")),

    // ssj1: the PREFIX-FILTER AllPairs set-similarity join graded
    // DIRECTLY (er1 also exercises it embedded): word-set Jaccard ≥ 0.8
    // pairs over a deterministic 1-in-5 corpus slice plus one planted
    // copy per %20==0 doc with an appended unique token — word-set
    // J = m/(m+1) ≥ 0.8 whenever the doc has m ≥ 4 distinct words (the
    // planting predicate carries the size guard, so every planted pair
    // provably qualifies); candidates from rarest-prefix postings only,
    // exact verify, recall exact by the prefix theorem
    // (Dedup.setJaccardPairsPrefix scaladoc). The slice bounds the
    // GRADED OUTPUT, not the operator: this template-generated corpus
    // holds ~4.4 M qualifying pairs at sf0.1 (near-identical templates
    // form J ≥ 0.8 cliques, so the all-pairs answer itself grows
    // quadratically with clique size) — a report nobody materializes
    // whole; real pipelines aggregate it (degree screens, cluster-then-
    // collapse as sd1/er1 do).
    "ssj1_set_similarity_join" -> ((s, d) => {
      val pu = plantUnit(s, d)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .where(col("doc_id") % 5 === 0)
      val planted = docs
        .where(col("doc_id") % 20 === 0 &&
          size(array_distinct(TextAnalysis.tokens(col("text")))) >= 4)
        .select((col("doc_id") + pu).as("doc_id"),
          concat(col("text"), lit(" qqplantedtoken")).as("text"))
      Dedup.setJaccardPairsPrefix(docs.unionByName(planted),
          "doc_id", "text", minJaccard = 0.8)
        .select(col("id_a"), col("id_b"), round(col("j"), 6).as("j"))
        .orderBy("id_a", "id_b")
    }),
    // d4 runs the chunk-blocked SimHash with the PORTABLE token hash
    // (first 60 bits of sha256) so the DuckDB oracle can rebuild the exact
    // fingerprints; production calls default to the faster xxhash64.
    "d4_simhash" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
          tokensHash = Dedup.shaTokensHash)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
        .orderBy("id_a", "id_b")),
    // d5: LSH-blocked near-dup on a corpus WITH duplicates. The synthetic
    // embeddings table has no pair above cos 0.52 (its top pair is 0.513 at
    // sf0.01) — no near-dup regime at all — so the graded corpus plants one
    // positively-scaled copy of each vector (cosine- AND hyperplane-sign-
    // invariant, hence deterministic LSH recall 1.0) and the operator must
    // recover exactly those pairs, blocked, with no cartesian in the plan
    // (PlanSpec asserts it). The exact all-pairs baseline remains
    // Dedup.embeddingNearDupPairs (ExtSpec).
    "d5_emb_neardup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val base = emb.select(col("vec_id"),
        Similarity.toDoubleArr(col("embedding")).as("embedding"))
      val scaled = emb.select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), x => x.cast("double") * lit(1.5d)).as("embedding"))
      Dedup.embeddingNearDupPairsLsh(base.unionByName(scaled),
          "vec_id", "embedding", 0.9)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
        .orderBy("id_a", "id_b")
    }),

    // sd1: SemDeDup composition — d5's pair graph carried through to the
    // curation DECISION: LSH-blocked cosine pairs → connected-component
    // collapse → min-id keeper per semantic cluster. The graded corpus
    // extends d5's fixture to MULTI-member clusters (×1.5 copy of every
    // vector, ×0.5 copy of the even half: positive scaling is cosine- and
    // hyperplane-sign-invariant, so LSH recall on the planted family is
    // deterministically 1.0, and the synthetic corpus has no natural pair
    // above cos 0.52 — the component structure is exactly the planted
    // cliques). Oracle rebuilds the exact pair graph all-pairs and walks
    // it with a recursive CTE (the cur2 collapse shape).
    // wn1: WINNOWING fingerprints (MOSS) → near-dup candidate pairs —
    // the position-robust LOCAL fingerprinting classic next to the
    // repo's other near-dup legs (d3 MinHash ~ whole-doc Jaccard, ds1
    // stride-sampled spans, this: any shared run of ≥ w+k−1 tokens
    // provably shares a selected fingerprint, and an insertion BEFORE a
    // shared passage never desynchronizes the selection — the property
    // stride sampling lacks). ds1's planted-copy fixture (each doc ∪ its
    // +plantUnit copy with a one-token suffix) guarantees pairs exist
    // and the oracle replants it exactly; stop-fingerprints (df > 10)
    // drop like d2's stop-shingles, pairs expand through the packed-long
    // kernel, output = bounded top-20 by shared-fingerprint weight
    // (Dedup.winnowingCandidates scaladoc).
    "wn1_winnowing" -> ((s, d) => {
      val pu = plantUnit(s, d)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val planted = docs
        .union(docs.select((col("doc_id") + pu).as("doc_id"),
          concat(col("text"), lit(" graftdup")).as("text")))
      Dedup.winnowingCandidates(planted, "doc_id", "text")
    }),

    "sd1_semantic_dedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val base = emb.select(col("vec_id"),
        Similarity.toDoubleArr(col("embedding")).as("embedding"))
      val dup1 = emb.select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), x => x.cast("double") * lit(1.5d)).as("embedding"))
      val dup2 = emb.where(col("vec_id") % 2 === 0)
        .select((col("vec_id") + lit(2000000L)).as("vec_id"),
          transform(col("embedding"), x => x.cast("double") * lit(0.5d)).as("embedding"))
      Dedup.semanticDedup(base.unionByName(dup1).unionByName(dup2),
          "vec_id", "embedding", 0.9)
        .select(col("vec_id"), col("root"), col("kept").cast("int").as("kept"))
        .orderBy("vec_id")
    }),

    // dbscan1: DBSCAN density clustering over sd1's planted corpus —
    // k-means' (km1) complement: no k up front, arbitrary shapes, an
    // explicit noise class. Neighborhood = d5's cos ≥ 0.9 pair graph
    // (LSH-blocked, exact verify — the oracle states plain all-pairs
    // truth); core ≥ 2 neighbors; clusters = core-core components TO
    // CONVERGENCE labeled by min id; border attaches to the MIN core-
    // neighbor cluster (determinism rule); noise = −1
    // (Clustering.dbscan scaladoc). Planted triples (even ids: base,
    // ×1.5, ×0.5) come out core clusters; odd-id pairs are mutual
    // 1-neighbor non-cores → noise — the roles separate visibly.
    // MARGIN ASSUMPTION (round-10 ADVICE): the LSH neighborhood has
    // recall ~1.0 only because every cos ≥ 0.9 pair in this corpus is a
    // planted scalar multiple (identical hyperplane signs); a NATURAL
    // pair near the 0.9 boundary could be missed and cascade through
    // core/border labels. PlantedFixtureSpec pins the assumption with an
    // exact all-pairs audit over the base embeddings at fixture scale.
    "dbscan1_density_cluster" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val base = emb.select(col("vec_id"),
        Similarity.toDoubleArr(col("embedding")).as("embedding"))
      val dup1 = emb.select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), x => x.cast("double") * lit(1.5d)).as("embedding"))
      val dup2 = emb.where(col("vec_id") % 2 === 0)
        .select((col("vec_id") + lit(2000000L)).as("vec_id"),
          transform(col("embedding"), x => x.cast("double") * lit(0.5d)).as("embedding"))
      ext.Clustering.dbscan(base.unionByName(dup1).unionByName(dup2),
          "vec_id", "embedding", 0.9, minPts = 2)
        .orderBy("id")
    }),

    // d6: string-level fuzzy dedup — Levenshtein ≤ 1 via the deletion-
    // neighborhood index (exact recall, so the oracle is the plain
    // all-pairs semantic truth with no blocking in sight)
    // (no Par.stage here: the pair stream is output-sized — millions of
    // rows — and round-robin shuffling it costs more than the sampling
    // re-execution it would save; stage() pays off for compute-heavy
    // projections with modest outputs, measured both ways)
    "d6_editdist" -> ((s, d) =>
      Dedup.editDistancePairs(Tables.part(s, d), "p_partkey", "p_name")
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
        .orderBy("id_a", "id_b")),

    // d7: edit distance ≤ 2 by PASSJOIN segment blocking — d6's deletion
    // neighborhood is exact at one edit but grows |s|² at two; the
    // 3-segment pigeonhole stays linear (≤ 75 bounded probes per distinct
    // string, recall exact — Dedup.editDistance2Pairs scaladoc), verified
    // by the threshold-bounded levenshtein both engines share.
    "d7_editdist2" -> ((s, d) =>
      Dedup.editDistance2Pairs(Tables.part(s, d), "p_partkey", "p_name")
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
        .orderBy("id_a", "id_b")),

    // ---- extension tier: similarity search over embeddings ---------------
    "sim1_ann_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", 10)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // neg1: HARD-NEGATIVE MINING — sim1's ranking restricted to
    // label-mismatched neighbors (the contrastive-batch construction
    // step); the label filter rides the broadcast join condition, so
    // candidates prune before the rank window.
    "neg1_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegativesTopK(emb, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", "label", 10)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),
    // knn1: EVERY vector's top-k — the kNN-graph build (the input of
    // semantic clustering / sd1-style curation), where both join sides are
    // the SF-scaled corpus: 2-D tiled equi-join, no cartesian, no
    // broadcast, per-tile partial top-k (Similarity.knnGraphExact scaladoc).
    "knn1_knn_graph" -> ((s, d) =>
      Similarity.knnGraphExact(Tables.embeddings(s, d), "vec_id", "embedding",
          k = 3)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")),

    // hub1: HUBNESS of the kNN graph (Radovanović et al., JMLR 2010) —
    // the high-dimensional ANN pathology metric: in-degree of every
    // vector in knn1's exact k=3 graph. Hubs (in-degree ≥ 2k) dominate
    // result lists and drag retrieval diversity; anti-hubs (in-degree 0)
    // are unreachable by any query — BOTH halves must report, so the
    // corpus LEFT-joins the degree relation (a histogram that omitted
    // anti-hubs would hide the pathology's other half). Node-keyed
    // map-side-combined aggregate over the already-graded deterministic
    // graph; zero new kernels.
    "hub1_knn_hubness" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val deg = Similarity.knnGraphExact(emb, "vec_id", "embedding", k = 3)
        .groupBy(col("neighbor_id").as("vec_id"))
        .agg(count(lit(1)).as("d"))
      emb.select("vec_id").join(deg, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("d"), lit(0L)).as("in_degree"),
          (coalesce(col("d"), lit(0L)) >= 6).cast("int").as("is_hub"),
          col("d").isNull.cast("int").as("is_antihub"))
        .orderBy("vec_id")
    }),

    // knn2: knn1 maintained INCREMENTALLY from the STORED graph — build
    // over 3/4 of the corpus, append the last quarter: new nodes rank
    // their |B|·|C∪B| pair scores, old nodes merge the mirrored pairs
    // into their stored rows (a node's true top-k over C∪B lies in
    // stored-top-k ∪ pairs-with-B — the exactness cut), so the update
    // never pays the |C∪B|² rebuild. Cosines persist UNROUNDED so the
    // merge order survives storage; oracle is knn1's from-scratch
    // verbatim (Similarity.appendToKnnGraph scaladoc).
    "knn2_incremental_knn" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = graft.core.Scratch.dir("knn2-") + "/graph_art"
      Similarity.writeKnnGraph(emb.where(col("vec_id") % 4 =!= 3),
        "vec_id", "embedding", dir, k = 3)
      Similarity.appendToKnnGraph(emb.where(col("vec_id") % 4 === 3),
        "vec_id", "embedding", dir)
      Similarity.knnGraphFromIndex(s, dir)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // knn3: kNN-GRAPH FORGET — the one derived artifact where a deletion
    // request previously did not propagate (round-12 verdict #1: a
    // document forgotten via del1/sim9/pq4/ret7 persisted as a stored
    // NEIGHBOR edge). Two-sided semantics: the forgotten fifth leaves as
    // source rows AND as neighbors, and since neighbor removal re-opens
    // rank k, the repair rescores each affected survivor against the
    // artifact's own vectors copy — so the post-forget graph is EXACTLY
    // the from-scratch graph over survivors, not a shrunk-k view. The
    // retried request and the compact both run inside the graded unit
    // (tombstone-set idempotence and fold view-equality are the
    // contract; crash ordering spec-pinned in Round13Spec). Oracle =
    // knn1's verbatim over corpus-minus-deleted.
    "knn3_graph_forget" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = graft.core.Scratch.dir("knn3-") + "/graph_art"
      Similarity.writeKnnGraph(emb, "vec_id", "embedding", dir, k = 3)
      val doomed = emb.where(col("vec_id") % 5 === 2).select("vec_id")
      Similarity.forgetFromKnnGraph(doomed, "vec_id", dir)
      // retried request: tombstones are a set, the repair a no-op
      Similarity.forgetFromKnnGraph(doomed, "vec_id", dir)
      // fold history + clear tombstones: view must be unchanged
      Similarity.compactKnnGraph(s, dir)
      Similarity.knnGraphFromIndex(s, dir)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // knn5s: STREAMING maintenance of the stored kNN graph — the K2
    // foreachBatch shape on the graph tier, completing its verb column
    // (build knn1/2, append knn2, forget knn3, as-of knn4, stream
    // this): the engine replays the last corpus quarter in
    // micro-batches, each folding into the graph via ingestKnnBatch —
    // the id anti-join against the head version's vector copy makes a
    // redelivered batch a version-history no-op (slice 1 re-delivers
    // every slice-0 vector: the at-least-once worst case, full
    // overlap) — and the post-replay artifact must answer knn1's
    // from-scratch oracle over the full corpus, exactly once per node.
    "knn5s_stream_knn" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir0 = graft.core.Scratch.dir("knn5s-")
      val idx = s"$dir0/graph_art"
      Similarity.writeKnnGraph(emb.where(col("vec_id") % 4 =!= 3),
        "vec_id", "embedding", idx, k = 3)
      val quarter = emb.where(col("vec_id") % 4 === 3)
        .select(col("vec_id"), col("embedding"))
      val s0 = quarter.where(pmod(col("vec_id"), lit(8)) === 3)
      val s1 = quarter // slice 0 redelivered in full + the rest
      graft.streaming.Replay.slicedSourceReplay(s, Seq(s0, s1),
          "vec_id BIGINT, embedding ARRAY<FLOAT>", "knn5s-") { (src, dir) =>
        graft.core.Sinks.foreachBatchSink(src, s"$dir/ckpt") { (b, _) =>
          Similarity.ingestKnnBatch(b, "vec_id", "embedding", idx)
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      Similarity.knnGraphFromIndex(s, idx)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // knn4: TIME TRAVEL for the kNN graph — the as-of verb on the last
    // stored tier that lacked it (matview mv3, postings ret8, PQ pq5,
    // IVF sim13, dedup archive inc7, kNN this): appends rewrite old
    // nodes' lists, so versions are immutable copy-on-write SNAPSHOTS
    // (the artifact is output-sized — N·k edges — so a snapshot per
    // mutation is the mv1 cost class, not a segment prefix). knn2's
    // exact fixture with the read pinned to YESTERDAY: build over 3/4
    // (version 0), append the last quarter (version 1), and the pinned
    // version-0 read must answer as the build did on day one. Oracle =
    // knn1's verbatim over the 3/4 population.
    "knn4_graph_asof" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = graft.core.Scratch.dir("knn4-") + "/graph_art"
      Similarity.writeKnnGraph(emb.where(col("vec_id") % 4 =!= 3),
        "vec_id", "embedding", dir, k = 3)
      Similarity.appendToKnnGraph(emb.where(col("vec_id") % 4 === 3),
        "vec_id", "embedding", dir)
      Similarity.knnGraphFromIndex(s, dir, asOf = Some(0L))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // mmr1: MAXIMAL-MARGINAL-RELEVANCE diverse top-k — sim1's ranking
    // with a greedy per-pick diversity penalty (½·rel − ½·max sim to the
    // query's already-selected set); k bounded driver actions of
    // |queries| rows each, the km1 budget class
    // (Similarity.mmrSelect scaladoc for the determinism policy). The
    // oracle unrolls the 5 greedy rounds.
    "mmr1_diverse_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.mmrSelect(emb, emb.where(col("vec_id") < 3),
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("score"))
        .orderBy("query_id", "rank")
    }),
    // ---- extension tier: multimodal binary-column plumbing ---------------
    "m1_blob_meta" -> ((s, d) =>
      Multimodal.decodeMeta(
        Multimodal.repartitionBySize(
          Multimodal.withBlob(Tables.documents(s, d), "text"), "payload",
          s.sparkContext.defaultParallelism), "doc_id", "payload")
        .toDF().orderBy("id")),
    // m2 grades the feature-extraction plumbing through its exact integer
    // core (16-bin byte histogram): the float-normalized form neither
    // hashes nor compares portably (array<float> vs SQL double), the
    // integer counts do — and the mapPartitions codec path is identical.
    "m2_blob_features" -> ((s, d) =>
      Multimodal.extractHistogram(
        Multimodal.repartitionBySize(
          Multimodal.withBlob(Tables.documents(s, d), "text"), "payload",
          s.sparkContext.defaultParallelism), "doc_id", "payload")
        .toDF()
        .select(col("id"), posexplode(col("counts")).as(Seq("bin", "cnt")))
        .select(col("id"), col("bin").cast("long").as("bin"), col("cnt"))
        .orderBy("id", "bin")),
    // frames leave as a digest: binary result columns don't round-trip
    // portably through every comparer, the chunking itself is what's tested.
    // The digest hashes the HEX of the frame bytes (not the raw bytes):
    // the oracle's sha256 only accepts strings, and hex is byte-faithful —
    // so parity holds for ANY payload, multibyte text included, where a
    // raw-string oracle would silently require ASCII-only data.
    "m3_frame_sample" -> ((s, d) =>
      Par.stage(Multimodal.sampleFrames(
        Multimodal.withBlob(Tables.documents(s, d), "text"), "doc_id", "payload",
        frameBytes = 64, stride = 2)
        .select(col("id"), col("frame_no").cast("long").as("frame_no"),
          sha2(hex(col("frame")), 256).as("frame_sha")))
        .orderBy("id", "frame_no")),

    // m4: BLOB NEAR-DUP by sampled-frame fingerprints — the perceptual
    // video/asset dedup shape (YouTube ContentID class: two assets are
    // near-dups when enough SAMPLED frames hash identically, so a
    // re-encode that appends a trailer or truncates still matches on the
    // shared prefix frames). Composes m3's frame sampler with the d2
    // pair discipline: per-blob DISTINCT frame hashes, stop-hashes
    // (df > 10) dropped, packed-long pair expansion over small groups,
    // bounded top-20 by shared-frame weight. A tenth of the corpus is
    // replanted with a suffix — leading frames stay byte-identical, so
    // every planted pair provably survives while the tail frames differ
    // (exactly the robustness exact d1-hashing lacks).
    "m4_blob_neardup" -> ((s, d) => {
      val pu = plantUnit(s, d)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val planted = docs.union(docs.where(col("doc_id") % 10 === 7)
        .select((col("doc_id") + pu).as("doc_id"),
          concat(col("text"), lit(" graftblobdup tail tail tail")).as("text")))
      val fh = Multimodal.sampleFrames(
          Multimodal.withBlob(planted, "text"), "doc_id", "payload",
          frameBytes = 64, stride = 2)
        .select(col("id"), sha2(hex(col("frame")), 256).as("fsha"))
        .distinct()
      fh.groupBy("fsha")
        .agg(sort_array(collect_list(col("id"))).as("ids"))
        .where(size(col("ids")) >= 2 && size(col("ids")) <= 10)
        .select(explode(graft.functions.VectorExpressions
          .pairExpandNative(col("ids"))).as("p"))
        .groupBy("p").agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 3)
        .select(call_function("shiftright", col("p"), lit(32)).as("doc_a"),
          col("p").bitwiseAND(lit(0xffffffffL)).as("doc_b"),
          col("n_shared"))
        .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    }),

    // xm1: CROSS-MODAL composition — the multimodal feature extractor
    // feeds the similarity tier end-to-end: blob column → size-balanced
    // decode partitions → per-partition (stub-)codec histogram (exact
    // integers, the m2 plumbing) → cosine ANN top-k over the extracted
    // features (bruteForceTopK; integer counts make every cosine
    // bit-reproducible, so the oracle recomputes the identical ranking).
    // The near-dup-PAIRS form (embeddingNearDupPairsLsh) is ungradable on
    // this corpus — measured at sf0.01/sf0.1, text byte-nibble histograms
    // are non-separating (tens of thousands of distinct-doc pairs above
    // any cosine threshold, some at exactly 1.0) — so the graded
    // composition is the bounded-query ANN form; ExtSpec pins the
    // histogram→LSH-near-dup path on a separable blob fixture.
    "xm1_blob_ann" -> ((s, d) => {
      val hist = Multimodal.extractHistogram(
        Multimodal.repartitionBySize(
          Multimodal.withBlob(Tables.documents(s, d), "text"), "payload",
          s.sparkContext.defaultParallelism), "doc_id", "payload")
        .toDF()
      Similarity.bruteForceTopK(hist, hist.where(col("id") < 5), "id", "counts", 10)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // IVF ANN: the embeddings table's label column is the coarse quantizer
    "sim3_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", "label", k = 10, nprobe = 3)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    "sim2_ann_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(emb, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", 10)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // sim4: the memory-reduced ANN path emb2's quantization exists for —
    // IVF probing + candidate scoring over the int8-quantized index
    // (integer dot products, bit-reproducible), exact re-rank of the
    // 30-candidate shortlist against full-precision vectors.
    "sim4_ann_ivf_quant" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfQuantizedTopK(emb, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", "label", k = 10, nprobe = 3, shortlist = 30)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // sim6: sim4 answered from STORED index artifacts — the production
    // shape at 100 TB, where index build and query are DIFFERENT jobs
    // (SCALING.md §8; the reference's own lambda split:
    // BatchJobImpl.scala:17-27 re-reads what streaming wrote). Build
    // writes centroids + the int8 index DIRECTORY-PARTITIONED by list
    // (Similarity.writeIvfIndex); the query tier reads them back, probes
    // nprobe lists, and the probed list ids push into the index scan as
    // an IN filter so only those partitions are READ (partition pruning —
    // the I/O math that makes a stored IVF index pay). The exact re-rank
    // fetches full-precision vectors from the primary store, the only
    // corpus touch. Oracle = sim4's verbatim: stored artifacts must
    // answer identically to the inline build.
    "sim6_stored_index" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = graft.core.Scratch.dir("sim6-")
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", "label", dir)
      Similarity.ivfQuantizedTopKFromIndex(
          s.read.parquet(s"$dir/centroids"), s.read.parquet(s"$dir/qindex"),
          emb.select(col("vec_id"), col("embedding").as("v")),
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 3, shortlist = 30)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // sim7: INCREMENTAL index maintenance — the third job of the stored
    // index's lifecycle (sim6 grades build+query; this grades APPEND):
    // the index is built over 3/4 of the corpus, the remaining quarter
    // arrives later and appends WITHOUT a rebuild — assigned to the
    // frozen stored centroids by the probe metric (cosine, same
    // tie-break), quantized, appended into only the affected list
    // directories — and the query tier answers from the final artifact.
    // Centroids stay from build time (the FAISS IVF contract), so the
    // oracle recomputes centroids over the INITIAL subset, assigns the
    // appended quarter by the identical argmax-cosine window, and runs
    // the sim4 pipeline over the unioned index.
    "sim7_index_append" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = graft.core.Scratch.dir("sim7-")
      Similarity.writeIvfIndex(emb.where(col("vec_id") % 4 =!= 1),
        "vec_id", "embedding", "label", dir)
      Similarity.appendToIvfIndex(emb.where(col("vec_id") % 4 === 1),
        "vec_id", "embedding", dir)
      Similarity.ivfQuantizedTopKFromIndex(
          s.read.parquet(s"$dir/centroids"), Similarity.ivfIndexRelation(s, dir),
          emb.select(col("vec_id"), col("embedding").as("v")),
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 3, shortlist = 30)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // sim8: RE-TRAIN-ON-DRIFT — the stored index's closing lifecycle
    // stage (sim6 grades build+query, sim7 append; this grades the
    // rebuild DECISION and the rebuilt artifact). A planted distribution
    // shift (+0.25 on every dimension — exact dyadic, so the oracle
    // reproduces it bit-for-bit; ids offset +1000000 per the planted-id
    // convention) appends under the FROZEN build-time centroids; the
    // drift metric on the STORED artifact (Similarity.indexCentroidDrift
    // — stored-centroid-to-current-mean cosine recomputed from the
    // index's own dequantized vectors, no corpus scan) crosses the
    // threshold; retrainIvfIndex rebuilds from the primary store; the
    // query tier answers from the REBUILT artifact. require() keeps the
    // decision loud: if the fixture ever stopped drifting, the grade
    // must fail, not silently answer from a stale index. Oracle = sim4's
    // pipeline over the post-rebuild population (original ∪ shifted) —
    // the sim7 oracle pattern.
    "sim8_index_retrain" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = graft.core.Scratch.dir("sim8-")
      val base = emb.select(col("vec_id"), col("label"),
        Similarity.toDoubleArr(col("embedding")).as("embedding"))
      val shifted = base.where(col("vec_id") % 4 === 1)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("label"),
          transform(col("embedding"), x => x + lit(0.25d)).as("embedding"))
      Similarity.writeIvfIndex(base, "vec_id", "embedding", "label", dir)
      Similarity.appendToIvfIndex(shifted, "vec_id", "embedding", dir)
      val full = base.unionByName(shifted)
      val rebuilt = Similarity.retrainIvfIndex(full, "vec_id", "embedding",
        "label", dir)
      require(rebuilt, "sim8: planted shift must trip the drift threshold")
      Similarity.ivfQuantizedTopKFromIndex(
          s.read.parquet(s"$dir/centroids"), Similarity.ivfIndexRelation(s, dir),
          full.select(col("vec_id"), col("embedding").as("v")),
          base.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 3, shortlist = 30)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // sim9: INDEX FORGET — the stored vector index's missing artifact
    // verb (round-10 verdict #5): del1 grades right-to-be-forgotten for
    // the dedup archive; this grades it for sim6's IVF artifact. A
    // deterministic fifth of the corpus (vec_id % 5 = 2) is forgotten:
    // O(deleted) id tombstones (ext.Forget), the query tier answers from the LIVING view (anti-join), and the
    // amortized compact + a second idempotent forget both execute inside
    // the graded lifecycle (the result must be invariant under both —
    // tombstone-set idempotence and compact view-equality are the
    // operator's contract, graded here, crash-ordering spec-pinned).
    // Centroids stay from build time (the quantizer is trained state,
    // not subject data), so the oracle is sim4's VERBATIM pipeline with
    // only the candidate index population restricted to survivors.
    "sim9_index_forget" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = graft.core.Scratch.dir("sim9-")
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", "label", dir)
      val doomed = emb.where(col("vec_id") % 5 === 2).select("vec_id")
      Similarity.forgetFromIvfIndex(doomed, "vec_id", dir)
      // retried request: tombstones are a set — same living view
      Similarity.forgetFromIvfIndex(doomed, "vec_id", dir)
      // amortized physical rewrite: view must be unchanged after it
      Similarity.compactIvfIndex(s, dir)
      Similarity.ivfQuantizedTopKFromIndex(
          s.read.parquet(s"$dir/centroids"), Similarity.ivfLivingIndex(s, dir),
          emb.select(col("vec_id"), col("embedding").as("v")),
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 3, shortlist = 30)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // sim10: FILTERED ANN — top-k among candidates satisfying a METADATA
    // predicate (the FAISS/Vespa/pgvector "filtered search" feature): the
    // predicate applies to the candidate index BEFORE the shortlist (the
    // correct semantics — post-filtering a plain top-k under-fills k and
    // loses recall), so every returned neighbor satisfies it and recall
    // within the filtered population is the unfiltered path's. The
    // stored-index pipeline takes the candidate relation as an argument,
    // so filtered search IS the sim6 query with a filtered index view —
    // the same seam sim9's living view rides; an uncorrelated vec_id
    // parity predicate keeps the grade honest (a label predicate would
    // degenerate into list probing). Oracle = sim4's verbatim with the
    // identical candidate restriction.
    "sim10_filtered_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = graft.core.Scratch.dir("sim10-")
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", "label", dir)
      Similarity.ivfQuantizedTopKFromIndex(
          s.read.parquet(s"$dir/centroids"),
          Similarity.ivfIndexRelation(s, dir).where(col("vec_id") % 2 === 0),
          emb.select(col("vec_id"), col("embedding").as("v")),
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 3, shortlist = 30)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // sim11s: STREAMING maintenance of the stored IVF index — ret9s's
    // production shape for the VECTOR tier, closing the streaming-
    // maintenance column of the artifact verb matrix (postings had it,
    // IVF did not): the engine replays the last corpus quarter in
    // micro-batches through the K2 foreachBatch sink, each batch folding
    // into the index via appendToIvfIndex — whose vec_id anti-join +
    // staged-segment commit (this round's hardening; previously the
    // append was an in-place multi-file write with a real torn-visibility
    // window) make redelivery a no-op WITHOUT an id fence (append-shaped
    // store, the del2s class) — and slice 1 RE-DELIVERS every slice-0
    // vector (the at-least-once worst case, full overlap). Graded: the
    // post-replay artifact answers sim7's oracle — centroids frozen from
    // the 3/4 build, the streamed quarter assigned by the identical
    // argmax-cosine rule, exactly once.
    "sim11s_stream_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir0 = graft.core.Scratch.dir("sim11s-")
      val idx = s"$dir0/idx"
      Similarity.writeIvfIndex(emb.where(col("vec_id") % 4 =!= 1),
        "vec_id", "embedding", "label", idx)
      val quarter = emb.where(col("vec_id") % 4 === 1)
        .select(col("vec_id"), col("embedding"))
      val s0 = quarter.where(pmod(col("vec_id"), lit(8)) === 1)
      val s1 = quarter // slice 0 redelivered in full + the rest
      graft.streaming.Replay.slicedSourceReplay(s, Seq(s0, s1),
          "vec_id BIGINT, embedding ARRAY<FLOAT>", "sim11s-") { (src, dir) =>
        graft.core.Sinks.foreachBatchSink(src, s"$dir/ckpt") { (b, _) =>
          Similarity.appendToIvfIndex(b, "vec_id", "embedding", idx)
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      Similarity.ivfQuantizedTopKFromIndex(
          s.read.parquet(s"$idx/centroids"),
          Similarity.ivfIndexRelation(s, idx),
          emb.select(col("vec_id"), col("embedding").as("v")),
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 3, shortlist = 30)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // sim13: TIME TRAVEL for the IVF index — the last cell of the as-of
    // column (matview mv3, postings ret8, PQ pq5, IVF this): appends now
    // land as committed segments (the postings/PQ layout, list-partitioned
    // so probe-time partition pruning survives), so version v = base +
    // the first v − floor committed segments (Artifacts.segmentsAsOf).
    // The pinned version-0 read after the quarter's append landed must
    // answer as the 3/4 build did on day one — centroids need no pinning
    // (frozen from build to rebuild; a rebuild swaps them together with a
    // reset history), current tombstones still apply (right-to-be-
    // forgotten outranks reproducibility), and folded pins fail loudly
    // (the mv3 retention contract — Round12bSpec pins all three). Oracle
    // = sim4's verbatim with centroids AND candidates restricted to the
    // version-0 population.
    "sim13_ivf_asof" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = graft.core.Scratch.dir("sim13-")
      Similarity.writeIvfIndex(emb.where(col("vec_id") % 4 =!= 1),
        "vec_id", "embedding", "label", dir)
      Similarity.appendToIvfIndex(emb.where(col("vec_id") % 4 === 1),
        "vec_id", "embedding", dir)
      Similarity.ivfQuantizedTopKFromIndex(
          s.read.parquet(s"$dir/centroids"),
          Similarity.ivfLivingIndex(s, dir, asOf = Some(0L)),
          emb.select(col("vec_id"), col("embedding").as("v")),
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 3, shortlist = 30)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // rp1: JOHNSON–LINDENSTRAUSS reduced-dimension ANN — the
    // dimensionality-reduction scale path next to quantization (emb2/sim4
    // shrink value width; this shrinks DIMENSION count, 64→16 = 4× flops
    // and resident memory, multiplicative with int8): corpus + queries
    // project through the deterministic plane mix the LSH tier uses (the
    // hyperplane signature is this projection's sign vector), shortlist
    // ranks in projected space, exact full-precision re-rank answers.
    // Oracle rebuilds the identical planes in HUGEINT (sim2's replica)
    // and unrolls both phases — projected values are bit-identical
    // (integer-mix planes, left-to-right dot accumulation both engines).
    "rp1_jl_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.jlTopK(emb, emb.where(col("vec_id") < 5), "vec_id",
          "embedding", k = 10, dims = 16, shortlist = 30)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // pq1: PRODUCT-QUANTIZATION ANN — the codebook tier completing the
    // quantization family (emb2/sim4 shrink value width, rp1 shrinks
    // dimension count, PQ shrinks the whole vector to m centroid codes,
    // the FAISS IVFPQ layout): per-subspace integer k-means codebooks,
    // corpus stored as codes only, asymmetric-distance shortlist, exact
    // cosine re-rank (Similarity.pqTopK scaladoc). The oracle replays
    // every Lloyd round of all four subspaces and both ranking phases.
    "pq1_product_quant" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.pqTopK(emb, emb.where(col("vec_id") < 5), "vec_id",
          "embedding", k = 10, dims = 64, m = 4, ksub = 4, iters = 2,
          shortlist = 30)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // pq2: pq1 answered from STORED PQ artifacts — the codebook tier's
    // sim6 (round-9 verdict: at 100 TB the m k-means training passes are
    // the expensive step and must be build-once): build persists
    // codebooks + meta + the 64×-compressed codes relation
    // (Similarity.writePqIndex); the query job loads the quantizer as
    // bounded driver state, ADC-scores only the stored codes, and
    // re-ranks from the primary store. Codes and codebooks are integers
    // end-to-end, so the parquet round trip is exact and the oracle is
    // pq1's VERBATIM — stored artifacts must answer identically to the
    // inline build.
    "pq2_stored_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = graft.core.Scratch.dir("pq2-")
      Similarity.writePqIndex(emb, "vec_id", "embedding", dir, dims = 64,
        m = 4, ksub = 4, iters = 2)
      Similarity.pqTopKFromIndex(s, dir,
          emb.select(col("vec_id"), col("embedding").as("v")),
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, shortlist = 30)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // pq3: INCREMENTAL PQ maintenance — the sim7 of the codebook tier:
    // codebooks train over 3/4 of the corpus and FREEZE (the FAISS
    // contract: assignment drift is a periodic re-train, never a
    // per-append mutation); the remaining quarter arrives later, codes
    // under the stored books (one bounded driver read + one pure
    // projection) and appends into the codes relation; the query tier
    // answers from the final artifact. The oracle re-trains the
    // codebooks over the SAME 3/4 subset (training assignments and seeds
    // restricted to it) and codes the full population with the final
    // centroids — exactly what frozen-codebook append produces.
    "pq3_pq_append" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = graft.core.Scratch.dir("pq3-")
      Similarity.writePqIndex(emb.where(col("vec_id") % 4 =!= 1),
        "vec_id", "embedding", dir, dims = 64, m = 4, ksub = 4, iters = 2)
      Similarity.appendToPqIndex(emb.where(col("vec_id") % 4 === 1),
        "vec_id", "embedding", dir)
      Similarity.pqTopKFromIndex(s, dir,
          emb.select(col("vec_id"), col("embedding").as("v")),
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, shortlist = 30)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // pq4: PQ INDEX FORGET — the last stored artifact gets its delete
    // verb (round-11 verdict #1: dedup has del1, postings ret7, IVF
    // sim9; PQ had build/append/rebuild only). sim9's exact lifecycle
    // over the codebook tier: a deterministic fifth of the corpus
    // (vec_id % 5 = 2) is forgotten via O(deleted) vec_id tombstones,
    // the query tier answers from the LIVING codes view (anti-join), and
    // a retried forget + the amortized compact both execute inside the
    // graded unit — the result must be invariant under both
    // (tombstone-set idempotence and compact view-equality are the
    // operator's contract; crash ordering spec-pinned in Round12Spec).
    // Codebooks stay from build time (the quantizer is trained state,
    // not subject data), so the oracle is pq2's VERBATIM pipeline with
    // only the candidate code population restricted to survivors.
    "pq4_index_forget" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = graft.core.Scratch.dir("pq4-")
      Similarity.writePqIndex(emb, "vec_id", "embedding", dir, dims = 64,
        m = 4, ksub = 4, iters = 2)
      val doomed = emb.where(col("vec_id") % 5 === 2).select("vec_id")
      Similarity.forgetFromPqIndex(doomed, "vec_id", dir)
      // retried request: tombstones are a set — same living view
      Similarity.forgetFromPqIndex(doomed, "vec_id", dir)
      // amortized physical rewrite: view must be unchanged after it
      Similarity.compactPqIndex(s, dir)
      Similarity.pqTopKFromIndex(s, dir,
          emb.select(col("vec_id"), col("embedding").as("v")),
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, shortlist = 30)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // pq5: TIME TRAVEL for the PQ index — ret8's reproducibility verb on
    // the codebook artifact (matview mv3, postings ret8, PQ this, IVF
    // sim13 — every segmented tier answers as-of). pq3's exact fixture with
    // the read pinned to YESTERDAY: codebooks train over 3/4 and freeze,
    // the last quarter appends as a committed segment (version 1), and
    // the pinned version-0 read must answer as if the append never
    // landed. Codebooks need no pinning — frozen from build to rebuild.
    // Oracle = pq1 trained AND answered over the version-0 population.
    "pq5_pq_asof" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = graft.core.Scratch.dir("pq5-")
      Similarity.writePqIndex(emb.where(col("vec_id") % 4 =!= 1),
        "vec_id", "embedding", dir, dims = 64, m = 4, ksub = 4, iters = 2)
      Similarity.appendToPqIndex(emb.where(col("vec_id") % 4 === 1),
        "vec_id", "embedding", dir)
      Similarity.pqTopKFromIndex(s, dir,
          emb.select(col("vec_id"), col("embedding").as("v")),
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, shortlist = 30, asOf = Some(0L))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // pq6s: STREAMING maintenance of the stored PQ index — the LAST cell
    // of the four-segmented-family claim (matview mv1, postings ret9s,
    // IVF sim11s, PQ this — round-12 verdict #2: the layout supported it
    // but no graded foreachBatch→PQ row existed, so the CLAUDE.md
    // uniformity claim outran the grading by one query). sim11s's exact
    // replay shape over the codebook tier: codebooks train over 3/4 and
    // freeze, the engine replays the last quarter in micro-batches
    // through the K2 foreachBatch sink, each batch coding under the
    // stored books and landing as a committed segment
    // (appendToPqIndex's vec_id anti-join + staged rename), and slice 1
    // RE-DELIVERS every slice-0 vector (the at-least-once worst case,
    // full overlap) — redelivery must be a no-op without an id fence
    // (append-shaped store). Graded: the post-replay artifact answers
    // pq3's oracle — the streamed quarter coded exactly once.
    "pq6s_stream_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir0 = graft.core.Scratch.dir("pq6s-")
      val idx = s"$dir0/idx"
      Similarity.writePqIndex(emb.where(col("vec_id") % 4 =!= 1),
        "vec_id", "embedding", idx, dims = 64, m = 4, ksub = 4, iters = 2)
      val quarter = emb.where(col("vec_id") % 4 === 1)
        .select(col("vec_id"), col("embedding"))
      val s0 = quarter.where(pmod(col("vec_id"), lit(8)) === 1)
      val s1 = quarter // slice 0 redelivered in full + the rest
      graft.streaming.Replay.slicedSourceReplay(s, Seq(s0, s1),
          "vec_id BIGINT, embedding ARRAY<FLOAT>", "pq6s-") { (src, dir) =>
        graft.core.Sinks.foreachBatchSink(src, s"$dir/ckpt") { (b, _) =>
          Similarity.appendToPqIndex(b, "vec_id", "embedding", idx)
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      Similarity.pqTopKFromIndex(s, idx,
          emb.select(col("vec_id"), col("embedding").as("v")),
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, shortlist = 30)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),

    // fit1: distributed MODEL TRAINING graded trajectory-exact — a linear
    // probe over engineered doc features (bias, capped token / distinct /
    // char-decile counts) fit by 4 full-batch GD steps in scaled-BIGINT
    // fixed point (ext.Fit scaladoc). The target is a planted integer
    // linear signal (2·x1 + 3·x2 − x3 + 7), so the spec can pin that the
    // loss curve decreases and the oracle replays every weight of every
    // iteration step for step.
    "fit1_linear_probe" -> ((s, d) =>
      ext.Fit.linearProbeGd(probeFeatures(s, d),
          Seq(col("x0"), col("x1"), col("x2"), col("x3")), col("y"),
          iters = 4)
        .orderBy("iter")),

    // cur5: MODEL-BASED CURATION — the train → apply loop (km1 → sim5's
    // counterpart for fit1): train the probe, collect the final weights
    // (k scaled longs — bounded by the model, not the data), score every
    // document with a pure fixed-point projection against the weight
    // LITERALS, and keep docs above the threshold. The quality-classifier
    // filter pattern of modern corpus pipelines, with the whole
    // train+score+filter fate engine-exact.
    "cur5_model_curation" -> ((s, d) => {
      val f = probeFeatures(s, d)
      val wRow = ext.Fit.linearProbeGd(f,
          Seq(col("x0"), col("x1"), col("x2"), col("x3")), col("y"),
          iters = 4)
        .orderBy(col("iter").desc).limit(1).collect()(0)
      val w = (0 to 3).map(j => wRow.getAs[Long](s"w$j"))
      val score = (0 to 3).map(j => col(s"x$j") * lit(w(j))).reduce(_ + _)
      f.select(col("doc_id"), score.as("score"),
          (score >= lit(80L * 65536L)).cast("int").as("kept"))
        .orderBy("doc_id")
    }),

    // fit2: cur5 answered from a STORED MODEL artifact — the model
    // registry the train→apply loop needs at scale (training passes
    // are corpus-sized and run once; scoring jobs read k weights,
    // never the corpus). The full integer trajectory persists, so the
    // artifact doubles as its own version history (the bpe6 rule).
    // Stored ≡ inline is the gate: cur5's oracle verbatim.
    "fit2_stored_probe" -> ((s, d) => {
      val f = probeFeatures(s, d)
      val fx = Seq(col("x0"), col("x1"), col("x2"), col("x3"))
      val dir = graft.core.Scratch.dir("fit2-") + "/model"
      ext.Fit.writeProbeModel(f, fx, col("y"), iters = 4, dir)
      ext.Fit.scoreFromProbeModel(f, col("doc_id"), fx, dir,
          tauScaled = 80L * 65536L)
        .orderBy("doc_id")
    }),

    // fit3: CONTINUE training from the stored state — 2 iterations
    // train and store, 2 more extend from the artifact's last weights
    // (full-batch GD is Markovian in the weight vector, so resuming
    // replays the continuous trajectory bit for bit — the bpe5
    // extend≡retrain contract on the model tier), and the extended
    // artifact must score exactly as 4-iteration training would:
    // cur5's oracle verbatim.
    "fit3_probe_extend" -> ((s, d) => {
      val f = probeFeatures(s, d)
      val fx = Seq(col("x0"), col("x1"), col("x2"), col("x3"))
      val dir = graft.core.Scratch.dir("fit3-") + "/model"
      ext.Fit.writeProbeModel(f, fx, col("y"), iters = 2, dir)
      ext.Fit.extendProbeModel(s, dir, f, fx, col("y"), extraIters = 2)
      ext.Fit.scoreFromProbeModel(f, col("doc_id"), fx, dir,
          tauScaled = 80L * 65536L)
        .orderBy("doc_id")
    }),

    // fit4: TIME TRAVEL for the model artifact — "score with last
    // week's model" after a re-train, the audit verb of a model
    // registry: fit3's fixture scored AS OF iteration 2 after the
    // extension landed. Versions are the trajectory rows themselves
    // (no per-version copy — the tokenizer-tier rule), pins beyond
    // the trained head fail loudly (Round15Spec). Oracle: the shared
    // trajectory CTEs with the projection anchored at w2.
    "fit4_probe_asof" -> ((s, d) => {
      val f = probeFeatures(s, d)
      val fx = Seq(col("x0"), col("x1"), col("x2"), col("x3"))
      val dir = graft.core.Scratch.dir("fit4-") + "/model"
      ext.Fit.writeProbeModel(f, fx, col("y"), iters = 2, dir)
      ext.Fit.extendProbeModel(s, dir, f, fx, col("y"), extraIters = 2)
      ext.Fit.scoreFromProbeModel(f, col("doc_id"), fx, dir,
          tauScaled = 80L * 65536L, asOf = Some(2L))
        .orderBy("doc_id")
    }),

    // al1: ACTIVE-LEARNING UNCERTAINTY SAMPLING — the label-acquisition
    // queue next to cur5's filter: the SAME trained probe scores every
    // document, and the 20 closest to the decision boundary (exact
    // integer |score − τ| in the probe's 2¹⁶ fixed point — ties break on
    // doc_id) are what a human annotator or LLM judge should label NEXT
    // to improve the classifier fastest (Lewis & Gale 1994). Whole queue
    // engine-exact: trained weights ride as literals, the rank is a
    // bounded TakeOrderedAndProject, no float anywhere.
    "al1_uncertainty_sampling" -> ((s, d) => {
      val f = probeFeatures(s, d)
      val wRow = ext.Fit.linearProbeGd(f,
          Seq(col("x0"), col("x1"), col("x2"), col("x3")), col("y"),
          iters = 4)
        .orderBy(col("iter").desc).limit(1).collect()(0)
      val w = (0 to 3).map(j => wRow.getAs[Long](s"w$j"))
      val score = (0 to 3).map(j => col(s"x$j") * lit(w(j))).reduce(_ + _)
      f.select(col("doc_id"), score.as("score"),
          abs(score - lit(80L * 65536L)).as("uncertainty"))
        .orderBy(col("uncertainty").asc, col("doc_id").asc)
        .limit(20)
    }),

    // auc1: exact ROC-AUC per source — the EVALUATION leg of the
    // train→apply loop (fit1 trains, cur5 filters, this measures how well
    // a score separates a label): Mann–Whitney rank-sum with midrank tie
    // correction, integers until one final IEEE division, so the metric is
    // engine-exact — no sampled or binned approximation. Scored here on
    // (n_chars → lang='en') over documents: real ties, both classes in
    // every source group.
    "auc1_score_auc" -> ((s, d) =>
      ext.Eval.rocAuc(Tables.documents(s, d), Seq("source"),
          col("n_chars"), col("lang") === "en")
        .orderBy("source")),

    // cal1: calibration bins on the SAME score fixture as auc1 — auc1
    // grades the ranking, this grades the reliability diagram (observed
    // positive rate per equal-width score bin): integer bin/counts, two
    // final IEEE divisions, one map-side-combined aggregate
    // (Eval.calibrationBins scaladoc). Unique key (source, bin).
    "cal1_calibration_bins" -> ((s, d) =>
      ext.Eval.calibrationBins(Tables.documents(s, d), Seq("source"),
          col("n_chars"), col("lang") === "en", width = 200L)
        .orderBy("source", "bin")),

    // ndcg1: NDCG@10 on the SAME score fixture — the fourth eval leg:
    // auc1 grades the whole ordering, cal1 the score magnitudes, conf1
    // one operating point, this the position-discounted top-k a consumer
    // actually reads. Discount weights are integer micro-units computed
    // ONCE on the driver and interpolated into BOTH sides (no engine
    // evaluates a log in the graded path); DCG/IDCG exact BIGINT, one
    // final IEEE division (Eval.ndcgAtK scaladoc).
    "ndcg1_ranking_ndcg" -> ((s, d) =>
      ext.Eval.ndcgAtK(Tables.documents(s, d), Seq("source"), col("doc_id"),
          col("n_chars"), col("lang") === "en", k = 10)
        .orderBy("source")),

    // conf1: confusion matrix + P/R/F1 at one operating point on the
    // SAME score fixture as auc1/cal1 — exact integer counts, rates as
    // truncating micro BIGINTs with NULL on empty denominators
    // (Eval.confusionAtThreshold scaladoc).
    "conf1_confusion_f1" -> ((s, d) =>
      ext.Eval.confusionAtThreshold(Tables.documents(s, d), Seq("source"),
          col("n_chars"), col("lang") === "en", threshold = 700L)
        .orderBy("source")),

    // kap1: COHEN'S KAPPA — chance-corrected agreement between two
    // binary annotators, per source cohort (the statistic a labeling or
    // LLM-judge pipeline reports before trusting its labels; raw
    // percent-agreement flatters any skewed label). Annotators here are
    // two deterministic quality rules over the same documents — a
    // char-length gate (conf1's fixture threshold) and a token-count
    // gate — correlated but not identical, so every contingency cell is
    // populated. po/pe/κ in truncating micro fixed point with κ's sign
    // split out (Eval.cohensKappa scaladoc); one map-side-combined
    // aggregate over the tokenize projection, fanned out first (the
    // compute-bound narrow-stage invariant).
    "kap1_cohens_kappa" -> ((s, d) =>
      ext.Eval.cohensKappa(
          Par.fanOut(Tables.documents(s, d)
              .select(col("source"), col("n_chars"), col("text")))
            .select(col("source"), (col("n_chars") >= 700L).as("a"),
              (size(TextAnalysis.tokens(col("text"))) >= 120).as("b")),
          Seq("source"), col("a"), col("b"))
        .orderBy("source")),

    // sql1: the PURE-SQL user path end-to-end — the sim1 ranking restated
    // as SQL TEXT over a temp view, with the cosine built from the
    // registered native kernel (graft_dot, the SparkSessionExtensions
    // surface SqlExtensionsSpec pins for cluster `--conf` deployment).
    // Grades parser → function registry → codegen'd expression → window,
    // against sim1's own oracle. The DataFrame operator (bruteForceTopK)
    // stays the perf path — it computes norms once per vector and fans the
    // corpus out; this grades the SURFACE, not a second implementation.
    "sql1_pure_sql_ann" -> ((s, d) => {
      graft.plans.GraftFunctions.register(s)
      Tables.embeddings(s, d).createOrReplaceTempView("graft_emb")
      s.sql("""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM graft_emb WHERE vec_id < 5),
        c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM graft_emb),
        scored AS (
          SELECT query_id, neighbor_id,
            graft_dot(qv, cv) /
              (sqrt(graft_dot(qv, qv)) * sqrt(graft_dot(cv, cv))) AS cos
          FROM q JOIN c ON query_id <> neighbor_id),
        ranked AS (SELECT query_id, neighbor_id, cos,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
          round(cos, 4) AS cos
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank""")
    }),

    // kc1: GONZALEZ K-CENTER — farthest-first traversal, the 2-approx
    // for the WORST-CASE-radius objective (coverage: pick k probe
    // vectors so every vector is near one) completing the clustering
    // family: km1 minimizes mean distortion, dbscan1 finds density
    // shapes, this bounds the radius — and it doubles as k-means'
    // classical deterministic seeding. Integer-exact throughout (the
    // km1 quantized-grid kernel — no float ranking boundary in seed
    // selection OR assignment); k bounded TakeOrdered(1) rounds
    // (Clustering.kcenterGonzalez scaladoc). Oracle unrolls the four
    // selection rounds and assigns by the identical (d, idx) order.
    "kc1_kcenter_gonzalez" -> ((s, d) =>
      graft.ext.Clustering.kcenterGonzalez(Tables.embeddings(s, d),
          "vec_id", "embedding", k = 4)
        .orderBy("vec_id")),

    // km1: k-means over the embeddings — the coarse-quantizer TRAINING step
    // sim3/sim4 assume as a given `label` column. Exact fixed-point integer
    // Lloyd's (Clustering.kmeansAssign scaladoc): quantize once, persist,
    // k centroid literals per assignment, O(k·dim) driver state per round.
    "km1_kmeans" -> ((s, d) =>
      graft.ext.Clustering.kmeansAssign(Tables.embeddings(s, d),
          "vec_id", "embedding", k = 4, iters = 3)
        .orderBy("vec_id")),

    // rec1: ANN quality EVALUATION — recall@10 of the IVF index (sim3
    // config) against the exact brute-force ranking (sim1), per query. The
    // metric every index-tuning loop optimizes (nprobe/bits vs recall);
    // both rankings are the already-graded deterministic operators, so the
    // overlap count — and the recall boundary itself — is reproducible.
    // n_hits/10.0 is a single IEEE division (correctly rounded on any
    // engine, the cross-engine-math rule).
    "rec1_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.where(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopK(emb, qs, "vec_id", "embedding", "label",
          k = 10, nprobe = 3)
        .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
      exact.join(approx,
          col("query_id") === col("aq") && col("neighbor_id") === col("an"),
          "left")
        .groupBy("query_id")
        .agg(count(col("an")).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          (col("n_hits") / lit(10.0)).as("recall"))
        .orderBy("query_id")
    }),

    // mrl1: TRUNCATED-DIMENSION RECALL — the matryoshka-embedding eval
    // (Kusupati et al. 2022; OpenAI/voyage truncatable embeddings): how
    // much of the exact top-10 survives when BOTH query and corpus
    // vectors truncate to the first 16 of 64 dims (a 4× flop/memory
    // reduction with no reprojection — rp1's learned-mix alternative)?
    // Composed from the already-graded exact searcher on both sides, so
    // the overlap count is fully deterministic; rec1's join-count shape,
    // n_hits/10.0 the single IEEE division.
    "mrl1_truncation_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.where(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val tEmb = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val trunc = Similarity.bruteForceTopK(tEmb,
          tEmb.where(col("vec_id") < 5), "vec_id", "embedding", 10)
        .select(col("query_id").as("tq"), col("neighbor_id").as("tn"))
      exact.join(trunc,
          col("query_id") === col("tq") && col("neighbor_id") === col("tn"),
          "left")
        .groupBy("query_id")
        .agg(count(col("tn")).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          (col("n_hits") / lit(10.0)).as("recall"))
        .orderBy("query_id")
    }),

    // out1: EMBEDDING OUTLIER SCREEN — per-label bottom-k by cosine to
    // the label's own centroid (the data-pruning / mislabel-detection
    // pass an embedding-curation pipeline runs before training: vectors
    // far from their cohort's center are noise, mislabels, or novel
    // modes — all of which a human should see first). The centroid
    // relation is |labels|-row bounded (explicit broadcast under the
    // bounded-relation hint policy), the rank window partitions by
    // label over per-vector cosines, and the output is a bounded
    // per-label bottom-5 — rank-based, so no rounded-value threshold
    // boundary exists (the sim1 ranking-determinism class).
    "out1_embedding_outliers" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val e = emb.select(col("vec_id"), col("label"),
        Similarity.toDoubleArr(col("embedding")).as("v"))
      val cent = Similarity.listCentroids(e, "label", "v")
        .withColumnRenamed("list", "label")
      val scored = e.join(broadcast(cent), "label")
        .select(col("label"), col("vec_id"),
          Similarity.cosine(col("v"), col("centroid")).as("cos"))
      Similarity.topN(scored, "label", 5)(col("cos").asc, col("vec_id").asc)
        .select(col("label"), col("rank").cast("long").as("rk"),
          col("vec_id"), round(col("cos"), 4).as("cos"))
        .orderBy("label", "rk")
    }),

    // trip1: CONTRASTIVE TRAINING-TRIPLE MINING — the (anchor, hardest
    // positive, hardest negative) table a contrastive/embedding trainer
    // consumes (SimCSE/SBERT batch construction): per query, the
    // most-similar SAME-label neighbor and neg1's most-similar
    // OTHER-label neighbor in one row. Both legs are the hardNegatives
    // expression shape verbatim (bounded query broadcast, label
    // predicate inside the join condition so candidates prune before the
    // rank window), so determinism and the 100 TB shape are inherited;
    // only emitted cosines round.
    "trip1_training_triples" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.where(col("vec_id") < 5)
      val q = broadcast(qs.select(col("vec_id").as("query_id"),
        col("label").as("qlab"),
        Similarity.toDoubleArr(col("embedding")).as("qv"),
        Similarity.l2norm(col("embedding")).as("qn")))
      val c = Par.fanOut(emb.select(col("vec_id").as("neighbor_id"),
          col("label").as("nlab"), col("embedding").as("cv0")))
        .select(col("neighbor_id"), col("nlab"),
          Similarity.toDoubleArr(col("cv0")).as("cv"),
          Similarity.l2norm(col("cv0")).as("cn"))
      val pos = q.join(c, col("query_id") =!= col("neighbor_id")
          && col("qlab") === col("nlab"))
        .select(col("query_id"), col("neighbor_id"),
          Similarity.cosine(col("qv"), col("cv"), col("qn"), col("cn"))
            .as("cos"))
      val p1 = Similarity.topN(pos, "query_id", 1)(
          col("cos").desc, col("neighbor_id").asc)
        .select(col("query_id"), col("neighbor_id").as("pos_id"),
          round(col("cos"), 4).as("pos_cos"))
      val n1 = Similarity.hardNegativesTopK(emb, qs, "vec_id", "embedding",
          "label", 1)
        .select(col("query_id"), col("neighbor_id").as("neg_id"),
          col("cos").as("neg_cos"))
      p1.join(n1, "query_id").orderBy("query_id")
    }),

    // mrr1: MEAN-RECIPROCAL-RANK — the first-relevant-position metric
    // completing the ranking-eval family (rec1 grades set overlap, ndcg1
    // position-discounted gain, this the navigational "where does the ONE
    // right answer sit"): the TRUE nearest neighbor (exact top-1) looked
    // up in the IVF top-10; rr = 1/rank as truncating micro fixed point
    // (ranks positive, so floor = truncation in both engines), absent →
    // 0 (the miss convention a tuning loop wants punished). Composed
    // from two already-graded deterministic rankings, so the boundary is
    // reproducible; the mean is one exact sum away for any consumer.
    "mrr1_reciprocal_rank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.where(col("vec_id") < 5)
      val truth = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 1)
        .select(col("query_id"), col("neighbor_id").as("truth_id"))
      val approx = Similarity.ivfTopK(emb, qs, "vec_id", "embedding", "label",
          k = 10, nprobe = 3)
        .select(col("query_id").as("aq"), col("neighbor_id").as("an"),
          col("rank").cast("long").as("arank"))
      truth.join(approx,
          col("query_id") === col("aq") && col("truth_id") === col("an"),
          "left")
        .select(col("query_id"), col("truth_id"),
          col("arank").as("rank_in_ivf"),
          coalesce(call_function("div", lit(1000000L), col("arank")),
            lit(0L)).as("rr_micro"))
        .orderBy("query_id")
    }),

    // sim12: the RECALL-vs-NPROBE CURVE — rec1 measures one point, this
    // sweeps the knob (the qf1 threshold-sweep shape applied to ANN
    // tuning): per-query recall@10 of the IVF search at every nprobe in
    // 1..5 against one shared exact ranking. The exact leg computes ONCE
    // (localCheckpoint — exchange reuse across five union branches is
    // fragile, the CLAUDE.md lesson) and each leg is one probe-limited
    // search; a tuning loop reads the curve's knee, so the whole
    // artifact must be engine-exact, not just one operating point.
    "sim12_recall_curve" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.where(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint()
      val legs = (1 to 5).map { np =>
        val approx = Similarity.ivfTopK(emb, qs, "vec_id", "embedding",
            "label", k = 10, nprobe = np)
          .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
        exact.join(approx,
            col("query_id") === col("aq") && col("neighbor_id") === col("an"),
            "left")
          .groupBy("query_id").agg(count(col("an")).as("n_hits"))
          .select(lit(np).as("nprobe"), col("query_id"), col("n_hits"),
            (col("n_hits") / lit(10.0)).as("recall"))
      }
      legs.reduce(_.unionByName(_)).orderBy("nprobe", "query_id")
    }),

    // sim5: the full train → index → query loop — km1's trained quantizer
    // becomes the IVF inverted-list structure (sim3 assumes the lists as a
    // given label column). Probe selection by exact INTEGER L2² to the
    // trained centroids, so probe boundaries are bit-reproducible — no
    // float-averaged-centroid ordering hazard (Similarity.trainedIvfTopK).
    "sim5_trained_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.trainedIvfTopK(emb, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, clusters = 4, iters = 3, nprobe = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos"))
        .orderBy("query_id", "rank")
    }),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = {
    def windowed(dur: String, idExpr: String, from: String, tag: String) =
      s"""SELECT time_bucket(INTERVAL '$dur', ts) AS "timestamp", $idExpr AS id,
         | CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value,
         | '$tag' AS type
         |FROM $from GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " ")
    val enrichedFrom =
      "events e JOIN customer c ON e.user_id = c.c_custkey"
    Map(
      "a1_antenna_90s" -> windowed("90 seconds", "event_type", "events", "antenna_bytes_total"),
      // identical oracle to a1: the replay must reproduce the batch result
      "a1s_stream_replay" -> windowed("90 seconds", "event_type", "events", "antenna_bytes_total"),
      // fb1s: first event-time-ordered running-sum crossing per user, in
      // exact integer micro-units (floor(value·10⁶) is engine-identical;
      // event_id is the unique tie-break)
      "fb1s_quota_breach" ->
        ("""WITH v AS (SELECT user_id, ts, event_id,
           |  CAST(floor(value * 1000000) AS BIGINT) AS v FROM events),
           |c AS (SELECT user_id, ts, event_id,
           |  SUM(v) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS cum
           | FROM v),
           |b AS (SELECT user_id, ts, cum,
           |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           | FROM c WHERE cum >= 3000000000)
           |SELECT user_id, ts AS breach_ts, cum::BIGINT AS cum_micro FROM b
           |WHERE rn = 1 ORDER BY user_id""".stripMargin.replace("\n", " ")),
      // fb2s: batch gap sessionization (lag/flag/cumsum, the sess1s
      // family) with the identical strictly-≥ 30-min µs gap rule — the
      // timeout only decides WHEN a session flushes, never its contents
      "fb2s_idle_expiry" ->
        ("""WITH v AS (SELECT user_id, ts, event_id,
           |  CAST(floor(value * 1000000) AS BIGINT) AS v FROM events),
           |flagged AS (SELECT user_id, ts, event_id, v,
           |  CASE WHEN lag(ts) OVER w IS NULL
           |   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
           |   THEN 1 ELSE 0 END AS nf
           | FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |sess AS (SELECT user_id, ts, v,
           |  SUM(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |   ROWS UNBOUNDED PRECEDING) AS sno
           | FROM flagged)
           |SELECT user_id, min(ts) AS session_start,
           | CAST(COUNT(*) AS BIGINT) AS n_events,
           | CAST(SUM(v) AS BIGINT) AS total_micro
           |FROM sess GROUP BY user_id, sno
           |ORDER BY user_id, session_start""".stripMargin.replace("\n", " ")),
      // tws1: the final per-key cumulative emission must equal the plain
      // batch aggregate — state restored across every batch boundary
      "tws1_running_totals" ->
        ("""SELECT user_id AS id, CAST(count(*) AS BIGINT) AS n_events,
           | CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS total_vm
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      // dd1s: planted duplicates are verbatim copies, so streaming dedup
      // must return exactly the original table
      "dd1s_dedup_replay" ->
        ("""SELECT event_id, ts, user_id, event_type, value FROM events
           |ORDER BY event_id""".stripMargin.replace("\n", " ")),
      // inc1s: survivor per content = first-arriving copy — earliest batch
      // (doc_id mod 3, the replay's slice key), then min id within it
      "inc1s_stream_ingest_dedup" ->
        (s"""WITH planted AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + $plantUnitSql AS doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + 3*$plantUnitSql AS doc_id, text FROM documents
           |   WHERE doc_id % 10 = 1),
           | f AS (SELECT doc_id,
           |   substring(sha256(array_to_string($toksSql, ' ')), 1, 16) AS content_fp
           |  FROM planted),
           | r AS (SELECT doc_id, content_fp,
           |   row_number() OVER (PARTITION BY content_fp
           |    ORDER BY doc_id % 3, doc_id) AS rn
           |  FROM f)
           |SELECT doc_id, content_fp FROM r WHERE rn = 1
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // inc2s: exact batch-by-batch replay of the fuzzy ingest — survivors
      // accumulate; a batch doc drops iff its exact 3-shingle Jaccard with
      // ANY earlier-batch survivor reaches 0.7 (the LSH blocking on the
      // Spark side is recall-pinned against this brute-force recomputation,
      // the d3 grading argument); <3-token docs have no shingles and never
      // match on either side, mirroring the operator's guard
      "inc2s_stream_neardup" -> {
        def jge(c: String, s: String) =
          s"len($c) > 0 AND len($s) > 0 AND " +
            s"len(list_intersect($c, $s))::DOUBLE / " +
            s"(len($c) + len($s) - len(list_intersect($c, $s))) >= 0.7"
        // candidate prefilter: a pair at J >= 0.7 > 0 shares a shingle, so
        // the inverted-index equi-join loses nothing and spares the
        // all-pairs nested loop (ngramPairsSql's shape; makes the oracle
        // usable at the dev sf0.1 gate, not just the graded sf0.01)
        def cand(c: String, s: String) =
          s"""(SELECT DISTINCT c.doc_id AS cid, s.doc_id AS sid
             | FROM (SELECT doc_id, unnest(sh) AS t FROM $c) c
             | JOIN (SELECT doc_id, unnest(sh) AS t FROM $s) s ON c.t = s.t)"""
            .stripMargin.replace("\n", " ")
        (s"""WITH planted AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + $plantUnitSql AS doc_id,
           |   text || ' graftdup' AS text FROM documents),
           |sh AS (SELECT doc_id, doc_id % 3 AS b,
           |  CASE WHEN len(toks) >= 3
           |   THEN list_distinct([array_to_string(toks[i:i+2], ' ')
           |     for i in range(1, len(toks)-1)])
           |   ELSE [] END AS sh
           | FROM (SELECT doc_id, $toksSql AS toks FROM planted)),
           |s0 AS (SELECT doc_id, sh FROM sh WHERE b = 0),
           |c1 AS (SELECT doc_id, sh FROM sh WHERE b = 1),
           |d1 AS (SELECT DISTINCT c.doc_id FROM ${cand("c1", "s0")} p
           | JOIN c1 c ON p.cid = c.doc_id JOIN s0 s ON p.sid = s.doc_id
           | WHERE ${jge("c.sh", "s.sh")}),
           |s1 AS (SELECT doc_id, sh FROM c1
           | WHERE doc_id NOT IN (SELECT doc_id FROM d1)),
           |c2 AS (SELECT doc_id, sh FROM sh WHERE b = 2),
           |a2 AS (SELECT doc_id, sh FROM s0 UNION ALL SELECT doc_id, sh FROM s1),
           |d2 AS (SELECT DISTINCT c.doc_id FROM ${cand("c2", "a2")} p
           | JOIN c2 c ON p.cid = c.doc_id JOIN a2 s ON p.sid = s.doc_id
           | WHERE ${jge("c.sh", "s.sh")}),
           |s2 AS (SELECT doc_id, sh FROM c2
           | WHERE doc_id NOT IN (SELECT doc_id FROM d2))
           |SELECT doc_id FROM (SELECT doc_id FROM s0
           | UNION ALL SELECT doc_id FROM s1
           | UNION ALL SELECT doc_id FROM s2)
           |ORDER BY doc_id""".stripMargin.replace("\n", " "))
      },
      // cur1s: inc2s's batch-by-batch replay with the curateFuzzy quality
      // screen applied to each batch BEFORE shingling — a rejected doc
      // never reaches any later batch's archive side, exactly the engine
      // contract (screen precedes all state)
      "cur1s_stream_curation" -> {
        def jge(c: String, s: String) =
          s"len($c) > 0 AND len($s) > 0 AND " +
            s"len(list_intersect($c, $s))::DOUBLE / " +
            s"(len($c) + len($s) - len(list_intersect($c, $s))) >= 0.7"
        def cand(c: String, s: String) =
          s"""(SELECT DISTINCT c.doc_id AS cid, s.doc_id AS sid
             | FROM (SELECT doc_id, unnest(sh) AS t FROM $c) c
             | JOIN (SELECT doc_id, unnest(sh) AS t FROM $s) s ON c.t = s.t)"""
            .stripMargin.replace("\n", " ")
        (s"""WITH planted AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + $plantUnitSql AS doc_id,
           |   text || ' graftdup' AS text FROM documents),
           |tk AS (SELECT doc_id, $toksSql AS toks FROM planted),
           |scr AS (SELECT doc_id, toks FROM tk
           | WHERE len(toks) >= 20 AND len(list_filter(toks,
           |   x -> list_contains($enStopSql, x)))::DOUBLE / len(toks) >= 0.04),
           |sh AS (SELECT doc_id, doc_id % 3 AS b,
           |  CASE WHEN len(toks) >= 3
           |   THEN list_distinct([array_to_string(toks[i:i+2], ' ')
           |     for i in range(1, len(toks)-1)])
           |   ELSE [] END AS sh
           | FROM scr),
           |s0 AS (SELECT doc_id, sh FROM sh WHERE b = 0),
           |c1 AS (SELECT doc_id, sh FROM sh WHERE b = 1),
           |d1 AS (SELECT DISTINCT c.doc_id FROM ${cand("c1", "s0")} p
           | JOIN c1 c ON p.cid = c.doc_id JOIN s0 s ON p.sid = s.doc_id
           | WHERE ${jge("c.sh", "s.sh")}),
           |s1 AS (SELECT doc_id, sh FROM c1
           | WHERE doc_id NOT IN (SELECT doc_id FROM d1)),
           |c2 AS (SELECT doc_id, sh FROM sh WHERE b = 2),
           |a2 AS (SELECT doc_id, sh FROM s0 UNION ALL SELECT doc_id, sh FROM s1),
           |d2 AS (SELECT DISTINCT c.doc_id FROM ${cand("c2", "a2")} p
           | JOIN c2 c ON p.cid = c.doc_id JOIN a2 s ON p.sid = s.doc_id
           | WHERE ${jge("c.sh", "s.sh")}),
           |s2 AS (SELECT doc_id, sh FROM c2
           | WHERE doc_id NOT IN (SELECT doc_id FROM d2))
           |SELECT doc_id FROM (SELECT doc_id FROM s0
           | UNION ALL SELECT doc_id FROM s1
           | UNION ALL SELECT doc_id FROM s2)
           |ORDER BY doc_id""".stripMargin.replace("\n", " "))
      },
      // es1s: identical oracle to batch j1_enrich
      "es1s_enrich_replay" ->
        ("""SELECT event_id, ts, user_id, event_type, value, c_name, c_acctbal,
           | c_mktsegment
           |FROM events e JOIN customer c ON e.user_id = c.c_custkey
           |ORDER BY event_id""".stripMargin.replace("\n", " ")),
      // ts1: 6 h resample with gap fill (generate_series over each key's
      // span) + last-observation-carried-forward
      "ts1_resample_locf" ->
        ("""WITH pb AS (SELECT user_id AS key,
           |  time_bucket(INTERVAL '21600 seconds', ts) AS bucket_ts,
           |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS bucket_sum
           | FROM events GROUP BY 1, 2),
           |sp AS (SELECT key, MIN(bucket_ts) AS b0, MAX(bucket_ts) AS b1
           | FROM pb GROUP BY 1),
           |grid AS (SELECT key, unnest(generate_series(b0, b1,
           |  INTERVAL 21600 SECONDS)) AS bucket_ts FROM sp),
           |j AS (SELECT g.key, g.bucket_ts, pb.bucket_sum FROM grid g
           | LEFT JOIN pb ON g.key = pb.key AND g.bucket_ts = pb.bucket_ts)
           |SELECT key, bucket_ts, bucket_sum,
           | last_value(bucket_sum IGNORE NULLS) OVER (PARTITION BY key
           |  ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND
           |  CURRENT ROW) AS filled_sum,
           | CAST(bucket_sum IS NULL AS INT) AS is_gap
           |FROM j ORDER BY key, bucket_ts""".stripMargin.replace("\n", " ")),
      // ts3: identical scaffolding; gaps ramp between observed neighbors,
      // one fixed-order double formula over exact second offsets
      "ts3_resample_interp" ->
        ("""WITH pb AS (SELECT user_id AS key,
           |  time_bucket(INTERVAL '21600 seconds', ts) AS bucket_ts,
           |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS bucket_sum
           | FROM events GROUP BY 1, 2),
           |sp AS (SELECT key, MIN(bucket_ts) AS b0, MAX(bucket_ts) AS b1
           | FROM pb GROUP BY 1),
           |grid AS (SELECT key, unnest(generate_series(b0, b1,
           |  INTERVAL 21600 SECONDS)) AS bucket_ts FROM sp),
           |j AS (SELECT g.key, g.bucket_ts, pb.bucket_sum FROM grid g
           | LEFT JOIN pb ON g.key = pb.key AND g.bucket_ts = pb.bucket_ts),
           |w AS (SELECT key, bucket_ts, bucket_sum,
           | last_value(bucket_sum IGNORE NULLS) OVER (PARTITION BY key
           |  ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND
           |  CURRENT ROW) AS pv,
           | last_value(CASE WHEN bucket_sum IS NOT NULL THEN bucket_ts END
           |  IGNORE NULLS) OVER (PARTITION BY key ORDER BY bucket_ts
           |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
           | first_value(bucket_sum IGNORE NULLS) OVER (PARTITION BY key
           |  ORDER BY bucket_ts ROWS BETWEEN CURRENT ROW AND
           |  UNBOUNDED FOLLOWING) AS nv,
           | first_value(CASE WHEN bucket_sum IS NOT NULL THEN bucket_ts END
           |  IGNORE NULLS) OVER (PARTITION BY key ORDER BY bucket_ts
           |  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
           | FROM j)
           |SELECT key, bucket_ts, bucket_sum,
           | round(CASE WHEN bucket_sum IS NOT NULL THEN bucket_sum
           |  ELSE pv + (nv - pv) *
           |   (CAST(epoch(bucket_ts) - epoch(pt) AS DOUBLE)
           |    / CAST(epoch(nt) - epoch(pt) AS DOUBLE)) END, 6) AS interp_sum,
           | CAST(bucket_sum IS NULL AS INT) AS is_gap
           |FROM w ORDER BY key, bucket_ts""".stripMargin.replace("\n", " ")),
      // ts2: trailing-24-row z-score over hourly integer micro-unit
      // totals — exact window sums (HUGEINT here, DECIMAL(38,0) on the
      // Spark side; both exact integers), one shared double formula
      "ts2_hourly_anomaly" ->
        ("""WITH h AS (SELECT event_type AS id, date_trunc('hour', ts) AS hour,
           |  SUM(CAST(floor(value * 1000000) AS BIGINT)) AS vm
           | FROM events GROUP BY 1, 2),
           |w AS (SELECT id, hour, vm,
           |  COUNT(vm) OVER win AS n,
           |  SUM(CAST(vm AS HUGEINT)) OVER win AS s,
           |  SUM(CAST(vm AS HUGEINT) * vm) OVER win AS ss
           | FROM h WINDOW win AS (PARTITION BY id ORDER BY hour
           |  ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
           |SELECT id, hour, CAST(vm AS BIGINT) AS vm,
           | round((CAST(vm AS DOUBLE) - CAST(s AS DOUBLE) / 24) /
           |  sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / 24)
           |   / 23 + 1.0), 6) AS zscore
           |FROM w WHERE n = 24 ORDER BY id, hour""".stripMargin.replace("\n", " ")),
      // w5: identical RANGE INTERVAL frame; integer sums are order-free
      "w5_range_frame" ->
        ("""WITH h AS (SELECT event_type AS id, date_trunc('hour', ts) AS hour,
           |  CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS vm
           | FROM events GROUP BY 1, 2)
           |SELECT id, hour, vm,
           | CAST(sum(vm) OVER (PARTITION BY id ORDER BY hour
           |  RANGE BETWEEN INTERVAL 3 HOURS PRECEDING AND CURRENT ROW)
           |  AS BIGINT) AS vm_trailing
           |FROM h ORDER BY id, hour""".stripMargin.replace("\n", " ")),
      // ewma1: lag-8 dyadic smoothing — integer numerator/denominator,
      // one double division, the identical weights 128..1
      "ewma1_dyadic_smooth" ->
        ("""WITH h AS (SELECT event_type AS id, date_trunc('hour', ts) AS hour,
           |  CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS vm
           | FROM events GROUP BY 1, 2),
           |l AS (SELECT id, hour, vm,
           |  lag(vm, 1) OVER win AS l1, lag(vm, 2) OVER win AS l2,
           |  lag(vm, 3) OVER win AS l3, lag(vm, 4) OVER win AS l4,
           |  lag(vm, 5) OVER win AS l5, lag(vm, 6) OVER win AS l6,
           |  lag(vm, 7) OVER win AS l7
           | FROM h WINDOW win AS (PARTITION BY id ORDER BY hour))
           |SELECT id, hour, vm,
           | CAST((vm * 128 + COALESCE(l1 * 64, 0) + COALESCE(l2 * 32, 0)
           |   + COALESCE(l3 * 16, 0) + COALESCE(l4 * 8, 0) + COALESCE(l5 * 4, 0)
           |   + COALESCE(l6 * 2, 0) + COALESCE(l7 * 1, 0))
           |  // (128 + CASE WHEN l1 IS NOT NULL THEN 64 ELSE 0 END
           |   + CASE WHEN l2 IS NOT NULL THEN 32 ELSE 0 END
           |   + CASE WHEN l3 IS NOT NULL THEN 16 ELSE 0 END
           |   + CASE WHEN l4 IS NOT NULL THEN 8 ELSE 0 END
           |   + CASE WHEN l5 IS NOT NULL THEN 4 ELSE 0 END
           |   + CASE WHEN l6 IS NOT NULL THEN 2 ELSE 0 END
           |   + CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |  AS smooth
           |FROM l ORDER BY id, hour""".stripMargin.replace("\n", " ")),
      // rob1: full-history median/MAD — p=0.5 interpolated quantiles over
      // exact integers are exact dyadic doubles in both engines
      "rob1_mad_outliers" ->
        ("""WITH h AS (SELECT event_type AS id, date_trunc('hour', ts) AS hour,
           |  CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS vm
           | FROM events GROUP BY 1, 2),
           |m AS (SELECT id, hour, vm,
           |  quantile_cont(vm, 0.5) OVER (PARTITION BY id) AS med FROM h),
           |d2 AS (SELECT id, hour, vm, med,
           |  quantile_cont(abs(CAST(vm AS DOUBLE) - med), 0.5)
           |   OVER (PARTITION BY id) AS mad FROM m)
           |SELECT id, hour, vm, round(med, 6) AS med, round(mad, 6) AS mad
           |FROM d2 WHERE abs(CAST(vm AS DOUBLE) - med) > 3.0 * mad
           |ORDER BY id, hour""".stripMargin.replace("\n", " ")),
      // cp1: the identical prefix-sum/running-extremum identity — HUGEINT
      // carries what Spark holds in DECIMAL(38,0); yₜ = n·vmₜ − total is
      // integer-exact so every compared value is an integer
      // win1: identical integer ranks ((ng·pct)//100 + 1 — DuckDB //
      // floors, operands non-negative so trunc ≡ floor) and clip sums;
      // the oracle may use the group-partitioned window the engine avoids
      "win1_winsorize" ->
        ("""WITH h AS (SELECT event_type AS id, event_id,
           |  CAST(floor(value * 1000000) AS BIGINT) AS vm
           | FROM events WHERE value IS NOT NULL),
           |r AS (SELECT id, vm,
           |  row_number() OVER (PARTITION BY id ORDER BY vm, event_id) AS r,
           |  COUNT(*) OVER (PARTITION BY id) AS ng FROM h),
           |b AS (SELECT id, MAX(ng) AS n,
           |  MAX(CASE WHEN r = (ng * 5) // 100 + 1 THEN vm END) AS lo,
           |  MAX(CASE WHEN r = (ng * 95) // 100 + 1 THEN vm END) AS hi
           | FROM r GROUP BY 1)
           |SELECT b.id, CAST(b.n AS BIGINT) AS n, b.lo AS lo_micro,
           | b.hi AS hi_micro,
           | CAST(SUM(CASE WHEN h.vm < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
           | CAST(SUM(CASE WHEN h.vm > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
           | CAST(SUM(LEAST(GREATEST(h.vm, b.lo), b.hi)) AS BIGINT) AS wsum_micro
           |FROM h JOIN b ON h.id = b.id
           |GROUP BY 1, 2, 3, 4 ORDER BY b.id""".stripMargin.replace("\n", " ")),
      "cp1_cusum_changepoint" ->
        ("""WITH h AS (SELECT event_type AS id, date_trunc('hour', ts) AS hour,
           |  SUM(CAST(floor(value * 1000000) AS BIGINT)) AS vm
           | FROM events GROUP BY 1, 2),
           |t AS (SELECT id, hour, vm,
           |  COUNT(*) OVER (PARTITION BY id) AS n,
           |  SUM(CAST(vm AS HUGEINT)) OVER (PARTITION BY id) AS tot FROM h),
           |p AS (SELECT id, hour, n,
           |  SUM(n * CAST(vm AS HUGEINT) - tot) OVER win AS pfx
           | FROM t WINDOW win AS (PARTITION BY id ORDER BY hour
           |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           |c AS (SELECT id, hour, n,
           |  pfx - LEAST(CAST(0 AS HUGEINT), MIN(pfx) OVER win) AS sup,
           |  GREATEST(CAST(0 AS HUGEINT), MAX(pfx) OVER win) - pfx AS sdn
           | FROM p WINDOW win AS (PARTITION BY id ORDER BY hour
           |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           |m AS (SELECT id, hour, n, sup, sdn,
           |  MAX(sup) OVER (PARTITION BY id) AS umax,
           |  MAX(sdn) OVER (PARTITION BY id) AS dmax FROM c)
           |SELECT id, CAST(MAX(n) AS BIGINT) AS n_hours,
           | CAST(MAX(sup) AS BIGINT) AS up_max,
           | MIN(CASE WHEN sup = umax THEN hour END) AS up_hour,
           | CAST(MAX(sdn) AS BIGINT) AS dn_max,
           | MIN(CASE WHEN sdn = dmax THEN hour END) AS dn_hour
           |FROM m GROUP BY id ORDER BY id""".stripMargin.replace("\n", " ")),
      // sea1: the identical cohort window and truncating quotient —
      // DuckDB // floors, so the negative branch sign-splits (the km1
      // centroid-update convention); rank ties break on hour
      "sea1_seasonal_anomaly" ->
        ("""WITH h AS (SELECT event_type AS id, date_trunc('hour', ts) AS hour,
           |  SUM(CAST(floor(value * 1000000) AS BIGINT)) AS vm
           | FROM events GROUP BY 1, 2),
           |g AS (SELECT id, hour, vm, EXTRACT(hour FROM hour) AS hod FROM h),
           |w AS (SELECT id, hour, vm, hod,
           |  COUNT(*) OVER win AS n, SUM(CAST(vm AS HUGEINT)) OVER win AS s
           | FROM g WINDOW win AS (PARTITION BY id, hod)),
           |r AS (SELECT id, hour, vm, hod,
           |  CASE WHEN n * CAST(vm AS HUGEINT) - s < 0
           |   THEN -((-(n * CAST(vm AS HUGEINT) - s)) // n)
           |   ELSE (n * CAST(vm AS HUGEINT) - s) // n END AS resid_fp
           | FROM w),
           |k AS (SELECT id, hour, vm, hod, resid_fp,
           |  row_number() OVER (PARTITION BY id
           |   ORDER BY abs(resid_fp) DESC, hour ASC) AS rank FROM r)
           |SELECT id, hour, CAST(vm AS BIGINT) AS vm, CAST(hod AS INT) AS hod,
           | CAST(resid_fp AS BIGINT) AS resid_fp, CAST(rank AS BIGINT) AS rank
           |FROM k WHERE rank <= 3 ORDER BY id, rank""".stripMargin.replace("\n", " ")),
      // acf1: identical integer centering and truncating micro-quotient —
      // DuckDB // floors, so the negative branch sign-splits (sea1's
      // convention); sums ride HUGEINT oracle-side, COALESCE(…,0) mirrors
      // the engine's empty-lag coalesce
      "acf1_autocorrelation" ->
        ("""WITH h AS (SELECT event_type AS id, date_trunc('hour', ts) AS hour,
           |  CAST(COUNT(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
           |t AS (SELECT id, hour, y,
           |  COUNT(*) OVER (PARTITION BY id) AS n,
           |  SUM(y) OVER (PARTITION BY id) AS s FROM h),
           |z AS (SELECT id, hour, n, CAST(n * y - s AS HUGEINT) AS z FROM t),
           |l AS (SELECT id, n, z,
           |  lag(z, 1) OVER win AS z1, lag(z, 2) OVER win AS z2,
           |  lag(z, 3) OVER win AS z3
           | FROM z WINDOW win AS (PARTITION BY id ORDER BY hour)),
           |a AS (SELECT id, MAX(n) AS n_hours, SUM(z * z) AS d,
           |  COALESCE(SUM(z * z1), 0) AS num1, COUNT(z1) AS t1,
           |  COALESCE(SUM(z * z2), 0) AS num2, COUNT(z2) AS t2,
           |  COALESCE(SUM(z * z3), 0) AS num3, COUNT(z3) AS t3
           | FROM l GROUP BY id),
           |u AS (
           | SELECT id, CAST(1 AS INTEGER) AS lag, n_hours, t1 AS t, num1 AS num, d FROM a
           | UNION ALL
           | SELECT id, CAST(2 AS INTEGER), n_hours, t2, num2, d FROM a
           | UNION ALL
           | SELECT id, CAST(3 AS INTEGER), n_hours, t3, num3, d FROM a)
           |SELECT id, lag, CAST(n_hours AS BIGINT) AS n_hours,
           | CAST(t AS BIGINT) AS n_terms,
           | CAST(CASE WHEN d = 0 THEN 0
           |  WHEN num * 1000000 < 0 THEN -((-(num * 1000000)) // d)
           |  ELSE (num * 1000000) // d END AS BIGINT) AS acf_micro
           |FROM u ORDER BY id, lag""".stripMargin.replace("\n", " ")),
      // ts4: identical integer centering over the shared spine (hours
      // with >= 1 click/purchase — silent hours absent from BOTH series
      // identically), lead/lag over one ORDER BY hour window, HUGEINT
      // sums cast to exact BIGINT-in-double, the identical
      // correctly-rounded double chain, sign-split floor = truncation
      "ts4_cross_correlation" ->
        ("""WITH h AS (SELECT date_trunc('hour', ts) AS hour,
           |  SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
           |  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
           | FROM events WHERE event_type IN ('click', 'purchase')
           | GROUP BY 1),
           |t AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy FROM h),
           |z AS (SELECT hour, CAST(n*x - sx AS HUGEINT) AS zx,
           |  CAST(n*y - sy AS HUGEINT) AS zy, n FROM h, t),
           |l AS (SELECT n, zx, zy,
           |  lead(zy, 3) OVER win AS zy_m3, lead(zy, 2) OVER win AS zy_m2,
           |  lead(zy, 1) OVER win AS zy_m1, zy AS zy_p0,
           |  lag(zy, 1) OVER win AS zy_p1, lag(zy, 2) OVER win AS zy_p2,
           |  lag(zy, 3) OVER win AS zy_p3
           | FROM z WINDOW win AS (ORDER BY hour)),
           |a AS (SELECT MAX(n) AS n_hours,
           |  SUM(zx*zx) AS dx, SUM(zy*zy) AS dy,
           |  COALESCE(SUM(zx*zy_m3), 0) AS nm3, COUNT(zy_m3) AS tm3,
           |  COALESCE(SUM(zx*zy_m2), 0) AS nm2, COUNT(zy_m2) AS tm2,
           |  COALESCE(SUM(zx*zy_m1), 0) AS nm1, COUNT(zy_m1) AS tm1,
           |  COALESCE(SUM(zx*zy_p0), 0) AS np0, COUNT(zy_p0) AS tp0,
           |  COALESCE(SUM(zx*zy_p1), 0) AS np1, COUNT(zy_p1) AS tp1,
           |  COALESCE(SUM(zx*zy_p2), 0) AS np2, COUNT(zy_p2) AS tp2,
           |  COALESCE(SUM(zx*zy_p3), 0) AS np3, COUNT(zy_p3) AS tp3
           | FROM l),
           |u AS (
           | SELECT -3 AS lag, n_hours, tm3 AS t, nm3 AS num, dx, dy FROM a
           | UNION ALL SELECT -2, n_hours, tm2, nm2, dx, dy FROM a
           | UNION ALL SELECT -1, n_hours, tm1, nm1, dx, dy FROM a
           | UNION ALL SELECT 0, n_hours, tp0, np0, dx, dy FROM a
           | UNION ALL SELECT 1, n_hours, tp1, np1, dx, dy FROM a
           | UNION ALL SELECT 2, n_hours, tp2, np2, dx, dy FROM a
           | UNION ALL SELECT 3, n_hours, tp3, np3, dx, dy FROM a),
           |v AS (SELECT lag, n_hours, t, dx, dy,
           |  CAST(num AS DOUBLE) * 1000000.0 /
           |   (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE))) AS r
           | FROM u)
           |SELECT CAST(lag AS INTEGER) AS lag,
           | CAST(n_hours AS BIGINT) AS n_hours, CAST(t AS BIGINT) AS n_terms,
           | CAST(CASE WHEN dx = 0 OR dy = 0 THEN 0
           |  WHEN r >= 0 THEN floor(r) ELSE -floor(-r) END AS BIGINT)
           |  AS xcorr_micro
           |FROM v ORDER BY lag""".stripMargin.replace("\n", " ")),
      // ttl1: the surviving partitioned store ≡ the raw table filtered at
      // the same whole-hour boundary
      "ttl1_partition_retention" ->
        ("""WITH c AS (SELECT date_trunc('hour', MIN(ts))
           |  + INTERVAL 72 HOUR AS cut FROM events)
           |SELECT event_type AS id, date_trunc('hour', ts) AS hour,
           | CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS vm,
           | CAST(COUNT(*) AS BIGINT) AS n
           |FROM events, c WHERE date_trunc('hour', ts) >= c.cut
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " ")),
      // src1/src2: the aggregate over the round-tripped JSON/CSV staging
      // must equal the same aggregate over the parquet original
      "src1_json_roundtrip" ->
        ("""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           | CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total,
           | MIN(strftime(o_orderdate, '%Y-%m-%d')) AS first_date,
           | MAX(strftime(o_orderdate, '%Y-%m-%d')) AS last_date
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "src2_csv_roundtrip" ->
        ("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
           | CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS total_bal
           |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "src10_xml_roundtrip" ->
        ("""SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
           | CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           | CAST(SUM(CAST(s_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS total_bal,
           | MIN(s_name) AS first_name, MAX(s_name) AS last_name
           |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "src3_orc_roundtrip" ->
        ("""SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
           | CAST(SUM(CAST(p_retailprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price,
           | MIN(p_size) AS min_size, MAX(p_size) AS max_size
           |FROM part GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "src4_jdbc_roundtrip" ->
        ("""SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers,
           | CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS total_bal
           |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "src5_avro_roundtrip" ->
        ("""SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           | CAST(SUM(CAST(s_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS total_bal,
           | MIN(s_name) AS first_name, MAX(s_name) AS last_name
           |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      // src6: merged schema = epoch-1 columns + epoch-2 additions; epoch-1
      // rows read NULL in the added column
      "src6_schema_evolution" ->
        ("""SELECT doc_id, text, NULL::BIGINT AS lang_hint
           |FROM documents WHERE doc_id % 2 = 0
           |UNION ALL SELECT doc_id, text, doc_id % 7 AS lang_hint
           |FROM documents WHERE doc_id % 2 = 1
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // src7: byte length and sha256-of-hex digest recomputed from the
      // parquet originals (the m3 digest portability pattern)
      "src7_binaryfile_roundtrip" ->
        ("""SELECT doc_id,
           | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           | sha256(hex(encode(text))) AS digest
           |FROM documents WHERE doc_id % 20 = 0
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // src8: every scalar recomputed flat — nested containers exist only
      // on the Spark side; exact-integer outputs make the trip lossless
      "src8_avro_nested" ->
        ("""SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
           | CAST(COALESCE(sum(CASE WHEN l_quantity > 25.0
           |   THEN CAST(round(l_extendedprice * 100) AS BIGINT) END), 0) AS BIGINT) AS big_cents,
           | CAST(max(l_linenumber) AS BIGINT) AS max_line,
           | CAST(count(*) AS BIGINT) AS tag_n
           |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      // src9: the logical-type round trip is identity on exact dyadics —
      // the oracle recomputes the fixtures straight off orders
      "src9_avro_logical" ->
        ("""SELECT o_orderkey,
           | CAST(o_orderkey AS DOUBLE) + 0.25 AS dec2_d,
           | CASE WHEN o_orderkey % 3 = 0
           |   THEN CAST(o_orderkey AS DOUBLE) + 0.5 END AS dec30_d,
           | o_orderdate AS ts_ntz,
           | strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS dt_iso
           |FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", " ")),
      // scd1: change-point runs of event_type per user → validity intervals
      "scd1_type_history" ->
        ("""WITH o AS (SELECT user_id, ts, event_id, event_type,
           |  CASE WHEN lag(event_type) OVER (PARTITION BY user_id
           |    ORDER BY ts, event_id) IS DISTINCT FROM event_type
           |   THEN 1 ELSE 0 END AS chg
           | FROM events),
           |r AS (SELECT user_id, ts, event_type,
           |  SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_no
           | FROM o),
           |g AS (SELECT user_id AS key, run_no, event_type AS attr,
           |  MIN(ts) AS valid_from FROM r GROUP BY 1, 2, 3)
           |SELECT key, attr, valid_from,
           | lead(valid_from) OVER (PARTITION BY key ORDER BY run_no)
           |  AS valid_to
           |FROM g ORDER BY key, valid_from""".stripMargin.replace("\n", " ")),
      "prof1_column_profile" -> {
        val total = "(SELECT COUNT(*) FROM orders)"
        def one(c: String, num: Boolean) =
          s"""SELECT '$c' AS col_name, COUNT($c)::BIGINT AS n_nonnull,
             | ($total - COUNT($c))::BIGINT AS n_null,
             | COUNT(DISTINCT $c)::BIGINT AS n_distinct,
             | ${if (num) s"MIN($c)::DOUBLE" else "CAST(NULL AS DOUBLE)"} AS min_num,
             | ${if (num) s"MAX($c)::DOUBLE" else "CAST(NULL AS DOUBLE)"} AS max_num,
             | ${if (num) "CAST(NULL AS VARCHAR)" else s"MIN($c::VARCHAR)"} AS min_str,
             | ${if (num) "CAST(NULL AS VARCHAR)" else s"MAX($c::VARCHAR)"} AS max_str
             |FROM orders""".stripMargin.replace("\n", " ")
        Seq("o_orderkey" -> true, "o_custkey" -> true, "o_orderstatus" -> false,
          "o_totalprice" -> true, "o_orderdate" -> false,
          "o_orderpriority" -> false)
          .map { case (c, n) => one(c, n) }
          .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name")
      },
      // pv2: zero-count combinations survive the pivot→melt round trip, so
      // the oracle builds the full user × vocabulary grid and left-joins
      // the observed counts onto it
      "pv2_event_melt" ->
        ("""SELECT u.user_id, v.event_type, COALESCE(c.n, 0)::BIGINT AS n
           |FROM (SELECT DISTINCT user_id FROM events) u
           |CROSS JOIN (SELECT unnest(['click','error','purchase','signup','view']) AS event_type) v
           |LEFT JOIN (SELECT user_id, event_type, COUNT(*) AS n FROM events
           |           GROUP BY user_id, event_type) c
           | USING (user_id, event_type)
           |ORDER BY user_id, event_type""".stripMargin.replace("\n", " ")),
      // st1: identical integer moment sums and the identical combination
      // expression — HUGEINT on the DuckDB side mirrors DECIMAL(38,0)
      "st1_bivariate_stats" -> st1Sql,
      // inc6: the stored moment summary after append + duplicate retry
      // must finish to the identical stats — st1's oracle verbatim
      "inc6_incremental_bivariate" -> st1Sql,
      "a2_user_90s" -> windowed("90 seconds", "CAST(user_id AS VARCHAR)", "events", "user_bytes_total"),
      // mv1: the maintained view must equal the batch hourly aggregate
      "mv1_streaming_matview" -> windowed("1 hour", "CAST(user_id AS VARCHAR)", "events", "user_hourly_mv"),
      // mv2: the upserted-then-COMPACTED view must equal the batch daily
      // aggregate — view-invariance through the version fold
      "mv2_matview_compaction" ->
        ("""SELECT date_trunc('day', ts) AS day, event_type AS id,
           | CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value
           |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " ")),
      // mv3: the as-of-version-1 read = keyed prefix semantics — keys
      // with slice-1 activity carry cumulative-to-cut2, keys with only
      // slice-0 activity carry cumulative-to-cut1, slice-2-only keys
      // absent; the third (later) upsert must be invisible
      "mv3_time_travel" ->
        ("""WITH e AS (SELECT date_trunc('day', ts) AS day, event_type AS id,
           |  ts, value FROM events),
           |k1 AS (SELECT DISTINCT day, id FROM e
           | WHERE ts >= TIMESTAMP '2024-01-11 00:30:00'
           |  AND ts < TIMESTAMP '2024-01-21 00:30:00'),
           |k0 AS (SELECT DISTINCT day, id FROM e
           | WHERE ts < TIMESTAMP '2024-01-11 00:30:00'),
           |v1 AS (SELECT day, id,
           |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value
           | FROM e WHERE ts < TIMESTAMP '2024-01-21 00:30:00' GROUP BY 1, 2),
           |v0 AS (SELECT day, id,
           |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value
           | FROM e WHERE ts < TIMESTAMP '2024-01-11 00:30:00' GROUP BY 1, 2)
           |SELECT v1.day, v1.id, v1.value FROM v1 JOIN k1 USING (day, id)
           |UNION ALL
           |SELECT v0.day, v0.id, v0.value FROM v0 JOIN k0 USING (day, id)
           |WHERE NOT EXISTS (SELECT 1 FROM k1
           | WHERE k1.day = v0.day AND k1.id = v0.id)
           |ORDER BY day, id""".stripMargin.replace("\n", " ")),
      // cm1: the complete-mode snapshot must equal the batch GROUP BY
      "cm1_complete_totals" ->
        ("""SELECT event_type AS id,
           | CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "a3_app_90s" -> windowed("90 seconds",
        "CAST(CAST(json_extract(props, '$.k') AS INT) AS VARCHAR)", "events", "app_bytes_total"),
      "a4_antenna_1h" -> windowed("1 hour", "event_type", "events", "antenna_bytes_total"),
      // rs1: the stop/restart replay must reproduce the batch result
      "rs1_restart_replay" -> windowed("1 hour", "event_type", "events", "antenna_bytes_total"),
      "a5_email_1h" -> windowed("1 hour", "c_name", enrichedFrom, "email_bytes_total"),
      "a6_app_1h" -> windowed("1 hour",
        "CAST(CAST(json_extract(props, '$.k') AS INT) AS VARCHAR)", "events", "app_bytes_total"),
      "a8_sliding_2h" ->
        ("""SELECT w AS "timestamp", event_type AS id,
           | CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value,
           | 'antenna_bytes_sliding' AS type
           |FROM (SELECT unnest([time_bucket(INTERVAL '1 hour', ts),
           |   time_bucket(INTERVAL '1 hour', ts) - INTERVAL 1 HOUR]) AS w,
           |  event_type, value FROM events) t
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " ")),
      "a9_salted_total" ->
        ("""SELECT event_type AS id,
           | CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      // sj1: the salted rewrite must equal the PLAIN inner join
      "sj1_salted_join" ->
        ("""WITH ev AS (SELECT event_id, value,
           |  CASE WHEN event_id % 10 < 7 THEN 0 ELSE user_id END AS uk
           | FROM events),
           |dim AS (SELECT DISTINCT uk AS du FROM ev WHERE uk IS NOT NULL),
           |j AS (SELECT ev.uk, ev.value, du % 97 AS weight
           | FROM ev JOIN dim ON ev.uk = dim.du)
           |SELECT uk AS user_key, CAST(COUNT(*) AS BIGINT) AS n_events,
           | CAST(SUM(CAST(value * weight AS DECIMAL(30,6))) AS DOUBLE) AS weighted
           |FROM j GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      // bk1: the bucketed round trip must preserve the plain join/agg
      "bk1_bucketed_join" ->
        ("""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           | CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS total
           |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      // zo1: the z-ordered rewrite is lossless — same rows as the plain
      // table under the same 2-D range predicate (bounds re-derived by the
      // identical integer formula; FLOOR on positives ≡ Scala Long /)
      "zo1_zorder_scan" ->
        ("""WITH b AS (SELECT CAST(FLOOR(MAX(l_orderkey)/4) AS BIGINT) AS ok_lo,
           | CAST(FLOOR(MAX(l_orderkey)/2) AS BIGINT) AS ok_hi,
           | CAST(FLOOR(MAX(l_partkey)/4) AS BIGINT) AS pk_lo,
           | CAST(FLOOR(MAX(l_partkey)/2) AS BIGINT) AS pk_hi FROM lineitem)
           |SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
           |FROM lineitem, b
           |WHERE l_orderkey BETWEEN ok_lo AND ok_hi
           | AND l_partkey BETWEEN pk_lo AND pk_hi
           |ORDER BY l_orderkey, l_linenumber""".stripMargin.replace("\n", " ")),
      // dpp1: the pruned join ≡ a direct day-range filter on the facts
      "dpp1_partition_pruned_join" ->
        ("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           | CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total
           |FROM events
           |WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-14'
           |GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "a7_quota_violations" ->
        ("""SELECT c_name AS email,
           | CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS usage,
           | c_acctbal AS quota,
           | time_bucket(INTERVAL '1 hour', ts) AS "timestamp"
           |FROM events e JOIN customer c ON e.user_id = c.c_custkey
           |GROUP BY c_name, c_acctbal, 4
           |HAVING CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) > c_acctbal
           |ORDER BY email, "timestamp"""".stripMargin.replace("\n", " ")),
      "j1_enrich" ->
        ("""SELECT event_id, ts, user_id, event_type, value, c_name, c_acctbal,
           | c_mktsegment
           |FROM events e JOIN customer c ON e.user_id = c.c_custkey
           |ORDER BY event_id""".stripMargin.replace("\n", " ")),
      "s2_hour_slice" ->
        ("""SELECT event_id, ts, user_id, event_type, value FROM events
           |WHERE EXTRACT(year FROM ts) = 2024 AND EXTRACT(month FROM ts) = 1
           | AND EXTRACT(day FROM ts) = 1 AND EXTRACT(hour FROM ts) = 10
           |ORDER BY event_id""".stripMargin.replace("\n", " ")),
      "p3_json_parse" ->
        "SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k FROM events ORDER BY event_id",
      "var1_variant_extract" ->
        ("""SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k,
           | CAST(json_extract(props, '$.absent') AS INT) AS absent
           |FROM events ORDER BY event_id""".stripMargin.replace("\n", " ")),

      // ---- analytics breadth ---------------------------------------------
      "q1_pricing_summary" ->
        (s"""SELECT l_returnflag, l_linestatus,
           | ${dsum("l_quantity")} AS sum_qty,
           | ${dsum("l_extendedprice")} AS sum_base_price,
           | ${dsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
           | ${dsum("l_quantity")} / COUNT(*) AS avg_qty,
           | ${dsum("l_discount")} / COUNT(*) AS avg_disc,
           | COUNT(*) AS count_order
           |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " ")),
      "q3_top_orders" ->
        (s"""SELECT o_orderkey, o_orderdate,
           | ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           | JOIN customer ON o_custkey = c_custkey
           |WHERE c_mktsegment = 'BUILDING'
           | AND o_orderdate < TIMESTAMP '1998-06-01'
           | AND l_shipdate > TIMESTAMP '1998-06-01'
           |GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin.replace("\n", " ")),
      "q4_priority_semijoin" ->
        ("""SELECT o_orderpriority, COUNT(*) AS order_count FROM orders o
           |WHERE EXISTS (SELECT 1 FROM lineitem l
           |  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
           |GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "q5_local_supplier" ->
        (s"""SELECT n_name,
           | ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           | JOIN customer ON o_custkey = c_custkey
           | JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
           | JOIN nation ON c_nationkey = n_nationkey
           | JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name = 'ASIA' GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "q10_returned_items" ->
        (s"""SELECT c_custkey, c_name, c_acctbal, n_name,
           | ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           | JOIN customer ON o_custkey = c_custkey
           | JOIN nation ON c_nationkey = n_nationkey
           |WHERE l_returnflag = 'R'
           |GROUP BY 1, 2, 3, 4 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin.replace("\n", " ")),
      "q6_forecast_revenue" ->
        (s"""SELECT ${dsum("l_extendedprice * l_discount")} AS revenue
           |FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
           | AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
           |ORDER BY revenue""".stripMargin.replace("\n", " ")),
      "q12_priority_shipping" ->
        ("""SELECT l_linestatus,
           | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |WHERE l_shipdate > o_orderdate
           |GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "q14_promo_share" ->
        ("""SELECT 100.0 *
           | CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
           |   THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE) /
           | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS promo_share
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
           |ORDER BY promo_share""".stripMargin.replace("\n", " ")),
      "q17_small_qty_revenue" ->
        ("""WITH t AS (
           | SELECT l_partkey AS t_partkey,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty
           | FROM lineitem GROUP BY 1)
           |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / 7.0 AS avg_yearly
           |FROM lineitem JOIN t ON l_partkey = t_partkey
           |WHERE l_quantity < 0.2 * avg_qty
           |ORDER BY avg_yearly""".stripMargin.replace("\n", " ")),
      "q13_order_distribution" ->
        ("""SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
           |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
           |  FROM customer LEFT OUTER JOIN orders
           |    ON c_custkey = o_custkey AND o_orderstatus <> 'P'
           |  GROUP BY 1) t
           |GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "q11_important_parts" ->
        ("""WITH pp AS (
           |  SELECT l_partkey,
           |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS rev_dec
           |  FROM lineitem GROUP BY 1),
           | g AS (SELECT SUM(rev_dec) AS total_dec, COUNT(*) AS n_parts FROM pp)
           |SELECT l_partkey, CAST(rev_dec AS DOUBLE) AS revenue
           |FROM pp, g
           |WHERE CAST(rev_dec AS DOUBLE) > 1.3 * CAST(total_dec AS DOUBLE) / n_parts
           |ORDER BY l_partkey""".stripMargin.replace("\n", " ")),
      // q2: min is exact over doubles (no summation), so the equality match
      // against the per-part minimum is engine-identical
      "q2_min_cost_offer" ->
        ("""WITH offers AS (
           |  SELECT l_partkey, l_suppkey, l_extendedprice AS cost
           |  FROM lineitem JOIN part ON l_partkey = p_partkey
           |  WHERE p_type = 'STANDARD' AND l_suppkey IN (
           |    SELECT s_suppkey FROM supplier
           |    JOIN nation ON s_nationkey = n_nationkey
           |    JOIN region ON n_regionkey = r_regionkey
           |    WHERE r_name = 'EUROPE')),
           | m AS (SELECT l_partkey AS m_partkey, MIN(cost) AS min_cost
           |   FROM offers GROUP BY 1)
           |SELECT DISTINCT s_acctbal, s_name, n_name,
           |  o.l_partkey AS p_partkey, cost
           |FROM offers o
           |JOIN m ON o.l_partkey = m_partkey AND o.cost = min_cost
           |JOIN supplier ON o.l_suppkey = s_suppkey
           |JOIN nation ON s_nationkey = n_nationkey
           |ORDER BY s_acctbal DESC, p_partkey, s_name
           |LIMIT 100""".stripMargin.replace("\n", " ")),
      "q7_volume_shipping" ->
        ("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           |  CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
           |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation cn ON c_nationkey = cn.n_nationkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation sn ON s_nationkey = sn.n_nationkey
           |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           |  AND l_shipdate < TIMESTAMP '1998-01-01'
           |  AND sn.n_name IN ('NATION_1', 'NATION_2')
           |  AND cn.n_name IN ('NATION_1', 'NATION_2')
           |  AND sn.n_name <> cn.n_name
           |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin.replace("\n", " ")),
      "q8_market_share" ->
        ("""SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           |  CAST(SUM(CAST(CASE WHEN sn.n_name = 'NATION_2'
           |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE) /
           |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS mkt_share
           |FROM lineitem
           |JOIN part ON l_partkey = p_partkey
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation cn ON c_nationkey = cn.n_nationkey
           |JOIN region ON cn.n_regionkey = r_regionkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation sn ON s_nationkey = sn.n_nationkey
           |WHERE p_type = 'PROMO' AND r_name = 'ASIA'
           |  AND o_orderdate >= TIMESTAMP '1996-01-01'
           |  AND o_orderdate < TIMESTAMP '1998-01-01'
           |GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "q9_product_profit" ->
        ("""SELECT n_name,
           |  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
           |    - 0.1 * p_retailprice * l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_profit
           |FROM lineitem
           |JOIN part ON l_partkey = p_partkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation ON s_nationkey = n_nationkey
           |JOIN orders ON l_orderkey = o_orderkey
           |WHERE p_name LIKE '%red%'
           |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin.replace("\n", " ")),
      // q15: the max-revenue match compares the exact DECIMAL sums, never
      // the rounded doubles — ties and the match are engine-identical
      "q15_top_supplier" ->
        ("""WITH rev AS (
           |  SELECT l_suppkey,
           |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS rev_dec
           |  FROM lineitem
           |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           |    AND l_shipdate < TIMESTAMP '1997-04-01'
           |    AND l_suppkey IS NOT NULL
           |  GROUP BY 1)
           |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
           |FROM rev JOIN supplier ON l_suppkey = s_suppkey
           |WHERE rev_dec >= (SELECT MAX(rev_dec) FROM rev)
           |ORDER BY s_suppkey""".stripMargin.replace("\n", " ")),
      "q16_supplier_variety" ->
        ("""WITH rel AS (
           |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
           |  WHERE l_suppkey NOT IN
           |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
           |SELECT p_brand, p_type, p_size,
           |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
           |FROM rel JOIN part ON l_partkey = p_partkey
           |WHERE p_brand <> 'Brand#5'
           |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45)
           |GROUP BY 1, 2, 3
           |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin.replace("\n", " ")),
      "q20_excess_shippers" ->
        ("""WITH shipped AS (
           |  SELECT l_partkey, l_suppkey, l_quantity
           |  FROM lineitem JOIN part ON l_partkey = p_partkey
           |  WHERE p_name LIKE 'red%'
           |    AND l_shipdate >= TIMESTAMP '1997-01-01'
           |    AND l_shipdate < TIMESTAMP '1998-01-01'),
           | pair AS (SELECT l_partkey, l_suppkey,
           |    SUM(CAST(l_quantity AS DECIMAL(30,6))) AS pair_qty
           |  FROM shipped GROUP BY 1, 2),
           | tot AS (SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(30,6))) AS part_qty
           |  FROM shipped GROUP BY 1)
           |SELECT s_suppkey, s_name
           |FROM supplier JOIN nation ON s_nationkey = n_nationkey
           |WHERE n_name = 'NATION_7' AND s_suppkey IN (
           |  SELECT p.l_suppkey FROM pair p JOIN tot t ON p.l_partkey = t.l_partkey
           |  WHERE CAST(pair_qty AS DOUBLE) > 0.2 * CAST(part_qty AS DOUBLE))
           |ORDER BY s_suppkey""".stripMargin.replace("\n", " ")),
      "q22_idle_balances" ->
        ("""WITH a AS (
           |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE)
           |    / COUNT(c_acctbal) AS avg_bal
           |  FROM customer WHERE c_acctbal > 0)
           |SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
           |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS totacctbal
           |FROM customer, a
           |WHERE c_acctbal > avg_bal
           |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
           |    WHERE o_orderdate >= TIMESTAMP '1999-01-01')
           |GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "fo1_snapshot_diff" ->
        ("""WITH a AS (SELECT o_custkey AS k_old, CAST(COUNT(*) AS BIGINT) AS n_old
           |  FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996 GROUP BY 1),
           | b AS (SELECT o_custkey AS k_new, CAST(COUNT(*) AS BIGINT) AS n_new
           |  FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997 GROUP BY 1)
           |SELECT COALESCE(k_old, k_new) AS custkey,
           |  CASE WHEN k_old IS NULL THEN 'added' WHEN k_new IS NULL THEN 'removed'
           |       WHEN n_old <> n_new THEN 'changed' ELSE 'same' END AS status,
           |  CAST(COALESCE(n_old, 0) AS BIGINT) AS n_old,
           |  CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new
           |FROM a FULL OUTER JOIN b ON k_old = k_new
           |ORDER BY custkey""".stripMargin.replace("\n", " ")),
      "w3_running_totals" ->
        ("""SELECT o_custkey, o_orderkey,
           | CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
           |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           |   AS running_total,
           | CAST(ntile(4) OVER (PARTITION BY o_custkey
           |   ORDER BY o_orderdate, o_orderkey) AS INT) AS quartile
           |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin.replace("\n", " ")),
      "int1_open_and_finished" ->
        ("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
           |INTERSECT
           |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
           |ORDER BY o_custkey""".stripMargin.replace("\n", " ")),
      "q18_large_orders" ->
        (s"""WITH big AS (
           | SELECT l_orderkey, ${dsum("l_quantity")} AS total_qty
           | FROM lineitem GROUP BY 1
           | HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) > 250.0)
           |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
           |FROM big JOIN orders ON l_orderkey = o_orderkey
           | JOIN customer ON o_custkey = c_custkey
           |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin.replace("\n", " ")),
      "q21_fully_late" ->
        ("""SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders o
           |WHERE EXISTS (SELECT 1 FROM lineitem l
           |   WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
           | AND NOT EXISTS (SELECT 1 FROM lineitem l
           |   WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate <= o.o_orderdate)
           |GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "q19_band_revenue" ->
        (s"""SELECT ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
           |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 25 AND l_quantity BETWEEN 10 AND 30)
           |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 26 AND 50 AND l_quantity BETWEEN 20 AND 40)
           |ORDER BY revenue""".stripMargin.replace("\n", " ")),
      // w4: identical tie fixture + the same four ranking functions
      "w4_rank_functions" ->
        ("""WITH planted AS (
           | SELECT o_custkey, o_orderkey, o_totalprice FROM orders
           | UNION ALL SELECT o_custkey, o_orderkey + 10000000, o_totalprice FROM orders),
           |r AS (SELECT o_custkey, o_orderkey, o_totalprice,
           |  CAST(rank() OVER w AS BIGINT) AS rnk,
           |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           |  percent_rank() OVER w AS prnk,
           |  cume_dist() OVER w AS cdist
           | FROM planted
           | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC))
           |SELECT * FROM r WHERE drnk <= 2
           |ORDER BY o_custkey, o_orderkey""".stripMargin.replace("\n", " ")),
      "w1_top_order_per_customer" ->
        ("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
           |  SELECT o_custkey, o_orderkey, o_totalprice,
           |    row_number() OVER (PARTITION BY o_custkey
           |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
           |  FROM orders) t WHERE rn = 1 ORDER BY o_custkey""".stripMargin.replace("\n", " ")),
      "w2_order_gaps" ->
        ("""SELECT o_custkey, o_orderkey,
           | CAST(date_diff('day',
           |   lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           |   o_orderdate) AS BIGINT) AS gap_days
           |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin.replace("\n", " ")),
      "ag1_order_part_lists" ->
        ("""SELECT l_orderkey,
           | array_to_string(list_sort(list(l_partkey)), ',') AS part_keys,
           | COUNT(*) AS n_items
           |FROM lineitem WHERE l_orderkey <= 1000
           |GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "r1_revenue_rollup" ->
        (s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           | COALESCE(l_linestatus, 'ALL') AS linestatus,
           | ${dsum("l_extendedprice")} AS revenue, COUNT(*) AS n
           |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
           |ORDER BY 1, 2""".stripMargin.replace("\n", " ")),
      "set1_open_not_finished" ->
        ("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
           |EXCEPT
           |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
           |ORDER BY o_custkey""".stripMargin.replace("\n", " ")),
      "aj1_customers_without_orders" ->
        ("""SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer c
           |WHERE NOT EXISTS (SELECT 1 FROM orders o
           |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
           |GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),

      "r2_revenue_cube" ->
        (s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           | COALESCE(l_linestatus, 'ALL') AS linestatus,
           | ${dsum("l_extendedprice")} AS revenue, COUNT(*) AS n
           |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
           |ORDER BY 1, 2""".stripMargin.replace("\n", " ")),
      // gs1: the explicit level mix neither ROLLUP nor CUBE expresses
      "gs1_grouping_sets" ->
        (s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           | COALESCE(l_linestatus, 'ALL') AS linestatus,
           | ${dsum("l_extendedprice")} AS revenue, COUNT(*) AS n
           |FROM lineitem
           |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
           |ORDER BY 1, 2""".stripMargin.replace("\n", " ")),
      // nd1: the flat relational equivalent of the nested HOF pipeline
      "nd1_nested_lines" ->
        ("""SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
           | CAST(count(CASE WHEN l_quantity > 25.0 THEN 1 END) AS BIGINT) AS n_big,
           | CAST(COALESCE(sum(CASE WHEN l_quantity > 25.0
           |   THEN CAST(round(l_extendedprice * 100) AS BIGINT) END), 0) AS BIGINT) AS big_cents
           |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "dt1_ship_delay_hist" ->
        ("""SELECT CAST((epoch(l_shipdate) - epoch(o_orderdate)) / 86400 AS BIGINT) AS delay_days,
           | COUNT(*) AS n
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      // dt2: quantile edges via the same interpolated definition, cells
      // graded on counts + data min/max only (edges never emitted)
      "dt2_equidepth_hist" ->
        ("""WITH e AS (SELECT quantile_cont(o_totalprice, 0.25) AS e1,
           |  quantile_cont(o_totalprice, 0.5) AS e2,
           |  quantile_cont(o_totalprice, 0.75) AS e3 FROM orders),
           |b AS (SELECT CASE WHEN o_totalprice <= e1 THEN 0
           |  WHEN o_totalprice <= e2 THEN 1
           |  WHEN o_totalprice <= e3 THEN 2 ELSE 3 END AS bucket,
           |  o_totalprice AS v
           | FROM orders, e)
           |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
           | min(v) AS min_v, max(v) AS max_v
           |FROM b GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      // rfm1: identical ntile definition both engines (first n mod b
      // buckets take one extra), cust tie-break pins the boundaries
      "rfm1_segmentation" ->
        ("""WITH per AS (SELECT o_custkey AS cust, max(o_orderdate) AS last_ts,
           |  count(*) AS freq,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS monetary
           | FROM orders GROUP BY 1),
           |sc AS (SELECT cust,
           |  ntile(5) OVER (ORDER BY last_ts DESC, cust) AS r,
           |  ntile(5) OVER (ORDER BY freq DESC, cust) AS f,
           |  ntile(5) OVER (ORDER BY monetary DESC, cust) AS m
           | FROM per)
           |SELECT cust, CAST(r AS INT) AS r, CAST(f AS INT) AS f,
           | CAST(m AS INT) AS m, CAST(r * 100 + f * 10 + m AS INT) AS seg
           |FROM sc ORDER BY cust""".stripMargin.replace("\n", " ")),
      // ab1: exact integer counts; micro-rates via truncating //; the z
      // formula mirrors the engine's operation order token for token
      "ab1_test_lift" ->
        ("""WITH pop AS (SELECT c_custkey AS u,
           |  CASE WHEN c_custkey % 2 = 0 THEN 'A' ELSE 'B' END AS v
           | FROM customer),
           |cv AS (SELECT DISTINCT o_custkey AS cu FROM orders
           | WHERE o_orderpriority = '1-URGENT'),
           |fl AS (SELECT v, CAST(cu IS NOT NULL AS BIGINT) AS c
           | FROM pop LEFT JOIN cv ON pop.u = cv.cu),
           |a AS (SELECT
           |  CAST(count(CASE WHEN v = 'A' THEN 1 END) AS BIGINT) AS n_a,
           |  CAST(SUM(CASE WHEN v = 'A' THEN c END) AS BIGINT) AS conv_a,
           |  CAST(count(CASE WHEN v = 'B' THEN 1 END) AS BIGINT) AS n_b,
           |  CAST(SUM(CASE WHEN v = 'B' THEN c END) AS BIGINT) AS conv_b
           | FROM fl)
           |SELECT n_a, conv_a, n_b, conv_b,
           | conv_a * 1000000 // n_a AS rate_a_micro,
           | conv_b * 1000000 // n_b AS rate_b_micro,
           | conv_b * 1000000 // n_b - conv_a * 1000000 // n_a AS lift_micro,
           | round((CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
           |   - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
           |  / sqrt(CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
           |   * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
           |   * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)
           |  AS zscore
           |FROM a""".stripMargin.replace("\n", " ")),
      // qq1: identical exact integer target ranks ((k·n + s−1) // s) over
      // a (value, id) row_number — no float quantile arithmetic anywhere
      "qq1_quantile_drift" ->
        ("""WITH av AS (SELECT o_orderkey AS id, o_totalprice AS v
           |  FROM orders WHERE o_orderkey % 2 = 0),
           |bv AS (SELECT o_orderkey AS id, o_totalprice AS v
           |  FROM orders WHERE o_orderkey % 2 = 1),
           |ks AS (SELECT unnest(range(1, 10)) AS decile),
           |na AS (SELECT count(*) AS n FROM av),
           |nb AS (SELECT count(*) AS n FROM bv),
           |ra AS (SELECT decile, (decile * n + 9) // 10 AS rk FROM ks, na),
           |rb AS (SELECT decile, (decile * n + 9) // 10 AS rk FROM ks, nb),
           |oa AS (SELECT v, row_number() OVER (ORDER BY v, id) AS rn FROM av),
           |ob AS (SELECT v, row_number() OVER (ORDER BY v, id) AS rn FROM bv),
           |qa AS (SELECT decile, v AS qa FROM ra JOIN oa ON oa.rn = ra.rk),
           |qb AS (SELECT decile, v AS qb FROM rb JOIN ob ON ob.rn = rb.rk)
           |SELECT CAST(qa.decile AS INT) AS decile, qa.qa, qb.qb,
           | qb.qb - qa.qa AS gap
           |FROM qa JOIN qb ON qa.decile = qb.decile
           |ORDER BY decile""".stripMargin.replace("\n", " ")),
      // ks1: one global running CDF per side (the oracle may sort
      // globally; the engine must not), supremum over HUGEINT
      // cross-products, ties to the smallest value
      "ks1_two_sample_ks" ->
        ("""WITH g AS (SELECT CAST(floor(value * 1000000) AS BIGINT) AS v,
           |  SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
           |  SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
           | FROM events WHERE value IS NOT NULL GROUP BY 1),
           |t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM g),
           |c AS (SELECT v, SUM(ca) OVER win AS cuma, SUM(cb) OVER win AS cumb
           | FROM g WINDOW win AS (ORDER BY v
           |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           |d AS (SELECT v, cuma, cumb,
           |  ABS(cuma * CAST(nb AS HUGEINT) - cumb * CAST(na AS HUGEINT))
           |   AS dnum FROM c, t)
           |SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
           | CAST(d.v AS BIGINT) AS ks_value, CAST(d.cuma AS BIGINT) AS cum_a,
           | CAST(d.cumb AS BIGINT) AS cum_b, CAST(d.dnum AS BIGINT) AS d_num
           |FROM d, t ORDER BY d.dnum DESC, d.v ASC
           |LIMIT 1""".stripMargin.replace("\n", " ")),
      // ben1: identical string-head first digit, the SAME driver-computed
      // expected-share micro literals interpolated into both engines (no
      // logarithm runs in either graded path), truncating micro share on
      // non-negatives (// ≡ div), digit spine keeps zero-count rows
      "ben1_benford_digits" -> {
        val em = (1 to 9).map(dd =>
          math.floor(1e6 * math.log10(1.0 + 1.0 / dd)).toLong)
        (s"""WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
           |  FROM lineitem WHERE round(l_extendedprice * 100) > 0),
           |o AS (SELECT CAST(substring(CAST(v AS VARCHAR), 1, 1) AS INTEGER) AS digit,
           |  COUNT(*) AS obs FROM v GROUP BY 1),
           |nt AS (SELECT COALESCE(SUM(obs), 0) AS n FROM o),
           |e AS (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS digit,
           |  unnest([${em.mkString(",")}]) AS exp_micro),
           |j AS (SELECT e.digit, COALESCE(o.obs, 0) AS obs, e.exp_micro,
           |  CASE WHEN nt.n > 0
           |   THEN (COALESCE(o.obs, 0) * 1000000) // nt.n ELSE 0 END AS sh
           | FROM e LEFT JOIN o ON e.digit = o.digit, nt)
           |SELECT digit, CAST(obs AS BIGINT) AS obs,
           | CAST(sh AS BIGINT) AS share_micro,
           | CAST(exp_micro AS BIGINT) AS exp_micro,
           | CAST(sh - exp_micro AS BIGINT) AS dev_micro
           |FROM j ORDER BY digit""".stripMargin.replace("\n", " "))
      },
      // qn1: the oracle may state the per-group window directly; the
      // target rank is the identical exact-integer ceil
      "qn1_quantile_normalize" ->
        ("""WITH o AS (SELECT o_orderkey AS id, o_orderstatus AS grp,
           |  o_totalprice AS v FROM orders),
           |r AS (SELECT id, grp, v,
           |  row_number() OVER (PARTITION BY grp ORDER BY v, id) AS r,
           |  COUNT(*) OVER (PARTITION BY grp) AS ng,
           |  COUNT(*) OVER () AS n FROM o),
           |p AS (SELECT v AS norm_v, row_number() OVER (ORDER BY v, id) AS t
           | FROM o)
           |SELECT r.id, r.grp, r.v, p.norm_v
           |FROM r JOIN p ON p.t = (r.r * r.n + r.ng - 1) // r.ng
           |ORDER BY r.id""".stripMargin.replace("\n", " ")),
      // imp1: both engines' percentile aggregates skip NULLs; the median
      // is (a+b)/2 of data values — exact dyadic, the rob1 argument
      "imp1_median_impute" ->
        ("""WITH c AS (SELECT c_custkey, c_mktsegment,
           |  CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal
           | FROM customer),
           |m AS (SELECT c_custkey, c_mktsegment, bal,
           |  quantile_cont(bal, 0.5) OVER (PARTITION BY c_mktsegment) AS med
           | FROM c)
           |SELECT c_custkey, c_mktsegment,
           | CAST(bal IS NULL AS INT) AS was_imputed,
           | COALESCE(bal, med) AS imputed
           |FROM m ORDER BY c_custkey""".stripMargin.replace("\n", " ")),
      // ord1: the contract is the plain global window; the engine's
      // range-partitioned two-phase form must agree for any boundary
      // placement
      "ord1_global_ordinals" ->
        ("""SELECT o_orderkey,
           | CAST(row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS ordinal
           |FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", " ")),
      "str1_brand_parse" ->
        ("""SELECT p_partkey,
           | CAST(regexp_extract(p_brand, '(\d+)', 1) AS INTEGER) AS brand_num,
           | upper(p_type) AS type_upper, length(p_name) AS name_len,
           | concat_ws('|', p_brand, p_type) AS brand_type
           |FROM part ORDER BY p_partkey""".stripMargin.replace("\n", " ")),
      "pct1_percentiles" ->
        ("""SELECT l_returnflag,
           | round(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
           | round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
           |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "cd1_distinct_parts" ->
        ("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
           | count(*) AS n_rows
           |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "pv1_nation_segment_pivot" ->
        ("""SELECT c_nationkey,
           | count(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 END) AS "AUTOMOBILE",
           | count(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS "BUILDING",
           | count(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 END) AS "FURNITURE",
           | count(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 END) AS "HOUSEHOLD",
           | count(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END) AS "MACHINERY"
           |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      // sess1s: gap sessionization with session_window's merge rule — a
      // new session starts when the inter-event gap REACHES the threshold
      // ([ts, ts+gap) intervals merge only on strict overlap), hence >=
      // where sess1's batch formulation uses > .
      "sess1s_session_replay" ->
        ("""WITH flagged AS (
           | SELECT CAST(user_id AS VARCHAR) AS id, ts, value,
           |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           |   OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800000000
           |   THEN 1 ELSE 0 END AS nf
           | FROM events),
           |sess AS (
           | SELECT id, ts, value,
           |  SUM(nf) OVER (PARTITION BY id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_no
           | FROM flagged)
           |SELECT min(ts) AS "timestamp", id,
           | CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value,
           | 'user_session_total' AS type
           |FROM sess GROUP BY id, session_no
           |ORDER BY 1, 2""".stripMargin.replace("\n", " ")),
      "sess1_sessions" ->
        ("""WITH flagged AS (
           | SELECT user_id, ts, value,
           |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           |   OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
           |   THEN 1 ELSE 0 END AS nf
           | FROM events),
           |sess AS (
           | SELECT user_id, ts, value,
           |  CAST(SUM(nf) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
           | FROM flagged)
           |SELECT user_id, session_no, min(ts) AS session_start,
           | count(*) AS n_events,
           | CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
           |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " ")),
      "asof1_prev_click" ->
        ("""SELECT e.event_id, e.user_id, e.ts,
           | c.event_id AS click_id, c.ts AS click_ts
           |FROM (SELECT * FROM events WHERE event_type = 'error') e
           |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           | ON e.user_id = c.user_id AND e.ts >= c.ts
           |ORDER BY e.event_id""".stripMargin.replace("\n", " ")),
      // asof2: native ASOF plus the identical inclusive tolerance CASE
      "asof2_tolerant_match" ->
        ("""SELECT e.event_id, e.user_id, e.ts,
           | CASE WHEN c.ts >= e.ts - INTERVAL 2 HOURS THEN c.event_id END
           |  AS m_click_id
           |FROM (SELECT * FROM events WHERE event_type = 'error') e
           |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           | ON e.user_id = c.user_id AND e.ts >= c.ts
           |ORDER BY e.event_id""".stripMargin.replace("\n", " ")),
      // tj1: native ASOF against the planted version table — tie-free by
      // construction (two distinct version dates per key)
      "tj1_temporal_dim_join" ->
        ("""WITH v AS (
           | SELECT c_custkey AS k, TIMESTAMP '1990-01-01' AS vt,
           |  c_acctbal AS bal, c_mktsegment AS seg FROM customer
           | UNION ALL SELECT c_custkey, TIMESTAMP '1998-01-01',
           |  c_acctbal + 500.0, 'MOVED' FROM customer WHERE c_custkey % 3 = 1)
           |SELECT o.o_orderkey, o.o_custkey, v.bal AS dim_bal, v.seg AS dim_seg
           |FROM orders o ASOF JOIN v
           | ON o.o_custkey = v.k AND o.o_orderdate >= v.vt
           |ORDER BY o.o_orderkey""".stripMargin.replace("\n", " ")),
      // att1: identical integer split — vmicro = round(v·10⁶) once, share
      // = integer division per (touch, conversion) pair; DuckDB // is
      // floor division but every vmicro is non-negative, so it equals
      // Spark's truncating div; SUM over BIGINT → HUGEINT → cast back
      "att1_linear_attribution" ->
        ("""WITH t AS (SELECT user_id AS u, event_id AS touch_id, ts AS tts
           |  FROM events WHERE event_type IN ('click', 'view')),
           |c AS (SELECT user_id AS u, event_id AS conv_id, ts AS cts,
           |  CAST(round(value * 1000000) AS BIGINT) AS vmicro
           |  FROM events WHERE event_type = 'purchase'),
           |j AS (SELECT t.touch_id, c.conv_id, c.vmicro
           |  FROM t JOIN c ON t.u = c.u AND t.tts < c.cts
           |   AND t.tts >= c.cts - INTERVAL 1 HOUR),
           |s AS (SELECT touch_id,
           |  vmicro // COUNT(*) OVER (PARTITION BY conv_id) AS share FROM j)
           |SELECT touch_id, CAST(COUNT(*) AS BIGINT) AS n_conversions,
           | CAST(SUM(share) AS BIGINT) AS attributed_micro
           |FROM s GROUP BY 1 ORDER BY touch_id""".stripMargin.replace("\n", " ")),
      // fun1: the same dependent-min chain — DuckDB's default window frame
      // (RANGE UNBOUNDED PRECEDING..CURRENT ROW) matches the Spark side's
      // explicit rangeBetween, so equal-timestamp peers resolve identically
      "fun1_funnel" ->
        ("""WITH e AS (
           | SELECT user_id AS u, epoch_us(ts) AS t, event_type AS s FROM events),
           |w1 AS (
           | SELECT u, t, s,
           |  min(CASE WHEN s = 'view' THEN t END)
           |   OVER (PARTITION BY u ORDER BY t) AS r0
           | FROM e),
           |w2 AS (
           | SELECT u, t, s, r0,
           |  min(CASE WHEN s = 'click' AND r0 IS NOT NULL
           |       AND t <= r0 + 86400000000 THEN t END)
           |   OVER (PARTITION BY u ORDER BY t) AS r1
           | FROM w1),
           |pu AS (
           | SELECT u,
           |  min(CASE WHEN s = 'view' THEN t END) AS t0,
           |  min(CASE WHEN s = 'click' AND r0 IS NOT NULL
           |       AND t <= r0 + 86400000000 THEN t END) AS t1,
           |  min(CASE WHEN s = 'purchase' AND r1 IS NOT NULL
           |       AND t <= r1 + 86400000000 THEN t END) AS t2
           | FROM w2 GROUP BY 1),
           |c AS (SELECT count(t0) AS n0, count(t1) AS n1, count(t2) AS n2 FROM pu)
           |SELECT step_no, step, n_users FROM (
           | SELECT CAST(1 AS BIGINT) AS step_no, 'view' AS step, n0 AS n_users FROM c
           | UNION ALL SELECT CAST(2 AS BIGINT), 'click', n1 FROM c
           | UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', n2 FROM c)
           |ORDER BY step_no""".stripMargin.replace("\n", " ")),
      // seq1: identical symbol mapping and (ts, event_id) string order;
      // non-overlapping regexp counts agree for alternation-free greedy
      // patterns (Behavior.eventPatterns engine-parity note)
      "seq1_event_patterns" ->
        ("""WITH b AS (SELECT user_id,
           |  CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
           |   WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
           |   WHEN 'view' THEN 'v' ELSE '?' END AS y, ts, event_id
           | FROM events),
           |a AS (SELECT user_id, COUNT(*) AS n_events,
           |  string_agg(y, '' ORDER BY ts, event_id) AS str
           | FROM b GROUP BY 1)
           |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           | CAST(len(regexp_extract_all(str, 'v+p')) AS BIGINT) AS n_view_purchase,
           | CAST(len(regexp_extract_all(str, 'ee+')) AS BIGINT) AS n_error_runs,
           | CAST(len(regexp_extract_all(str, 'c[^p]*p')) AS BIGINT) AS n_click_convert
           |FROM a ORDER BY user_id""".stripMargin.replace("\n", " ")),
      // pit1: the BETWEEN formulation over the identical SCD2 history
      // (scd1's CTE shape over the non-purchase slice) — must equal the
      // as-of pick because SCD2 runs tile time per key
      "pit1_point_in_time" ->
        ("""WITH t AS (SELECT user_id, ts, event_id, event_type,
           |  CASE WHEN value >= 500.0 THEN 'high' ELSE 'std' END AS tier
           | FROM events),
           |d AS (SELECT * FROM t WHERE event_type <> 'purchase'),
           |o AS (SELECT user_id, ts, event_id, tier,
           |  CASE WHEN lag(tier) OVER (PARTITION BY user_id
           |    ORDER BY ts, event_id) IS DISTINCT FROM tier
           |   THEN 1 ELSE 0 END AS chg FROM d),
           |r AS (SELECT user_id, ts, tier,
           |  SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_no
           | FROM o),
           |g AS (SELECT user_id, run_no, tier, MIN(ts) AS valid_from
           | FROM r GROUP BY 1, 2, 3),
           |h AS (SELECT user_id, tier, valid_from,
           |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_no)
           |   AS valid_to FROM g),
           |f AS (SELECT user_id, ts, event_id FROM events
           | WHERE event_type = 'purchase')
           |SELECT f.user_id, f.event_id, f.ts, h.tier AS tier_at_purchase
           |FROM f LEFT JOIN h ON f.user_id = h.user_id
           | AND h.valid_from <= f.ts
           | AND (h.valid_to IS NULL OR f.ts < h.valid_to)
           |ORDER BY f.event_id""".stripMargin.replace("\n", " ")),
      "coh1_cohort_retention" ->
        ("""WITH d AS (
           | SELECT user_id AS u, date_trunc('day', ts) AS day FROM events),
           |c AS (
           | SELECT u, day, min(day) OVER (PARTITION BY u) AS cohort_day FROM d)
           |SELECT cohort_day,
           | CAST(date_diff('day', cohort_day, day) AS BIGINT) AS offset_days,
           | CAST(count(DISTINCT u) AS BIGINT) AS n_users
           |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " ")),
      "fi1_frequent_pairs" ->
        ("""WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
           |SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
           | count(*) AS n_orders
           |FROM b a JOIN b c
           | ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
           |GROUP BY 1, 2 HAVING count(*) >= 2
           |ORDER BY 1, 2""".stripMargin.replace("\n", " ")),
      // mk1: same lead-window pairing; p divides two exactly-representable
      // integers in double (correctly rounded on both engines)
      "mk1_markov_transitions" ->
        ("""WITH seq AS (
           | SELECT event_type AS from_type,
           |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
           | FROM events),
           |ag AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
           | FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
           |SELECT from_type, to_type, n_transitions,
           | n_transitions / CAST(sum(n_transitions)
           |   OVER (PARTITION BY from_type) AS BIGINT) AS p
           |FROM ag ORDER BY from_type, to_type""".stripMargin.replace("\n", " ")),
      "merge1_cdc_apply" -> Merge1OracleSql,
      // mv4: the stream-maintained CDC matview (redelivered wave-1 +
      // wave-2 in one batch, newest-wins) must equal the one-shot batch
      // fold — merge1's oracle verbatim
      "mv4_matview_cdc" -> Merge1OracleSql,
      "mv5_matview_cdc_compact" -> Merge1OracleSql,
      "dq1_constraint_checks" ->
        ("""WITH planted AS (
           | SELECT CASE WHEN o_orderkey % 1000 = 4 THEN NULL ELSE o_orderkey END AS o_orderkey,
           |  CASE WHEN o_orderkey % 1000 = 3 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
           |  CASE WHEN o_orderkey % 1000 = 1 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice
           | FROM orders
           | UNION ALL SELECT o_orderkey, o_orderstatus, o_totalprice
           |  FROM orders WHERE o_orderkey % 500 = 2),
           |agg AS (SELECT
           |  count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS nn,
           |  count(o_orderkey) - count(DISTINCT o_orderkey) AS uq,
           |  count(CASE WHEN o_totalprice < 0 THEN 1 END) AS neg,
           |  count(CASE WHEN o_orderstatus IS NULL
           |    OR o_orderstatus NOT IN ('O','F','P') THEN 1 END) AS st,
           |  count(CASE WHEN o_totalprice IS NULL THEN 1 END) AS pn
           | FROM planted),
           |ri AS (
           | SELECT count(*) AS v FROM lineitem li
           | LEFT JOIN (SELECT DISTINCT o_orderkey FROM planted
           |   WHERE o_orderkey IS NOT NULL) p
           |  ON li.l_orderkey = p.o_orderkey
           | WHERE p.o_orderkey IS NULL),
           |rep AS (
           | SELECT 'o_orderkey_not_null' AS check_name, CAST(nn AS BIGINT) AS n_violations FROM agg
           | UNION ALL SELECT 'o_orderkey_unique', CAST(uq AS BIGINT) FROM agg
           | UNION ALL SELECT 'o_totalprice_non_negative', CAST(neg AS BIGINT) FROM agg
           | UNION ALL SELECT 'o_orderstatus_in_domain', CAST(st AS BIGINT) FROM agg
           | UNION ALL SELECT 'o_totalprice_not_null', CAST(pn AS BIGINT) FROM agg
           | UNION ALL SELECT 'lineitem_orderkey_ri', CAST(v AS BIGINT) FROM ri)
           |SELECT check_name, n_violations,
           | CAST(n_violations = 0 AS INTEGER) AS passed
           |FROM rep ORDER BY check_name""".stripMargin.replace("\n", " ")),
      // dq2: the same plant classes row-level — concat_ws skips NULL
      // CASE arms in both engines, reasons in rule-declaration order
      "dq2_quarantine" ->
        ("""WITH planted AS (SELECT o_orderkey,
           |  CASE WHEN o_orderkey % 1000 = 9 THEN NULL ELSE o_custkey END AS o_custkey,
           |  CASE WHEN o_orderkey % 1000 IN (3, 7) THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
           |  CASE WHEN o_orderkey % 1000 IN (1, 7) THEN -o_totalprice ELSE o_totalprice END AS o_totalprice
           | FROM orders),
           |q AS (SELECT o_orderkey, concat_ws(',',
           |  CASE WHEN o_custkey IS NULL THEN 'custkey_not_null' END,
           |  CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 'status_in_domain' END,
           |  CASE WHEN o_totalprice < 0 THEN 'price_non_negative' END) AS reasons
           | FROM planted)
           |SELECT o_orderkey, reasons FROM q WHERE reasons <> ''
           |ORDER BY o_orderkey""".stripMargin.replace("\n", " ")),
      // anon1: one grouped aggregate; the sensitive attribute buckets by
      // floor-division (floor of a double quotient agrees in both engines)
      // sar1: bounded-subject rollups; COALESCE keeps the zero-activity
      // contract, totals in exact integer micro-units
      "sar1_subject_access" ->
        ("""WITH s AS (SELECT c_custkey AS id, c_name, c_mktsegment
           |  FROM customer WHERE c_custkey % 100 = 0),
           |ev AS (SELECT user_id AS id, CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS total_events
           | FROM events WHERE user_id IN (SELECT id FROM s) GROUP BY 1),
           |o AS (SELECT o_custkey AS id, CAST(count(*) AS BIGINT) AS n_orders,
           |  CAST(SUM(CAST(floor(o_totalprice * 1000000) AS BIGINT)) AS BIGINT) AS total_orders
           | FROM orders WHERE o_custkey IN (SELECT id FROM s) GROUP BY 1)
           |SELECT s.id, s.c_name, s.c_mktsegment,
           | COALESCE(ev.n_events, 0) AS n_events,
           | COALESCE(ev.total_events, 0) AS total_events,
           | COALESCE(o.n_orders, 0) AS n_orders,
           | COALESCE(o.total_orders, 0) AS total_orders
           |FROM s LEFT JOIN ev ON s.id = ev.id LEFT JOIN o ON s.id = o.id
           |ORDER BY s.id""".stripMargin.replace("\n", " ")),
      // pii1: identical patterns (RE2∩Java class), identical order —
      // emails first, phones counted on the email-redacted text; DuckDB
      // regexp_replace needs the explicit 'g' flag to match Spark's
      // replace-all
      "pii1_redact" ->
        ("""WITH planted AS (SELECT doc_id,
           |  text || ' contact user' || CAST(doc_id AS VARCHAR)
           |   || '@example.com or 555-' || CAST(doc_id % 10000 AS VARCHAR)
           |   AS text FROM documents),
           |ne AS (SELECT doc_id, text,
           |  regexp_replace(text,
           |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
           |   '<EMAIL>', 'g') AS no_email FROM planted)
           |SELECT doc_id,
           | CAST(len(regexp_extract_all(text,
           |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
           |  AS n_emails,
           | CAST(len(regexp_extract_all(no_email, '555-[0-9]{3,}')) AS BIGINT)
           |  AS n_phones,
           | substring(sha256(regexp_replace(no_email, '555-[0-9]{3,}',
           |  '<PHONE>', 'g')), 1, 16) AS redacted_fp
           |FROM ne ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // pii2: identical pattern pair (RE2∩Java class), identical
      // intl-then-paren order; 'g' for replace-all parity
      "pii2_redact_intl" ->
        ("""WITH planted AS (SELECT doc_id,
           |  text || ' ring +34 612 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           |   || ' or (415) 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           |   AS text FROM documents),
           |ni AS (SELECT doc_id, text,
           |  regexp_replace(text,
           |   '\+[0-9]{1,3}[ -][0-9]{2,4}([ -][0-9]{2,4}){1,3}',
           |   '<PHONE>', 'g') AS no_intl FROM planted)
           |SELECT doc_id,
           | CAST(len(regexp_extract_all(text,
           |  '\+[0-9]{1,3}[ -][0-9]{2,4}([ -][0-9]{2,4}){1,3}')) AS BIGINT)
           |  AS n_intl,
           | CAST(len(regexp_extract_all(no_intl,
           |  '\([0-9]{2,4}\) [0-9]{3,4}[ -][0-9]{3,4}')) AS BIGINT)
           |  AS n_paren,
           | substring(sha256(regexp_replace(no_intl,
           |  '\([0-9]{2,4}\) [0-9]{3,4}[ -][0-9]{3,4}',
           |  '<PHONE>', 'g')), 1, 16) AS redacted_fp
           |FROM ni ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // dp1: the identical sha-fate coin (% 4 = 0 flips), CASE-inverted
      // report, and the 4r − n integer debias
      "dp1_randomized_response" ->
        ("""WITH r AS (SELECT event_type AS id,
           |  CASE WHEN ('0x' || substring(sha256(CAST(event_id AS VARCHAR)
           |     || ':dp'), 1, 15))::BIGINT % 4 = 0
           |   THEN NOT (value > 100.0) ELSE (value > 100.0) END AS rep
           | FROM events)
           |SELECT id, CAST(COUNT(*) AS BIGINT) AS n,
           | CAST(SUM(CASE WHEN rep THEN 1 ELSE 0 END) AS BIGINT)
           |  AS reported_true,
           | CAST(4 * SUM(CASE WHEN rep THEN 1 ELSE 0 END) - COUNT(*)
           |  AS BIGINT) AS est_x2
           |FROM r GROUP BY id ORDER BY id""".stripMargin.replace("\n", " ")),
      "anon1_k_anonymity" ->
        ("""SELECT c_nationkey AS nation, c_mktsegment AS segment,
           | CAST(count(*) AS BIGINT) AS n,
           | CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS BIGINT) AS l_div,
           | CAST(count(*) < 8 AS INTEGER) AS at_risk
           |FROM customer GROUP BY 1, 2
           |ORDER BY 1, 2""".stripMargin.replace("\n", " ")),

      // ---- extension tier ------------------------------------------------
      "x1_top_tokens" ->
        (s"""SELECT token, COUNT(*) AS n
           |FROM (SELECT unnest($toksSql) AS token FROM documents) t
           |GROUP BY 1 ORDER BY n DESC, token LIMIT 20""".stripMargin.replace("\n", " ")),
      "x2_tfidf" ->
        (s"""WITH tf AS (
           | SELECT doc_id, term, COUNT(*) AS tf
           | FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents)
           | GROUP BY 1, 2),
           |dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
           |n AS (SELECT COUNT(*) AS n_docs FROM documents)
           |SELECT t.doc_id, t.term, t.tf, d.df,
           | round(t.tf * ln(n_docs::DOUBLE / d.df), 4) AS tfidf
           |FROM tf t JOIN dfc d USING (term) CROSS JOIN n
           |WHERE t.tf >= 3 ORDER BY doc_id, term""".stripMargin.replace("\n", " ")),
      "cur1_corpus_curation" ->
        (s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + $plantUnitSql AS doc_id, text FROM documents),
           | q AS (
           |  SELECT doc_id, len(toks) AS n_tokens,
           |   len(list_filter(toks, x -> list_contains($enStopSql, x)))::DOUBLE / len(toks) AS swr,
           |   substring(sha256(array_to_string(toks, ' ')), 1, 16) AS fp
           |  FROM (SELECT doc_id, $toksSql AS toks FROM corpus)),
           | f AS (SELECT * FROM q WHERE n_tokens >= 20 AND swr >= 0.04),
           | d AS (SELECT min(doc_id) AS doc_id, min(n_tokens) AS n_tokens FROM f GROUP BY fp)
           |SELECT doc_id, n_tokens, bucket,
           | CASE WHEN bucket < 80 THEN 'train'
           |  WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
           |FROM (SELECT doc_id, n_tokens,
           |  ('0x' || substring(sha256(doc_id::VARCHAR || ':graft'), 1, 15))::BIGINT % 100 AS bucket
           | FROM d)
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // cur2: quality filter → exact dedup → exact-Jaccard near-dup pairs
      // (≡ the Spark side's MinHash-LSH pairs on this corpus — d3's proven
      // recall property) → connected-component min-root collapse via a
      // recursive reachability CTE → split assignment.
      "cur2_fuzzy_curation" ->
        (s"""WITH RECURSIVE corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + $plantUnitSql AS doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + 2*$plantUnitSql AS doc_id, text || ' graftdup' AS text FROM documents),
           | q AS (
           |  SELECT doc_id, text, len(toks) AS n_tokens,
           |   len(list_filter(toks, x -> list_contains($enStopSql, x)))::DOUBLE / len(toks) AS swr,
           |   substring(sha256(array_to_string(toks, ' ')), 1, 16) AS fp
           |  FROM (SELECT doc_id, text, $toksSql AS toks FROM corpus)),
           | f AS (SELECT * FROM q WHERE n_tokens >= 20 AND swr >= 0.04),
           | d AS (SELECT min(doc_id) AS id, min(n_tokens) AS n_tokens, min(text) AS text
           |       FROM f GROUP BY fp),
           | sh AS (SELECT id,
           |  CASE WHEN len(toks) >= 3
           |   THEN list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])
           |   ELSE [] END AS sh
           |  FROM (SELECT id, $toksSql AS toks FROM d)),
           | inv AS (SELECT id, unnest(sh) AS s FROM sh),
           | cand AS (
           |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
           |  FROM inv x JOIN inv y ON x.s = y.s AND x.id < y.id),
           | pr AS (SELECT id_a, id_b FROM (
           |  SELECT id_a, id_b,
           |   len(list_intersect(a.sh, b.sh))::DOUBLE /
           |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
           |  FROM cand JOIN sh a ON cand.id_a = a.id JOIN sh b ON cand.id_b = b.id)
           |  WHERE j >= 0.7),
           | e AS (SELECT id_a AS x, id_b AS y FROM pr UNION SELECT id_b, id_a FROM pr),
           | reach(x, y) AS (SELECT x, y FROM e
           |  UNION SELECT r.x, e2.y FROM reach r JOIN e e2 ON r.y = e2.x),
           | root AS (SELECT x, least(x, min(y)) AS root FROM reach GROUP BY x),
           | surv AS (SELECT id AS doc_id, n_tokens FROM d
           |  WHERE id NOT IN (SELECT x FROM root WHERE root <> x))
           |SELECT doc_id, n_tokens, bucket,
           | CASE WHEN bucket < 80 THEN 'train'
           |  WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
           |FROM (SELECT doc_id, n_tokens,
           |  ('0x' || substring(sha256(doc_id::VARCHAR || ':graft'), 1, 15))::BIGINT % 100 AS bucket
           | FROM surv)
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      "ds1_substring_dups" ->
        (s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + $plantUnitSql AS doc_id, text || ' graftdup' AS text FROM documents
           |  UNION ALL SELECT doc_id + 3*$plantUnitSql AS doc_id, '$BoilerPrefix ' || text AS text
           |   FROM documents WHERE doc_id % 20 = 5),
           | sh AS (SELECT doc_id, CASE WHEN len(toks) >= 20
           |   THEN list_distinct([array_to_string(toks[i:i+19], ' ') for i in range(1, len(toks) - 18)])
           |   ELSE [] END AS sh
           |  FROM (SELECT doc_id, $toksSql AS toks FROM corpus)),
           | inv AS (SELECT doc_id, unnest(sh) AS s FROM sh),
           | freq AS (SELECT s, COUNT(*) AS nd FROM inv GROUP BY 1)
           |SELECT doc_id, COUNT(*)::BIGINT AS n_20grams,
           | SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
           | SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*) AS shared_frac
           |FROM inv JOIN freq USING (s)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // ds2: same corpus + span space as ds1, POSITIONAL — a token is kept
      // iff no covering 20-token span occurs in ≥2 distinct docs. The kept
      // list is rebuilt per doc with an interval check over the shared
      // starts (Spark strips with a native merged-interval sweep; values
      // must match token-for-token).
      "ds2_strip_spans" ->
        (s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + $plantUnitSql AS doc_id, text || ' graftdup' AS text FROM documents
           |  UNION ALL SELECT doc_id + 3*$plantUnitSql AS doc_id, '$BoilerPrefix ' || text AS text
           |   FROM documents WHERE doc_id % 20 = 5),
           | tok AS (SELECT doc_id, $toksSql AS toks FROM corpus),
           | inv0 AS (SELECT doc_id, toks,
           |   unnest(range(1, greatest(len(toks) - 18, 1))) AS pos FROM tok),
           | inv AS (SELECT doc_id, pos,
           |   array_to_string(toks[pos:pos+19], ' ') AS s FROM inv0),
           | freq AS (SELECT s, COUNT(DISTINCT doc_id) AS nd FROM inv GROUP BY 1),
           | ss AS (SELECT doc_id, list(pos ORDER BY pos) AS ss
           |  FROM inv JOIN freq USING (s) WHERE nd >= 2 GROUP BY doc_id),
           | j AS (SELECT t.doc_id, t.toks, coalesce(ss.ss, CAST([] AS BIGINT[])) AS ss
           |  FROM tok t LEFT JOIN ss ON t.doc_id = ss.doc_id)
           |SELECT doc_id, len(toks)::BIGINT AS n_tokens, len(k)::BIGINT AS n_kept,
           | coalesce(array_to_string(k, ' '), '') AS kept_text
           |FROM (SELECT doc_id, toks,
           |  [toks[p] for p in range(1, len(toks) + 1)
           |   if len(list_filter(ss, q -> q <= p AND p <= q + 19)) = 0] AS k
           | FROM j)
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // ld1: same synthesized-line fixture (5-token break regex, first
      // line re-appended), first-occurrence line dedup per doc —
      // list_position(l, x) = i keeps exactly the first occurrence
      "ld1_line_dedup" ->
        (s"""WITH lt AS (SELECT doc_id,
           |  regexp_replace(text, '((?:\\S+ ){4}\\S+) ', '\\1' || chr(10), 'g') AS lx
           |  FROM documents),
           | pl AS (SELECT doc_id,
           |  lx || chr(10) || string_split(lx, chr(10))[1] AS t FROM lt),
           | ls AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM pl)
           |SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
           | CAST(len(kept) AS BIGINT) AS n_kept,
           | array_to_string(kept, ' | ') AS kept_text
           |FROM (SELECT doc_id, lines,
           |  [lines[i] for i in range(1, len(lines) + 1)
           |   if list_position(lines, lines[i]) = i] AS kept
           | FROM ls)
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      "inc1_incremental_dedup" ->
        (s"""WITH b AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + $plantUnitSql AS doc_id, text FROM documents),
           | bf AS (SELECT min(doc_id) AS doc_id, fp AS content_fp FROM (
           |  SELECT doc_id, substring(sha256(array_to_string($toksSql, ' ')), 1, 16) AS fp
           |  FROM b) GROUP BY fp),
           | af AS (SELECT substring(sha256(array_to_string($toksSql, ' ')), 1, 16) AS fp
           |  FROM documents WHERE doc_id % 2 = 0)
           |SELECT doc_id, content_fp FROM bf
           |WHERE NOT EXISTS (SELECT 1 FROM af WHERE af.fp = bf.content_fp)
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // del1: the living archive = stored minus tombstoned (¼ of evens);
      // batch dedup recomputed against it
      "del1_forget_dedup" ->
        (s"""WITH living AS (SELECT doc_id, text FROM documents
           |  WHERE doc_id % 2 = 0 AND doc_id % 4 <> 0),
           | b AS (
           |  SELECT doc_id + $plantUnitSql AS doc_id, text FROM documents
           |   WHERE doc_id % 4 = 0
           |  UNION ALL SELECT doc_id + 2*$plantUnitSql AS doc_id, text
           |   FROM documents WHERE doc_id % 4 = 2
           |  UNION ALL SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
           | bf AS (SELECT min(doc_id) AS doc_id, fp AS content_fp FROM (
           |  SELECT doc_id, substring(sha256(array_to_string($toksSql, ' ')), 1, 16) AS fp
           |  FROM b) GROUP BY fp),
           | af AS (SELECT substring(sha256(array_to_string($toksSql, ' ')), 1, 16) AS fp
           |  FROM living)
           |SELECT doc_id, content_fp FROM bf
           |WHERE NOT EXISTS (SELECT 1 FROM af WHERE af.fp = bf.content_fp)
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // del2s: the living view after the replayed (and fully redelivered)
      // request stream = documents minus every requested id
      "del2s_stream_forget" ->
        ("""SELECT doc_id FROM documents WHERE doc_id % 4 <> 1
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // bf1: bloom prune is result-invariant — the oracle is inc1's exact
      // anti-join verbatim
      "bf1_bloom_dedup" -> bloomDedupOracle("doc_id % 2 = 0"),
      // bf2: bf1's oracle VERBATIM — build(%4=0) + append(%4=2) covers
      // exactly the doc_id % 2 = 0 archive, and the stored-artifact path
      // must answer identically to the inline build (no false negatives,
      // false positives re-checked exactly)
      "bf2_stored_bloom" -> bloomDedupOracle("doc_id % 2 = 0"),
      // inc7: bf1's oracle with the archive restricted to the VERSION-0
      // population (the %4=0 build) — the pinned read dedups as a
      // day-one run did; the appended quarter's texts survive
      "inc7_dedup_asof" -> bloomDedupOracle("doc_id % 4 = 0"),
      // bf3s: bf1's oracle verbatim — streaming maintenance must land
      // the quarter exactly once (redelivered documents anti-join away
      // on their fingerprints), so the store answers as the batch
      // append does
      "bf3s_stream_bloom" -> bloomDedupOracle("doc_id % 2 = 0"),
      // pr1: identical integer fixed-point formula, three rounds unrolled;
      // // is floor division ≡ Spark's div on the all-positive ranks;
      // SUM(BIGINT)→HUGEINT so the final projection casts back (ts2
      // gotcha)
      "pr1_pagerank" ->
        ("""WITH e0 AS (SELECT DISTINCT o.o_custkey AS c,
           |   l.l_suppkey + 1000000000 AS s
           |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
           | e AS (SELECT c AS src, s AS dst FROM e0
           |  UNION ALL SELECT s AS src, c AS dst FROM e0),
           | deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
           | nodes AS (SELECT DISTINCT node FROM
           |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
           | c0 AS (SELECT 1000000000000000 // COUNT(*) AS r0,
           |   (15 * (1000000000000000 // COUNT(*))) // 100 AS base
           |  FROM nodes),
           | r0 AS (SELECT node, (SELECT r0 FROM c0) AS r FROM nodes),
           | i1 AS (SELECT e.dst AS node, SUM(r.r // d.outdeg) AS inc
           |  FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
           |  GROUP BY e.dst),
           | r1 AS (SELECT n.node, (SELECT base FROM c0)
           |   + (85 * COALESCE(i.inc, 0)) // 100 AS r
           |  FROM nodes n LEFT JOIN i1 i ON n.node = i.node),
           | i2 AS (SELECT e.dst AS node, SUM(r.r // d.outdeg) AS inc
           |  FROM e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
           |  GROUP BY e.dst),
           | r2 AS (SELECT n.node, (SELECT base FROM c0)
           |   + (85 * COALESCE(i.inc, 0)) // 100 AS r
           |  FROM nodes n LEFT JOIN i2 i ON n.node = i.node),
           | i3 AS (SELECT e.dst AS node, SUM(r.r // d.outdeg) AS inc
           |  FROM e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
           |  GROUP BY e.dst),
           | r3 AS (SELECT n.node, (SELECT base FROM c0)
           |   + (85 * COALESCE(i.inc, 0)) // 100 AS r
           |  FROM nodes n LEFT JOIN i3 i ON n.node = i.node)
           |SELECT node, CAST(r AS BIGINT) AS rank_fp FROM r3
           |ORDER BY node""".stripMargin.replace("\n", " ")),
      // tr1: identical content-word adjacency graph (sha60 ids,
      // least/greatest canonicalized distinct edges) + pr1's three
      // unrolled integer rounds + the top-20 cut
      "tr1_textrank" ->
        (s"""WITH ws AS (SELECT list_filter($toksSql, t -> len(t) >= 4)
           |   AS ws FROM documents),
           |hs AS (SELECT list_transform(ws,
           |   w -> ('0x' || substring(sha256(w), 1, 15))::BIGINT) AS hs
           |  FROM ws),
           |pe AS (SELECT DISTINCT least(hs[i], hs[i+1]) AS a,
           |   greatest(hs[i], hs[i+1]) AS b
           |  FROM (SELECT hs, unnest(generate_series(1, len(hs) - 1)) AS i
           |   FROM hs)
           |  WHERE hs[i] <> hs[i+1]),
           |e AS (SELECT a AS src, b AS dst FROM pe
           |  UNION ALL SELECT b, a FROM pe),
           |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
           |nodes AS (SELECT DISTINCT node FROM
           | (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
           |c0 AS (SELECT 1000000000000000 // COUNT(*) AS r0,
           |  (15 * (1000000000000000 // COUNT(*))) // 100 AS base
           | FROM nodes),
           |r0 AS (SELECT node, (SELECT r0 FROM c0) AS r FROM nodes),
           |i1 AS (SELECT e.dst AS node, SUM(r.r // d.outdeg) AS inc
           | FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
           | GROUP BY e.dst),
           |r1 AS (SELECT n.node, (SELECT base FROM c0)
           |  + (85 * COALESCE(i.inc, 0)) // 100 AS r
           | FROM nodes n LEFT JOIN i1 i ON n.node = i.node),
           |i2 AS (SELECT e.dst AS node, SUM(r.r // d.outdeg) AS inc
           | FROM e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
           | GROUP BY e.dst),
           |r2 AS (SELECT n.node, (SELECT base FROM c0)
           |  + (85 * COALESCE(i.inc, 0)) // 100 AS r
           | FROM nodes n LEFT JOIN i2 i ON n.node = i.node),
           |i3 AS (SELECT e.dst AS node, SUM(r.r // d.outdeg) AS inc
           | FROM e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
           | GROUP BY e.dst),
           |r3 AS (SELECT n.node, (SELECT base FROM c0)
           |  + (85 * COALESCE(i.inc, 0)) // 100 AS r
           | FROM nodes n LEFT JOIN i3 i ON n.node = i.node),
           |vocab AS (SELECT DISTINCT w AS word,
           |  ('0x' || substring(sha256(w), 1, 15))::BIGINT AS node
           | FROM (SELECT unnest(ws) AS w FROM ws)),
           |top AS (SELECT v.word, CAST(r.r AS BIGINT) AS rank_fp
           | FROM r3 r JOIN vocab v ON r.node = v.node
           | ORDER BY r.r DESC, v.word LIMIT 20)
           |SELECT CAST(row_number() OVER
           |  (ORDER BY rank_fp DESC, word) AS BIGINT) AS rank,
           | word, rank_fp FROM top
           |ORDER BY rank""".stripMargin.replace("\n", " ")),
      // three unrolled LPA rounds; each round = neighbor-label vote count
      // + top-1 per node ordered (count DESC, label ASC)
      "lp1_label_prop" ->
        ("""WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |eu AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           | FROM pl a JOIN pl b
           | ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
           |e AS (SELECT u AS src, v AS dst FROM eu
           | UNION ALL SELECT v, u FROM eu),
           |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e),
           |v1 AS (SELECT e.src AS node, l.lab, COUNT(*) AS c
           | FROM e JOIN l0 l ON l.node = e.dst GROUP BY 1, 2),
           |l1 AS (SELECT node, lab FROM (SELECT node, lab,
           |  ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
           |  FROM v1) t WHERE rn = 1),
           |v2 AS (SELECT e.src AS node, l.lab, COUNT(*) AS c
           | FROM e JOIN l1 l ON l.node = e.dst GROUP BY 1, 2),
           |l2 AS (SELECT node, lab FROM (SELECT node, lab,
           |  ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
           |  FROM v2) t WHERE rn = 1),
           |v3 AS (SELECT e.src AS node, l.lab, COUNT(*) AS c
           | FROM e JOIN l2 l ON l.node = e.dst GROUP BY 1, 2),
           |l3 AS (SELECT node, lab FROM (SELECT node, lab,
           |  ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
           |  FROM v3) t WHERE rn = 1)
           |SELECT node, lab AS community FROM l3
           |ORDER BY node""".stripMargin.replace("\n", " ")),
      // each triangle once in id order a<b<c; the per-node count is the
      // number of triangles containing the node
      // kcore1: three unrolled peels, k one scalar subquery (exact
      // integer division both engines)
      "kcore1_peel" ->
        ("""WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |p AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
           | FROM pl a JOIN pl b
           | ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
           |e0 AS (SELECT x AS src, y AS dst FROM p
           | UNION ALL SELECT y AS src, x AS dst FROM p),
           |kv AS (SELECT COUNT(*)//COUNT(DISTINCT src)*3//4 + 1 AS k FROM e0),
           |d1 AS (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY 1),
           |k1 AS (SELECT src FROM d1, kv WHERE deg >= k),
           |e1 AS (SELECT e0.src, e0.dst FROM e0
           | JOIN k1 a ON e0.src = a.src JOIN k1 b ON e0.dst = b.src),
           |d2 AS (SELECT src, COUNT(*) AS deg FROM e1 GROUP BY 1),
           |k2 AS (SELECT src FROM d2, kv WHERE deg >= k),
           |e2 AS (SELECT e1.src, e1.dst FROM e1
           | JOIN k2 a ON e1.src = a.src JOIN k2 b ON e1.dst = b.src),
           |d3 AS (SELECT src, COUNT(*) AS deg FROM e2 GROUP BY 1),
           |k3 AS (SELECT src FROM d3, kv WHERE deg >= k),
           |e3 AS (SELECT e2.src, e2.dst FROM e2
           | JOIN k3 a ON e2.src = a.src JOIN k3 b ON e2.dst = b.src)
           |SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
           |FROM e3 GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "tri1_triangle_counts" ->
        ("""WITH pl AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           | FROM pl a JOIN pl b
           | ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
           |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
           | FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
           | JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
           |n AS (SELECT a AS node FROM tri
           | UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
           |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
           |FROM n GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      // ccmp1: the fixpoint stated engine-free — transitive closure over
      // the symmetric frequent-pair edges (UNION dedups, so the recursion
      // terminates on any cycle), component = min reachable id
      "ccmp1_components" ->
        ("""WITH RECURSIVE
           |b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |p AS (SELECT a.l_partkey AS x, c.l_partkey AS y
           | FROM b a JOIN b c
           |  ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
           | GROUP BY 1, 2 HAVING count(*) >= 2),
           |e AS (SELECT x, y FROM p UNION SELECT y, x FROM p),
           |r AS (SELECT x AS node, y AS reach FROM e
           | UNION
           | SELECT r.node, e.y FROM r JOIN e ON e.x = r.reach)
           |SELECT CAST(node AS BIGINT) AS node,
           | CAST(LEAST(node, MIN(reach)) AS BIGINT) AS component
           |FROM r GROUP BY node ORDER BY node""".stripMargin.replace("\n", " ")),
      // bfs1: the identical levels unrolled — each hop set is the
      // frontier's neighbors minus everything already claimed
      "bfs1_seed_hops" ->
        ("""WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |p AS (SELECT a.l_partkey AS x, c.l_partkey AS y
           | FROM b a JOIN b c
           |  ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
           | GROUP BY 1, 2 HAVING count(*) >= 2),
           |e AS (SELECT x AS src, y AS dst FROM p
           | UNION ALL SELECT y AS src, x AS dst FROM p),
           |s AS (SELECT DISTINCT src AS node FROM e ORDER BY node LIMIT 3),
           |h1 AS (SELECT DISTINCT e.dst AS node FROM e JOIN s ON e.src = s.node
           | WHERE e.dst NOT IN (SELECT node FROM s)),
           |h2 AS (SELECT DISTINCT e.dst AS node FROM e JOIN h1 ON e.src = h1.node
           | WHERE e.dst NOT IN (SELECT node FROM s UNION ALL SELECT node FROM h1)),
           |h3 AS (SELECT DISTINCT e.dst AS node FROM e JOIN h2 ON e.src = h2.node
           | WHERE e.dst NOT IN (SELECT node FROM s UNION ALL SELECT node FROM h1
           |  UNION ALL SELECT node FROM h2))
           |SELECT CAST(node AS BIGINT) AS node, CAST(0 AS BIGINT) AS hops FROM s
           |UNION ALL SELECT node, 1 FROM h1
           |UNION ALL SELECT node, 2 FROM h2
           |UNION ALL SELECT node, 3 FROM h3
           |ORDER BY node""".stripMargin.replace("\n", " ")),
      // fp1: the plain 3-way self-join the Apriori pruning must equal
      "fp1_frequent_triples" ->
        ("""WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
           |SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
           | d.l_partkey AS part_c, CAST(COUNT(*) AS BIGINT) AS n_orders
           |FROM b a JOIN b c
           | ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
           | JOIN b d
           | ON a.l_orderkey = d.l_orderkey AND c.l_partkey < d.l_partkey
           |GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
           |ORDER BY 1, 2, 3""".stripMargin.replace("\n", " ")),
      // mst1: both Borůvka rounds unrolled — per-node claims, closure
      // over the claimed set (ccmp1's recursive reachability), per-
      // component claims on the quotient, identical (w, a, b) tie-break
      "mst1_boruvka" ->
        ("""WITH RECURSIVE
           |bk AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |p AS (SELECT a.l_partkey AS x, c.l_partkey AS y, count(*) AS n
           | FROM bk a JOIN bk c
           |  ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
           | GROUP BY 1, 2 HAVING count(*) >= 2),
           |e0 AS (SELECT x AS a, y AS b, GREATEST(1, 8 - n) AS w FROM p),
           |eu AS (SELECT a AS u, b AS v, a, b, w FROM e0
           | UNION ALL SELECT b, a, a, b, w FROM e0),
           |c1 AS (SELECT DISTINCT a, b, w FROM (
           | SELECT a, b, w, row_number() OVER (PARTITION BY u
           |  ORDER BY w, a, b) AS rn FROM eu) t WHERE rn = 1),
           |ec AS (SELECT a AS x, b AS y FROM c1 UNION SELECT b, a FROM c1),
           |r AS (SELECT x AS node, y AS reach FROM ec
           | UNION SELECT r.node, ec.y FROM r JOIN ec ON ec.x = r.reach),
           |l1 AS (SELECT node, LEAST(node, MIN(reach)) AS comp
           | FROM r GROUP BY node),
           |c2 AS (SELECT DISTINCT a, b, w FROM (
           | SELECT eu.a, eu.b, eu.w, row_number() OVER (PARTITION BY la.comp
           |  ORDER BY eu.w, eu.a, eu.b) AS rn
           | FROM eu JOIN l1 la ON la.node = eu.u
           |  JOIN l1 lb ON lb.node = eu.v
           | WHERE la.comp <> lb.comp) t WHERE rn = 1)
           |SELECT CAST(a AS BIGINT) AS part_a, CAST(b AS BIGINT) AS part_b,
           | CAST(w AS BIGINT) AS w
           |FROM (SELECT * FROM c1 UNION SELECT * FROM c2) t
           |ORDER BY 1, 2""".stripMargin.replace("\n", " ")),
      // mst2: the same Borůvka semantics unrolled to a FIXED generous
      // round budget — rounds past convergence claim nothing (see the
      // mst2 entry comment), so the unrolled form states the fixpoint
      "mst2_boruvka_msf" -> mst2OracleSql(7),
      // mst3: the incrementally-maintained stored forest must equal the
      // from-scratch complete MSF — mst2's oracle verbatim
      "mst3_incremental_msf" -> mst2OracleSql(7),
      // scc1: the same flow edges, then the pure graph property — the
      // mutual-reachability closure labeled by class minimum
      "scc1_trade_flow_scc" ->
        ("""WITH RECURSIVE
           |oc AS (SELECT o_orderkey, c_nationkey AS cn
           | FROM orders JOIN customer ON o_custkey = c_custkey),
           |ls AS (SELECT l_orderkey, s_nationkey AS sn
           | FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
           |flow AS (SELECT cn, sn, COUNT(*) AS n
           | FROM oc JOIN ls ON o_orderkey = l_orderkey
           | WHERE cn <> sn GROUP BY 1, 2),
           |tot AS (SELECT SUM(n) AS total, COUNT(*) AS npairs FROM flow),
           |e AS (SELECT cn AS src, sn AS dst FROM flow, tot
           | WHERE n * npairs >= total),
           |nodes AS (SELECT DISTINCT node FROM
           | (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
           |r(x, y) AS (SELECT src, dst FROM e
           | UNION SELECT r.x, e.dst FROM r JOIN e ON e.src = r.y),
           |m AS (SELECT a.x, a.y FROM r a
           | JOIN r b ON a.x = b.y AND a.y = b.x)
           |SELECT CAST(n.node AS BIGINT) AS node,
           | CAST(LEAST(n.node, COALESCE(MIN(m.y), n.node)) AS BIGINT) AS scc
           |FROM nodes n LEFT JOIN m ON m.x = n.node
           |GROUP BY n.node ORDER BY n.node""".stripMargin.replace("\n", " ")),
      // topo1: scc1's closure labels, condensation edges, then layer =
      // MAX recursive path depth from the in-degree-0 components (Kahn
      // layer ≡ longest-path depth; the condensation is acyclic)
      "topo1_condensation_layers" ->
        ("""WITH RECURSIVE
           |oc AS (SELECT o_orderkey, c_nationkey AS cn
           | FROM orders JOIN customer ON o_custkey = c_custkey),
           |ls AS (SELECT l_orderkey, s_nationkey AS sn
           | FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
           |flow AS (SELECT cn, sn, COUNT(*) AS n
           | FROM oc JOIN ls ON o_orderkey = l_orderkey
           | WHERE cn <> sn GROUP BY 1, 2),
           |tot AS (SELECT SUM(n) AS total, COUNT(*) AS npairs FROM flow),
           |e AS (SELECT cn AS src, sn AS dst FROM flow, tot
           | WHERE n * npairs >= total),
           |nodes AS (SELECT DISTINCT node FROM
           | (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
           |r(x, y) AS (SELECT src, dst FROM e
           | UNION SELECT r.x, e.dst FROM r JOIN e ON e.src = r.y),
           |m AS (SELECT a.x, a.y FROM r a
           | JOIN r b ON a.x = b.y AND a.y = b.x),
           |lab AS (SELECT n.node,
           |  LEAST(n.node, COALESCE(MIN(m.y), n.node)) AS scc
           | FROM nodes n LEFT JOIN m ON m.x = n.node GROUP BY n.node),
           |ce AS (SELECT DISTINCT a.scc AS s, b.scc AS t
           | FROM e JOIN lab a ON e.src = a.node
           | JOIN lab b ON e.dst = b.node WHERE a.scc <> b.scc),
           |sccs AS (SELECT DISTINCT scc FROM lab),
           |dp(x, d) AS (
           | SELECT scc, 0 FROM sccs
           |  WHERE scc NOT IN (SELECT t FROM ce)
           | UNION ALL
           | SELECT ce.t, dp.d + 1 FROM dp JOIN ce ON ce.s = dp.x),
           |ly AS (SELECT x AS scc, MAX(d) AS layer FROM dp GROUP BY 1)
           |SELECT CAST(l.scc AS BIGINT) AS scc,
           | CAST(ly.layer AS BIGINT) AS layer,
           | CAST(COUNT(*) AS BIGINT) AS n_members
           |FROM lab l JOIN ly ON l.scc = ly.scc
           |GROUP BY 1, 2 ORDER BY scc""".stripMargin.replace("\n", " ")),
      // wsp1: the identical three Bellman–Ford relaxations unrolled —
      // each round is min over (relax every edge from the frame) ∪ (keep
      // the frame); integer weights, integer distances
      "wsp1_weighted_paths" ->
        ("""WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |p AS (SELECT a.l_partkey AS x, c.l_partkey AS y, count(*) AS n
           | FROM b a JOIN b c
           |  ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
           | GROUP BY 1, 2 HAVING count(*) >= 2),
           |e AS (SELECT x AS src, y AS dst, GREATEST(1, 8 - n) AS w FROM p
           | UNION ALL SELECT y AS src, x AS dst, GREATEST(1, 8 - n) FROM p),
           |s AS (SELECT DISTINCT src AS node FROM e ORDER BY node LIMIT 3),
           |d0 AS (SELECT node, 0 AS dist FROM s),
           |d1 AS (SELECT node, MIN(dist) AS dist FROM (
           | SELECT e.dst AS node, d0.dist + e.w AS dist
           |  FROM d0 JOIN e ON e.src = d0.node
           | UNION ALL SELECT node, dist FROM d0) GROUP BY node),
           |d2 AS (SELECT node, MIN(dist) AS dist FROM (
           | SELECT e.dst AS node, d1.dist + e.w AS dist
           |  FROM d1 JOIN e ON e.src = d1.node
           | UNION ALL SELECT node, dist FROM d1) GROUP BY node),
           |d3 AS (SELECT node, MIN(dist) AS dist FROM (
           | SELECT e.dst AS node, d2.dist + e.w AS dist
           |  FROM d2 JOIN e ON e.src = d2.node
           | UNION ALL SELECT node, dist FROM d2) GROUP BY node)
           |SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist
           |FROM d3 ORDER BY node""".stripMargin.replace("\n", " ")),
      // inc4: the incremental path must equal the FROM-SCRATCH fixpoint
      // over the union of both thresholded pair sets (ccmp1's recursive
      // closure, stated engine-free)
      "inc4_incremental_components" ->
        ("""WITH RECURSIVE
           |b0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           | WHERE l_orderkey % 2 = 0),
           |p0 AS (SELECT a.l_partkey AS x, c.l_partkey AS y
           | FROM b0 a JOIN b0 c
           |  ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
           | GROUP BY 1, 2 HAVING count(*) >= 2),
           |b1 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           | WHERE l_orderkey % 2 = 1),
           |p1 AS (SELECT a.l_partkey AS x, c.l_partkey AS y
           | FROM b1 a JOIN b1 c
           |  ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
           | GROUP BY 1, 2 HAVING count(*) >= 2),
           |pu AS (SELECT x, y FROM p0 UNION SELECT x, y FROM p1),
           |e AS (SELECT x, y FROM pu UNION SELECT y, x FROM pu),
           |r AS (SELECT x AS node, y AS reach FROM e
           | UNION
           | SELECT r.node, e.y FROM r JOIN e ON e.x = r.reach)
           |SELECT CAST(node AS BIGINT) AS node,
           | CAST(LEAST(node, MIN(reach)) AS BIGINT) AS component
           |FROM r GROUP BY node ORDER BY node""".stripMargin.replace("\n", " ")),
      // er1: both match legs as blocked SQL (word-set Jaccard all-pairs is
      // oracle-side-only brute force; the engine blocks via the inverted
      // index), closure as ccmp1's recursive reachability, survivorship
      // identical
      "er1_golden_record" ->
        (s"""WITH RECURSIVE
           |pu AS (SELECT MAX(p_partkey)//2*2+2 AS u FROM part),
           |p0 AS (SELECT CAST(p_partkey AS BIGINT) AS pk,
           |  p_name || ' ' || p_brand || ' ' || p_type AS p_name,
           |  CAST(p_retailprice AS DOUBLE) AS price FROM part),
           |recs AS (
           | SELECT pk AS id, p_name AS name,
           |  'S' || CAST(pk AS VARCHAR) AS sku, price FROM p0
           | UNION ALL SELECT pk + u, 'zz ' || p_name, NULL, price + 10
           |  FROM p0, pu WHERE pk % 10 = 0
           | UNION ALL SELECT pk + 2*u, 'listing ' || CAST(pk AS VARCHAR),
           |  'S' || CAST(pk AS VARCHAR), price - 5 FROM p0, pu WHERE pk % 10 = 1
           | UNION ALL SELECT pk + 3*u, 'yy ' || p_name, NULL, price + 20
           |  FROM p0, pu WHERE pk % 20 = 0),
           |tg AS (SELECT id, list_distinct(
           |   regexp_split_to_array(trim(lower(name)), '\\s+')) AS tg FROM recs),
           |np AS (SELECT a.id AS x, b.id AS y FROM tg a JOIN tg b ON a.id < b.id
           | WHERE CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
           |   / (len(a.tg) + len(b.tg) - len(list_intersect(a.tg, b.tg))) >= 0.75),
           |kp AS (SELECT a.id AS x, b.id AS y FROM recs a JOIN recs b
           | ON a.sku = b.sku AND a.id < b.id),
           |e0 AS (SELECT x, y FROM np UNION SELECT x, y FROM kp),
           |e AS (SELECT x, y FROM e0 UNION SELECT y, x FROM e0),
           |r AS (SELECT x AS node, y AS reach FROM e
           | UNION SELECT r.node, e.y FROM r JOIN e ON e.x = r.reach),
           |c AS (SELECT node, LEAST(node, MIN(reach)) AS component
           | FROM r GROUP BY node),
           |m AS (SELECT COALESCE(c.component, recs.id) AS component,
           |  name, price FROM recs LEFT JOIN c ON recs.id = c.node)
           |SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members,
           | MIN(name) AS first_name, MAX(price) AS max_price
           |FROM m GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "inc2_incremental_neardup" ->
        (s"""WITH arch AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
           | bat AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
           |  UNION ALL SELECT doc_id + 7*$plantUnitSql AS doc_id, text || ' graftdup' AS text
           |  FROM documents WHERE doc_id % 2 = 0),
           | bsh AS (SELECT doc_id, CASE WHEN len(toks) >= 3
           |   THEN list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])
           |   ELSE [] END AS sh
           |  FROM (SELECT doc_id, $toksSql AS toks FROM bat)),
           | ash AS (SELECT doc_id AS arch_id, CASE WHEN len(toks) >= 3
           |   THEN list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])
           |   ELSE [] END AS sh
           |  FROM (SELECT doc_id, $toksSql AS toks FROM arch)),
           | binv AS (SELECT doc_id, unnest(sh) AS s FROM bsh),
           | ainv AS (SELECT arch_id, unnest(sh) AS s FROM ash),
           | cand AS (SELECT DISTINCT doc_id, arch_id FROM binv JOIN ainv USING (s)),
           | dropped AS (SELECT DISTINCT doc_id FROM (
           |  SELECT c.doc_id,
           |   len(list_intersect(b.sh, a.sh))::DOUBLE /
           |    (len(b.sh) + len(a.sh) - len(list_intersect(b.sh, a.sh))) AS j
           |  FROM cand c JOIN bsh b USING (doc_id) JOIN ash a USING (arch_id))
           |  WHERE j >= 0.7)
           |SELECT doc_id FROM bat
           |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      "pack1_sequence_packing" ->
        (s"""SELECT doc_id, doc_id % 8 AS shard, n_tokens,
           | CAST((SUM(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)
           |   - n_tokens) // 512 AS BIGINT) AS chunk_id
           |FROM (SELECT doc_id, len($toksSql) AS n_tokens FROM documents)
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // cc2: identical distinct-trigram sets (string-side; hash-side
      // cardinality agreement is the cc1/d2 xxhash exposure), hits via
      // one join against the eval shingle set, truncating micro score
      "cc2_containment_score" ->
        (s"""WITH ev AS (
           |  SELECT text || ' evaltok' AS text FROM documents WHERE doc_id % 20 = 3
           |  UNION ALL SELECT text FROM documents WHERE doc_id % 50 = 7),
           | es AS (SELECT DISTINCT s FROM (
           |  SELECT unnest(CASE WHEN len(toks) >= 3
           |   THEN list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])
           |   ELSE [] END) AS s
           |  FROM (SELECT $toksSql AS toks FROM ev))),
           | csh AS (SELECT doc_id, CASE WHEN len(toks) >= 3
           |   THEN list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])
           |   ELSE [] END AS sh
           |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
           | ci AS (SELECT doc_id, unnest(sh) AS s FROM csh),
           | hits AS (SELECT ci.doc_id, COUNT(*) AS h
           |  FROM ci JOIN es USING (s) GROUP BY 1)
           |SELECT c.doc_id, CAST(len(c.sh) AS BIGINT) AS n_shingles,
           | CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
           | CAST(CASE WHEN len(c.sh) = 0 THEN 0
           |  ELSE (CAST(COALESCE(h.h, 0) AS BIGINT) * 1000000) // len(c.sh)
           |  END AS BIGINT) AS containment_micro,
           | CAST(COALESCE(h.h, 0) > 0 AS INTEGER) AS contaminated
           |FROM csh c LEFT JOIN hits h USING (doc_id)
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      "cc1_contamination" -> Cc1OracleSql,
      // cc3: the stored-index path over the SAME eval population (wave 1
      // built, wave 2 appended, wave 2 re-appended as a no-op) must be
      // byte-identical to the inline scan — cc1's oracle verbatim
      "cc3_stored_decontamination" -> Cc1OracleSql,
      // cc4: the pinned version-0 suite is wave 1 alone — cc1's pair SQL
      // with the wave-2 branch emptied; a green row proves the appended
      // wave is invisible to the pin
      "cc4_decon_asof" -> ccPairsSql("FALSE"),
      // cc5: the surviving suite after retiring wave 2's %100=7 half —
      // retired tasks flag nothing, across both the tombstone view and
      // the post-compact fold
      "cc5_decon_forget" ->
        ccPairsSql("doc_id % 50 = 7 AND doc_id % 100 <> 7"),
      // cc6s: the stream-built suite (full-overlap redelivery no-opped)
      // must equal the from-scratch run — cc1's oracle verbatim
      "cc6s_stream_eval_waves" -> Cc1OracleSql,

      "sp2_weighted_sample" ->
        (s"""SELECT doc_id, n_tokens FROM (
           |  SELECT doc_id, len($toksSql) AS n_tokens,
           |   ('0x' || substring(sha256(doc_id::VARCHAR || ':mix'), 1, 15))::BIGINT % 1000000 AS b
           |  FROM documents)
           |WHERE b / 1000000.0 < least(1.0, n_tokens / 60.0)
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      "sp1_hash_split" ->
        ("""SELECT doc_id, bucket,
           | CASE WHEN bucket < 80 THEN 'train'
           |  WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
           |FROM (SELECT doc_id,
           |  ('0x' || substring(sha256(doc_id::VARCHAR || ':graft'), 1, 15))::BIGINT % 100 AS bucket
           | FROM documents)
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      "shard1_manifest" ->
        (s"""SELECT shard, COUNT(*)::BIGINT AS n_docs,
           | SUM(n_tokens)::BIGINT AS n_tokens, SUM(n_chars)::BIGINT AS n_chars,
           | (SUM(h)::HUGEINT % 1000000007)::BIGINT AS content_fp
           |FROM (SELECT
           |  ('0x' || substring(sha256(doc_id::VARCHAR || ':shard'), 1, 15))::BIGINT % 16 AS shard,
           |  len($toksSql) AS n_tokens, length(text) AS n_chars,
           |  ('0x' || substring(sha256(text || ':shard:fp'), 1, 15))::BIGINT % 1073741824 AS h
           | FROM documents)
           |GROUP BY shard ORDER BY shard""".stripMargin.replace("\n", " ")),
      "bud1_token_budget" ->
        (s"""SELECT doc_id, source, n_tokens FROM (
           | SELECT doc_id, source, n_tokens,
           |  SUM(n_tokens) OVER (PARTITION BY source
           |   ORDER BY p, doc_id) AS cum
           | FROM (SELECT doc_id, source, len($toksSql) AS n_tokens,
           |   ('0x' || substring(sha256(doc_id::VARCHAR || ':bud'), 1, 15))::BIGINT % 1048576 AS p
           |  FROM documents))
           |WHERE cum <= 800 ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      "sp3_stratified_sample" ->
        ("""SELECT doc_id, lang FROM (
           | SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
           |  ORDER BY ('0x' || substring(sha256(doc_id::VARCHAR || ':strat'), 1, 15))::BIGINT % 1000000,
           |   doc_id) AS rn
           | FROM documents)
           |WHERE rn <= 40 ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      "ch1_doc_chunking" ->
        (s"""WITH c AS (
           | SELECT doc_id, toks,
           |  unnest(range(0, 1 + (greatest(len(toks) - 32, 0) + 23) // 24)) AS chunk_idx
           | FROM (SELECT doc_id, $toksSql AS toks FROM documents))
           |SELECT doc_id, chunk_idx,
           | len(toks[(chunk_idx*24+1):(chunk_idx*24+32)]) AS n_chunk_tokens,
           | array_to_string(toks[(chunk_idx*24+1):(chunk_idx*24+32)], ' ') AS chunk_text
           |FROM c ORDER BY doc_id, chunk_idx""".stripMargin.replace("\n", " ")),
      "x3_top_bigrams" ->
        (s"""SELECT bigram, COUNT(*) AS n FROM (
           | SELECT unnest(CASE WHEN len(toks) >= 2
           |   THEN [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]
           |   ELSE [] END) AS bigram
           | FROM (SELECT $toksSql AS toks FROM documents))
           |GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""".stripMargin.replace("\n", " ")),
      // pmi1: identical counts, identical truncating integer ratio —
      // HUGEINT // floors, all terms positive so floor = truncation
      "pmi1_collocations" ->
        (s"""WITH tk AS (SELECT unnest($toksSql) AS w FROM documents),
           |nn AS (SELECT COUNT(*) AS n FROM tk),
           |u AS (SELECT w, COUNT(*) AS c FROM tk GROUP BY 1),
           |bg AS (SELECT bigram, COUNT(*) AS cab FROM (
           | SELECT unnest(CASE WHEN len(toks) >= 2
           |   THEN [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]
           |   ELSE [] END) AS bigram
           | FROM (SELECT $toksSql AS toks FROM documents))
           | GROUP BY 1 HAVING COUNT(*) >= 5)
           |SELECT bigram, CAST(cab AS BIGINT) AS c_ab,
           | CAST(ua.c AS BIGINT) AS c_a, CAST(ub.c AS BIGINT) AS c_b,
           | CAST((nn.n::HUGEINT * cab * 10000) // (ua.c::HUGEINT * ub.c)
           |  AS BIGINT) AS pmi_fp
           |FROM bg CROSS JOIN nn
           | JOIN u ua ON ua.w = split_part(bigram, ' ', 1)
           | JOIN u ub ON ub.w = split_part(bigram, ' ', 2)
           |ORDER BY pmi_fp DESC, bigram ASC LIMIT 20"""
          .stripMargin.replace("\n", " ")),
      // zipf1: identical driver-literal ln(rank) micro table (VALUES),
      // identical lm1-seam ln(freq) quantization, exact BIGINT moments,
      // one final IEEE division of identical exact integers
      "zipf1_rank_frequency" -> {
        val xs = (1 to 100).map(r =>
          s"($r, ${math.floor(math.log(r.toDouble) * 1e6).toLong})")
          .mkString(", ")
        (s"""WITH tf AS (SELECT w, COUNT(*) AS c FROM (
           |  SELECT unnest($toksSql) AS w FROM documents) GROUP BY 1),
           |top AS (SELECT r, c FROM (
           |  SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS r FROM tf)
           |  WHERE r <= 100),
           |xr(r, x) AS (VALUES $xs),
           |xy AS (SELECT CAST(xr.x AS BIGINT) AS x,
           |  CAST(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(30,6)) * 1000000 AS BIGINT) AS y
           | FROM top JOIN xr USING (r)),
           |m AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
           |  SUM(x*y) AS sxy, SUM(x*x) AS sxx FROM xy)
           |SELECT CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS sx,
           | CAST(sy AS BIGINT) AS sy, CAST(sxy AS BIGINT) AS sxy,
           | CAST(sxx AS BIGINT) AS sxx,
           | CAST(n * sxy - sx * sy AS DOUBLE) /
           |  CAST(n * sxx - sx * sx AS DOUBLE) AS slope
           |FROM m""".stripMargin.replace("\n", " "))
      },
      // cov1: identical (freq DESC, token ASC) ranking, identical
      // conditional coverage sums, truncating micro ratio
      "cov1_vocab_coverage_curve" ->
        (s"""WITH tf AS (SELECT w, COUNT(*) AS c FROM (
           |  SELECT unnest($toksSql) AS w FROM documents) GROUP BY 1),
           |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS ordinal FROM tf),
           |cov AS (SELECT vv.v,
           |  SUM(CASE WHEN r.ordinal <= vv.v THEN r.c ELSE 0 END) AS covered,
           |  (SELECT SUM(c) FROM tf) AS total
           | FROM (SELECT unnest([1000, 2000, 4000, 8000]) AS v) vv
           |  CROSS JOIN r GROUP BY 1)
           |SELECT CAST(v AS BIGINT) AS v, CAST(covered AS BIGINT) AS covered,
           | CAST(total AS BIGINT) AS total,
           | CAST(covered * 1000000 // total AS BIGINT) AS coverage_micro
           |FROM cov ORDER BY v""".stripMargin.replace("\n", " ")),
      // div1: the identical NON-distinct trigram stream (t6's slice
      // construction), exact COUNT(DISTINCT), truncating micro ratio
      "div1_ngram_diversity" ->
        (s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_3grams,
           | CAST(COUNT(DISTINCT tg) AS BIGINT) AS n_distinct,
           | CAST(COUNT(DISTINCT tg) * 1000000 // COUNT(*) AS BIGINT) AS ttr_micro
           |FROM (
           | SELECT source, unnest(CASE WHEN len(toks) >= 3
           |   THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
           |   ELSE [] END) AS tg
           | FROM (SELECT source, $toksSql AS toks FROM documents))
           |GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")),
      // fert1: words = t1's whitespace tokens, subwords = t5's regex
      // pre-tokenizer — both already oracle-pinned; truncating micro ratio
      "fert1_tokenizer_fertility" ->
        (s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           | CAST(SUM(nw) AS BIGINT) AS n_words,
           | CAST(SUM(ns) AS BIGINT) AS n_subwords,
           | CAST(SUM(ns) * 1000000 // SUM(nw) AS BIGINT) AS fertility_micro
           |FROM (SELECT lang, len($toksSql) AS nw,
           |  len(list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
           |   x -> length(x) > 0)) AS ns
           | FROM documents)
           |GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " ")),
      // bpe1: per-word adjacent code-point pairs (1-based inclusive slice
      // w[i:i+1] = substr(w, i, 2)), counted corpus-wide
      "bpe1_pair_counts" ->
        (s"""SELECT pair, COUNT(*) AS n FROM (
           | SELECT unnest([word[i:i+1] for i in range(1, len(word))]) AS pair
           | FROM (SELECT unnest($toksSql) AS word FROM documents))
           |GROUP BY 1 ORDER BY n DESC, pair LIMIT 30""".stripMargin.replace("\n", " ")),
      // msk1: identical span grouping, hash fate, sentinel numbering and
      // string assembly — string_agg's null-skip yields the NULL target
      // on unmasked docs exactly like the Spark-side when-guard
      "msk1_span_corruption" ->
        (s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS tok,
           |  generate_subscripts($toksSql, 1) AS p1
           | FROM documents WHERE len($toksSql) > 0),
           |g0 AS (SELECT doc_id, (p1 - 1) // 3 AS g,
           |  list(tok ORDER BY p1) AS gtoks FROM tk GROUP BY 1, 2),
           |g1 AS (SELECT *, ('0x' || substring(sha256(
           |   doc_id::VARCHAR || ':' || g::VARCHAR || ':graftmask'), 1, 15))::BIGINT
           |   % 100 < 15 AS flag FROM g0),
           |g2 AS (SELECT *, SUM(CASE WHEN flag THEN 1 ELSE 0 END)
           |   OVER (PARTITION BY doc_id ORDER BY g
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |   - (CASE WHEN flag THEN 1 ELSE 0 END) AS k FROM g1)
           |SELECT doc_id,
           | string_agg(CASE WHEN flag THEN '<extra_id_' || k || '>'
           |   ELSE array_to_string(gtoks, ' ') END, ' ' ORDER BY g) AS masked_text,
           | string_agg(CASE WHEN flag
           |   THEN '<extra_id_' || k || '> ' || array_to_string(gtoks, ' ') END,
           |  ' ' ORDER BY g) AS target_text,
           | CAST(COALESCE(SUM(CASE WHEN flag THEN len(gtoks) ELSE 0 END), 0)
           |  AS BIGINT) AS n_masked
           |FROM g2 GROUP BY 1 ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // bpe2: the identical three merge rounds unrolled — same spaced-
      // symbol representation, same literal replace, same argmax
      // tie-break; see TextAnalysis.bpeMergeRounds
      "bpe2_merge_rounds" ->
        (s"""WITH t0 AS (SELECT unnest($toksSql) AS word FROM documents),
           |v0 AS (SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS sym,
           |  COUNT(*) AS freq FROM t0 WHERE word <> '' GROUP BY 1),
           |p1 AS (SELECT l[i] AS a, l[i+1] AS b, SUM(freq) AS f FROM
           | (SELECT string_split(trim(sym), ' ') AS l, freq,
           |   unnest(generate_series(1, len(string_split(trim(sym), ' ')) - 1)) AS i
           |  FROM v0) GROUP BY 1, 2),
           |m1 AS (SELECT a, b, f FROM p1 ORDER BY f DESC, a, b LIMIT 1),
           |v1 AS (SELECT replace(sym, ' '||a||' '||b||' ', ' '||a||b||' ') AS sym,
           |  freq FROM v0, m1),
           |p2 AS (SELECT l[i] AS a, l[i+1] AS b, SUM(freq) AS f FROM
           | (SELECT string_split(trim(sym), ' ') AS l, freq,
           |   unnest(generate_series(1, len(string_split(trim(sym), ' ')) - 1)) AS i
           |  FROM v1) GROUP BY 1, 2),
           |m2 AS (SELECT a, b, f FROM p2 ORDER BY f DESC, a, b LIMIT 1),
           |v2 AS (SELECT replace(sym, ' '||a||' '||b||' ', ' '||a||b||' ') AS sym,
           |  freq FROM v1, m2),
           |p3 AS (SELECT l[i] AS a, l[i+1] AS b, SUM(freq) AS f FROM
           | (SELECT string_split(trim(sym), ' ') AS l, freq,
           |   unnest(generate_series(1, len(string_split(trim(sym), ' ')) - 1)) AS i
           |  FROM v2) GROUP BY 1, 2),
           |m3 AS (SELECT a, b, f FROM p3 ORDER BY f DESC, a, b LIMIT 1)
           |SELECT CAST(1 AS INTEGER) AS round, a AS sym_a, b AS sym_b,
           | a||b AS merged, CAST(f AS BIGINT) AS freq FROM m1
           |UNION ALL SELECT 2, a, b, a||b, CAST(f AS BIGINT) FROM m2
           |UNION ALL SELECT 3, a, b, a||b, CAST(f AS BIGINT) FROM m3
           |ORDER BY round""".stripMargin.replace("\n", " ")),
      // bpe3: bpe2's training unrolled verbatim (t0..m3), then the three
      // learned merges applied IN TRAINING ORDER over the distinct-word
      // relation — identical spaced-symbol segmenter — and summed per doc.
      // bpe4 (stored artifact) and bpe5 (2-round build + 1-round extend
      // from stored state) share it VERBATIM: store-then-apply and
      // extend-after-store must both equal continuous 3-round training.
      "bpe3_apply" -> bpeApplySql,
      "bpe4_stored_vocab" -> bpeApplySql,
      "bpe5_vocab_extend" -> bpeApplySql,
      // bpe6: the pinned version-2 tokenizer — bpe3's unrolled apply at
      // exactly 2 rounds (same generator, no drift possible); a green
      // row proves the extension round is invisible to the pin
      "bpe6_vocab_asof" -> bpeApplySqlRounds(2),
      // lm1: identical per-term double formula, per-term decimal
      // quantization, one rounded division at the end
      "lm1_surprisal" ->
        (s"""WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf
           |  FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents)
           |  GROUP BY 1, 2),
           | n AS (SELECT SUM(tf) AS n_corpus FROM tf),
           | ct AS (SELECT doc_id, term, tf,
           |   SUM(tf) OVER (PARTITION BY term) AS ct FROM tf)
           |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
           | round(CAST(SUM(CAST(CAST(tf AS DOUBLE) *
           |   (ln(CAST(n_corpus AS DOUBLE)) - ln(CAST(ct AS DOUBLE)))
           |   AS DECIMAL(30,6))) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE), 6)
           |  AS surprisal
           |FROM ct, n GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // dsir1: identical hashed-bucket models (the sp1/d4 portable sha-60
      // hash rebuilds the exact collisions), identical add-one-smoothed
      // llr expression order, per-term DECIMAL(30,6) quantization, one
      // final round(·,6) — lm1's discipline over a two-model ratio
      "dsir1_importance_weights" ->
        (s"""WITH tt AS (SELECT unnest($toksSql) AS term FROM documents
           |  WHERE doc_id % 7 = 0),
           | tb AS (SELECT ('0x' || substring(sha256(term || ':dsir'), 1, 15))::BIGINT % 256 AS b,
           |   COUNT(*) AS ct_t FROM tt GROUP BY 1),
           | rt AS (SELECT doc_id, unnest($toksSql) AS term FROM documents
           |  WHERE doc_id % 7 <> 0),
           | rc AS (SELECT doc_id,
           |   ('0x' || substring(sha256(term || ':dsir'), 1, 15))::BIGINT % 256 AS b,
           |   COUNT(*) AS c FROM rt GROUP BY 1, 2),
           | sb AS (SELECT b, SUM(c) AS ct_s FROM rc GROUP BY 1),
           | m AS (SELECT sb.b, COALESCE(tb.ct_t, 0) AS ct_t, sb.ct_s
           |  FROM sb LEFT JOIN tb ON sb.b = tb.b),
           | tot AS (SELECT (SELECT SUM(ct_s) FROM sb) AS ns,
           |   (SELECT COALESCE(SUM(ct_t), 0) FROM tb) AS nt)
           |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
           | round(CAST(SUM(CAST(CAST(c AS DOUBLE) *
           |   ((ln(CAST(ct_t + 1 AS DOUBLE)) - ln(CAST(ct_s + 1 AS DOUBLE)))
           |    + (ln(CAST(ns + 256 AS DOUBLE)) - ln(CAST(nt + 256 AS DOUBLE))))
           |   AS DECIMAL(30,6))) AS DOUBLE), 6) AS dsir_llr
           |FROM rc JOIN m ON rc.b = m.b, tot
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // t8: identical per-character DECIMAL(30,6) quantized contributions
      // and the identical final round(Σ/N, 6) — the lm1 expression shape
      // over the doc's own char distribution
      "t8_char_entropy" ->
        ("""WITH cf AS (SELECT doc_id, ch, COUNT(*) AS ct
           |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
           |        FROM documents)
           |  WHERE len(ch) = 1 GROUP BY 1, 2),
           | t AS (SELECT doc_id, ch, ct,
           |   SUM(ct) OVER (PARTITION BY doc_id) AS n FROM cf)
           |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_chars,
           | CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
           | round(CAST(SUM(CAST(CAST(ct AS DOUBLE) *
           |   (ln(CAST(n AS DOUBLE)) - ln(CAST(ct AS DOUBLE)))
           |   AS DECIMAL(30,6))) AS DOUBLE) / CAST(MAX(n) AS DOUBLE), 6)
           |  AS entropy
           |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // lm2: identical backoff cascade — exact long counts per class, one
      // final integer-to-double division (IEEE-correct both engines)
      "lm2_backoff_coverage" ->
        (s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
           | lmtri AS (SELECT DISTINCT tri FROM (SELECT unnest(
           |   [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])
           |   AS tri FROM tk WHERE doc_id % 2 = 0 AND len(toks) >= 3)),
           | lmbi AS (SELECT DISTINCT bi FROM (SELECT unnest(
           |   [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))])
           |   AS bi FROM tk WHERE doc_id % 2 = 0 AND len(toks) >= 2)),
           | lmuni AS (SELECT DISTINCT uni FROM (SELECT unnest(toks) AS uni
           |   FROM tk WHERE doc_id % 2 = 0)),
           | pos AS (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS tri,
           |   array_to_string(toks[i+1:i+2], ' ') AS bi, toks[i+2] AS uni
           |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks)-1)) AS i
           |        FROM tk WHERE doc_id % 2 = 1 AND len(toks) >= 3)),
           | c AS (SELECT p.doc_id, COUNT(*) AS n_pos,
           |   COUNT(CASE WHEN t.tri IS NOT NULL THEN 1 END) AS n_tri,
           |   COUNT(CASE WHEN t.tri IS NULL AND b.bi IS NOT NULL THEN 1 END) AS n_bi,
           |   COUNT(CASE WHEN t.tri IS NULL AND b.bi IS NULL
           |     AND u.uni IS NOT NULL THEN 1 END) AS n_uni
           |  FROM pos p LEFT JOIN lmtri t ON p.tri = t.tri
           |   LEFT JOIN lmbi b ON p.bi = b.bi
           |   LEFT JOIN lmuni u ON p.uni = u.uni
           |  GROUP BY 1)
           |SELECT doc_id, CAST(n_pos AS BIGINT) AS n_pos,
           | CAST(n_tri AS BIGINT) AS n_tri, CAST(n_bi AS BIGINT) AS n_bi,
           | CAST(n_uni AS BIGINT) AS n_uni,
           | CAST(n_pos - n_tri - n_bi - n_uni AS BIGINT) AS n_oov,
           | CAST(3*n_tri + 2*n_bi + n_uni AS DOUBLE) / CAST(3*n_pos AS DOUBLE)
           |  AS coverage
           |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // ret1: identical BM25 formula — integer tf/df/len/N, ln behind a
      // 6-decimal round, pinned IEEE order, DECIMAL(30,6) per-term
      // quantization; (1.2 + 1) spelled as the SUM both sides (the
      // literal 2.2 parses to a different double than 1.2 + 1)
      "ret1_bm25_topk" -> ret1Bm25Sql,
      // ret3/ret4: the stored-postings paths must equal the from-scratch
      // BM25 — build-then-query and build-append-query alike
      "ret3_stored_postings" -> ret1Bm25Sql,
      "ret4_postings_append" -> ret1Bm25Sql,
      // ret7: ret1's BM25 verbatim over the forget SURVIVORS — after the
      // compact, df/N/candidates all equal a from-scratch build
      "ret7_postings_forget" -> Ret7OracleSql,
      "ret8_postings_asof" -> Ret8OracleSql,
      // ret9s: the streamed artifact must answer identically to the
      // from-scratch index over the full corpus — ret4's exact contract
      "ret9s_stream_postings" -> ret1Bm25Sql,
      // ret5: identical rarest-term anchor (COALESCE df 0, tie offset
      // then term), candidate-start expansion and positional verify join
      "ret5_phrase_search" ->
        (s"""WITH q(query_id, phrase) AS (VALUES
           |  (1, 'table table'), (2, 'value fast merge'),
           |  (3, 'scan slow fast')),
           |pt AS (SELECT query_id, i AS j, ws[i] AS term, len(ws) AS m
           | FROM (SELECT query_id,
           |   regexp_split_to_array(trim(lower(phrase)), '\\s+') AS ws,
           |   unnest(generate_series(1,
           |    len(regexp_split_to_array(trim(lower(phrase)), '\\s+')))) AS i
           |  FROM q)),
           |tp AS (SELECT doc_id, i AS pos, ws[i] AS term
           | FROM (SELECT doc_id, ws,
           |   unnest(generate_series(1, len(ws))) AS i
           |  FROM (SELECT doc_id, $toksSql AS ws FROM documents))
           | WHERE ws[i] IN (SELECT term FROM pt)),
           |dfs AS (SELECT term, COUNT(*) AS df FROM tp GROUP BY 1),
           |an AS (SELECT query_id, j AS jstar, term AS aterm FROM (
           | SELECT pt.query_id, pt.j, pt.term,
           |  row_number() OVER (PARTITION BY pt.query_id
           |   ORDER BY COALESCE(dfs.df, 0), pt.j, pt.term) AS rn
           | FROM pt LEFT JOIN dfs USING (term)) WHERE rn = 1),
           |cand AS (SELECT an.query_id, tp.doc_id,
           |  tp.pos - an.jstar + 1 AS start
           | FROM tp JOIN an ON tp.term = an.aterm
           | WHERE tp.pos - an.jstar + 1 >= 1),
           |ver AS (SELECT c.query_id, c.doc_id, c.start,
           |  COUNT(*) AS hit, MAX(pt.m) AS m
           | FROM cand c JOIN pt ON pt.query_id = c.query_id
           | JOIN tp ON tp.doc_id = c.doc_id AND tp.term = pt.term
           |  AND tp.pos = c.start + pt.j - 1
           | GROUP BY 1, 2, 3)
           |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           | CAST(COUNT(*) AS BIGINT) AS n_occ
           |FROM ver WHERE hit = m GROUP BY 1, 2
           |ORDER BY query_id, doc_id""".stripMargin.replace("\n", " ")),
      // ret6: identical positional slice, per-(query, doc) occurrence
      // join, min |pa − pb| and the (min_dist, doc_id) rank
      "ret6_term_proximity" ->
        (s"""WITH q(query_id, ta, tb) AS (VALUES
           |  (1, 'spark', 'join'), (2, 'hash', 'merge'),
           |  (3, 'stream', 'window')),
           |tp AS (SELECT doc_id, i AS pos, ws[i] AS term
           | FROM (SELECT doc_id, ws,
           |   unnest(generate_series(1, len(ws))) AS i
           |  FROM (SELECT doc_id, $toksSql AS ws FROM documents))
           | WHERE ws[i] IN (SELECT ta FROM q UNION SELECT tb FROM q)),
           |a AS (SELECT q.query_id, tp.doc_id, tp.pos AS pa
           | FROM tp JOIN q ON tp.term = q.ta),
           |b AS (SELECT q.query_id, tp.doc_id, tp.pos AS pb
           | FROM tp JOIN q ON tp.term = q.tb),
           |j AS (SELECT a.query_id, a.doc_id,
           |  MIN(ABS(pa - pb)) AS min_dist,
           |  COUNT(DISTINCT pa) AS n_a, COUNT(DISTINCT pb) AS n_b
           | FROM a JOIN b ON a.query_id = b.query_id
           |  AND a.doc_id = b.doc_id GROUP BY 1, 2),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |  ORDER BY min_dist, doc_id) AS rk FROM j)
           |SELECT CAST(query_id AS BIGINT) AS query_id,
           | CAST(rk AS BIGINT) AS rk, doc_id,
           | CAST(min_dist AS BIGINT) AS min_dist,
           | CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
           |FROM r WHERE rk <= 10
           |ORDER BY query_id, rk""".stripMargin.replace("\n", " ")),
      // ret2: ret1's BM25 CTE at k=20 + sim1's dense ranking at k=20 for
      // vec_id 0-2, fused by 1/(60+rk) — contributions quantized to
      // DECIMAL(30,6) exactly like the Spark side's Num.dsum, fused rank
      // = row_number by (rrf DESC, doc_id)
      "ret2_rrf_fusion" ->
        (s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
           | n AS (SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS n_toks FROM toks),
           | tf AS (SELECT doc_id, len_d, term, COUNT(*) AS tf
           |  FROM (SELECT doc_id, len(toks) AS len_d, unnest(toks) AS term
           |        FROM toks)
           |  GROUP BY 1, 2, 3),
           | q(query_id, term) AS (VALUES (0,'spark'),(0,'join'),(0,'table'),
           |  (1,'hash'),(1,'merge'),(1,'sort'),
           |  (2,'stream'),(2,'window'),(2,'batch')),
           | cand AS (SELECT tf.* FROM tf
           |  JOIN (SELECT DISTINCT term FROM q) qq USING(term)),
           | wd AS (SELECT cand.*, COUNT(*) OVER (PARTITION BY term) AS dft
           |  FROM cand),
           | scored AS (SELECT q.query_id, wd.doc_id,
           |  CAST(SUM(CAST(
           |   round(ln((CAST(n_docs - dft AS DOUBLE) + 0.5)
           |     / (CAST(dft AS DOUBLE) + 0.5) + 1.0), 6)
           |   * (CAST(tf AS DOUBLE) * (1.2 + 1))
           |   / (CAST(tf AS DOUBLE) + 1.2 * ((1 - 0.75)
           |      + 0.75 * ((len_d * n_docs) / n_toks)))
           |   AS DECIMAL(30,6))) AS DOUBLE) AS score
           |  FROM wd JOIN q USING(term), n GROUP BY 1, 2),
           | lex AS (SELECT query_id, doc_id,
           |   rank() OVER (PARTITION BY query_id
           |     ORDER BY score DESC, doc_id) AS rk
           |  FROM scored QUALIFY rk <= 20),
           | qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           |  FROM embeddings WHERE vec_id < 3),
           | cv AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
           |  FROM embeddings),
           | dense AS (SELECT query_id, neighbor_id AS doc_id,
           |   row_number() OVER (PARTITION BY query_id
           |     ORDER BY list_dot_product(qv, cv) /
           |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
           |      DESC, neighbor_id) AS rk
           |  FROM qv JOIN cv ON query_id <> neighbor_id QUALIFY rk <= 20),
           | u AS (SELECT query_id, doc_id,
           |   CAST(1.0 / (60.0 + CAST(rk AS DOUBLE)) AS DECIMAL(30,6)) AS c
           |  FROM lex
           |  UNION ALL
           |  SELECT query_id, doc_id,
           |   CAST(1.0 / (60.0 + CAST(rk AS DOUBLE)) AS DECIMAL(30,6)) AS c
           |  FROM dense),
           | fused AS (SELECT query_id, doc_id, CAST(SUM(c) AS DOUBLE) AS rrf
           |  FROM u GROUP BY 1, 2)
           |SELECT CAST(query_id AS BIGINT) AS query_id,
           | CAST(doc_id AS BIGINT) AS doc_id, rrf,
           | CAST(row_number() OVER (PARTITION BY query_id
           |   ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk
           |FROM fused QUALIFY rk <= 10
           |ORDER BY query_id, rk""".stripMargin.replace("\n", " ")),
      // kl1: identical per-term formula and quantization as lm1, one
      // extra USING(source) join for the per-source total
      "kl1_source_kl" ->
        (s"""WITH tf AS (SELECT source, term, COUNT(*) AS tf
           |  FROM (SELECT source, unnest($toksSql) AS term FROM documents)
           |  GROUP BY 1, 2),
           | n AS (SELECT SUM(tf) AS n_corpus FROM tf),
           | ct AS (SELECT source, term, tf,
           |   SUM(tf) OVER (PARTITION BY term) AS ct FROM tf),
           | ns AS (SELECT source, SUM(tf) AS ns FROM tf GROUP BY 1)
           |SELECT ct.source, CAST(SUM(ct.tf) AS BIGINT) AS n_tokens,
           | CAST(COUNT(*) AS BIGINT) AS n_terms,
           | round(CAST(SUM(CAST(CAST(ct.tf AS DOUBLE) *
           |   (ln(CAST(ct.tf AS DOUBLE)) - ln(CAST(ns.ns AS DOUBLE)) +
           |    ln(CAST(n_corpus AS DOUBLE)) - ln(CAST(ct.ct AS DOUBLE)))
           |   AS DECIMAL(30,6))) AS DOUBLE) / CAST(SUM(ct.tf) AS DOUBLE), 6)
           |  AS kl
           |FROM ct JOIN ns USING(source), n
           |GROUP BY ct.source ORDER BY ct.source""".stripMargin.replace("\n", " ")),
      // js1: identical frame, identical integer ln arguments
      // (p/m = 2aB/(aB+bA), q/m = 2bA/(aB+bA)), identical closed-form
      // absent-mass block, DECIMAL(30,6) per-term quantization, one
      // fixed IEEE assembly behind round(·,6)
      "js1_source_jsd" ->
        (s"""WITH tf AS (SELECT source, term, COUNT(*) AS a
           |  FROM (SELECT source, unnest($toksSql) AS term FROM documents)
           |  GROUP BY 1, 2),
           |n AS (SELECT SUM(a) AS bb FROM tf),
           |nsrc AS (SELECT source, SUM(a) AS aa FROM tf GROUP BY 1),
           |ct AS (SELECT source, term, a,
           |  SUM(a) OVER (PARTITION BY term) AS b FROM tf),
           |f AS (SELECT ct.source, ct.a, ct.b, nsrc.aa, n.bb
           | FROM ct JOIN nsrc USING (source), n),
           |g AS (SELECT source, MAX(aa) AS na, MAX(bb) AS nb,
           |  SUM(b) AS present_b,
           |  SUM(CAST(CAST(a AS DOUBLE) *
           |   (ln(CAST(2 * a * bb AS DOUBLE)) - ln(CAST(a * bb + b * aa AS DOUBLE)))
           |   AS DECIMAL(30,6))) AS sp,
           |  SUM(CAST(CAST(b AS DOUBLE) *
           |   (ln(CAST(2 * b * aa AS DOUBLE)) - ln(CAST(a * bb + b * aa AS DOUBLE)))
           |   AS DECIMAL(30,6))) AS sq
           | FROM f GROUP BY 1)
           |SELECT source, CAST(na AS BIGINT) AS n_tokens,
           | round((CAST(sp AS DOUBLE) / CAST(na AS DOUBLE) +
           |  (CAST(sq AS DOUBLE) + CAST(CAST(CAST(nb - present_b AS DOUBLE) *
           |    (ln(CAST(2 * nb AS DOUBLE)) - ln(CAST(nb AS DOUBLE)))
           |    AS DECIMAL(30,6)) AS DOUBLE)) / CAST(nb AS DOUBLE)) * 0.5, 6)
           |  AS jsd
           |FROM g ORDER BY source""".stripMargin.replace("\n", " ")),
      // gini1: identical ascending (x, term) ranks (the window states
      // the ordinal contract directly), HUGEINT moments ≡ the engine's
      // DECIMAL(38,0), one // ≡ div micro quotient on non-negatives,
      // final casts back to BIGINT (the ts2 gotcha)
      "gini1_token_gini" ->
        (s"""WITH tf AS (SELECT t AS term, COUNT(*) AS x
           | FROM (SELECT unnest($toksSql) AS t FROM documents)
           | WHERE t IS NOT NULL AND t <> '' GROUP BY 1),
           |r AS (SELECT x, row_number() OVER (ORDER BY x, term) AS i FROM tf),
           |a AS (SELECT COUNT(*)::HUGEINT AS n, SUM(x)::HUGEINT AS sx,
           |  SUM(i::HUGEINT * x) AS six FROM r)
           |SELECT CAST(n AS BIGINT) AS n_terms, CAST(sx AS BIGINT) AS n_tokens,
           | CAST(((2 * six - (n + 1) * sx) * 1000000) // (n * sx) AS BIGINT)
           |  AS gini_micro
           |FROM a""".stripMargin.replace("\n", " ")),
      // bal1: identical truncated micro shares, identical truncation
      // order for HHI and the effective count — all non-negative, so
      // DuckDB // (floor) ≡ Spark div (trunc)
      "bal1_source_balance" ->
        (s"""WITH ps AS (SELECT source, SUM(len($toksSql)) AS a
           | FROM documents GROUP BY 1),
           |t AS (SELECT SUM(a) AS n FROM ps),
           |sh AS (SELECT a * 1000000 // n AS share_micro FROM ps, t),
           |g AS (SELECT COUNT(*) AS n_sources,
           |  MAX(share_micro) AS top_share_micro,
           |  SUM(share_micro * share_micro) AS s2 FROM sh)
           |SELECT CAST(n_sources AS BIGINT) AS n_sources,
           | CAST(top_share_micro AS BIGINT) AS top_share_micro,
           | CAST(s2 // 1000000 AS BIGINT) AS hhi_micro,
           | CAST(CASE WHEN s2 // 1000000 > 0
           |  THEN 1000000000000 // (s2 // 1000000) END AS BIGINT)
           |  AS eff_sources_micro
           |FROM g""".stripMargin.replace("\n", " ")),
      // qm1s: identical sha-60 bucket hash, add-one smoothing over the
      // full 256-bucket support, per-bucket DECIMAL(30,6) quantization,
      // one final IEEE division + round(·,6) per batch
      "qm1s_stream_drift" ->
        (s"""WITH bl AS (SELECT
           |  ('0x' || substring(sha256(term || ':qm1'), 1, 15))::BIGINT % 256 AS b,
           |  COUNT(*) AS cq
           | FROM (SELECT unnest($toksSql) AS term FROM documents
           |  WHERE doc_id % 4 <> 3) GROUP BY 1),
           |nqt AS (SELECT COALESCE(SUM(cq), 0) AS nq FROM bl),
           |bb AS (SELECT unnest(range(256)) AS b),
           |sl AS (SELECT 0 AS batch_id, text FROM documents WHERE doc_id % 8 = 3
           | UNION ALL SELECT 1, text FROM documents WHERE doc_id % 8 = 7),
           |pc AS (SELECT batch_id,
           |  ('0x' || substring(sha256(term || ':qm1'), 1, 15))::BIGINT % 256 AS b,
           |  COUNT(*) AS cp
           | FROM (SELECT batch_id, unnest($toksSql) AS term FROM sl)
           | GROUP BY 1, 2),
           |npt AS (SELECT batch_id, SUM(cp) AS np FROM pc GROUP BY 1),
           |supp AS (SELECT n.batch_id, bb.b,
           |  COALESCE(pc.cp, 0) AS cp, COALESCE(bl.cq, 0) AS cq, n.np, nqt.nq
           | FROM npt n CROSS JOIN bb
           |  LEFT JOIN pc ON pc.batch_id = n.batch_id AND pc.b = bb.b
           |  LEFT JOIN bl ON bl.b = bb.b
           |  CROSS JOIN nqt),
           |bits AS (SELECT batch_id, np,
           |  CAST(CAST(cp + 1 AS DOUBLE) *
           |   (ln(CAST(cp + 1 AS DOUBLE)) - ln(CAST(cq + 1 AS DOUBLE)) +
           |    ln(CAST(nq + 256 AS DOUBLE)) - ln(CAST(np + 256 AS DOUBLE)))
           |   AS DECIMAL(30,6)) AS t
           | FROM supp)
           |SELECT CAST(batch_id AS BIGINT) AS batch_id,
           | CAST(np AS BIGINT) AS n_tokens,
           | round(CAST(SUM(t) AS DOUBLE) / CAST(np + 256 AS DOUBLE), 6) AS kl
           |FROM bits GROUP BY batch_id, np
           |ORDER BY batch_id""".stripMargin.replace("\n", " ")),
      // inc3: the oracle rebuilds the merged stats from scratch
      "inc3_incremental_stats" ->
        (s"""SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
           |  CAST(SUM(tf) AS BIGINT) AS tf
           |FROM (SELECT doc_id, term, COUNT(*) AS tf
           |  FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents)
           |  GROUP BY 1, 2)
           |GROUP BY term ORDER BY term""".stripMargin.replace("\n", " ")),
      // cur3: same plant, same RE2-safe host pattern, NOT IN blocklist
      "cur3_domain_filter" ->
        ("""WITH planted AS (SELECT doc_id,
           |  CASE WHEN doc_id % 3 = 0 THEN text || ' see https://site' ||
           |    CAST(doc_id % 5 AS VARCHAR) || '.example/p?x=1 ok'
           |   ELSE text END AS text FROM documents),
           | h AS (SELECT doc_id,
           |   regexp_extract(text, 'https?://([^/\s]+)', 1) AS host
           |  FROM planted)
           |SELECT doc_id, host FROM h
           |WHERE host NOT IN ('site1.example', 'site3.example')
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // par1: strict dominance as ONE suffix-max window (exact same set
      // as NOT EXISTS (q.x > p.x AND q.y > p.y)); null-text docs excluded
      // both sides
      "par1_pareto_frontier" ->
        (s"""WITH t AS (SELECT doc_id, len(list_distinct(toks)) AS x,
           |   len(toks) AS y
           |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)
           |  WHERE toks IS NOT NULL),
           | m AS (SELECT doc_id, x, y, max(y) OVER (ORDER BY x
           |   RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS hi
           |  FROM t)
           |SELECT doc_id, CAST(x AS BIGINT) AS n_distinct,
           | CAST(y AS BIGINT) AS n_tokens
           |FROM m WHERE hi IS NULL OR hi <= y
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // batch1: ⌊log₂⌋ via binary-string length on both sides
      "batch1_length_buckets" ->
        (s"""WITH t AS (SELECT doc_id, len($toksSql) AS n FROM documents),
           | b AS (SELECT doc_id, n,
           |   CAST(CASE WHEN n <= 0 THEN -1 ELSE length(bin(n)) - 1 END AS BIGINT)
           |    AS bucket FROM t)
           |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           | CAST(MIN(n) AS BIGINT) AS min_tokens,
           | CAST(MAX(n) AS BIGINT) AS max_tokens,
           | CAST(SUM(n) AS BIGINT) AS sum_tokens,
           | CAST(MAX(n) * COUNT(*) - SUM(n) AS BIGINT) AS padding_waste
           |FROM b GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      // mix1: α = 0.5 temperature mixture — keep-rate sqrt(n_min/n_lang),
      // fate = the sp1/sp2 portable sha-prefix hash at 10⁻⁶ resolution
      "mix1_temperature_mix" ->
        ("""WITH c AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY 1),
           | m AS (SELECT MIN(n_l) AS n_min FROM c),
           | r AS (SELECT lang, sqrt(CAST(n_min AS DOUBLE) / n_l) AS rate FROM c, m)
           |SELECT doc_id, d.lang FROM documents d JOIN r ON d.lang = r.lang
           |WHERE ('0x' || substring(sha256(doc_id::VARCHAR || ':temp'), 1, 15))::BIGINT
           |  % 1000000 / 1000000.0 < rate
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // mix2: identical permille weights and sha-prefix fate; range(1,
      // copies+1) is empty at copies = 0 so unnest drops the row, exactly
      // like Spark's explode over the guarded empty array
      "mix2_epoch_upsample" ->
        ("""SELECT doc_id, lang, unnest(range(1, copies + 1)) AS epoch_copy
           |FROM (SELECT doc_id, lang, epm // 1000 +
           |  CASE WHEN ('0x' || substring(sha256(doc_id::VARCHAR || ':mix2'), 1, 15))::BIGINT
           |    % 1000 < epm % 1000 THEN 1 ELSE 0 END AS copies
           | FROM (SELECT doc_id, lang,
           |   CASE lang WHEN 'en' THEN 500 WHEN 'zh' THEN 2250
           |    WHEN 'fr' THEN 1500 WHEN 'es' THEN 3000 ELSE 1000 END AS epm
           |  FROM documents))
           |ORDER BY doc_id, epoch_copy""".stripMargin.replace("\n", " ")),
      // qf1: identical integer micro-ratio (// ≡ truncation on the
      // non-negative counts), literal grid cross join, conditional sums
      "qf1_threshold_sweep" ->
        (s"""WITH st AS (SELECT len(t)::BIGINT AS n_tokens,
           |  (len(list_filter(t, x -> list_contains($enStopSql, x)))::BIGINT
           |    * 1000000) // len(t) AS swr_micro
           | FROM (SELECT $toksSql AS t FROM documents)),
           |g AS (SELECT * FROM
           |  (SELECT unnest([10, 20, 40]::BIGINT[]) AS min_tokens)
           |  CROSS JOIN
           |  (SELECT unnest([20000, 40000, 80000]::BIGINT[]) AS min_swr_micro))
           |SELECT g.min_tokens, g.min_swr_micro,
           | SUM(CASE WHEN st.n_tokens >= g.min_tokens
           |   AND st.swr_micro >= g.min_swr_micro THEN 1 ELSE 0 END)::BIGINT
           |  AS n_docs_pass,
           | CAST(SUM(CASE WHEN st.n_tokens >= g.min_tokens
           |   AND st.swr_micro >= g.min_swr_micro THEN st.n_tokens
           |   ELSE 0 END) AS BIGINT) AS n_tokens_pass,
           | SUM(CASE WHEN st.n_tokens >= g.min_tokens
           |   AND st.swr_micro >= g.min_swr_micro THEN 1 ELSE 0 END)::DOUBLE
           |  / COUNT(*) AS pass_rate
           |FROM st CROSS JOIN g GROUP BY 1, 2
           |ORDER BY min_tokens, min_swr_micro""".stripMargin.replace("\n", " ")),
      "qd1_source_quality" ->
        (s"""WITH q AS (
           | SELECT source, len(toks) AS n_tokens,
           |  len(list_filter(toks, x -> list_contains($enStopSql, x)))::DOUBLE / len(toks) AS swr
           | FROM (SELECT source, $toksSql AS toks FROM documents))
           |SELECT source, COUNT(*)::BIGINT AS n_docs,
           | SUM(n_tokens)::DOUBLE / COUNT(*) AS avg_tokens,
           | CAST(SUM(CAST(swr AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS avg_stopword_ratio,
           | SUM(CASE WHEN n_tokens >= 20 AND swr >= 0.04 THEN 1 ELSE 0 END)::BIGINT AS n_quality_pass,
           | SUM(CASE WHEN n_tokens >= 20 AND swr >= 0.04 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*) AS pass_rate
           |FROM q GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")),
      "emb2_int8_quant" ->
        ("""SELECT vec_id,
           | CASE WHEN amax > 0 THEN 127.0 / amax ELSE 0.0 END AS scale,
           | array_to_string(list_transform(v, x -> CAST(round(x *
           |  CASE WHEN amax > 0 THEN 127.0 / amax ELSE 0.0 END) AS INTEGER)), ',') AS q_csv
           |FROM (SELECT vec_id,
           |  list_transform(embedding, x -> x::DOUBLE) AS v,
           |  list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
           | FROM embeddings)
           |ORDER BY vec_id""".stripMargin.replace("\n", " ")),
      // emb3: identical μ/σ derivation (same exact-decimal sums, same
      // double expression order) joined back per element, identical
      // floor fixed point; 1-based subscripts group the same dimensions
      // the 0-based Spark side does
      "emb3_standardize" ->
        ("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |ex AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e),
           |st AS (SELECT i, COUNT(*) AS n,
           |  CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS s,
           |  CAST(SUM(CAST(x*x AS DECIMAL(30,6))) AS DOUBLE) AS s2
           | FROM ex GROUP BY i),
           |ms AS (SELECT i, s/n AS m, sqrt(greatest((s2 - s*s/n)/(n-1), 0.0)) AS sd FROM st),
           |z AS (SELECT vec_id, ex.i,
           |  CASE WHEN sd > 0 THEN CAST(floor((x - m)/sd * 1000000) AS BIGINT)
           |   ELSE 0 END AS zi
           | FROM ex JOIN ms ON ex.i = ms.i)
           |SELECT vec_id, string_agg(CAST(zi AS VARCHAR), ',' ORDER BY i) AS z_micro_csv
           |FROM z GROUP BY vec_id ORDER BY vec_id""".stripMargin.replace("\n", " ")),
      "vb1_vocab_coverage" ->
        (s"""WITH tf AS (
           | SELECT doc_id, token, COUNT(*) AS cnt
           | FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents)
           | GROUP BY 1, 2),
           | v AS (SELECT token FROM (
           |  SELECT token, SUM(cnt) AS n FROM tf GROUP BY 1
           |  ORDER BY n DESC, token LIMIT 20))
           |SELECT doc_id, SUM(cnt)::BIGINT AS n_tokens,
           | SUM(CASE WHEN v.token IS NULL THEN cnt ELSE 0 END)::BIGINT AS n_oov,
           | SUM(CASE WHEN v.token IS NULL THEN cnt ELSE 0 END)::DOUBLE / SUM(cnt) AS oov_rate
           |FROM tf LEFT JOIN v ON tf.token = v.token
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // hh1: the engine must equal the exact full-vocabulary HAVING set
      "hh1_heavy_hitters" ->
        hh1Sql,
      // inc5: the incremental path must equal the FROM-SCRATCH heavy
      // hitters over the accumulated corpus — hh1's oracle verbatim
      "inc5_incremental_hh" ->
        hh1Sql,
      // hh2: hh1's exact HAVING set over the retained epochs (doc_id
      // % 3 <> 0) — candidates, exact counts and the window total N_w
      // all over the surviving population; a green row proves the
      // expired epoch is gone from both the summary and the threshold
      "hh2_windowed_hh" -> hh1SqlOver(" WHERE doc_id % 3 <> 0"),
      // hh3: the pinned version-2 window — hh1's HAVING set over the
      // epochs-{0,1} population, post-pin ingest invisible
      "hh3_windowed_asof" -> hh1SqlOver(" WHERE doc_id % 3 < 2"),
      // mov1: exact epoch-over-epoch deltas above the integer threshold
      // — a green row proves the MG candidate union caught every mover
      "mov1_heavy_movers" ->
        (s"""WITH tk AS (SELECT doc_id % 2 AS e, unnest($toksSql) AS token
           |  FROM documents),
           |n AS (SELECT MAX(ne) AS mx FROM
           |  (SELECT e, COUNT(*) AS ne FROM tk GROUP BY e)),
           |c AS (SELECT token,
           |  COUNT(*) FILTER (WHERE e = 0) AS c0,
           |  COUNT(*) FILTER (WHERE e = 1) AS c1
           | FROM tk GROUP BY token)
           |SELECT token, CAST(c0 AS BIGINT) AS c0, CAST(c1 AS BIGINT) AS c1,
           | CAST(c1 - c0 AS BIGINT) AS delta
           |FROM c, n WHERE abs(c1 - c0) * 200 >= n.mx
           |ORDER BY token""".stripMargin.replace("\n", " ")),
      // mov2: mov1's exact integer-threshold deltas over the PINNED
      // population (batches 0,1 = doc_id % 4 < 2; epochs = doc_id % 2)
      // — the post-pin ingests doubled every epoch's mass, so a green
      // row proves candidates AND thresholds derive from the pin
      "mov2_movers_asof" ->
        (s"""WITH tk AS (SELECT doc_id % 2 AS e, unnest($toksSql) AS token
           |  FROM documents WHERE doc_id % 4 < 2),
           |n AS (SELECT MAX(ne) AS mx FROM
           |  (SELECT e, COUNT(*) AS ne FROM tk GROUP BY e)),
           |c AS (SELECT token,
           |  COUNT(*) FILTER (WHERE e = 0) AS c0,
           |  COUNT(*) FILTER (WHERE e = 1) AS c1
           | FROM tk GROUP BY token)
           |SELECT token, CAST(c0 AS BIGINT) AS c0, CAST(c1 AS BIGINT) AS c1,
           | CAST(c1 - c0 AS BIGINT) AS delta
           |FROM c, n WHERE abs(c1 - c0) * 200 >= n.mx
           |ORDER BY token""".stripMargin.replace("\n", " ")),
      // hh1s: the stream-built summary must answer the identical
      // from-scratch HAVING set — hh1's oracle verbatim
      "hh1s_stream_hh" ->
        hh1Sql,
      // cms1: whole-corpus counters (≡ the engine's even⊕odd merge by
      // additivity), identical sha row hashes and min-over-rows estimate
      "cms1_countmin" -> cmsSql,
      // cms2: the stored artifact after append + duplicate-batch retry
      // must answer identically — cms1's oracle verbatim
      "cms2_stored_cms" -> cmsSql,
      // cms3: cms1's replay restricted to the RETAINED epochs (doc_id
      // % 3 <> 0) — probes, true counts and counters all over the
      // surviving population; a green row proves the expired epoch's
      // mass is physically gone and both redeliveries no-opped
      "cms3_windowed_cms" -> cmsSqlOver(" WHERE doc_id % 3 <> 0"),
      // cms4: the pinned version-2 window is epochs {0,1} — cms1's
      // replay over exactly that population; a green row proves the
      // post-pin ingest is invisible to the pin
      "cms4_windowed_asof" -> cmsSqlOver(" WHERE doc_id % 3 < 2"),
      // cms1s: the stream-maintained sketch must answer identically —
      // cms1's oracle verbatim (counter additivity across any batching)
      "cms1s_stream_cms" -> cmsSql,
      "ss1_join_replay" ->
        ("""SELECT e.event_id, e.ts, e.user_id,
           | c.event_id AS click_event_id, c.ts AS click_ts
           |FROM (SELECT * FROM events WHERE event_type = 'error') e
           |JOIN (SELECT * FROM events WHERE event_type = 'click') c
           | ON e.user_id = c.user_id
           | AND c.ts BETWEEN e.ts - INTERVAL 60 MINUTE AND e.ts
           |ORDER BY e.event_id, click_event_id""".stripMargin.replace("\n", " ")),
      // ss2: state eviction between micro-batches cannot change the result
      // — the oracle is the identical batch interval join as ss1
      "ss2_join_multibatch" ->
        ("""SELECT e.event_id, e.ts, e.user_id,
           | c.event_id AS click_event_id, c.ts AS click_ts
           |FROM (SELECT * FROM events WHERE event_type = 'error') e
           |JOIN (SELECT * FROM events WHERE event_type = 'click') c
           | ON e.user_id = c.user_id
           | AND c.ts BETWEEN e.ts - INTERVAL 60 MINUTE AND e.ts
           |ORDER BY e.event_id, click_event_id""".stripMargin.replace("\n", " ")),
      // ss3: watermark-expiry null emission ≡ the batch LEFT interval join
      "ss3_left_outer_replay" ->
        ("""SELECT e.event_id, e.ts, e.user_id,
           | c.event_id AS click_event_id, c.ts AS click_ts
           |FROM (SELECT * FROM events WHERE event_type = 'error') e
           |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           | ON e.user_id = c.user_id
           | AND c.ts BETWEEN e.ts - INTERVAL 60 MINUTE AND e.ts
           |ORDER BY e.event_id, click_event_id""".stripMargin.replace("\n", " ")),
      "emb1_dim_stats" ->
        ("""SELECT dim, n, s / n AS mean_x, (s2 - s * s / n) / (n - 1) AS var_x
           |FROM (SELECT dim, COUNT(*) AS n,
           |  CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS s,
           |  CAST(SUM(CAST(x * x AS DECIMAL(30,6))) AS DOUBLE) AS s2
           | FROM (SELECT unnest(range(len(embedding))) AS dim,
           |   unnest(embedding)::DOUBLE AS x FROM embeddings)
           | GROUP BY dim)
           |ORDER BY dim""".stripMargin.replace("\n", " ")),
      // drift1: the same exact-decimal stat sums per snapshot, joined
      "drift1_embedding_drift" ->
        ("""WITH sa AS (
           | SELECT dim, COUNT(*) AS n_a,
           |  CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS s,
           |  CAST(SUM(CAST(x * x AS DECIMAL(30,6))) AS DOUBLE) AS s2
           | FROM (SELECT unnest(range(len(embedding))) AS dim,
           |   unnest(embedding)::DOUBLE AS x FROM embeddings WHERE vec_id % 2 = 0)
           | GROUP BY dim),
           |sb AS (
           | SELECT dim, COUNT(*) AS n_b,
           |  CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS s,
           |  CAST(SUM(CAST(x * x AS DECIMAL(30,6))) AS DOUBLE) AS s2
           | FROM (SELECT dim, CASE WHEN dim < 8 THEN x + 0.25 ELSE x END AS x
           |  FROM (SELECT unnest(range(len(embedding))) AS dim,
           |    unnest(embedding)::DOUBLE AS x FROM embeddings WHERE vec_id % 2 = 1))
           | GROUP BY dim),
           |j AS (SELECT sa.dim, n_a, sa.s / n_a AS mean_a,
           |  (sa.s2 - sa.s * sa.s / n_a) / (n_a - 1) AS var_a,
           |  n_b, sb.s / n_b AS mean_b,
           |  (sb.s2 - sb.s * sb.s / n_b) / (n_b - 1) AS var_b
           | FROM sa JOIN sb ON sa.dim = sb.dim)
           |SELECT dim, n_a, mean_a, var_a, n_b, mean_b, var_b,
           | mean_b - mean_a AS mean_shift,
           | CAST(abs(mean_b - mean_a) > 0.1 AS INTEGER) AS drifted
           |FROM j ORDER BY dim""".stripMargin.replace("\n", " ")),
      "rj1_price_band" ->
        ("""WITH bands(band_id, lo, hi) AS (
           | SELECT b, 900.0 + b * b, 900.0 + (b + 1) * (b + 1)
           | FROM (SELECT unnest(range(10)) AS b))
           |SELECT p_partkey, band_id, lo::DOUBLE AS lo, hi::DOUBLE AS hi
           |FROM part JOIN bands ON lo <= p_retailprice AND p_retailprice < hi
           |ORDER BY p_partkey, band_id""".stripMargin.replace("\n", " ")),
      "u1_table_stats" ->
        ("""SELECT 'customer' AS tbl, COUNT(*) AS n_rows FROM customer
           |UNION ALL SELECT 'orders', COUNT(*) FROM orders
           |UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
           |UNION ALL SELECT 'documents', COUNT(*) FROM documents
           |UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings
           |ORDER BY tbl""".stripMargin.replace("\n", " ")),
      "t1_token_count" ->
        (s"""SELECT doc_id, len($toksSql) AS n_tokens FROM documents
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      "t2_text_stats" ->
        (s"""SELECT doc_id, len(toks) AS n_tokens,
           | len(list_distinct(toks)) AS n_distinct_tokens,
           | len(list_distinct(toks))::DOUBLE / len(toks) AS type_token_ratio,
           | list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) AS avg_token_len,
           | len(list_filter(toks, x -> list_contains($enStopSql, x)))::DOUBLE / len(toks) AS stopword_ratio
           |FROM (SELECT doc_id, $toksSql AS toks FROM documents)
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      "t6_repetition_stats" ->
        (s"""SELECT doc_id, n_3grams,
           | CASE WHEN n_3grams > 0
           |  THEN CAST(1 AS DOUBLE) - n_distinct_3grams::DOUBLE / n_3grams
           |  ELSE 0.0 END AS dup_3gram_frac,
           | CASE WHEN n_tokens > 0
           |  THEN top_cnt::DOUBLE / n_tokens ELSE 0.0 END AS top_token_frac
           |FROM (
           | SELECT doc_id, len(toks) AS n_tokens,
           |  greatest(len(toks) - 2, 0) AS n_3grams,
           |  CASE WHEN len(toks) >= 3
           |   THEN len(list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]))
           |   ELSE 0 END AS n_distinct_3grams,
           |  CASE WHEN len(toks) > 0
           |   THEN list_aggregate(list_transform(list_distinct(toks),
           |     t -> len(list_filter(toks, x -> x = t))), 'max')
           |   ELSE 0 END AS top_cnt
           | FROM (SELECT doc_id, $toksSql AS toks FROM documents))
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      "t7_pii_redaction" ->
        (s"""WITH c AS (SELECT doc_id,
           |  CASE WHEN doc_id % 10 = 4 THEN text || '$PiiSuffix' ELSE text END AS text
           | FROM documents),
           |u AS (SELECT doc_id,
           |  len(regexp_extract_all(text, 'https?://[^\\s]+')) AS n_urls,
           |  regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g') AS nourl
           | FROM c)
           |SELECT doc_id,
           | CAST(len(regexp_extract_all(nourl, '$EmailReSql')) AS BIGINT) AS n_emails,
           | CAST(n_urls AS BIGINT) AS n_urls,
           | regexp_replace(nourl, '$EmailReSql', '<EMAIL>', 'g') AS redacted_text
           |FROM u ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      // norm1: identical decomposed plant via chr(769)/chr(771) combining
      // marks; nfc_normalize is pinned by UAX #15, so bytes match the
      // JDK-normalizer kernel exactly
      "norm1_nfc_normalize" ->
        ("""WITH p AS (SELECT doc_id,
           |  CASE WHEN doc_id % 3 = 0
           |   THEN text || ' cafe' || chr(769) || ' nin' || chr(771) || 'o'
           |   ELSE text END AS text
           | FROM documents),
           |n AS (SELECT doc_id, text, nfc_normalize(text) AS norm FROM p)
           |SELECT doc_id,
           | CAST(length(text) AS BIGINT) AS n_chars_raw,
           | CAST(length(norm) AS BIGINT) AS n_chars_nfc,
           | CAST(CASE WHEN text <> norm THEN 1 ELSE 0 END AS BIGINT) AS changed,
           | right(norm, 8) AS tail8
           |FROM n ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      "t5_regex_tokens" ->
        ("""SELECT doc_id,
           | len(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
           |   x -> length(x) > 0)) AS n_subwords
           |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      "t3_fingerprint" ->
        (s"""SELECT doc_id, substring(sha256(array_to_string($toksSql, ' ')), 1, 16) AS fp
           |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      "t4_lang_id" ->
        (s"""SELECT doc_id,
           | CASE
           |  WHEN text IS NULL THEN NULL
           |  WHEN length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) * 3 > length(text) THEN 'zh'
           |  WHEN greatest(en, de, fr, es) = 0 THEN 'unk'
           |  WHEN en = greatest(en, de, fr, es) THEN 'en'
           |  WHEN de = greatest(en, de, fr, es) THEN 'de'
           |  WHEN es = greatest(en, de, fr, es) THEN 'es'
           |  ELSE 'fr' END AS lang_pred
           |FROM (
           |  SELECT doc_id, text,
           |   len(list_intersect(dt, $enStopSql)) AS en,
           |   len(list_intersect(dt, ${sqlArr(TextAnalysis.DeStop)})) AS de,
           |   len(list_intersect(dt, ${sqlArr(TextAnalysis.FrStop)})) AS fr,
           |   len(list_intersect(dt, ${sqlArr(TextAnalysis.EsStop)})) AS es
           |  FROM (SELECT doc_id, text, list_distinct($toksSql) AS dt FROM documents))
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      "d1_exact_dedup" ->
        (s"""SELECT substring(sha256(array_to_string($toksSql, ' ')), 1, 16) AS content_fp,
           | min(doc_id) AS keep_id, count(*) AS n_copies
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
      "d6_editdist" ->
        ("""SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           | CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
           |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
           |WHERE levenshtein(a.p_name, b.p_name) <= 1
           |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
      // d7: brute with the length filter the pigeonhole implies
      "d7_editdist2" ->
        ("""SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           | CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
           |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
           | AND abs(length(a.p_name) - length(b.p_name)) <= 2
           |WHERE levenshtein(a.p_name, b.p_name) <= 2
           |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
      "d2_ngram_jaccard" -> ngramPairsSql,
      "leak1_split_leakage" -> Leak1OracleSql,
      // leak2: d2 pairs -> recursive closure -> root-bucketed split
      "leak2_cluster_safe_split" -> Leak2OracleSql,
      // dsz1: the identical closure reduced to the size histogram
      "dsz1_dup_cluster_histogram" -> Dsz1OracleSql,
      // exp1: screen → fingerprint dedup → cluster-safe train split →
      // greedy packing, every leg its already-graded oracle chained
      "exp1_training_export" -> Exp1OracleSql,
      // srcsim1: exact vocabulary Jaccard per source pair
      "srcsim1_source_jaccard" -> SrcSim1OracleSql,
      // LSH banding at (128 hashes, 32 bands of 4): P(miss | J≥0.9) < 1e-30,
      // and all planted near-dups sit at J≥0.9 with the rest <0.3 — so the
      // exact blocked-all-pairs result IS the LSH result here.
      "d3_minhash_lsh" -> ngramPairsSql,
      // ssj1: blocked exact word-set Jaccard over the planted corpus —
      // candidates share >=1 token (a superset of the engine's prefix
      // candidates; both filter on exact J, so results agree)
      "ssj1_set_similarity_join" ->
        (s"""WITH base AS (SELECT doc_id, text FROM documents
           |  WHERE doc_id % 5 = 0
           | UNION ALL
           | SELECT doc_id + $plantUnitSql AS doc_id,
           |  text || ' qqplantedtoken' AS text
           | FROM documents WHERE doc_id % 20 = 0
           |  AND len(list_distinct($toksSql)) >= 4),
           |w AS (SELECT doc_id AS id, list_distinct($toksSql) AS ws FROM base),
           |inv AS (SELECT id, unnest(ws) AS t FROM w),
           |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
           | FROM inv x JOIN inv y ON x.t = y.t AND x.id < y.id),
           |scored AS (SELECT id_a, id_b,
           |  len(list_intersect(a.ws, b.ws))::DOUBLE /
           |   (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) AS j
           | FROM cand JOIN w a ON cand.id_a = a.id JOIN w b ON cand.id_b = b.id)
           |SELECT id_a, id_b, round(j, 6) AS j FROM scored
           |WHERE j >= 0.8 ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
      // brute-force reference over the SAME planted-duplicate corpus the
      // Spark query builds; the LSH-blocked result must equal it exactly
      // (scale-invariant signatures → deterministic recall 1.0 on the
      // planted pairs, exact verify → exact precision)
      "d5_emb_neardup" ->
        ("""WITH v0 AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
           |v AS (SELECT id, v FROM v0
           | UNION ALL SELECT id + 1000000, list_transform(v, x -> x * 1.5) FROM v0)
           |SELECT x.id AS id_a, y.id AS id_b,
           | round(list_dot_product(x.v, y.v) /
           |   (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 4) AS cos
           |FROM v x JOIN v y ON x.id < y.id
           |WHERE list_dot_product(x.v, y.v) /
           |   (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.9
           |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
      // exact pair graph all-pairs, then component roots via the cur2
      // recursive-CTE collapse; kept = "is its own root"
      "sd1_semantic_dedup" ->
        ("""WITH RECURSIVE v0 AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
           |v AS (SELECT id, v FROM v0
           | UNION ALL SELECT id + 1000000, list_transform(v, x -> x * 1.5) FROM v0
           | UNION ALL SELECT id + 2000000, list_transform(v, x -> x * 0.5) FROM v0 WHERE id % 2 = 0),
           |pr AS (SELECT x.id AS id_a, y.id AS id_b
           | FROM v x JOIN v y ON x.id < y.id
           | WHERE list_dot_product(x.v, y.v) /
           |   (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.9),
           |e AS (SELECT id_a AS x, id_b AS y FROM pr UNION SELECT id_b, id_a FROM pr),
           |reach(x, y) AS (SELECT x, y FROM e
           | UNION SELECT r.x, e2.y FROM reach r JOIN e e2 ON r.y = e2.x),
           |rt AS (SELECT x, least(x, min(y)) AS root FROM reach GROUP BY x)
           |SELECT v.id AS vec_id, coalesce(rt.root, v.id) AS root,
           | CASE WHEN coalesce(rt.root, v.id) = v.id THEN 1 ELSE 0 END AS kept
           |FROM v LEFT JOIN rt ON v.id = rt.x
           |ORDER BY vec_id""".stripMargin.replace("\n", " ")),
      // exact fingerprint replication: token hash = first 15 hex chars of
      // sha256 (60 bits, positive signed range), vote loop over 60 bits,
      // then the chunk-blocked Spark result ≡ all pairs at hamming ≤ 3
      // (pigeonhole blocking has exact recall for the requested bound)
      "d4_simhash" ->
        (s"""WITH toks AS (SELECT doc_id AS id, $toksSql AS toks FROM documents),
           |th AS (SELECT id, ('0x' || substring(sha256(tok), 1, 15))::BIGINT AS h
           | FROM (SELECT id, unnest(toks) AS tok FROM toks)),
           |votes AS (
           | SELECT id, b, SUM(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
           | FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) bb
           | GROUP BY 1, 2),
           |fps AS (SELECT id,
           |  CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS fp
           | FROM votes GROUP BY 1)
           |SELECT a.id AS id_a, b.id AS id_b,
           | CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS dist
           |FROM fps a JOIN fps b ON a.id < b.id
           |WHERE bit_count(xor(a.fp, b.fp)) <= 3
           |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
      // dbscan1: exact all-pairs neighborhood truth over the planted
      // corpus, degree-based core set, recursive-CTE core components,
      // min-core-neighbor border attach, noise −1
      "dbscan1_density_cluster" ->
        ("""WITH RECURSIVE
           |v0 AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
           |v AS (SELECT id, v FROM v0
           | UNION ALL SELECT id + 1000000, list_transform(v, x -> x * 1.5) FROM v0
           | UNION ALL SELECT id + 2000000, list_transform(v, x -> x * 0.5) FROM v0 WHERE id % 2 = 0),
           |pr AS (SELECT x.id AS id_a, y.id AS id_b
           | FROM v x JOIN v y ON x.id < y.id
           | WHERE list_dot_product(x.v, y.v) /
           |   (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.9),
           |e AS (SELECT id_a AS x, id_b AS y FROM pr UNION SELECT id_b, id_a FROM pr),
           |core AS (SELECT x AS id FROM e GROUP BY 1 HAVING COUNT(*) >= 2),
           |ce AS (SELECT e.x, e.y FROM e
           | JOIN core a ON e.x = a.id JOIN core b ON e.y = b.id),
           |reach(x, y) AS (SELECT x, y FROM ce
           | UNION SELECT r.x, c2.y FROM reach r JOIN ce c2 ON r.y = c2.x),
           |rt AS (SELECT x AS id, LEAST(x, MIN(y)) AS cluster
           | FROM reach GROUP BY x),
           |corelab AS (SELECT c.id, COALESCE(rt.cluster, c.id) AS cluster
           | FROM core c LEFT JOIN rt ON rt.id = c.id),
           |border AS (SELECT e.x AS id, MIN(cl.cluster) AS cluster
           | FROM e JOIN corelab cl ON e.y = cl.id
           | WHERE e.x NOT IN (SELECT id FROM core) GROUP BY 1)
           |SELECT v.id,
           | CASE WHEN cl.id IS NOT NULL THEN 'core'
           |  WHEN b.id IS NOT NULL THEN 'border' ELSE 'noise' END AS role,
           | CAST(COALESCE(cl.cluster, b.cluster, -1) AS BIGINT) AS cluster
           |FROM v LEFT JOIN corelab cl ON v.id = cl.id
           |LEFT JOIN border b ON v.id = b.id
           |ORDER BY v.id""".stripMargin.replace("\n", " ")),
      "sim1_ann_topk" ->
        ("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
           |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
           |scored AS (
           | SELECT query_id, neighbor_id,
           |  list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
           | FROM q JOIN c ON query_id <> neighbor_id),
           |ranked AS (
           | SELECT query_id, neighbor_id, cos,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           | FROM scored)
           |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
           |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin.replace("\n", " ")),
      // neg1: sim1's oracle with the label-mismatch predicate in the join
      "neg1_hard_negatives" ->
        ("""WITH q AS (SELECT vec_id AS query_id, label AS qlab,
           |  embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
           |c AS (SELECT vec_id AS neighbor_id, label AS nlab,
           |  embedding::DOUBLE[] AS cv FROM embeddings),
           |scored AS (
           | SELECT query_id, neighbor_id,
           |  list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
           | FROM q JOIN c ON query_id <> neighbor_id AND qlab <> nlab),
           |ranked AS (
           | SELECT query_id, neighbor_id, cos,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           | FROM scored)
           |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
           |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin.replace("\n", " ")),
      // mmr1: the 5 greedy rounds unrolled — round N scores every
      // unselected candidate as ½·rel − ½·max sim to that query's
      // selected set (identical cosine expression shape both engines),
      // argmax per query with the lower-id tie-break
      "mmr1_diverse_topk" ->
        ("""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
           |  FROM embeddings WHERE vec_id < 3),
           |c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
           |r AS (SELECT qid, id, v,
           |  list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS rel
           | FROM q JOIN c ON qid <> id),
           |s1 AS (SELECT qid, id, v, rel AS score FROM
           | (SELECT qid, id, v, rel,
           |   row_number() OVER (PARTITION BY qid ORDER BY rel DESC, id) AS rn
           |  FROM r) WHERE rn = 1),
           |e1 AS (SELECT qid, id, v FROM s1),
           |p2 AS (SELECT r.qid, r.id, first(r.v) AS v,
           |  0.5 * r.rel - 0.5 * MAX(list_dot_product(r.v, s.v) / (sqrt(list_dot_product(r.v, r.v)) * sqrt(list_dot_product(s.v, s.v)))) AS score
           | FROM r JOIN e1 s ON r.qid = s.qid
           | WHERE NOT EXISTS (SELECT 1 FROM e1 x WHERE x.qid = r.qid AND x.id = r.id)
           | GROUP BY r.qid, r.id, r.rel),
           |s2 AS (SELECT qid, id, v, score FROM
           | (SELECT qid, id, v, score,
           |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rn
           |  FROM p2) WHERE rn = 1),
           |e2 AS (SELECT qid, id, v FROM e1 UNION ALL SELECT qid, id, v FROM s2),
           |p3 AS (SELECT r.qid, r.id, first(r.v) AS v,
           |  0.5 * r.rel - 0.5 * MAX(list_dot_product(r.v, s.v) / (sqrt(list_dot_product(r.v, r.v)) * sqrt(list_dot_product(s.v, s.v)))) AS score
           | FROM r JOIN e2 s ON r.qid = s.qid
           | WHERE NOT EXISTS (SELECT 1 FROM e2 x WHERE x.qid = r.qid AND x.id = r.id)
           | GROUP BY r.qid, r.id, r.rel),
           |s3 AS (SELECT qid, id, v, score FROM
           | (SELECT qid, id, v, score,
           |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rn
           |  FROM p3) WHERE rn = 1),
           |e3 AS (SELECT qid, id, v FROM e2 UNION ALL SELECT qid, id, v FROM s3),
           |p4 AS (SELECT r.qid, r.id, first(r.v) AS v,
           |  0.5 * r.rel - 0.5 * MAX(list_dot_product(r.v, s.v) / (sqrt(list_dot_product(r.v, r.v)) * sqrt(list_dot_product(s.v, s.v)))) AS score
           | FROM r JOIN e3 s ON r.qid = s.qid
           | WHERE NOT EXISTS (SELECT 1 FROM e3 x WHERE x.qid = r.qid AND x.id = r.id)
           | GROUP BY r.qid, r.id, r.rel),
           |s4 AS (SELECT qid, id, v, score FROM
           | (SELECT qid, id, v, score,
           |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rn
           |  FROM p4) WHERE rn = 1),
           |e4 AS (SELECT qid, id, v FROM e3 UNION ALL SELECT qid, id, v FROM s4),
           |p5 AS (SELECT r.qid, r.id, first(r.v) AS v,
           |  0.5 * r.rel - 0.5 * MAX(list_dot_product(r.v, s.v) / (sqrt(list_dot_product(r.v, r.v)) * sqrt(list_dot_product(s.v, s.v)))) AS score
           | FROM r JOIN e4 s ON r.qid = s.qid
           | WHERE NOT EXISTS (SELECT 1 FROM e4 x WHERE x.qid = r.qid AND x.id = r.id)
           | GROUP BY r.qid, r.id, r.rel),
           |s5 AS (SELECT qid, id, v, score FROM
           | (SELECT qid, id, v, score,
           |   row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rn
           |  FROM p5) WHERE rn = 1)
           |SELECT qid AS query_id, CAST(1 AS BIGINT) AS rank,
           | id AS neighbor_id, round(score, 4) AS score FROM s1
           |UNION ALL SELECT qid, 2, id, round(score, 4) FROM s2
           |UNION ALL SELECT qid, 3, id, round(score, 4) FROM s3
           |UNION ALL SELECT qid, 4, id, round(score, 4) FROM s4
           |UNION ALL SELECT qid, 5, id, round(score, 4) FROM s5
           |ORDER BY query_id, rank""".stripMargin.replace("\n", " ")),
      // knn1: the same rank/rounding semantics, self all-pairs
      "knn1_knn_graph" -> knn1Sql,
      "hub1_knn_hubness" -> Hub1OracleSql,
      // knn2: the incrementally-maintained stored graph must equal the
      // from-scratch kNN graph — knn1's oracle verbatim
      "knn2_incremental_knn" -> knn1Sql,
      // knn3: knn1's oracle verbatim over corpus-minus-deleted — the
      // repaired graph must equal the from-scratch graph over survivors
      // (two-sided eviction + exact rank-k backfill, not a shrunk view)
      "knn3_graph_forget" -> knnSqlOver(" WHERE vec_id % 5 <> 2"),
      // del3s: the stream-driven forget must land exactly where the
      // batch verb does — knn3's oracle verbatim
      "del3s_stream_index_forget" -> knnSqlOver(" WHERE vec_id % 5 <> 2"),
      // pipe1s: three-leg union over the curated post-takedown
      // population — see Pipe1sOracleSql's derivation notes
      "pipe1s_composed_pipeline" -> Pipe1sOracleSql,
      // pipe2s: four legs, every population carrying the cc1 containment
      // predicate — a green row proves the per-batch quarantine kept
      // contaminated docs out of all four artifacts (and the planted
      // dups out, as in pipe1s)
      "pipe2s_decontaminated_pipeline" -> Pipe2sOracleSql,
      "pipe3s_rotating_eval_pipeline" -> Pipe3sOracleSql,
      // knn4: knn1's oracle verbatim over the version-0 population — the
      // pinned read answers as the 3/4 build did before the append
      "knn4_graph_asof" -> knnSqlOver(" WHERE vec_id % 4 <> 3"),
      // knn5s: knn1's oracle verbatim — streaming maintenance must land
      // the quarter exactly once (redelivered vectors anti-join away),
      // so the artifact answers as the batch append does
      "knn5s_stream_knn" -> knn1Sql,
      // IVF probe semantics in SQL: per-label centroids (zipped unnest +
      // avg per (label, dim)), top-nprobe lists per query by centroid
      // cosine, brute force inside probed lists, same rank/rounding as sim1
      "sim3_ann_ivf" ->
        ("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           |ex AS (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e),
           |cm AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY 1, 2),
           |cent AS (SELECT label, list(m ORDER BY i) AS c FROM cm GROUP BY 1),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
           |probes AS (
           | SELECT query_id, label FROM (
           |  SELECT q.query_id, cent.label,
           |   row_number() OVER (PARTITION BY q.query_id
           |    ORDER BY list_dot_product(q.qv, cent.c) /
           |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.c, cent.c))) DESC,
           |     cent.label ASC) AS pr
           |  FROM q CROSS JOIN cent) t WHERE pr <= 3),
           |scored AS (
           | SELECT p.query_id, e.vec_id AS neighbor_id,
           |  list_dot_product(q.qv, e.v) /
           |    (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
           | FROM probes p JOIN q ON p.query_id = q.query_id
           |  JOIN e ON e.label = p.label AND e.vec_id <> p.query_id),
           |ranked AS (SELECT query_id, neighbor_id, cos,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           | FROM scored)
           |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
           |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin.replace("\n", " ")),
      // fit1: the identical integer GD trajectory unrolled — residuals at
      // scale 2^16, truncating-division steps with n·2^15, loss = Σr²
      // (exact HUGEINT cast to double, matching the exact-decimal sum)
      "fit1_linear_probe" ->
        (s"""WITH f AS (
           | SELECT CAST(1 AS BIGINT) AS x0,
           |  CAST(LEAST(len(toks), 100) AS BIGINT) AS x1,
           |  CAST(LEAST(len(list_distinct(toks)), 100) AS BIGINT) AS x2,
           |  CAST(LEAST(length(text) // 10, 100) AS BIGINT) AS x3
           | FROM (SELECT text, $toksSql AS toks FROM documents)),
           |f2 AS (SELECT *, 2 * x1 + 3 * x2 - x3 + 7 AS y FROM f),
           |w0 AS (SELECT CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1,
           |  CAST(0 AS BIGINT) AS b2, CAST(0 AS BIGINT) AS b3),
           |r1 AS (SELECT f2.*, x0*b0 + x1*b1 + x2*b2 + x3*b3 - y*65536 AS r FROM f2, w0),
           |g1 AS (SELECT sum(x0*r) AS s0, sum(x1*r) AS s1, sum(x2*r) AS s2,
           |  sum(x3*r) AS s3, count(*) AS n, sum(r*r) AS l FROM r1),
           |w1 AS (SELECT
           |  b0 - CASE WHEN s0 < 0 THEN -((-s0) // (n*32768)) ELSE s0 // (n*32768) END AS b0,
           |  b1 - CASE WHEN s1 < 0 THEN -((-s1) // (n*32768)) ELSE s1 // (n*32768) END AS b1,
           |  b2 - CASE WHEN s2 < 0 THEN -((-s2) // (n*32768)) ELSE s2 // (n*32768) END AS b2,
           |  b3 - CASE WHEN s3 < 0 THEN -((-s3) // (n*32768)) ELSE s3 // (n*32768) END AS b3
           | FROM w0, g1),
           |r2 AS (SELECT f2.*, x0*b0 + x1*b1 + x2*b2 + x3*b3 - y*65536 AS r FROM f2, w1),
           |g2 AS (SELECT sum(x0*r) AS s0, sum(x1*r) AS s1, sum(x2*r) AS s2,
           |  sum(x3*r) AS s3, count(*) AS n, sum(r*r) AS l FROM r2),
           |w2 AS (SELECT
           |  b0 - CASE WHEN s0 < 0 THEN -((-s0) // (n*32768)) ELSE s0 // (n*32768) END AS b0,
           |  b1 - CASE WHEN s1 < 0 THEN -((-s1) // (n*32768)) ELSE s1 // (n*32768) END AS b1,
           |  b2 - CASE WHEN s2 < 0 THEN -((-s2) // (n*32768)) ELSE s2 // (n*32768) END AS b2,
           |  b3 - CASE WHEN s3 < 0 THEN -((-s3) // (n*32768)) ELSE s3 // (n*32768) END AS b3
           | FROM w1, g2),
           |r3 AS (SELECT f2.*, x0*b0 + x1*b1 + x2*b2 + x3*b3 - y*65536 AS r FROM f2, w2),
           |g3 AS (SELECT sum(x0*r) AS s0, sum(x1*r) AS s1, sum(x2*r) AS s2,
           |  sum(x3*r) AS s3, count(*) AS n, sum(r*r) AS l FROM r3),
           |w3 AS (SELECT
           |  b0 - CASE WHEN s0 < 0 THEN -((-s0) // (n*32768)) ELSE s0 // (n*32768) END AS b0,
           |  b1 - CASE WHEN s1 < 0 THEN -((-s1) // (n*32768)) ELSE s1 // (n*32768) END AS b1,
           |  b2 - CASE WHEN s2 < 0 THEN -((-s2) // (n*32768)) ELSE s2 // (n*32768) END AS b2,
           |  b3 - CASE WHEN s3 < 0 THEN -((-s3) // (n*32768)) ELSE s3 // (n*32768) END AS b3
           | FROM w2, g3),
           |r4 AS (SELECT f2.*, x0*b0 + x1*b1 + x2*b2 + x3*b3 - y*65536 AS r FROM f2, w3),
           |g4 AS (SELECT sum(x0*r) AS s0, sum(x1*r) AS s1, sum(x2*r) AS s2,
           |  sum(x3*r) AS s3, count(*) AS n, sum(r*r) AS l FROM r4),
           |w4 AS (SELECT
           |  b0 - CASE WHEN s0 < 0 THEN -((-s0) // (n*32768)) ELSE s0 // (n*32768) END AS b0,
           |  b1 - CASE WHEN s1 < 0 THEN -((-s1) // (n*32768)) ELSE s1 // (n*32768) END AS b1,
           |  b2 - CASE WHEN s2 < 0 THEN -((-s2) // (n*32768)) ELSE s2 // (n*32768) END AS b2,
           |  b3 - CASE WHEN s3 < 0 THEN -((-s3) // (n*32768)) ELSE s3 // (n*32768) END AS b3
           | FROM w3, g4)
           |SELECT CAST(1 AS BIGINT) AS iter, CAST(b0 AS BIGINT) AS w0,
           |  CAST(b1 AS BIGINT) AS w1, CAST(b2 AS BIGINT) AS w2, CAST(b3 AS BIGINT) AS w3,
           |  CAST((SELECT l FROM g1) AS DOUBLE) AS loss FROM w1
           |UNION ALL SELECT 2, CAST(b0 AS BIGINT), CAST(b1 AS BIGINT), CAST(b2 AS BIGINT),
           |  CAST(b3 AS BIGINT), CAST((SELECT l FROM g2) AS DOUBLE) FROM w2
           |UNION ALL SELECT 3, CAST(b0 AS BIGINT), CAST(b1 AS BIGINT), CAST(b2 AS BIGINT),
           |  CAST(b3 AS BIGINT), CAST((SELECT l FROM g3) AS DOUBLE) FROM w3
           |UNION ALL SELECT 4, CAST(b0 AS BIGINT), CAST(b1 AS BIGINT), CAST(b2 AS BIGINT),
           |  CAST(b3 AS BIGINT), CAST((SELECT l FROM g4) AS DOUBLE) FROM w4
           |ORDER BY iter""".stripMargin.replace("\n", " ")),
      // cur5: fit1's trajectory through w4, then the score/filter
      // projection against the learned weights
      "cur5_model_curation" -> (ProbeTrainCtes + ProbeScoreProjSql),
      // fit2: the stored model must score identically to the inline
      // train+score — cur5's oracle verbatim
      "fit2_stored_probe" -> (ProbeTrainCtes + ProbeScoreProjSql),
      // fit3: extend-from-stored-state ≡ continuous training (GD is
      // Markovian in the weights) — cur5's oracle verbatim, the
      // strongest extend≡retrain contract (the bpe5 device)
      "fit3_probe_extend" -> (ProbeTrainCtes + ProbeScoreProjSql),
      // fit4: the PINNED iteration-2 weights score the corpus — the
      // same trajectory CTEs, projection anchored at w2 by guarded
      // substitution; a green row proves the extension iterations are
      // invisible to the pin
      "fit4_probe_asof" -> (ProbeTrainCtes + ProbeScoreProjW2Sql),
      // al1: the identical trained weights, re-projected to the
      // uncertainty queue — exact integer |score − τ|, bounded top-20
      "al1_uncertainty_sampling" -> (ProbeTrainCtes +
        """SELECT f2.doc_id,
           | CAST(x0*b0 + x1*b1 + x2*b2 + x3*b3 AS BIGINT) AS score,
           | CAST(abs(x0*b0 + x1*b1 + x2*b2 + x3*b3 - 80 * 65536) AS BIGINT) AS uncertainty
           |FROM f2, w4
           |ORDER BY uncertainty ASC, f2.doc_id ASC LIMIT 20"""
        .stripMargin.replace("\n", " ")),
      // auc1: the identical rank-sum formula — integers until one final
      // division (DuckDB BIGINT sums widen to HUGEINT, hence the BIGINT
      // casts in the outer projection; x/0 is NULL in both engines)
      "auc1_score_auc" ->
        ("""WITH r AS (SELECT source, (lang = 'en') AS l,
           |  2 * rank() OVER (PARTITION BY source ORDER BY n_chars)
           |   + count(*) OVER (PARTITION BY source, n_chars) - 1 AS r2
           | FROM documents),
           |a AS (SELECT source,
           |  SUM(CASE WHEN l THEN 1 ELSE 0 END) AS n_pos,
           |  SUM(CASE WHEN l THEN 0 ELSE 1 END) AS n_neg,
           |  SUM(CASE WHEN l THEN r2 ELSE 0 END) AS rp2
           | FROM r GROUP BY 1)
           |SELECT source, CAST(n_pos AS BIGINT) AS n_pos,
           | CAST(n_neg AS BIGINT) AS n_neg,
           | CAST(rp2 - n_pos * (n_pos + 1) AS DOUBLE)
           |  / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
           |FROM a ORDER BY source""".stripMargin.replace("\n", " ")),
      // cal1: same score/label fixture, integer bins via // — counts and
      // sums stay integral until the two final divisions
      // conf1: identical exact counts; micro rates via guarded //
      "ndcg1_ranking_ndcg" -> ndcg1Sql,
      "conf1_confusion_f1" ->
        ("""WITH a AS (SELECT source,
           |  CAST(SUM(CASE WHEN n_chars >= 700 AND lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           |  CAST(SUM(CASE WHEN n_chars >= 700 AND lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           |  CAST(SUM(CASE WHEN n_chars < 700 AND lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           |  CAST(SUM(CASE WHEN n_chars < 700 AND lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tn
           | FROM documents GROUP BY 1)
           |SELECT source, tp, fp, fn, tn,
           | CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp) END AS precision_micro,
           | CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn) END AS recall_micro,
           | CASE WHEN 2 * tp + fp + fn > 0
           |  THEN 2 * tp * 1000000 // (2 * tp + fp + fn) END AS f1_micro
           |FROM a ORDER BY source""".stripMargin.replace("\n", " ")),
      // kap1: identical contingency counts + the identical truncating
      // integer kappa — the sign splits out so // (floor) only runs on
      // non-negatives, matching Spark's toward-zero div
      "kap1_cohens_kappa" ->
        (s"""WITH r AS (SELECT source, (n_chars >= 700) AS a,
           |  (len($toksSql) >= 120) AS b FROM documents),
           |g AS (SELECT source, COUNT(*) AS n,
           |  SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS n11,
           |  SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS n00,
           |  SUM(CASE WHEN a THEN 1 ELSE 0 END) AS a1,
           |  SUM(CASE WHEN b THEN 1 ELSE 0 END) AS b1
           | FROM r GROUP BY 1),
           |k AS (SELECT source, n, n11, n00, a1, b1,
           |  a1 * b1 + (n - a1) * (n - b1) AS chance,
           |  (n11 + n00) * n - (a1 * b1 + (n - a1) * (n - b1)) AS num,
           |  n * n - (a1 * b1 + (n - a1) * (n - b1)) AS den
           | FROM g)
           |SELECT source, CAST(n AS BIGINT) AS n, CAST(n11 AS BIGINT) AS n11,
           | CAST(n00 AS BIGINT) AS n00, CAST(a1 AS BIGINT) AS a1,
           | CAST(b1 AS BIGINT) AS b1,
           | CAST((n11 + n00) * 1000000 // n AS BIGINT) AS po_micro,
           | CAST(chance * 1000000 // (n * n) AS BIGINT) AS pe_micro,
           | CAST(CASE WHEN den = 0 THEN NULL
           |  WHEN num < 0 THEN -((-num) * 1000000 // den)
           |  ELSE num * 1000000 // den END AS BIGINT) AS kappa_micro
           |FROM k ORDER BY source""".stripMargin.replace("\n", " ")),
      "cal1_calibration_bins" ->
        ("""SELECT source, CAST(n_chars // 200 AS BIGINT) AS bin,
           | CAST(n_chars // 200 * 200 AS BIGINT) AS bin_lo,
           | CAST(COUNT(*) AS BIGINT) AS n,
           | CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           | CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
           |  / CAST(COUNT(*) AS DOUBLE) AS pos_rate,
           | CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_score
           |FROM documents GROUP BY source, n_chars // 200
           |ORDER BY source, bin""".stripMargin.replace("\n", " ")),
      // sql1: identical oracle to sim1 — graft_dot ≡ list_dot_product
      "sql1_pure_sql_ann" ->
        ("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
           |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
           |scored AS (
           | SELECT query_id, neighbor_id,
           |  list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
           | FROM q JOIN c ON query_id <> neighbor_id),
           |ranked AS (
           | SELECT query_id, neighbor_id, cos,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           | FROM scored)
           |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
           |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin.replace("\n", " ")),
      // km1: the identical integer Lloyd's trajectory unrolled — quantize,
      // seed from the 4 lowest ids, 3 assignment rounds with 2 centroid
      // updates between them (truncating division as sign-split floor
      // division; DuckDB's // floors, Scala's Long / truncates — they
      // agree on magnitudes)
      // kc1: identical quantized grid, four unrolled farthest-first
      // rounds (argmax min-distance, ties to the lower id), assignment
      // by (d, selection idx) — all integer-exact
      "kc1_kcenter_gonzalez" ->
        ("""WITH qv AS (
           | SELECT vec_id, i AS dim, CAST(round(x * 1000000) AS BIGINT) AS q
           | FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
           |   generate_subscripts(embedding, 1) AS i FROM embeddings)),
           |s1 AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 1),
           |m1 AS (SELECT qv.dim, qv.q FROM qv JOIN s1 USING (vec_id)),
           |e1 AS (SELECT qv.vec_id, sum((qv.q - m1.q) * (qv.q - m1.q)) AS d
           | FROM qv JOIN m1 ON qv.dim = m1.dim GROUP BY 1),
           |s2 AS (SELECT vec_id FROM (SELECT vec_id,
           |  row_number() OVER (ORDER BY d DESC, vec_id ASC) AS rn FROM e1) t
           | WHERE rn = 1),
           |m2 AS (SELECT qv.dim, qv.q FROM qv JOIN s2 USING (vec_id)),
           |e2 AS (SELECT qv.vec_id, sum((qv.q - m2.q) * (qv.q - m2.q)) AS d
           | FROM qv JOIN m2 ON qv.dim = m2.dim GROUP BY 1),
           |dm2 AS (SELECT e1.vec_id, LEAST(e1.d, e2.d) AS d
           | FROM e1 JOIN e2 USING (vec_id)),
           |s3 AS (SELECT vec_id FROM (SELECT vec_id,
           |  row_number() OVER (ORDER BY d DESC, vec_id ASC) AS rn FROM dm2) t
           | WHERE rn = 1),
           |m3 AS (SELECT qv.dim, qv.q FROM qv JOIN s3 USING (vec_id)),
           |e3 AS (SELECT qv.vec_id, sum((qv.q - m3.q) * (qv.q - m3.q)) AS d
           | FROM qv JOIN m3 ON qv.dim = m3.dim GROUP BY 1),
           |dm3 AS (SELECT dm2.vec_id, LEAST(dm2.d, e3.d) AS d
           | FROM dm2 JOIN e3 USING (vec_id)),
           |s4 AS (SELECT vec_id FROM (SELECT vec_id,
           |  row_number() OVER (ORDER BY d DESC, vec_id ASC) AS rn FROM dm3) t
           | WHERE rn = 1),
           |cents AS (
           | SELECT 0 AS idx, s1.vec_id AS cvid, qv.dim, qv.q
           |  FROM s1 JOIN qv ON qv.vec_id = s1.vec_id
           | UNION ALL SELECT 1, s2.vec_id, qv.dim, qv.q
           |  FROM s2 JOIN qv ON qv.vec_id = s2.vec_id
           | UNION ALL SELECT 2, s3.vec_id, qv.dim, qv.q
           |  FROM s3 JOIN qv ON qv.vec_id = s3.vec_id
           | UNION ALL SELECT 3, s4.vec_id, qv.dim, qv.q
           |  FROM s4 JOIN qv ON qv.vec_id = s4.vec_id),
           |cd AS (SELECT qv.vec_id, c.idx, c.cvid,
           |  sum((qv.q - c.q) * (qv.q - c.q)) AS d
           | FROM qv JOIN cents c ON qv.dim = c.dim GROUP BY 1, 2, 3)
           |SELECT vec_id, CAST(cvid AS BIGINT) AS center_id,
           | CAST(d AS BIGINT) AS d2
           |FROM (SELECT vec_id, cvid, d,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, idx ASC) AS rn
           | FROM cd) t WHERE rn = 1
           |ORDER BY vec_id""".stripMargin.replace("\n", " ")),
      "km1_kmeans" ->
        ("""WITH qv AS (
           | SELECT vec_id, i AS dim, CAST(round(x * 1000000) AS BIGINT) AS q
           | FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
           |   generate_subscripts(embedding, 1) AS i FROM embeddings)),
           |init AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
           | FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)),
           |c0 AS (SELECT init.c, qv.dim, qv.q AS m FROM init JOIN qv USING (vec_id)),
           |d1 AS (SELECT qv.vec_id, c0.c, sum((qv.q - c0.m) * (qv.q - c0.m)) AS d
           | FROM qv JOIN c0 ON qv.dim = c0.dim GROUP BY 1, 2),
           |a1 AS (SELECT vec_id, c FROM (SELECT vec_id, c,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM d1) WHERE rn = 1),
           |c1 AS (SELECT a1.c, qv.dim,
           |  CASE WHEN sum(qv.q) < 0 THEN -((-sum(qv.q)) // count(*))
           |   ELSE sum(qv.q) // count(*) END AS m
           | FROM a1 JOIN qv USING (vec_id) GROUP BY 1, 2),
           |d2 AS (SELECT qv.vec_id, c1.c, sum((qv.q - c1.m) * (qv.q - c1.m)) AS d
           | FROM qv JOIN c1 ON qv.dim = c1.dim GROUP BY 1, 2),
           |a2 AS (SELECT vec_id, c FROM (SELECT vec_id, c,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM d2) WHERE rn = 1),
           |c2 AS (SELECT a2.c, qv.dim,
           |  CASE WHEN sum(qv.q) < 0 THEN -((-sum(qv.q)) // count(*))
           |   ELSE sum(qv.q) // count(*) END AS m
           | FROM a2 JOIN qv USING (vec_id) GROUP BY 1, 2),
           |d3 AS (SELECT qv.vec_id, c2.c, sum((qv.q - c2.m) * (qv.q - c2.m)) AS d
           | FROM qv JOIN c2 ON qv.dim = c2.dim GROUP BY 1, 2),
           |a3 AS (SELECT vec_id, c FROM (SELECT vec_id, c,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM d3) WHERE rn = 1)
           |SELECT vec_id, CAST(c AS BIGINT) AS cluster FROM a3
           |ORDER BY vec_id""".stripMargin.replace("\n", " ")),
      // rec1: overlap of the sim3 IVF top-10 with the sim1 exact top-10,
      // both rankings restated verbatim from their own oracles
      "rec1_ann_recall" ->
        ("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
           |c AS (SELECT vec_id AS neighbor_id, label, embedding::DOUBLE[] AS cv FROM embeddings),
           |scored AS (
           | SELECT query_id, neighbor_id,
           |  list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
           | FROM q JOIN c ON query_id <> neighbor_id),
           |exact AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM scored) t WHERE rank <= 10),
           |ex AS (SELECT label, unnest(embedding::DOUBLE[]) AS x, generate_subscripts(embedding, 1) AS i FROM embeddings),
           |cm AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY 1, 2),
           |cent AS (SELECT label, list(m ORDER BY i) AS cc FROM cm GROUP BY 1),
           |probes AS (
           | SELECT query_id, label FROM (
           |  SELECT q.query_id, cent.label,
           |   row_number() OVER (PARTITION BY q.query_id
           |    ORDER BY list_dot_product(q.qv, cent.cc) /
           |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.cc, cent.cc))) DESC,
           |     cent.label ASC) AS pr
           |  FROM q CROSS JOIN cent) t WHERE pr <= 3),
           |ascored AS (
           | SELECT p.query_id, c.neighbor_id,
           |  list_dot_product(q.qv, c.cv) /
           |    (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos
           | FROM probes p JOIN q ON p.query_id = q.query_id
           |  JOIN c ON c.label = p.label AND c.neighbor_id <> p.query_id),
           |approx AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM ascored) t WHERE rank <= 10)
           |SELECT e.query_id, CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           | count(a.neighbor_id) / 10.0 AS recall
           |FROM exact e LEFT JOIN approx a
           | ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
           |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin.replace("\n", " ")),
      // wn1: identical replant, gram hashes via sha256 hex prefixes
      // (lexicographic min agrees engine-to-engine), identical window
      // minima / df band / pair counts
      "wn1_winnowing" ->
        (s"""WITH pl AS (SELECT doc_id, text FROM documents
           | UNION ALL SELECT doc_id + $plantUnitSql, text || ' graftdup' FROM documents),
           |tk AS (SELECT doc_id, $toksSql AS toks FROM pl),
           |g AS (SELECT doc_id, unnest(hs) AS h, generate_subscripts(hs, 1) AS i FROM (
           |  SELECT doc_id, [substring(sha256(array_to_string(toks[i:i+4], ' ')), 1, 16)
           |    for i in range(1, len(toks) - 3)] AS hs
           |  FROM tk WHERE len(toks) >= 8)),
           |wm AS (SELECT doc_id, i,
           |  min(h) OVER (PARTITION BY doc_id ORDER BY i
           |   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
           |  count(*) OVER (PARTITION BY doc_id) AS ng FROM g),
           |fp AS (SELECT DISTINCT doc_id, mh FROM wm WHERE i <= ng - 3),
           |grp AS (SELECT mh, count(*) AS df FROM fp GROUP BY 1),
           |keep AS (SELECT f.doc_id, f.mh FROM fp f JOIN grp USING (mh)
           | WHERE df BETWEEN 2 AND 10),
           |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  count(*) AS n_shared
           | FROM keep a JOIN keep b ON a.mh = b.mh AND a.doc_id < b.doc_id
           | GROUP BY 1, 2 HAVING count(*) >= 3)
           |SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
           | CAST(n_shared AS BIGINT) AS n_shared
           |FROM pr ORDER BY n_shared DESC, doc_a, doc_b
           |LIMIT 20""".stripMargin.replace("\n", " ")),
      // out1: sim3's centroid construction, per-vector cosine to the OWN
      // label's centroid, bottom-5 rank window
      "out1_embedding_outliers" ->
        ("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           |ex AS (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e),
           |cm AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY 1, 2),
           |cent AS (SELECT label, list(m ORDER BY i) AS c FROM cm GROUP BY 1),
           |scored AS (SELECT e.label, e.vec_id,
           |  list_dot_product(e.v, cent.c) /
           |    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.c, cent.c))) AS cos
           | FROM e JOIN cent USING (label)),
           |r AS (SELECT label, vec_id, cos,
           |  row_number() OVER (PARTITION BY label ORDER BY cos ASC, vec_id ASC) AS rk
           | FROM scored)
           |SELECT label, CAST(rk AS BIGINT) AS rk, vec_id, round(cos, 4) AS cos
           |FROM r WHERE rk <= 5 ORDER BY label, rk""".stripMargin.replace("\n", " ")),
      // trip1: both legs sim1's scored shape with the label predicate in
      // the join, rank-1 each, joined into one triple row
      "trip1_training_triples" ->
        ("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           |q AS (SELECT vec_id AS query_id, label AS qlab, v AS qv FROM e WHERE vec_id < 5),
           |ps AS (SELECT q.query_id, c.vec_id AS neighbor_id,
           |  list_dot_product(q.qv, c.v) /
           |    (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))) AS cos
           | FROM q JOIN e c ON c.vec_id <> q.query_id AND c.label = q.qlab),
           |p1 AS (SELECT query_id, neighbor_id AS pos_id, round(cos, 4) AS pos_cos FROM (
           |  SELECT query_id, neighbor_id, cos,
           |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
           |  FROM ps) t WHERE rk = 1),
           |ns AS (SELECT q.query_id, c.vec_id AS neighbor_id,
           |  list_dot_product(q.qv, c.v) /
           |    (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))) AS cos
           | FROM q JOIN e c ON c.vec_id <> q.query_id AND c.label <> q.qlab),
           |n1 AS (SELECT query_id, neighbor_id AS neg_id, round(cos, 4) AS neg_cos FROM (
           |  SELECT query_id, neighbor_id, cos,
           |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
           |  FROM ns) t WHERE rk = 1)
           |SELECT p1.query_id, pos_id, pos_cos, neg_id, neg_cos
           |FROM p1 JOIN n1 USING (query_id)
           |ORDER BY p1.query_id""".stripMargin.replace("\n", " ")),
      // mrr1: rec1's two pipelines, exact leg cut at rank 1 (the truth),
      // IVF leg at rank ≤ 10; rr = 1000000 // rank (positive, floor =
      // truncation), absent → 0
      "mrr1_reciprocal_rank" ->
        ("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
           |c AS (SELECT vec_id AS neighbor_id, label, embedding::DOUBLE[] AS cv FROM embeddings),
           |scored AS (
           | SELECT query_id, neighbor_id,
           |  list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
           | FROM q JOIN c ON query_id <> neighbor_id),
           |truth AS (SELECT query_id, neighbor_id AS truth_id FROM (
           |  SELECT query_id, neighbor_id,
           |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM scored) t WHERE rank = 1),
           |ex AS (SELECT label, unnest(embedding::DOUBLE[]) AS x, generate_subscripts(embedding, 1) AS i FROM embeddings),
           |cm AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY 1, 2),
           |cent AS (SELECT label, list(m ORDER BY i) AS cc FROM cm GROUP BY 1),
           |probes AS (
           | SELECT query_id, label FROM (
           |  SELECT q.query_id, cent.label,
           |   row_number() OVER (PARTITION BY q.query_id
           |    ORDER BY list_dot_product(q.qv, cent.cc) /
           |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.cc, cent.cc))) DESC,
           |     cent.label ASC) AS pr
           |  FROM q CROSS JOIN cent) t WHERE pr <= 3),
           |ascored AS (
           | SELECT p.query_id, c.neighbor_id,
           |  list_dot_product(q.qv, c.cv) /
           |    (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos
           | FROM probes p JOIN q ON p.query_id = q.query_id
           |  JOIN c ON c.label = p.label AND c.neighbor_id <> p.query_id),
           |approx AS (SELECT query_id, neighbor_id, rank FROM (
           |  SELECT query_id, neighbor_id,
           |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM ascored) t WHERE rank <= 10)
           |SELECT t.query_id, t.truth_id,
           | CAST(a.rank AS BIGINT) AS rank_in_ivf,
           | CAST(coalesce(1000000 // a.rank, 0) AS BIGINT) AS rr_micro
           |FROM truth t LEFT JOIN approx a
           | ON a.query_id = t.query_id AND a.neighbor_id = t.truth_id
           |ORDER BY t.query_id""".stripMargin.replace("\n", " ")),
      // mrl1: both rankings exact brute force (rec1's join-count shape),
      // the truncated leg over embedding[1:16] on BOTH sides
      "mrl1_truncation_recall" ->
        ("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
           |exact AS (SELECT query_id, neighbor_id FROM (
           | SELECT q.query_id, c.vec_id AS neighbor_id,
           |  row_number() OVER (PARTITION BY q.query_id
           |   ORDER BY list_dot_product(q.qv, c.v) /
           |     (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))) DESC,
           |    c.vec_id ASC) AS rank
           | FROM q JOIN e c ON c.vec_id <> q.query_id) t WHERE rank <= 10),
           |te AS (SELECT vec_id, (embedding[1:16])::DOUBLE[] AS v FROM embeddings),
           |tq AS (SELECT vec_id AS query_id, v AS qv FROM te WHERE vec_id < 5),
           |trunc AS (SELECT query_id, neighbor_id FROM (
           | SELECT tq.query_id, c.vec_id AS neighbor_id,
           |  row_number() OVER (PARTITION BY tq.query_id
           |   ORDER BY list_dot_product(tq.qv, c.v) /
           |     (sqrt(list_dot_product(tq.qv, tq.qv)) * sqrt(list_dot_product(c.v, c.v))) DESC,
           |    c.vec_id ASC) AS rank
           | FROM tq JOIN te c ON c.vec_id <> tq.query_id) t WHERE rank <= 10)
           |SELECT x.query_id, CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           | count(a.neighbor_id) / 10.0 AS recall
           |FROM exact x LEFT JOIN trunc a
           | ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
           |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin.replace("\n", " ")),
      "sim12_recall_curve" -> Sim12OracleSql,
      // sim5: km1's unrolled integer Lloyd's (c0..c2 train, a3 labels the
      // lists), probes by integer L2² to c2, exact-cosine scoring of the
      // probed lists
      "sim5_trained_ivf" ->
        ("""WITH qv AS (
           | SELECT vec_id, i AS dim, CAST(round(x * 1000000) AS BIGINT) AS q
           | FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
           |   generate_subscripts(embedding, 1) AS i FROM embeddings)),
           |init AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
           | FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)),
           |c0 AS (SELECT init.c, qv.dim, qv.q AS m FROM init JOIN qv USING (vec_id)),
           |d1 AS (SELECT qv.vec_id, c0.c, sum((qv.q - c0.m) * (qv.q - c0.m)) AS d
           | FROM qv JOIN c0 ON qv.dim = c0.dim GROUP BY 1, 2),
           |a1 AS (SELECT vec_id, c FROM (SELECT vec_id, c,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM d1) WHERE rn = 1),
           |c1 AS (SELECT a1.c, qv.dim,
           |  CASE WHEN sum(qv.q) < 0 THEN -((-sum(qv.q)) // count(*))
           |   ELSE sum(qv.q) // count(*) END AS m
           | FROM a1 JOIN qv USING (vec_id) GROUP BY 1, 2),
           |d2 AS (SELECT qv.vec_id, c1.c, sum((qv.q - c1.m) * (qv.q - c1.m)) AS d
           | FROM qv JOIN c1 ON qv.dim = c1.dim GROUP BY 1, 2),
           |a2 AS (SELECT vec_id, c FROM (SELECT vec_id, c,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM d2) WHERE rn = 1),
           |c2 AS (SELECT a2.c, qv.dim,
           |  CASE WHEN sum(qv.q) < 0 THEN -((-sum(qv.q)) // count(*))
           |   ELSE sum(qv.q) // count(*) END AS m
           | FROM a2 JOIN qv USING (vec_id) GROUP BY 1, 2),
           |d3 AS (SELECT qv.vec_id, c2.c, sum((qv.q - c2.m) * (qv.q - c2.m)) AS d
           | FROM qv JOIN c2 ON qv.dim = c2.dim GROUP BY 1, 2),
           |a3 AS (SELECT vec_id, c FROM (SELECT vec_id, c,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM d3) WHERE rn = 1),
           |probes AS (SELECT query_id, c FROM (SELECT vec_id AS query_id, c,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS pr
           | FROM d3 WHERE vec_id < 5) t WHERE pr <= 2),
           |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |scored AS (
           | SELECT p.query_id, e.vec_id AS neighbor_id,
           |  list_dot_product(qe.v, e.v) /
           |    (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(e.v, e.v))) AS cos
           | FROM probes p JOIN e qe ON qe.vec_id = p.query_id
           |  JOIN a3 ON a3.c = p.c
           |  JOIN e ON e.vec_id = a3.vec_id AND e.vec_id <> p.query_id),
           |ranked AS (SELECT query_id, neighbor_id, cos,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           | FROM scored)
           |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
           |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin.replace("\n", " ")),
      // exact integer byte-histogram of the payload: high nibble of byte i
      // is hex digit 2i of the hex encoding — count each digit at odd
      // (1-indexed) positions, no float anywhere
      "m2_blob_features" ->
        ("""WITH h AS (
           | SELECT doc_id AS id,
           |  regexp_replace(hex(encode(text)), '(.).', '\1', 'g') AS hi
           | FROM documents)
           |SELECT id, bin,
           | CAST(length(hi) - length(replace(hi, substring('0123456789ABCDEF', CAST(bin AS INT) + 1, 1), '')) AS BIGINT) AS cnt
           |FROM h CROSS JOIN (SELECT unnest(range(16)) AS bin) b
           |ORDER BY id, bin""".stripMargin.replace("\n", " ")),
      "m1_blob_meta" ->
        ("""SELECT doc_id AS id, octet_length(encode(text)) AS n_bytes,
           | CASE WHEN octet_length(encode(text)) = 0 THEN 'empty'
           |  WHEN octet_length(encode(text)) % 2 = 0 THEN 'png'
           |  ELSE 'jpeg' END AS format,
           | (octet_length(encode(text)) % 640 + 1)::INTEGER AS width,
           | (octet_length(encode(text)) % 480 + 1)::INTEGER AS height
           |FROM documents ORDER BY id""".stripMargin.replace("\n", " ")),
      // frames sliced in BYTE space on both sides: hex(encode(text)) is 2
      // chars per byte, so frame f is hex chars [f*128, f*128+128)
      "m3_frame_sample" ->
        ("""SELECT id, frame_no, sha256(substring(h, frame_no * 128 + 1, 128)) AS frame_sha
           |FROM (SELECT doc_id AS id, hex(encode(text)) AS h,
           |  unnest(range(0, ceil(octet_length(encode(text)) / 64.0)::BIGINT)) AS frame_no
           |  FROM documents) f
           |WHERE frame_no % 2 = 0 ORDER BY id, frame_no""".stripMargin.replace("\n", " ")),
      // m4: m3's hex-slice frame hashes over the replanted corpus,
      // DISTINCT per blob, df-banded, identical pair counts
      "m4_blob_neardup" ->
        (s"""WITH pl AS (SELECT doc_id, text FROM documents
           | UNION ALL SELECT doc_id + $plantUnitSql,
           |  text || ' graftblobdup tail tail tail' FROM documents
           |  WHERE doc_id % 10 = 7),
           |f AS (SELECT doc_id AS id,
           |  sha256(substring(h, frame_no * 128 + 1, 128)) AS fsha
           | FROM (SELECT doc_id, hex(encode(text)) AS h,
           |   unnest(range(0, ceil(octet_length(encode(text)) / 64.0)::BIGINT)) AS frame_no
           |  FROM pl) t WHERE frame_no % 2 = 0),
           |fd AS (SELECT DISTINCT id, fsha FROM f),
           |grp AS (SELECT fsha, count(*) AS df FROM fd GROUP BY 1),
           |keep AS (SELECT fd.id, fd.fsha FROM fd JOIN grp USING (fsha)
           | WHERE df BETWEEN 2 AND 10),
           |pr AS (SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS n_shared
           | FROM keep a JOIN keep b ON a.fsha = b.fsha AND a.id < b.id
           | GROUP BY 1, 2 HAVING count(*) >= 3)
           |SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
           | CAST(n_shared AS BIGINT) AS n_shared
           |FROM pr ORDER BY n_shared DESC, doc_a, doc_b
           |LIMIT 20""".stripMargin.replace("\n", " ")),
      // xm1: m2's histogram reconstruction (hex high-nibble counting)
      // composed with sim1's ranking — blob features scored as vectors
      "xm1_blob_ann" ->
        ("""WITH h AS (
           | SELECT doc_id AS id,
           |  regexp_replace(hex(encode(text)), '(.).', '\1', 'g') AS hi
           | FROM documents),
           |hist AS (
           | SELECT id, list(cnt ORDER BY bin) AS v FROM (
           |  SELECT id, bin,
           |   CAST(length(hi) - length(replace(hi, substring('0123456789ABCDEF', CAST(bin AS INT) + 1, 1), '')) AS DOUBLE) AS cnt
           |  FROM h CROSS JOIN (SELECT unnest(range(16)) AS bin) b)
           | GROUP BY id),
           |q AS (SELECT id AS query_id, v AS qv FROM hist WHERE id < 5),
           |scored AS (
           | SELECT query_id, h2.id AS neighbor_id,
           |  list_dot_product(qv, h2.v) /
           |   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(h2.v, h2.v))) AS cos
           | FROM q JOIN hist h2 ON query_id <> h2.id),
           |ranked AS (SELECT query_id, neighbor_id, cos,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           | FROM scored)
           |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
           |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin.replace("\n", " ")),
      // hyperplane-LSH in SQL: the 64-bit wraparound plane mix is emulated
      // in HUGEINT space (unsigned constants; (a*b) mod 2^64 via 32-bit
      // split so no intermediate exceeds 2^96; >>>33 as division by 2^33),
      // then signatures, hamming-1 multiprobe, and ranking replicate
      // Similarity.lshTopK value-for-value — every graded query now has a
      // full value-level oracle.
      "sim2_ann_lsh" -> sim2LshSql,
      // sim4: sim3's IVF probing, candidate scoring in QUANTIZED space
      // (emb2's round(x·127/max|x|) arithmetic — integer dots, so the
      // shortlist boundary is bit-deterministic), exact re-rank of the
      // 30-candidate shortlist in full precision
      "sim4_ann_ivf_quant" -> Sim4OracleSql,
      // sim6: SAME oracle as sim4 — the stored-artifact path must answer
      // identically to the inline build (index build and query are
      // different jobs; the artifacts carry no information the inline
      // derivation doesn't)
      "sim6_stored_index" -> Sim4OracleSql,
      // sim7: sim4's pipeline with centroids over the INITIAL 3/4 and the
      // appended quarter assigned by the identical argmax-cosine window
      // (row_number over csim DESC, list ASC), lists = union of the two
      "sim7_index_append" -> Sim7OracleSql,
      // sim11s: sim7's oracle VERBATIM — streaming maintenance through the
      // foreachBatch sink must land the quarter exactly once (redelivered
      // slice-0 vectors anti-join away), so the artifact answers as the
      // batch append does
      "sim11s_stream_ivf" -> Sim7OracleSql,
      // sim12: sim4's verbatim with centroids AND candidates restricted to
      // the version-0 population (the 3/4 build) — the pinned read answers
      // as the index did before the append landed
      "sim13_ivf_asof" -> Sim13OracleSql,
      // sim9: sim4's pipeline VERBATIM except the candidate index
      // population excludes the forgotten fifth — centroids and query
      // quantization stay corpus-derived (the quantizer is build-time
      // trained state; forget removes subject VECTORS, not the model)
      "sim9_index_forget" -> Sim9OracleSql,
      // sim10: sim4's verbatim with the candidate population restricted
      // to the metadata predicate (even vec_ids) — filtered-search
      // semantics: predicate before shortlist, full recall within the
      // filtered set
      "sim10_filtered_ann" -> Sim10OracleSql,
      // sim8: sim4's pipeline over the POST-REBUILD population — original
      // corpus ∪ the planted +0.25 shifted appends (exact dyadic shift,
      // float→double widening exact) with centroids re-trained over the
      // union, exactly what retrainIvfIndex rebuilt
      "sim8_index_retrain" -> Sim8OracleSql,
      // rp1: the identical 16-plane integer mix (sim2's HUGEINT replica),
      // projection via list_dot_product per plane, shortlist in projected
      // space, exact full-precision re-rank — both phases unrolled
      "rp1_jl_topk" -> rp1JlSql,
      "pq1_product_quant" -> pqOracleSql(""),
      // pq2: pq1's oracle VERBATIM — the stored-artifact path must answer
      // identically to the inline build (the sim6 discipline)
      "pq2_stored_pq" -> pqOracleSql(""),
      // pq3: codebooks trained over the initial 3/4 only (seeds +
      // update-round assignments restricted), full population coded with
      // the frozen result — exactly what build-then-append produces
      "pq3_pq_append" -> pqOracleSql(" WHERE vec_id % 4 <> 1"),
      // pq4: pq2's verbatim with only the candidate code population
      // restricted to survivors — training saw the full corpus, the
      // forgotten fifth just stops being a neighbor
      "pq4_index_forget" -> pqOracleSql("", " AND k.vec_id % 5 <> 2"),
      // pq5: trained on 3/4 (pq3's restriction) AND answered over that
      // same population — the version-0 read after the append landed
      "pq5_pq_asof" -> pqOracleSql(" WHERE vec_id % 4 <> 1",
        " AND k.vec_id % 4 <> 1"),
      // pq6s: pq3's oracle VERBATIM — streaming maintenance through the
      // foreachBatch sink must land the quarter exactly once (the
      // redelivered slice-0 vectors anti-join away), so the artifact
      // answers as the batch append does
      "pq6s_stream_pq" -> pqOracleSql(" WHERE vec_id % 4 <> 1"),
    )
  }

  /** sim2's deterministic plane mix rebuilt for 16 JL components, then the
    * two-phase projected-shortlist / exact-re-rank ranking. Constants are
    * [[graft.functions.RandomProjectExpr]]'s multipliers reinterpreted as
    * unsigned 64-bit; wraparound `a*b mod 2⁶⁴` splits `a` into 32-bit
    * halves so every intermediate fits HUGEINT (the sim2 device). */
  /** pq1's oracle, built per subspace: each 16-dim slice replays the km1
    * Lloyd machinery (quantize → seed from the 4 lowest ids → assign →
    * sign-split integer centroid update → final assign = the CODE), then
    * the asymmetric distance is the query's own d2 row picked by each
    * neighbor's code, summed across subspaces; shortlist and exact-cosine
    * re-rank mirror rp1's two phases token for token. */
  /** hh1/inc5/hh1s share one oracle: the incremental and streaming
    * summary paths must equal the from-scratch HAVING set exactly. */
  private lazy val hh1Sql: String = hh1SqlOver("")

  /** hh1's exact HAVING set over an optionally-restricted document
    * population — shared by hh1/inc5/hh1s (full corpus) and hh2 (the
    * retained epochs only: a green row proves the expired epoch's
    * summaries and token mass left both the candidates and N_w). */
  private def hh1SqlOver(docWhere: String): String =
    (s"""WITH tk AS (SELECT unnest($toksSql) AS token FROM documents$docWhere),
           |t AS (SELECT COUNT(*) AS n FROM tk)
           |SELECT token, CAST(COUNT(*) AS BIGINT) AS n
           |FROM tk, t GROUP BY token, t.n
           |HAVING COUNT(*) * 200 >= t.n
           |ORDER BY token""".stripMargin.replace("\n", " "))

  /** ret1/ret3 share one oracle: the stored-postings answer must be
    * byte-identical to the from-scratch BM25 (the sim6/sim4 pattern). */
  /** bpe2's 3-round training unrolled (t0..m3) + the learned merges
    * applied in training order over the distinct-word relation — the
    * shared oracle of bpe3 (inline train+apply), bpe4 (stored artifact)
    * and bpe5 (stored-state extension). */
  /** NDCG@10 over the auc1 fixture — the discount weights interpolate
    * from [[ext.Eval.ndcgWeightsMicro]], so engine and oracle consume
    * the SAME integer literals and no logarithm runs in either engine. */
  private lazy val ndcg1Sql: String = {
    val wm = ext.Eval.ndcgWeightsMicro(10)
    val pf = wm.scanLeft(0L)(_ + _).tail
    val wtVals = wm.zipWithIndex.map { case (v, i) => s"(${i + 1}, $v)" }
      .mkString(", ")
    val pfVals = pf.zipWithIndex.map { case (v, i) => s"(${i + 1}, $v)" }
      .mkString(", ")
    (s"""WITH r AS (SELECT source, (lang = 'en') AS l,
       |  row_number() OVER (PARTITION BY source
       |   ORDER BY n_chars DESC, doc_id) AS rn
       | FROM documents),
       |wt(rn, wm) AS (VALUES $wtVals),
       |pf(n, v) AS (VALUES $pfVals),
       |d AS (SELECT source, SUM(CASE WHEN l THEN wm ELSE 0 END) AS dcg
       | FROM r JOIN wt USING (rn) GROUP BY 1),
       |p AS (SELECT source, SUM(CASE WHEN l THEN 1 ELSE 0 END) AS npos
       | FROM r GROUP BY 1)
       |SELECT p.source, CAST(p.npos AS BIGINT) AS n_pos,
       | CAST(COALESCE(d.dcg, 0) AS BIGINT) AS dcg_micro,
       | CAST(COALESCE(pf.v, 0) AS BIGINT) AS idcg_micro,
       | CAST(COALESCE(d.dcg, 0) AS DOUBLE)
       |  / CAST(COALESCE(pf.v, 0) AS DOUBLE) AS ndcg
       |FROM p LEFT JOIN d USING (source)
       |LEFT JOIN pf ON pf.n = LEAST(p.npos, 10)
       |ORDER BY source""".stripMargin.replace("\n", " "))
  }

  /** Whole-corpus CMS counters + top-20 probe estimates — shared by cms1
    * (in-query merge of halves) and cms2 (stored artifact + idempotent
    * append): both equal the single-corpus sketch by counter additivity. */
  private lazy val cmsSql: String = cmsSqlOver("")

  /** The exact CMS replay (portable sha-60 bucket hashing, top-20 probes)
    * over an optionally-restricted document population — shared by
    * cms1/cms2/cms1s (full corpus) and cms3 (the retained epochs only:
    * a green row proves the expired epochs' mass is physically gone). */
  private def cmsSqlOver(docWhere: String): String =
    (s"""WITH tf AS (SELECT t AS tok, COUNT(*) AS c
       | FROM (SELECT unnest($toksSql) AS t FROM documents$docWhere)
       | WHERE t <> '' GROUP BY 1),
       |rr AS (SELECT unnest([0, 1, 2]) AS r),
       |ctr AS (SELECT r,
       |  ('0x' || substring(sha256(tok || ':cms' || CAST(r AS VARCHAR)),
       |   1, 15))::BIGINT % 64 AS b, SUM(c) AS cc
       | FROM tf, rr GROUP BY 1, 2),
       |probes AS (SELECT tok, c FROM tf ORDER BY c DESC, tok LIMIT 20),
       |pb AS (SELECT tok, r,
       |  ('0x' || substring(sha256(tok || ':cms' || CAST(r AS VARCHAR)),
       |   1, 15))::BIGINT % 64 AS b FROM probes, rr),
       |est AS (SELECT pb.tok, MIN(COALESCE(ctr.cc, 0)) AS est
       | FROM pb LEFT JOIN ctr ON ctr.r = pb.r AND ctr.b = pb.b
       | GROUP BY 1)
       |SELECT p.tok, CAST(p.c AS BIGINT) AS true_cnt,
       | CAST(e.est AS BIGINT) AS est,
       | CAST(e.est - p.c AS BIGINT) AS overcount
       |FROM probes p JOIN est e USING (tok)
       |ORDER BY tok""".stripMargin.replace("\n", " "))

  /** From-scratch exact bivariate stats over lineitem — shared by st1
    * (one-pass) and inc6 (stored moment summary + incremental append). */
  private lazy val st1Sql: String =
    ("""WITH q AS (SELECT l_returnflag,
       |  CAST(round(l_quantity * 100) AS BIGINT) AS x,
       |  CAST(round(l_extendedprice * 100) AS BIGINT) AS y FROM lineitem),
       |a AS (SELECT l_returnflag, COUNT(*)::HUGEINT AS n,
       |  SUM(x)::HUGEINT AS sx, SUM(y)::HUGEINT AS sy,
       |  SUM(x*y)::HUGEINT AS sxy, SUM(x*x)::HUGEINT AS sxx,
       |  SUM(y*y)::HUGEINT AS syy
       | FROM q GROUP BY l_returnflag)
       |SELECT l_returnflag, n::BIGINT AS n,
       | CAST(n*sxy - sx*sy AS DOUBLE)
       |  / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS corr,
       | CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*(n-1) AS DOUBLE) / 10000.0 AS covar_samp,
       | CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) AS slope
       |FROM a ORDER BY l_returnflag""".stripMargin.replace("\n", " "))

  /** From-scratch exact kNN graph (k = 3) over an optionally-restricted
    * population — shared by knn1 (inline build, no restriction), knn2
    * (incrementally-maintained stored graph, same), knn3 (forget:
    * survivors only) and knn4 (as-of: the version-0 population). */
  private def knnSqlOver(where: String): String =
    (s"""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       | FROM embeddings$where),
       |scored AS (
       | SELECT a.id AS query_id, b.id AS neighbor_id,
       |  list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
       | FROM v a JOIN v b ON a.id <> b.id),
       |ranked AS (
       | SELECT query_id, neighbor_id, cos,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       | FROM scored)
       |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin.replace("\n", " "))

  private lazy val knn1Sql: String = knnSqlOver("")

  /** bf1's plain-anti-join dedup oracle over an archive predicate —
    * shared by bf1/bf2 (the doc_id % 2 = 0 archive) and inc7 (the
    * % 4 = 0 version-0 pin): bloom parameters cannot change results
    * (no false negatives; false positives re-checked exactly), so the
    * oracle is the SAME exact anti-join in every case. */
  private def bloomDedupOracle(archWhere: String): String =
    (s"""WITH b AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + $plantUnitSql AS doc_id, text FROM documents),
       | bf AS (SELECT min(doc_id) AS doc_id, fp AS content_fp FROM (
       |  SELECT doc_id, substring(sha256(array_to_string($toksSql, ' ')), 1, 16) AS fp
       |  FROM b) GROUP BY fp),
       | af AS (SELECT substring(sha256(array_to_string($toksSql, ' ')), 1, 16) AS fp
       |  FROM documents WHERE $archWhere)
       |SELECT doc_id, content_fp FROM bf
       |WHERE NOT EXISTS (SELECT 1 FROM af WHERE af.fp = bf.content_fp)
       |ORDER BY doc_id""".stripMargin.replace("\n", " "))

  /** rec1's oracle with the probe bound swept 1..5 — the shared CTEs
    * (exact ranking, per-label centroids) state once, one
    * probes/ascored/approx/leg block per nprobe, generated
    * programmatically so the per-leg SQL is byte-uniform (the pq/mst
    * unroll discipline). */
  private lazy val Sim12OracleSql: String = {
    def leg(np: Int) =
      s"""probes$np AS (
         | SELECT query_id, label FROM (
         |  SELECT q.query_id, cent.label,
         |   row_number() OVER (PARTITION BY q.query_id
         |    ORDER BY list_dot_product(q.qv, cent.cc) /
         |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.cc, cent.cc))) DESC,
         |     cent.label ASC) AS pr
         |  FROM q CROSS JOIN cent) t WHERE pr <= $np),
         |ascored$np AS (
         | SELECT p.query_id, c.neighbor_id,
         |  list_dot_product(q.qv, c.cv) /
         |    (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos
         | FROM probes$np p JOIN q ON p.query_id = q.query_id
         |  JOIN c ON c.label = p.label AND c.neighbor_id <> p.query_id),
         |approx$np AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM ascored$np) t WHERE rank <= 10),
         |leg$np AS (SELECT $np AS nprobe, e.query_id,
         |  CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
         |  count(a.neighbor_id) / 10.0 AS recall
         | FROM exact e LEFT JOIN approx$np a
         |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         | GROUP BY e.query_id)""".stripMargin
    (s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
       |c AS (SELECT vec_id AS neighbor_id, label, embedding::DOUBLE[] AS cv FROM embeddings),
       |scored AS (
       | SELECT query_id, neighbor_id,
       |  list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
       | FROM q JOIN c ON query_id <> neighbor_id),
       |exact AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored) t WHERE rank <= 10),
       |ex AS (SELECT label, unnest(embedding::DOUBLE[]) AS x, generate_subscripts(embedding, 1) AS i FROM embeddings),
       |cm AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY 1, 2),
       |cent AS (SELECT label, list(m ORDER BY i) AS cc FROM cm GROUP BY 1),
       |${(1 to 5).map(leg).mkString(",\n")}
       |SELECT nprobe, query_id, n_hits, recall FROM (
       | ${(1 to 5).map(np => s"SELECT * FROM leg$np").mkString(" UNION ALL ")})
       |ORDER BY nprobe, query_id""".stripMargin.replace("\n", " "))
  }

  /** knn1's graph grouped to per-node in-degree, every corpus vector
    * reporting (anti-hubs included via the left join) — guarded
    * substitution over knn1Sql (the Ret7/Leak1 device). */
  private lazy val Hub1OracleSql: String = {
    val marker = " ORDER BY query_id, rank"
    require(knn1Sql.endsWith(marker),
      "hub1 oracle derivation out of sync with knn1Sql")
    (s"""WITH g AS (${knn1Sql.stripSuffix(marker)}),
       |deg AS (SELECT neighbor_id, COUNT(*) AS d FROM g GROUP BY 1)
       |SELECT e.vec_id, CAST(COALESCE(deg.d, 0) AS BIGINT) AS in_degree,
       | CAST(CASE WHEN COALESCE(deg.d, 0) >= 6 THEN 1 ELSE 0 END AS INTEGER) AS is_hub,
       | CAST(CASE WHEN deg.d IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_antihub
       |FROM embeddings e LEFT JOIN deg ON e.vec_id = deg.neighbor_id
       |ORDER BY e.vec_id""".stripMargin.replace("\n", " "))
  }

  /** bpe3's unrolled apply oracle, parameterized by the ROUND COUNT —
    * generated programmatically so every round's SQL is byte-uniform
    * (the mst2OracleSql discipline): train CTEs p_r/m_r/v_r chain off
    * the spaced-symbol vocabulary, the apply chain s_r replays the
    * merges in order over the distinct-word set, and cnt reads the
    * round-`rounds` state. bpe3/bpe4/bpe5 grade at 3 rounds; bpe6's
    * pinned version-2 read grades at 2 — the same generator, so the
    * as-of oracle can never drift from the apply oracle. */
  private def bpeApplySqlRounds(rounds: Int): String = {
    require(rounds >= 1)
    val train = (1 to rounds).map { r =>
      s"""p$r AS (SELECT l[i] AS a, l[i+1] AS b, SUM(freq) AS f FROM
         | (SELECT string_split(trim(sym), ' ') AS l, freq,
         |   unnest(generate_series(1, len(string_split(trim(sym), ' ')) - 1)) AS i
         |  FROM v${r - 1}) GROUP BY 1, 2),
         |m$r AS (SELECT a, b, f FROM p$r ORDER BY f DESC, a, b LIMIT 1),
         |v$r AS (SELECT replace(sym, ' '||a||' '||b||' ', ' '||a||b||' ') AS sym,
         |  freq FROM v${r - 1}, m$r)""".stripMargin
    }.mkString(",\n")
    val apply = (1 to rounds).map { r =>
      s"s$r AS (SELECT w, replace(sym, ' '||m$r.a||' '||m$r.b||' ', " +
        s"' '||m$r.a||m$r.b||' ') AS sym FROM s${r - 1}, m$r)"
    }.mkString(",\n")
    (s"""WITH t0 AS (SELECT unnest($toksSql) AS word FROM documents),
       |v0 AS (SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS sym,
       |  COUNT(*) AS freq FROM t0 WHERE word <> '' GROUP BY 1),
       |$train,
       |wx AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
       |vw AS (SELECT DISTINCT w FROM wx WHERE w <> ''),
       |s0 AS (SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sym FROM vw),
       |$apply,
       |cnt AS (SELECT w, len(string_split(trim(sym), ' ')) AS n_sub FROM s$rounds)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       | CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens
       |FROM wx JOIN cnt USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "))
  }

  private lazy val bpeApplySql: String = bpeApplySqlRounds(3)

  /** ret1's oracle with the corpus restricted to the forget SURVIVORS
    * (doc_id % 4 ≠ 2) — guarded substitution so a ret1Bm25Sql edit can
    * never silently desynchronize (the Sim8/Sim9 device). */
  private lazy val Ret7OracleSql: String = {
    val marker = "FROM documents)"
    require(ret1Bm25Sql.indexOf(marker) >= 0 &&
      ret1Bm25Sql.indexOf(marker) == ret1Bm25Sql.lastIndexOf(marker),
      "ret7 oracle derivation out of sync with ret1Bm25Sql")
    ret1Bm25Sql.replace(marker, "FROM documents WHERE doc_id % 4 <> 2)")
  }

  /** ret1's oracle over the version-0 population alone (the even half
    * that built the index) — what a pinned as-of read must answer after
    * the odd half appended. Same guarded-substitution device as ret7. */
  private lazy val Ret8OracleSql: String = {
    val marker = "FROM documents)"
    require(ret1Bm25Sql.indexOf(marker) >= 0 &&
      ret1Bm25Sql.indexOf(marker) == ret1Bm25Sql.lastIndexOf(marker),
      "ret8 oracle derivation out of sync with ret1Bm25Sql")
    ret1Bm25Sql.replace(marker, "FROM documents WHERE doc_id % 2 = 0)")
  }

  private lazy val ret1Bm25Sql: String =
    (s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
           | n AS (SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS n_toks FROM toks),
           | tf AS (SELECT doc_id, len_d, term, COUNT(*) AS tf
           |  FROM (SELECT doc_id, len(toks) AS len_d, unnest(toks) AS term
           |        FROM toks)
           |  GROUP BY 1, 2, 3),
           | q(query_id, term) AS (VALUES (0,'spark'),(0,'join'),(0,'table'),
           |  (1,'hash'),(1,'merge'),(1,'sort'),
           |  (2,'stream'),(2,'window'),(2,'batch')),
           | cand AS (SELECT tf.* FROM tf
           |  JOIN (SELECT DISTINCT term FROM q) qq USING(term)),
           | wd AS (SELECT cand.*, COUNT(*) OVER (PARTITION BY term) AS dft
           |  FROM cand),
           | scored AS (SELECT q.query_id, wd.doc_id,
           |  CAST(SUM(CAST(
           |   round(ln((CAST(n_docs - dft AS DOUBLE) + 0.5)
           |     / (CAST(dft AS DOUBLE) + 0.5) + 1.0), 6)
           |   * (CAST(tf AS DOUBLE) * (1.2 + 1))
           |   / (CAST(tf AS DOUBLE) + 1.2 * ((1 - 0.75)
           |      + 0.75 * ((len_d * n_docs) / n_toks)))
           |   AS DECIMAL(30,6))) AS DOUBLE) AS score
           |  FROM wd JOIN q USING(term), n GROUP BY 1, 2)
           |SELECT query_id, doc_id, score,
           | CAST(rank() OVER (PARTITION BY query_id
           |   ORDER BY score DESC, doc_id) AS BIGINT) AS rk
           |FROM scored QUALIFY rk <= 5
           |ORDER BY query_id, rk""".stripMargin.replace("\n", " "))

  /** pq1's oracle, parameterized by the TRAINING population (pq3 trains
    * codebooks over a subset, then codes everything with the frozen
    * result): `tr` restricts the k-means seeds and the update-round
    * assignments; coding (d2/code) and ADC (p) always run over the full
    * corpus. `trainWhere` = "" is pq1/pq2's train-on-everything.
    * The c1 update LEFT-JOINs against the seed centroids and COALESCEs:
    * a cluster that loses all members keeps its previous centroid,
    * mirroring kmeansFit exactly — the old members-only c1 silently
    * DROPPED such a cluster while the engine could still assign to it
    * (round-9 ADVICE). */
  /** mst2's oracle: Borůvka unrolled `rounds` times over the wsp1/mst1
    * co-purchase graph — round 1 claims per NODE (labels are the identity
    * map), each later round recomputes component labels as the recursive
    * min-reachable closure over the forest-so-far (ccmp1's engine-free
    * statement) and claims per COMPONENT under the identical (w, a, b)
    * total order; the forest accumulates by plain set union. Rounds past
    * convergence find no cross-component edge and add nothing, so any
    * budget ≥ the corpus's convergence round count states the exact
    * fixpoint [[graft.ext.Graph.boruvkaForest]] computes. Generated
    * programmatically so the per-round SQL is byte-uniform — the same
    * unroll discipline as pq's Lloyd rounds, at oracle-budget scale.
    * `eu` and each `f_r` are AS MATERIALIZED: DuckDB inlines CTEs by
    * default, and the forest chain references its predecessor twice per
    * round — inlined, the base scan fans out 2^rounds times and the
    * oracle dies on open file handles (measured); materialized, the
    * parquet is read once. */
  private def mst2OracleSql(rounds: Int): String = {
    require(rounds >= 2)
    val head =
      """WITH RECURSIVE
        |bk AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS x, c.l_partkey AS y, count(*) AS n
        | FROM bk a JOIN bk c
        |  ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |e0 AS (SELECT x AS a, y AS b, GREATEST(1, 8 - n) AS w FROM p),
        |eu AS MATERIALIZED (SELECT a AS u, b AS v, a, b, w FROM e0
        | UNION ALL SELECT b, a, a, b, w FROM e0),
        |f1 AS MATERIALIZED (SELECT DISTINCT a, b, w FROM (
        | SELECT a, b, w, row_number() OVER (PARTITION BY u
        |  ORDER BY w, a, b) AS rn FROM eu) t WHERE rn = 1)""".stripMargin
    val roundCtes = (2 to rounds).map { r =>
      val pf = s"f${r - 1}"
      s"""ec$r AS (SELECT a AS x, b AS y FROM $pf UNION SELECT b, a FROM $pf),
         |r$r AS (SELECT x AS node, y AS reach FROM ec$r
         | UNION SELECT r$r.node, ec$r.y FROM r$r JOIN ec$r ON ec$r.x = r$r.reach),
         |l$r AS (SELECT node, LEAST(node, MIN(reach)) AS comp
         | FROM r$r GROUP BY node),
         |c$r AS (SELECT DISTINCT a, b, w FROM (
         | SELECT eu.a, eu.b, eu.w, row_number() OVER (PARTITION BY la.comp
         |  ORDER BY eu.w, eu.a, eu.b) AS rn
         | FROM eu JOIN l$r la ON la.node = eu.u
         |  JOIN l$r lb ON lb.node = eu.v
         | WHERE la.comp <> lb.comp) t WHERE rn = 1),
         |f$r AS MATERIALIZED (SELECT * FROM $pf UNION SELECT * FROM c$r)""".stripMargin
    }.mkString(",\n")
    (head + ",\n" + roundCtes + "\n" +
      s"""SELECT CAST(a AS BIGINT) AS part_a, CAST(b AS BIGINT) AS part_b,
         | CAST(w AS BIGINT) AS w FROM f$rounds ORDER BY 1, 2""".stripMargin)
      .replace("\n", " ")
  }

  /** pq1's unrolled oracle, parameterized on its two population seams:
    * `trainWhere` restricts the k-means TRAINING population (pq3's
    * frozen-codebook append — assignments and seeds come from the
    * training subset, the full corpus is coded), `candAnd` restricts the
    * CANDIDATE code population (pq4's forget — the coded corpus loses
    * the tombstoned ids, training saw everything). */
  private def pqOracleSql(trainWhere: String,
                          candAnd: String = ""): String = {
    def subspaceCtes(j: Int): String = {
      val l = j * 16 + 1; val h = (j + 1) * 16
      s"""qv$j AS (SELECT vec_id, i AS dim, CAST(round(x * 1000000) AS BIGINT) AS q
         | FROM (SELECT vec_id, unnest((embedding[$l:$h])::DOUBLE[]) AS x,
         |   generate_subscripts(embedding[$l:$h], 1) AS i FROM embeddings)),
         |c0$j AS (SELECT init.c, qv$j.dim, qv$j.q AS m
         | FROM init JOIN qv$j USING (vec_id)),
         |d1$j AS (SELECT qv$j.vec_id, c.c, sum((qv$j.q - c.m) * (qv$j.q - c.m)) AS d
         | FROM qv$j JOIN c0$j c ON qv$j.dim = c.dim GROUP BY 1, 2),
         |a1$j AS (SELECT d.vec_id, d.c FROM (SELECT vec_id, c,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM d1$j)
         |  d JOIN tr USING (vec_id) WHERE rn = 1),
         |c1$j AS (SELECT c0.c, c0.dim, COALESCE(u.m, c0.m) AS m
         | FROM c0$j c0 LEFT JOIN (
         |  SELECT a.c, qv$j.dim,
         |   CASE WHEN sum(qv$j.q) < 0 THEN -((-sum(qv$j.q)) // count(*))
         |    ELSE sum(qv$j.q) // count(*) END AS m
         |  FROM a1$j a JOIN qv$j USING (vec_id) GROUP BY 1, 2) u
         | ON u.c = c0.c AND u.dim = c0.dim),
         |d2$j AS (SELECT qv$j.vec_id, c.c, sum((qv$j.q - c.m) * (qv$j.q - c.m)) AS d
         | FROM qv$j JOIN c1$j c ON qv$j.dim = c.dim GROUP BY 1, 2),
         |code$j AS (SELECT vec_id, c AS code FROM (SELECT vec_id, c,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM d2$j)
         |  WHERE rn = 1),
         |p$j AS (SELECT qd.vec_id AS query_id, k.vec_id AS neighbor_id, qd.d
         | FROM d2$j qd JOIN code$j k ON qd.c = k.code
         | WHERE qd.vec_id < 5$candAnd)"""
        .stripMargin
    }
    (s"""WITH tr AS (SELECT vec_id FROM embeddings$trainWhere),
       |init AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
       | FROM (SELECT vec_id FROM tr ORDER BY vec_id LIMIT 4)),
       |${(0 until 4).map(subspaceCtes).mkString(",\n")},
       |adc AS (SELECT query_id, neighbor_id, sum(d) AS adc FROM (
       |  SELECT * FROM p0 UNION ALL SELECT * FROM p1
       |  UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3)
       | GROUP BY 1, 2),
       |short AS (SELECT query_id, neighbor_id FROM (
       | SELECT query_id, neighbor_id,
       |  row_number() OVER (PARTITION BY query_id
       |   ORDER BY adc ASC, neighbor_id ASC) AS sr
       | FROM adc WHERE query_id <> neighbor_id) t WHERE sr <= 30),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |scored AS (SELECT s.query_id, s.neighbor_id,
       |  list_dot_product(eq.v, ec.v) /
       |    (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))) AS cos
       | FROM short s JOIN e eq ON eq.vec_id = s.query_id
       |  JOIN e ec ON ec.vec_id = s.neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       | FROM scored)
       |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""
      .stripMargin.replace("\n", " "))
  }

  private val rp1JlSql = {
    val U1 = "11400714819323198485" // unsigned(-7046029254386353131)
    val U2 = "14181476777654086739" // unsigned(-4265267296055464877)
    val U4 = "18397679294719823053" // unsigned(-49064778989728563)
    val M64 = "18446744073709551616" // 2^64
    (s"""WITH bi AS (SELECT b, i FROM (SELECT unnest(range(16)) AS b), (SELECT unnest(range(64)) AS i)),
       |m0 AS (SELECT b, i,
       | xor(CAST((b::HUGEINT * $U1) % $M64 AS UBIGINT),
       |     CAST((i::HUGEINT * $U2) % $M64 AS UBIGINT)) AS x0 FROM bi),
       |m1 AS (SELECT b, i, xor(x0, x0 // 8589934592) AS x1 FROM m0),
       |m2 AS (SELECT b, i,
       | CAST(((x1::HUGEINT % 4294967296) * $U4
       |     + (((x1::HUGEINT // 4294967296) * $U4) % 4294967296) * 4294967296
       |     ) % $M64 AS UBIGINT) AS x2 FROM m1),
       |m3 AS (SELECT b, i, xor(x2, x2 // 8589934592) AS x3 FROM m2),
       |planes AS (SELECT b, i, ((x3 % 9223372036854775808)::HUGEINT % 2000003) / 1000001.5 - 1.0 AS val FROM m3),
       |pl AS (SELECT b, list(val ORDER BY i) AS p FROM planes GROUP BY b),
       |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |proj AS (SELECT vec_id, list(list_dot_product(v, p) ORDER BY b) AS pv
       | FROM e CROSS JOIN pl GROUP BY vec_id),
       |q AS (SELECT vec_id AS query_id, pv AS qp FROM proj WHERE vec_id < 5),
       |shortq AS (SELECT query_id, neighbor_id FROM (
       | SELECT q.query_id, c.vec_id AS neighbor_id,
       |  row_number() OVER (PARTITION BY q.query_id
       |   ORDER BY list_dot_product(q.qp, c.pv) /
       |     (sqrt(list_dot_product(q.qp, q.qp)) * sqrt(list_dot_product(c.pv, c.pv))) DESC,
       |    c.vec_id ASC) AS sr
       | FROM q JOIN proj c ON c.vec_id <> q.query_id) t WHERE sr <= 30),
       |scored AS (SELECT s.query_id, s.neighbor_id,
       |  list_dot_product(eq.v, ec.v) /
       |    (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))) AS cos
       | FROM shortq s JOIN e eq ON eq.vec_id = s.query_id
       |  JOIN e ec ON ec.vec_id = s.neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       | FROM scored)
       |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin.replace("\n", " "))
  }

  /** sim7's oracle (shared verbatim by sim11s, the streaming-maintenance
    * path): sim4's pipeline with centroids over the INITIAL 3/4 and the
    * appended quarter assigned by the identical argmax-cosine window
    * (row_number over csim DESC, list ASC), index = union of the two. */
  private val Sim7OracleSql =
        """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           |init AS (SELECT * FROM e WHERE vec_id % 4 <> 1),
           |ex AS (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM init),
           |cm AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY 1, 2),
           |cent AS (SELECT label, list(m ORDER BY i) AS c FROM cm GROUP BY 1),
           |asg AS (SELECT vec_id, list FROM (
           | SELECT a.vec_id, cent.label AS list,
           |  row_number() OVER (PARTITION BY a.vec_id
           |   ORDER BY list_dot_product(a.v, cent.c) /
           |     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(cent.c, cent.c))) DESC,
           |    cent.label ASC) AS pr
           | FROM e a CROSS JOIN cent WHERE a.vec_id % 4 = 1) t WHERE pr = 1),
           |idx AS (SELECT vec_id, label AS list FROM init
           | UNION ALL SELECT vec_id, list FROM asg),
           |qz AS (SELECT vec_id,
           |  list_transform(v, x -> round(x * CASE WHEN amax > 0 THEN 127.0 / amax ELSE 0.0 END)) AS qv
           | FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e)),
           |q AS (SELECT vec_id AS query_id, v AS fqv FROM e WHERE vec_id < 5),
           |probes AS (
           | SELECT query_id, label FROM (
           |  SELECT q.query_id, cent.label,
           |   row_number() OVER (PARTITION BY q.query_id
           |    ORDER BY list_dot_product(q.fqv, cent.c) /
           |      (sqrt(list_dot_product(q.fqv, q.fqv)) * sqrt(list_dot_product(cent.c, cent.c))) DESC,
           |     cent.label ASC) AS pr
           |  FROM q CROSS JOIN cent) t WHERE pr <= 3),
           |shortq AS (
           | SELECT query_id, neighbor_id FROM (
           |  SELECT p.query_id, i.vec_id AS neighbor_id,
           |   row_number() OVER (PARTITION BY p.query_id
           |    ORDER BY list_dot_product(zq.qv, z2.qv) /
           |      (sqrt(list_dot_product(zq.qv, zq.qv)) * sqrt(list_dot_product(z2.qv, z2.qv))) DESC,
           |     i.vec_id ASC) AS sr
           |  FROM probes p
           |   JOIN qz zq ON zq.vec_id = p.query_id
           |   JOIN idx i ON i.list = p.label AND i.vec_id <> p.query_id
           |   JOIN qz z2 ON z2.vec_id = i.vec_id) t WHERE sr <= 30),
           |scored AS (
           | SELECT s.query_id, s.neighbor_id,
           |  list_dot_product(q.fqv, e3.v) /
           |    (sqrt(list_dot_product(q.fqv, q.fqv)) * sqrt(list_dot_product(e3.v, e3.v))) AS cos
           | FROM shortq s JOIN q ON s.query_id = q.query_id
           |  JOIN e e3 ON e3.vec_id = s.neighbor_id),
           |ranked AS (SELECT query_id, neighbor_id, cos,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           | FROM scored)
           |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
           |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin.replace("\n", " ")

  /** pipe1s's oracle: three independent legs UNION ALL'd under a tier
    * tag, each derived by GUARDED substitution from the leg's existing
    * from-scratch oracle (the Sim8/Sim9 device — an edit to a source
    * oracle cannot silently desynchronize this one):
    *  - bm25: ret1's pipeline over the curated post-takedown corpus;
    *  - ivf: sim7's pipeline (centroids over the curated build, the
    *    curated streamed quarter assigned by the frozen-centroid argmax)
    *    with candidates restricted to takedown survivors;
    *  - knn: knn1's from-scratch graph over the final population.
    * The population algebra: curated = lang <> 'zh' AND n_chars >= 100
    * (applied at build and stream time alike); takedown = curated build
    * docs with doc_id % 7 = 3; planted +1e6 content-duplicates never
    * appear (the dedup screen gates the index tiers — no oracle row
    * carries a planted id, so an admitted dup fails the compare). */
  private lazy val Pipe1sOracleSql: String = {
    val cur = "lang <> 'zh' AND n_chars >= 100"
    val curIds = s"(SELECT doc_id FROM documents WHERE $cur)"
    val popPred = s"$cur AND NOT (doc_id % 7 = 3 AND doc_id % 4 <> 1)"
    val bmMarker = "AS toks FROM documents)"
    require(ret1Bm25Sql.contains(bmMarker),
      "pipe1s bm25 derivation out of sync with ret1Bm25Sql")
    val bm = ret1Bm25Sql.replace(bmMarker,
      s"AS toks FROM documents WHERE $popPred)")
    val m1 = "init AS (SELECT * FROM e WHERE vec_id % 4 <> 1)"
    val m2 = "FROM e a CROSS JOIN cent WHERE a.vec_id % 4 = 1)"
    val m3 = "JOIN idx i ON i.list = p.label AND i.vec_id <> p.query_id"
    require(Sim7OracleSql.contains(m1) && Sim7OracleSql.contains(m2) &&
      Sim7OracleSql.contains(m3),
      "pipe1s ivf derivation out of sync with Sim7OracleSql")
    val ivf = Sim7OracleSql
      .replace(m1, "init AS (SELECT e.* FROM e WHERE e.vec_id % 4 <> 1" +
        s" AND e.vec_id IN $curIds)")
      .replace(m2, "FROM e a CROSS JOIN cent WHERE a.vec_id % 4 = 1" +
        s" AND a.vec_id IN $curIds)")
      .replace(m3,
        m3 + " AND NOT (i.vec_id % 7 = 3 AND i.vec_id % 4 <> 1)")
    val knn = knnSqlOver(
      s" WHERE vec_id IN (SELECT doc_id FROM documents WHERE $popPred)")
    s"SELECT 'bm25' AS tier, CAST(query_id AS BIGINT) AS qid, rk AS rank," +
      s" doc_id AS item, score FROM ($bm)" +
      s" UNION ALL SELECT 'ivf' AS tier, query_id AS qid, rank," +
      s" neighbor_id AS item, cos AS score FROM ($ivf)" +
      s" UNION ALL SELECT 'knn' AS tier, query_id AS qid, rank," +
      s" neighbor_id AS item, cos AS score FROM ($knn)" +
      " ORDER BY tier, qid, rank"
  }

  /** pipe2s's oracle: pipe1s's guarded-substitution legs with the cc1
    * CONTAINMENT predicate folded into every population, plus the pq
    * leg (pqOracleSql's two seams). `contaminated` = the DISTINCT
    * doc_ids of Cc1OracleSql's pair set — guarded reuse, so an edit to
    * the cc1 oracle flows here; the engine probes the build at build
    * time and every admitted batch in-stream against the same stored
    * eval postings, so the predicate applies population-wide. The
    * population algebra: clean = curated ∧ ¬contaminated; index
    * population = clean minus the takedown (clean build docs with
    * doc_id % 7 = 3); planted +1e6 dups never appear (the content
    * screen, as in pipe1s). */
  private lazy val Pipe2sOracleSql: String = {
    val ccMarker = " ORDER BY doc_id, eval_id"
    require(Cc1OracleSql.endsWith(ccMarker),
      "pipe2s contamination derivation out of sync with Cc1OracleSql")
    val ccNotIn = "doc_id NOT IN (SELECT DISTINCT doc_id FROM (" +
      Cc1OracleSql.stripSuffix(ccMarker) + "))"
    val cur = "lang <> 'zh' AND n_chars >= 100"
    val cleanIds = s"(SELECT doc_id FROM documents WHERE $cur AND $ccNotIn)"
    val popPred =
      s"$cur AND $ccNotIn AND NOT (doc_id % 7 = 3 AND doc_id % 4 <> 1)"
    val popIds = s"(SELECT doc_id FROM documents WHERE $popPred)"
    val bmMarker = "AS toks FROM documents)"
    require(ret1Bm25Sql.contains(bmMarker),
      "pipe2s bm25 derivation out of sync with ret1Bm25Sql")
    val bm = ret1Bm25Sql.replace(bmMarker,
      s"AS toks FROM documents WHERE $popPred)")
    val m1 = "init AS (SELECT * FROM e WHERE vec_id % 4 <> 1)"
    val m2 = "FROM e a CROSS JOIN cent WHERE a.vec_id % 4 = 1)"
    val m3 = "JOIN idx i ON i.list = p.label AND i.vec_id <> p.query_id"
    require(Sim7OracleSql.contains(m1) && Sim7OracleSql.contains(m2) &&
      Sim7OracleSql.contains(m3),
      "pipe2s ivf derivation out of sync with Sim7OracleSql")
    val ivf = Sim7OracleSql
      .replace(m1, "init AS (SELECT e.* FROM e WHERE e.vec_id % 4 <> 1" +
        s" AND e.vec_id IN $cleanIds)")
      .replace(m2, "FROM e a CROSS JOIN cent WHERE a.vec_id % 4 = 1" +
        s" AND a.vec_id IN $cleanIds)")
      .replace(m3,
        m3 + " AND NOT (i.vec_id % 7 = 3 AND i.vec_id % 4 <> 1)")
    val pq = pqOracleSql(s" WHERE vec_id % 4 <> 1 AND vec_id IN $cleanIds",
      s" AND k.vec_id IN $popIds")
    val knn = knnSqlOver(s" WHERE vec_id IN $popIds")
    s"SELECT 'bm25' AS tier, CAST(query_id AS BIGINT) AS qid, rk AS rank," +
      s" doc_id AS item, score FROM ($bm)" +
      s" UNION ALL SELECT 'ivf' AS tier, query_id AS qid, rank," +
      s" neighbor_id AS item, cos AS score FROM ($ivf)" +
      s" UNION ALL SELECT 'pq' AS tier, query_id AS qid, rank," +
      s" neighbor_id AS item, cos AS score FROM ($pq)" +
      s" UNION ALL SELECT 'knn' AS tier, query_id AS qid, rank," +
      s" neighbor_id AS item, cos AS score FROM ($knn)" +
      " ORDER BY tier, qid, rank"
  }

  /** pipe3s's oracle: the final postings population under the ROTATING
    * suite, derived by guarded substitution over the [[ccPairsSql]]
    * seam — contamination-as-of-batch is a PREDICATE PER RESIDUE CLASS:
    * the build (%4=3) and batches 0/2 (%12=1/9) gate against suite v0
    * (wave-2 branch emptied, cc4's oracle device — batch 2 because the
    * retire restored the wave-0-only living suite), batch 1 (%12=5)
    * against the extended suite (cc1's pair set). A wave-1 collider in
    * batch 0's residue class therefore APPEARS in the output (admitted
    * before the wave — the no-retroactive-quarantine edge) while the
    * same collision in batch 1's class is absent, and batch 2's class
    * re-admits. Doc length = len(toks), the stored len_d. */
  private lazy val Pipe3sOracleSql: String = {
    val ccMarker = " ORDER BY doc_id, eval_id"
    val w0 = ccPairsSql("FALSE")
    require(Cc1OracleSql.endsWith(ccMarker) && w0.endsWith(ccMarker),
      "pipe3s contamination derivation out of sync with ccPairsSql")
    val c0 = "(SELECT DISTINCT doc_id FROM (" +
      w0.stripSuffix(ccMarker) + "))"
    val c01 = "(SELECT DISTINCT doc_id FROM (" +
      Cc1OracleSql.stripSuffix(ccMarker) + "))"
    val cur = "lang <> 'zh' AND n_chars >= 100"
    (s"""SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS doc_len
       |FROM documents
       |WHERE $cur AND (
       |   (doc_id % 4 = 3 AND doc_id NOT IN $c0)
       |OR (doc_id % 12 = 1 AND doc_id NOT IN $c0)
       |OR (doc_id % 12 = 5 AND doc_id NOT IN $c01)
       |OR (doc_id % 12 = 9 AND doc_id NOT IN $c0))
       |ORDER BY doc_id""".stripMargin.replace("\n", " "))
  }

  /** sim4's oracle pinned at IVF version 0 after sim13's append: centroids
    * AND the candidate index restricted to the version-0 population (the
    * 3/4 build) — query set and quantization stay corpus-derived; the
    * Sim9 guarded-substitution device so a Sim4OracleSql edit cannot
    * silently desynchronize. */
  private lazy val Sim13OracleSql: String = {
    val centMarker =
      "ex AS (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e)"
    val candMarker =
      "JOIN e e2 ON e2.label = p.label AND e2.vec_id <> p.query_id"
    require(Sim4OracleSql.contains(centMarker) &&
      Sim4OracleSql.contains(candMarker),
      "sim13 oracle derivation out of sync with Sim4OracleSql")
    Sim4OracleSql
      .replace(centMarker,
        "ex AS (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS i" +
          " FROM e WHERE vec_id % 4 <> 1)")
      .replace(candMarker, candMarker + " AND e2.vec_id % 4 <> 1")
  }

  /** sim4's oracle over sim8's post-rebuild population: the `e` relation
    * swaps from the raw corpus to corpus ∪ planted shifted appends; the
    * pipeline below the swap is byte-identical (guarded, not assumed). */
  private lazy val Sim8OracleSql: String = {
    val plainE =
      "WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),"
    require(Sim4OracleSql.startsWith(plainE),
      "sim8 oracle derivation out of sync with Sim4OracleSql")
    ("WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings " +
      "UNION ALL SELECT vec_id + 1000000, label, " +
      "list_transform(embedding::DOUBLE[], x -> x + 0.25) " +
      "FROM embeddings WHERE vec_id % 4 = 1),") +
      Sim4OracleSql.stripPrefix(plainE)
  }

  /** sim4's oracle with the candidate index restricted to forget
    * SURVIVORS (vec_id % 5 ≠ 2) — everything else (centroids from the
    * full corpus, query set, quantization, scoring) byte-identical;
    * derived by guarded substitution so a Sim4OracleSql edit cannot
    * silently desynchronize (the Sim8OracleSql device). */
  private lazy val Sim9OracleSql: String = {
    val marker = "JOIN e e2 ON e2.label = p.label AND e2.vec_id <> p.query_id"
    require(Sim4OracleSql.contains(marker),
      "sim9 oracle derivation out of sync with Sim4OracleSql")
    Sim4OracleSql.replace(marker, marker + " AND e2.vec_id % 5 <> 2")
  }

  /** sim4's oracle with the candidate index restricted to the metadata
    * predicate (even vec_ids) — the filtered-ANN semantics; the Sim9
    * guarded-substitution device. */
  private lazy val Sim10OracleSql: String = {
    val marker = "JOIN e e2 ON e2.label = p.label AND e2.vec_id <> p.query_id"
    require(Sim4OracleSql.contains(marker),
      "sim10 oracle derivation out of sync with Sim4OracleSql")
    Sim4OracleSql.replace(marker, marker + " AND e2.vec_id % 2 = 0")
  }

  /** sim4's oracle, shared verbatim by sim6 (stored-index path). */
  private val Sim4OracleSql =
        """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           |ex AS (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e),
           |cm AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY 1, 2),
           |cent AS (SELECT label, list(m ORDER BY i) AS c FROM cm GROUP BY 1),
           |qz AS (SELECT vec_id,
           |  list_transform(v, x -> round(x * CASE WHEN amax > 0 THEN 127.0 / amax ELSE 0.0 END)) AS qv
           | FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e)),
           |q AS (SELECT vec_id AS query_id, v AS fqv FROM e WHERE vec_id < 5),
           |probes AS (
           | SELECT query_id, label FROM (
           |  SELECT q.query_id, cent.label,
           |   row_number() OVER (PARTITION BY q.query_id
           |    ORDER BY list_dot_product(q.fqv, cent.c) /
           |      (sqrt(list_dot_product(q.fqv, q.fqv)) * sqrt(list_dot_product(cent.c, cent.c))) DESC,
           |     cent.label ASC) AS pr
           |  FROM q CROSS JOIN cent) t WHERE pr <= 3),
           |shortq AS (
           | SELECT query_id, neighbor_id FROM (
           |  SELECT p.query_id, e2.vec_id AS neighbor_id,
           |   row_number() OVER (PARTITION BY p.query_id
           |    ORDER BY list_dot_product(zq.qv, z2.qv) /
           |      (sqrt(list_dot_product(zq.qv, zq.qv)) * sqrt(list_dot_product(z2.qv, z2.qv))) DESC,
           |     e2.vec_id ASC) AS sr
           |  FROM probes p
           |   JOIN qz zq ON zq.vec_id = p.query_id
           |   JOIN e e2 ON e2.label = p.label AND e2.vec_id <> p.query_id
           |   JOIN qz z2 ON z2.vec_id = e2.vec_id) t WHERE sr <= 30),
           |scored AS (
           | SELECT s.query_id, s.neighbor_id,
           |  list_dot_product(q.fqv, e3.v) /
           |    (sqrt(list_dot_product(q.fqv, q.fqv)) * sqrt(list_dot_product(e3.v, e3.v))) AS cos
           | FROM shortq s JOIN q ON s.query_id = q.query_id
           |  JOIN e e3 ON e3.vec_id = s.neighbor_id),
           |ranked AS (SELECT query_id, neighbor_id, cos,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           | FROM scored)
           |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
           |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin.replace("\n", " ")

  /** Shared 25-token boilerplate prefix for the ds1/ds2 fixtures (Spark
    * side and oracle SQL must plant the identical string).
    *
    * PLANTED-ID CONSTRAINT (all planted fixtures — cur1/cur2/cc1/inc1/
    * ds1/ds2 use +100000..+600000, d5 +1000000): the offsets assume the
    * graded corpus keys stay below the smallest offset, or the planted
    * ids would collide with real ones and the unique-key ORDER BY / hash
    * compare could flake. Holds with ≥20× headroom at every graded SF
    * (documents: 500 @ sf0.01, 5 000 @ sf0.1; embeddings 500/5 000 vs
    * +1000000). A larger fixture must scale the offsets — or negate
    * planted ids — in the query AND its oracle together. */
  private val BoilerPrefix = (1 to 25).map(i => "bp" + i).mkString(" ")

  /** The events table's bounded event_type vocabulary (TESTDATA.md
    * generator); pv1/pv2 pivot over it explicitly — the scale rule in
    * [[graft.queries.Reshape]]. */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Oracle-side whitespace tokenization matching TextAnalysis.tokens. */
  /** The fit1/cur5 probe-training oracle PREFIX (feature build + four
    * unrolled integer-GD rounds ending in the w4 weight relation) —
    * shared by every oracle that consumes the trained weights (cur5
    * keep/score, al1 uncertainty queue), so a training edit cannot
    * desynchronize its consumers. Ends with the closed w4 CTE; the
    * consumer appends its SELECT. */
  private lazy val ProbeTrainCtes: String =
    s"""WITH f AS (
           | SELECT doc_id, CAST(1 AS BIGINT) AS x0,
           |  CAST(LEAST(len(toks), 100) AS BIGINT) AS x1,
           |  CAST(LEAST(len(list_distinct(toks)), 100) AS BIGINT) AS x2,
           |  CAST(LEAST(length(text) // 10, 100) AS BIGINT) AS x3
           | FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)),
           |f2 AS (SELECT *, 2 * x1 + 3 * x2 - x3 + 7 AS y FROM f),
           |w0 AS (SELECT CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1,
           |  CAST(0 AS BIGINT) AS b2, CAST(0 AS BIGINT) AS b3),
           |r1 AS (SELECT f2.*, x0*b0 + x1*b1 + x2*b2 + x3*b3 - y*65536 AS r FROM f2, w0),
           |g1 AS (SELECT sum(x0*r) AS s0, sum(x1*r) AS s1, sum(x2*r) AS s2,
           |  sum(x3*r) AS s3, count(*) AS n FROM r1),
           |w1 AS (SELECT
           |  b0 - CASE WHEN s0 < 0 THEN -((-s0) // (n*32768)) ELSE s0 // (n*32768) END AS b0,
           |  b1 - CASE WHEN s1 < 0 THEN -((-s1) // (n*32768)) ELSE s1 // (n*32768) END AS b1,
           |  b2 - CASE WHEN s2 < 0 THEN -((-s2) // (n*32768)) ELSE s2 // (n*32768) END AS b2,
           |  b3 - CASE WHEN s3 < 0 THEN -((-s3) // (n*32768)) ELSE s3 // (n*32768) END AS b3
           | FROM w0, g1),
           |r2 AS (SELECT f2.*, x0*b0 + x1*b1 + x2*b2 + x3*b3 - y*65536 AS r FROM f2, w1),
           |g2 AS (SELECT sum(x0*r) AS s0, sum(x1*r) AS s1, sum(x2*r) AS s2,
           |  sum(x3*r) AS s3, count(*) AS n FROM r2),
           |w2 AS (SELECT
           |  b0 - CASE WHEN s0 < 0 THEN -((-s0) // (n*32768)) ELSE s0 // (n*32768) END AS b0,
           |  b1 - CASE WHEN s1 < 0 THEN -((-s1) // (n*32768)) ELSE s1 // (n*32768) END AS b1,
           |  b2 - CASE WHEN s2 < 0 THEN -((-s2) // (n*32768)) ELSE s2 // (n*32768) END AS b2,
           |  b3 - CASE WHEN s3 < 0 THEN -((-s3) // (n*32768)) ELSE s3 // (n*32768) END AS b3
           | FROM w1, g2),
           |r3 AS (SELECT f2.*, x0*b0 + x1*b1 + x2*b2 + x3*b3 - y*65536 AS r FROM f2, w2),
           |g3 AS (SELECT sum(x0*r) AS s0, sum(x1*r) AS s1, sum(x2*r) AS s2,
           |  sum(x3*r) AS s3, count(*) AS n FROM r3),
           |w3 AS (SELECT
           |  b0 - CASE WHEN s0 < 0 THEN -((-s0) // (n*32768)) ELSE s0 // (n*32768) END AS b0,
           |  b1 - CASE WHEN s1 < 0 THEN -((-s1) // (n*32768)) ELSE s1 // (n*32768) END AS b1,
           |  b2 - CASE WHEN s2 < 0 THEN -((-s2) // (n*32768)) ELSE s2 // (n*32768) END AS b2,
           |  b3 - CASE WHEN s3 < 0 THEN -((-s3) // (n*32768)) ELSE s3 // (n*32768) END AS b3
           | FROM w2, g3),
           |r4 AS (SELECT f2.*, x0*b0 + x1*b1 + x2*b2 + x3*b3 - y*65536 AS r FROM f2, w3),
           |g4 AS (SELECT sum(x0*r) AS s0, sum(x1*r) AS s1, sum(x2*r) AS s2,
           |  sum(x3*r) AS s3, count(*) AS n FROM r4),
           |w4 AS (SELECT
           |  b0 - CASE WHEN s0 < 0 THEN -((-s0) // (n*32768)) ELSE s0 // (n*32768) END AS b0,
           |  b1 - CASE WHEN s1 < 0 THEN -((-s1) // (n*32768)) ELSE s1 // (n*32768) END AS b1,
           |  b2 - CASE WHEN s2 < 0 THEN -((-s2) // (n*32768)) ELSE s2 // (n*32768) END AS b2,
           |  b3 - CASE WHEN s3 < 0 THEN -((-s3) // (n*32768)) ELSE s3 // (n*32768) END AS b3
           | FROM w3, g4)"""
      .stripMargin.replace("\n", " ") + " "

  /** merge1's batch CDC fold — shared verbatim by mv4 (the
    * stream-maintained CDC matview must converge to the one-shot batch
    * application). */
  private lazy val Merge1OracleSql: String =
    ("""WITH base AS (
       | SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer),
       |changes AS (
       | SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal,
       |  c_mktsegment, 1 AS seq, 'U' AS op FROM base WHERE c_custkey % 10 = 3
       | UNION ALL SELECT c_custkey, c_name, c_nationkey, c_acctbal,
       |  c_mktsegment, 1, 'D' FROM base WHERE c_custkey % 10 = 7
       | UNION ALL SELECT c_custkey + 1000000, 'new_' || c_name, c_nationkey,
       |  0.0, 'NEW', 1, 'I' FROM base WHERE c_custkey % 10 = 1
       | UNION ALL SELECT c_custkey, c_name, c_nationkey, c_acctbal + 500.0,
       |  c_mktsegment, 2, 'U' FROM base WHERE c_custkey % 20 = 3
       | UNION ALL SELECT c_custkey, c_name, c_nationkey, 0.0,
       |  'REBORN', 2, 'I' FROM base WHERE c_custkey % 20 = 7),
       |latest AS (
       | SELECT * FROM (
       |  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
       |  FROM changes) WHERE rn = 1)
       |SELECT COALESCE(b.c_custkey, l.c_custkey) AS c_custkey,
       | CASE WHEN l.op IS NOT NULL THEN l.c_name ELSE b.c_name END AS c_name,
       | CASE WHEN l.op IS NOT NULL THEN l.c_nationkey ELSE b.c_nationkey END AS c_nationkey,
       | CASE WHEN l.op IS NOT NULL THEN l.c_acctbal ELSE b.c_acctbal END AS c_acctbal,
       | CASE WHEN l.op IS NOT NULL THEN l.c_mktsegment ELSE b.c_mktsegment END AS c_mktsegment
       |FROM base b FULL OUTER JOIN latest l ON b.c_custkey = l.c_custkey
       |WHERE l.op IS NULL OR l.op <> 'D'
       |ORDER BY c_custkey""".stripMargin.replace("\n", " "))

  /** The cur5 score/filter projection over the trained head weights —
    * shared verbatim by fit2 (stored ≡ inline) and fit3 (extend ≡
    * continuous). */
  private lazy val ProbeScoreProjSql: String =
    """SELECT f2.doc_id,
       | CAST(x0*b0 + x1*b1 + x2*b2 + x3*b3 AS BIGINT) AS score,
       | CAST(x0*b0 + x1*b1 + x2*b2 + x3*b3 >= 80 * 65536 AS INTEGER) AS kept
       |FROM f2, w4 ORDER BY f2.doc_id""".stripMargin.replace("\n", " ")

  /** fit4's pinned projection: the identical score/filter anchored at
    * the ITERATION-2 weights — guarded substitution on the shared
    * trajectory CTEs, so a ProbeTrainCtes edit cannot silently
    * desynchronize the pin. */
  private lazy val ProbeScoreProjW2Sql: String = {
    require(ProbeTrainCtes.contains("w2 AS") &&
      ProbeScoreProjSql.contains("FROM f2, w4"),
      "fit4 oracle derivation out of sync with ProbeTrainCtes")
    ProbeScoreProjSql.replace("FROM f2, w4", "FROM f2, w2")
  }

  private val toksSql = "regexp_split_to_array(trim(lower(text)), '\\s+')"

  /** Planted PII suffix for the t7 fixture (one email + one URL; no single
    * quotes, so it embeds verbatim in the oracle SQL literal). */
  private val PiiSuffix =
    " contact a.bob+1@ex-ample.org or see https://ex.org/p?q=1 now"

  /** TextAnalysis.EmailRe with the Scala-level escaping undone for a SQL
    * string literal (the pattern itself contains no quotes). */
  private val EmailReSql = ext.TextAnalysis.EmailRe

  private def sqlArr(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  private val enStopSql = sqlArr(TextAnalysis.EnStop)

  /** Oracle for the blocked n-gram-Jaccard near-dup pairs (and for the
    * minhash-LSH variant — see the recall note at the registration site). */
  private val ngramPairsSql =
    (s"""WITH sh AS (
       | SELECT doc_id AS id,
       |  CASE WHEN len(toks) >= 3
       |   THEN list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])
       |   ELSE [] END AS sh
       | FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
       |inv AS (SELECT id, unnest(sh) AS s FROM sh),
       |cand AS (
       | SELECT DISTINCT x.id AS id_a, y.id AS id_b
       | FROM inv x JOIN inv y ON x.s = y.s AND x.id < y.id)
       |SELECT id_a, id_b,
       | len(list_intersect(a.sh, b.sh))::DOUBLE /
       |  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
       |FROM cand JOIN sh a ON cand.id_a = a.id JOIN sh b ON cand.id_b = b.id
       |WHERE j >= 0.7 ORDER BY id_a, id_b""".stripMargin.replace("\n", " "))

  /** d2's pair oracle annotated with sp1's split sides (pure expressions
    * over the pair ids — no join in sight) and the straddle flag —
    * guarded substitution so a ngramPairsSql edit can never silently
    * desynchronize (the Ret7/Sim8 device). */
  private lazy val Leak1OracleSql: String = {
    val marker = " ORDER BY id_a, id_b"
    require(ngramPairsSql.endsWith(marker),
      "leak1 oracle derivation out of sync with ngramPairsSql")
    def bucket(c: String) =
      s"('0x' || substring(sha256($c::VARCHAR || ':graft'), 1, 15))::BIGINT % 100"
    (s"""WITH p AS (${ngramPairsSql.stripSuffix(marker)})
       |SELECT id_a, id_b, j,
       | CASE WHEN ba < 80 THEN 'train' WHEN ba < 90 THEN 'val' ELSE 'test' END AS split_a,
       | CASE WHEN bb < 80 THEN 'train' WHEN bb < 90 THEN 'val' ELSE 'test' END AS split_b,
       | CAST(CASE WHEN (ba < 80) <> (bb < 80) THEN 1 ELSE 0 END AS INTEGER) AS leaks
       |FROM (SELECT id_a, id_b, j,
       |  ${bucket("id_a")} AS ba, ${bucket("id_b")} AS bb FROM p)
       |ORDER BY id_a, id_b""".stripMargin.replace("\n", " "))
  }

  /** cc1's from-scratch decontamination oracle — shared verbatim by cc3
    * (the stored-index path over the identical eval population: wave 1
    * built, wave 2 appended, wave 2 re-appended as an anti-join no-op)
    * and cc6s (the stream-built suite must converge to the same
    * population). [[ccPairsSql]] parameterizes the WAVE-2 predicate so
    * the as-of (cc4) and retire (cc5) verbs derive their oracles from
    * the same body instead of a drift-prone copy. */
  private lazy val Cc1OracleSql: String = ccPairsSql("doc_id % 50 = 7")

  private def ccPairsSql(wave2Where: String): String =
    (s"""WITH ev AS (
       |  SELECT doc_id + 5*$plantUnitSql AS eval_id, text || ' evaltok' AS text
       |  FROM documents WHERE doc_id % 20 = 3
       |  UNION ALL SELECT doc_id + 6*$plantUnitSql AS eval_id, text
       |  FROM documents WHERE $wave2Where),
       | csh AS (SELECT doc_id,
       |  CASE WHEN len(toks) >= 3
       |   THEN list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])
       |   ELSE [] END AS sh
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
       | esh AS (SELECT eval_id,
       |  CASE WHEN len(toks) >= 3
       |   THEN list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])
       |   ELSE [] END AS sh
       |  FROM (SELECT eval_id, $toksSql AS toks FROM ev)),
       | cinv AS (SELECT doc_id, unnest(sh) AS s FROM csh),
       | einv AS (SELECT eval_id, unnest(sh) AS s FROM esh),
       | cand AS (SELECT DISTINCT doc_id, eval_id FROM cinv JOIN einv USING (s)),
       | jj AS (SELECT doc_id, eval_id,
       |  len(list_intersect(a.sh, b.sh))::DOUBLE /
       |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
       |  FROM cand JOIN csh a USING (doc_id) JOIN esh b USING (eval_id))
       |SELECT doc_id, eval_id, j,
       | CASE WHEN j = 1.0 THEN 'exact' ELSE 'near' END AS kind
       |FROM jj WHERE j >= 0.7 ORDER BY doc_id, eval_id""".stripMargin.replace("\n", " "))

  /** leak2's oracle: d2's pair SQL (guarded substitution) feeding the
    * ccmp1 recursive min-id closure, singleton docs defaulting to
    * themselves, split = leak1's sha bucket of the cluster ROOT. */
  private lazy val Leak2OracleSql: String = {
    val marker = " ORDER BY id_a, id_b"
    require(ngramPairsSql.endsWith(marker),
      "leak2 oracle derivation out of sync with ngramPairsSql")
    val bucket =
      "('0x' || substring(sha256(root::VARCHAR || ':graft'), 1, 15))::BIGINT % 100"
    (s"""WITH RECURSIVE pp AS (${ngramPairsSql.stripSuffix(marker)}),
       |e AS (SELECT id_a AS x, id_b AS y FROM pp
       | UNION SELECT id_b, id_a FROM pp),
       |r AS (SELECT x AS node, y AS reach FROM e
       | UNION SELECT r.node, e.y FROM r JOIN e ON e.x = r.reach),
       |c AS (SELECT node, LEAST(node, MIN(reach)) AS root
       | FROM r GROUP BY node),
       |a AS (SELECT d.doc_id, COALESCE(c.root, d.doc_id) AS root
       | FROM documents d LEFT JOIN c ON c.node = d.doc_id)
       |SELECT doc_id, CAST(root AS BIGINT) AS root,
       | CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
       |  ELSE 'test' END AS split
       |FROM (SELECT doc_id, root, $bucket AS b FROM a)
       |ORDER BY doc_id""".stripMargin.replace("\n", " "))
  }

  /** exp1's oracle: leak2's closure (guarded substitution — the split
    * column IS leak2's) gating a curated, fingerprint-deduped population
    * into pack1's running-total packing window. The closure rides as a
    * derived table so its WITH RECURSIVE stays self-contained. */
  private lazy val Exp1OracleSql: String = {
    val marker = " ORDER BY doc_id"
    require(Leak2OracleSql.endsWith(marker),
      "exp1 oracle derivation out of sync with Leak2OracleSql")
    val lk = Leak2OracleSql.stripSuffix(marker)
    (s"""WITH cur AS (SELECT doc_id, len($toksSql) AS n_tokens,
       |  substring(sha256(array_to_string($toksSql, ' ')), 1, 16) AS fp
       | FROM documents WHERE lang <> 'zh' AND n_chars >= 100),
       |keep AS (SELECT MIN(doc_id) AS doc_id FROM cur GROUP BY fp),
       |lk AS (SELECT doc_id FROM ($lk) WHERE split = 'train'),
       |pop AS (SELECT c.doc_id, c.n_tokens FROM cur c
       | JOIN keep USING (doc_id) JOIN lk USING (doc_id))
       |SELECT doc_id, doc_id % 8 AS shard, n_tokens,
       | CAST((SUM(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)
       |   - n_tokens) // 512 AS BIGINT) AS chunk_id
       |FROM pop ORDER BY doc_id""".stripMargin.replace("\n", " "))
  }

  /** dsz1's oracle: leak2's recursive closure (same guarded derivation
    * from d2's pair SQL) reduced to the cluster-size histogram,
    * singletons defaulting to themselves. */
  private lazy val Dsz1OracleSql: String = {
    val marker = " ORDER BY id_a, id_b"
    require(ngramPairsSql.endsWith(marker),
      "dsz1 oracle derivation out of sync with ngramPairsSql")
    (s"""WITH RECURSIVE pp AS (${ngramPairsSql.stripSuffix(marker)}),
       |e AS (SELECT id_a AS x, id_b AS y FROM pp
       | UNION SELECT id_b, id_a FROM pp),
       |r AS (SELECT x AS node, y AS reach FROM e
       | UNION SELECT r.node, e.y FROM r JOIN e ON e.x = r.reach),
       |c AS (SELECT node, LEAST(node, MIN(reach)) AS root
       | FROM r GROUP BY node),
       |a AS (SELECT d.doc_id, COALESCE(c.root, d.doc_id) AS root
       | FROM documents d LEFT JOIN c ON c.node = d.doc_id),
       |sz AS (SELECT root, COUNT(*) AS csize FROM a GROUP BY root)
       |SELECT CAST(csize AS BIGINT) AS csize,
       | CAST(COUNT(*) AS BIGINT) AS n_clusters,
       | CAST(csize * COUNT(*) AS BIGINT) AS n_docs
       |FROM sz GROUP BY csize ORDER BY csize""".stripMargin.replace("\n", " "))
  }

  /** srcsim1's oracle: distinct (source, token) sets, pairwise exact
    * intersection/union counts, truncating micro Jaccard (DuckDB's `//`
    * floors like Spark's DIV on non-negative longs). */
  private lazy val SrcSim1OracleSql: String =
    (s"""WITH st AS (SELECT DISTINCT source, t AS tok
       | FROM (SELECT source, unnest($toksSql) AS t FROM documents)
       | WHERE t <> ''),
       |sz AS (SELECT source, COUNT(*) AS n FROM st GROUP BY 1),
       |iv AS (SELECT a.source AS src_a, b.source AS src_b,
       |  COUNT(*) AS inter
       | FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
       | GROUP BY 1, 2)
       |SELECT src_a, src_b, CAST(inter AS BIGINT) AS inter,
       | CAST(sa.n + sb.n - inter AS BIGINT) AS uni,
       | CAST((inter * 1000000) // (sa.n + sb.n - inter) AS BIGINT) AS j_micro
       |FROM iv JOIN sz sa ON sa.source = iv.src_a
       | JOIN sz sb ON sb.source = iv.src_b
       |ORDER BY src_a, src_b""".stripMargin.replace("\n", " "))

  /** Oracle-side exact-decimal sum of a double expression (see Num.dsum). */
  private def dsum(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(30,6))) AS DOUBLE)"

  /** DuckDB replica of [[graft.functions.HyperplaneSigExpr]]'s plane mix
    * (seed 0) + `Similarity.lshTopK` probing. Constants are the expression's
    * multipliers reinterpreted as unsigned 64-bit; wraparound `a*b mod 2⁶⁴`
    * splits `a` into 32-bit halves so every intermediate fits HUGEINT. */
  private val sim2LshSql = {
    val U1 = "11400714819323198485" // unsigned(-7046029254386353131)
    val U2 = "14181476777654086739" // unsigned(-4265267296055464877)
    val U4 = "18397679294719823053" // unsigned(-49064778989728563)
    val M64 = "18446744073709551616" // 2^64
    (s"""WITH bi AS (SELECT b, i FROM (SELECT unnest(range(12)) AS b), (SELECT unnest(range(64)) AS i)),
       |m0 AS (SELECT b, i,
       | xor(CAST((b::HUGEINT * $U1) % $M64 AS UBIGINT),
       |     CAST((i::HUGEINT * $U2) % $M64 AS UBIGINT)) AS x0 FROM bi),
       |m1 AS (SELECT b, i, xor(x0, x0 // 8589934592) AS x1 FROM m0),
       |m2 AS (SELECT b, i,
       | CAST(((x1::HUGEINT % 4294967296) * $U4
       |     + (((x1::HUGEINT // 4294967296) * $U4) % 4294967296) * 4294967296
       |     ) % $M64 AS UBIGINT) AS x2 FROM m1),
       |m3 AS (SELECT b, i, xor(x2, x2 // 8589934592) AS x3 FROM m2),
       |planes AS (SELECT b, i, ((x3 % 9223372036854775808)::HUGEINT % 2000003) / 1000001.5 - 1.0 AS val FROM m3),
       |pl AS (SELECT b, list(val ORDER BY i) AS p FROM planes GROUP BY b),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sig AS (SELECT vec_id,
       | CAST(SUM(CASE WHEN list_dot_product(v, p) > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS s
       | FROM e CROSS JOIN pl GROUP BY vec_id),
       |q AS (SELECT e.vec_id AS query_id, v AS qv, s AS qb FROM e JOIN sig ON e.vec_id = sig.vec_id WHERE e.vec_id < 5),
       |probes AS (SELECT query_id, qv,
       | unnest([qb] || list_transform(range(12), b -> xor(qb, 1::BIGINT << CAST(b AS INT)))) AS probe
       | FROM q),
       |scored AS (
       | SELECT p.query_id, e.vec_id AS neighbor_id,
       |  list_dot_product(p.qv, e.v) /
       |    (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
       | FROM probes p JOIN sig ON sig.s = p.probe
       |  JOIN e ON e.vec_id = sig.vec_id AND e.vec_id <> p.query_id),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       | row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
       |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin.replace("\n", " "))
  }
}
