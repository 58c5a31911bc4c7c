package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.core._

/** Unit specs for the batch operator surface (survey §2.3-§2.5) on tiny
  * hand-computed fixtures mirroring FIXTURES.md A1/A3. */
class CoreSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // device messages: (timestamp, id, antenna_id, bytes)
  private lazy val msgs = Seq(
    (ts("2022-02-26 00:00:10"), "u1", "ant1", 100L),
    (ts("2022-02-26 00:00:50"), "u1", "ant1", 50L),
    (ts("2022-02-26 00:01:40"), "u2", "ant1", 7L),   // next 90 s window
    (ts("2022-02-26 00:00:20"), "u2", "ant2", 9L),
  ).toDF("timestamp", "id", "antenna_id", "bytes")

  private lazy val userMeta = Seq(
    ("u1", "alice@x.io", 120L),
    ("u2", "bob@x.io", 5L),
  ).toDF("id", "email", "quota")

  test("A1/A4 windowedSumLong: 90 s tumbling windows, unified output schema") {
    val out = Agg.windowedSumLong(msgs, col("antenna_id"), col("timestamp"),
      "90 seconds", col("bytes"), "antenna_bytes_total")
    assert(out.columns.toSeq == Seq("timestamp", "id", "value", "type"))
    val got = out.as[(Timestamp, String, Long, String)].collect().toSet
    assert(got == Set(
      (ts("2022-02-26 00:00:00"), "ant1", 150L, "antenna_bytes_total"),
      (ts("2022-02-26 00:01:30"), "ant1", 7L, "antenna_bytes_total"),
      (ts("2022-02-26 00:00:00"), "ant2", 9L, "antenna_bytes_total"),
    ))
  }

  test("windowedSum (decimal-exact) equals plain double sum on exact inputs") {
    val out = Agg.windowedSum(msgs.withColumn("v", col("bytes").cast("double")),
      col("antenna_id"), col("timestamp"), "90 seconds", col("v"), "t")
    val got = out.as[(Timestamp, String, Double, String)].collect()
      .map(r => (r._2, r._1.toString, r._3)).toSet
    assert(got == Set(("ant1", "2022-02-26 00:00:00.0", 150.0),
      ("ant1", "2022-02-26 00:01:30.0", 7.0),
      ("ant2", "2022-02-26 00:00:00.0", 9.0)))
  }

  test("J1 enrich: inner join, hint-free plan, duplicate key dropped") {
    val fact = msgs.withColumnRenamed("id", "user_id")
    val out = Enrich.enrich(fact, userMeta, "user_id", "id")
    assert(!out.columns.contains("id"), "right-side join key must be dropped")
    assert(out.columns.count(_ == "user_id") == 1)
    // Broadcast invariant (round-2 verdict / CLAUDE.md): the graded dim
    // (customer) is SF-scaled, so the default plan must carry NO forced
    // hint — AQE sizes the static side at runtime. Pin the logical plan.
    val analyzed = out.queryExecution.analyzed
    assert(!analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }.exists(_ => true), s"default enrich must be hint-free:\n$analyzed")
    assert(out.count() == 4)
    // …and AQE still PICKS broadcast for an under-threshold dim unhinted.
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    val emails = out.select("user_id", "email").distinct()
      .as[(String, String)].collect().toSet
    assert(emails == Set("u1" -> "alice@x.io", "u2" -> "bob@x.io"))
    // opt-in hint for provably bounded dims still available
    val hinted = Enrich.enrich(fact, userMeta, "user_id", "id",
      hintBroadcast = true)
    assert(hinted.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }.nonEmpty, "hintBroadcast=true must inject the hint")
  }

  test("J1 enrich: inner semantics — unmatched fact rows are dropped") {
    val fact = msgs.withColumnRenamed("id", "user_id")
    val out = Enrich.enrich(fact, userMeta.where(col("id") === "u1"), "user_id", "id")
    assert(out.count() == 2)
  }

  test("A7 quotaViolations: HAVING over the enrichment, contract column order") {
    val enriched = Enrich.enrich(msgs.withColumnRenamed("id", "user_id"),
      userMeta, "user_id", "id")
    val out = QuotaCheck.quotaViolations(enriched, col("email"), col("quota"),
      col("timestamp"), col("bytes").cast("double"), "1 hour")
    assert(out.columns.toSeq == Seq("email", "usage", "quota", "timestamp"),
      "output column order is part of the reference contract")
    val got = out.as[(String, Double, Double, Timestamp)].collect().toSet
    // alice: 150 ≤ 120? no → violation (150 > 120). bob: 16 > 5 → violation.
    assert(got == Set(
      ("alice@x.io", 150.0, 120.0, ts("2022-02-26 00:00:00")),
      ("bob@x.io", 16.0, 5.0, ts("2022-02-26 00:00:00"))))
  }

  test("P3 parseJson: explicit schema, malformed rows parse to nulls") {
    val raw = Seq(
      """{"timestamp":"2022-02-26T00:10:00Z","id":"u1","antenna_id":"a1","bytes":47,"app":"FB"}""",
      """not json at all""",
    ).toDF("value")
    val out = Parse.parseJson(raw, col("value"), Parse.deviceMessageSchema)
    assert(out.columns.toSeq == Seq("timestamp", "id", "antenna_id", "bytes", "app"))
    val rows = out.collect()
    assert(rows.length == 2)
    assert(rows.count(_.isNullAt(1)) == 1, "malformed payload → null fields")
    assert(out.where(col("id") === "u1").select("bytes").as[Long].head() == 47L)
  }

  test("saltedSum ≡ direct exact-decimal sum on a skewed key") {
    // one hot key (90% of rows) — the case salting exists for
    val skewed = (1 to 900).map(i => ("hot", i, i * 0.01)) ++
      (1 to 100).map(i => (s"cold${i % 7}", 1000 + i, 1.0))
    val df = skewed.toDF("k", "uid", "v")
    val salted = Agg.saltedSum(df, col("k"), col("uid"), 16, col("v"), "value")
      .as[(String, Double)].collect().toMap
    val direct = df.groupBy(col("k").as("id")).agg(Num.dsum(col("v")).as("value"))
      .as[(String, Double)].collect().toMap
    assert(salted == direct, s"two-stage salted must be exact: $salted vs $direct")
  }

  test("overwritePartitions: recompute replaces one hour, leaves the rest, idempotent") {
    val path = tmpDir("sink_dyn_overwrite")
    val twoHours = Seq(
      (ts("2022-02-26 00:00:10"), "u1", "ant1", 100L),
      (ts("2022-02-26 00:00:50"), "u2", "ant1", 50L),
      (ts("2022-02-26 01:30:00"), "u3", "ant2", 7L),
    ).toDF("timestamp", "id", "antenna_id", "bytes")
    Sinks.writePartitionedParquet(twoHours, "timestamp", path)
    // recompute window [00:00, 01:00) with corrected bytes — only that hour
    val fixed = Seq((ts("2022-02-26 00:00:10"), "u1", "ant1", 777L))
      .toDF("timestamp", "id", "antenna_id", "bytes")
    Sinks.overwritePartitions(fixed, "timestamp", path)
    Sinks.overwritePartitions(fixed, "timestamp", path) // re-run: idempotent
    val back = spark.read.parquet(path)
    assert(back.count() == 2, "hour 0 replaced by 1 row; hour-1 row intact")
    assert(back.where(col("hour") === 0).select("bytes").as[Long].collect().toSeq
      == Seq(777L))
    assert(back.where(col("hour") === 1).select("bytes").as[Long].collect().toSeq
      == Seq(7L), "untouched partition survives the dynamic overwrite")
  }

  test("compact: many small files become few, data and order-range preserved") {
    val path = tmpDir("sink_compact")
    spark.range(0, 1000).toDF("v").repartition(8)
      .write.mode("overwrite").parquet(path)
    assert(new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet")) == 8)
    Sinks.compact(spark, path, "v")
    val files = new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, s"tiny input must compact to one file, got ${files.length}")
    assert(spark.read.parquet(path).select("v").as[Long].collect().sorted.toSeq
      == (0L until 1000L))
  }

  test("compact heals a crash between its renames and clears a stale aside") {
    val path = tmpDir("sink_compact_crash") + "/part"
    spark.range(0, 1000).toDF("v").repartition(8).write.parquet(path)
    def check(): Unit = {
      val files = new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"tiny input must compact to one file, got ${files.length}")
      assert(spark.read.parquet(path).select("v").as[Long].collect().sorted.toSeq
        == (0L until 1000L))
      assert(!new java.io.File(path + "__old").exists())
    }
    // the crash window: the live copy moved aside, the compacted copy never
    // swapped in — the aside holds the only copy
    assert(new java.io.File(path).renameTo(new java.io.File(path + "__old")))
    Sinks.compact(spark, path, "v")
    check()
    // a crash after the swap, before the cleanup: a stale aside beside the
    // live dir is garbage
    assert(new java.io.File(path + "__old").mkdirs())
    Sinks.compact(spark, path, "v")
    check()
  }

  test("S2-style filter on date parts prunes to the expected hour") {
    val df = Sinks.withDateParts(msgs, "timestamp")
    val out = df.where(col("year") === 2022 && col("month") === 2 &&
      col("day") === 26 && col("hour") === 0)
    assert(out.count() == 4)
    assert(df.where(col("hour") === 5).count() == 0)
  }

  test("Par.concurrently waits for every action before it rethrows") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.concurrently(
        () => throw new IllegalStateException("fast failure"),
        () => { Thread.sleep(400); slowDone.set(true) })
    }
    assert(e.getMessage == "fast failure", "the action's own exception, not a wrapper")
    assert(slowDone.get, "rethrew while a sibling action was still running")
  }

  /** `file:line: code` for every code line (comments skipped) of a
    * `src/<tree>` Scala file, other than those ending in `exempt`, that
    * matches one of `patterns`. */
  private def sourceHits(patterns: Seq[scala.util.matching.Regex],
                         exempt: Seq[String],
                         tree: String = "main"): Seq[String] = {
    val src = Iterator.iterate(new java.io.File(".").getCanonicalFile)(_.getParentFile)
      .takeWhile(_ != null).map(new java.io.File(_, s"src/$tree/scala"))
      .find(_.isDirectory)
      .getOrElse(fail(s"no src/$tree/scala above the working directory"))
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val files = scalaFiles(src)
    val anchor = if (tree == "main") "ext/Retrieval.scala" else "graft/CoreSpec.scala"
    assert(files.exists(_.getPath.endsWith(anchor)),
      s"scan root $src holds no $anchor")
    for {
      f <- files if !exempt.exists(f.getPath.endsWith)
      (line, n) <- new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n", -1).toSeq.zipWithIndex
      code = line.replaceAll("(^|\\s)//.*$", "")
      if !code.trim.startsWith("*") && !code.trim.startsWith("/*")
      if patterns.exists(_.findFirstIn(code).isDefined)
    } yield s"${src.toPath.relativize(f.toPath)}:${n + 1}: ${line.trim}"
  }

  test("segmented-store layout is named only in core.Artifacts (source scan)") {
    val layout = Seq(
      "/segments\\b", // the segments subdirectory
      "committedChildren\\([^)]*segments",
      "\\bsegmentsAsOf\\b", "\\basOfFloor\\b", "\\bsetAsOfFloor\\b",
      "\\bcommitIndexedSegment\\b").map(_.r)
    val hits = sourceHits(layout, exempt = Seq("core/Artifacts.scala"))
    assert(hits.isEmpty,
      "segmented-store layout named outside core.Artifacts — use its " +
        "segments/readSegmented/appendSegment/foldSegments entries:\n" +
        hits.mkString("\n"))
  }

  test("artifact files are moved only by core.Artifacts on Hadoop FileSystem (source scan)") {
    val fileApi = Seq("java.io.File", ".rename(", "renameTo(", "Files.move")
      .map(s => java.util.regex.Pattern.quote(s).r)
    // Verify's mkdirs makes its local report directory, not an artifact
    val hits = sourceHits(fileApi,
      exempt = Seq("core/Artifacts.scala", "graft/Verify.scala"))
    assert(hits.isEmpty,
      "java.io file access or a rename outside core.Artifacts — list " +
        "and move artifact files through Hadoop FileSystem and commit " +
        "through Artifacts.swapInto/stageCommit:\n" + hits.mkString("\n"))
  }

  test("stored-tier reads have one verb each, no *AsOf twin in ext (source scan)") {
    val hits = sourceHits(Seq("\\bdef \\w+AsOf\\b".r), exempt = Nil)
      .filter(_.startsWith("graft/ext/"))
    assert(hits.isEmpty,
      "a pinned read is the head verb's `asOf: Option[Long] = None`, not " +
        "a second verb:\n" + hits.mkString("\n"))
  }

  test("the tier tombstone store is named only in ext.Forget (source scan)") {
    val hits = sourceHits(Seq("/tombstones\\b".r),
        exempt = Seq("ext/Forget.scala")) ++
      sourceHits(Seq("\\bdropSegments\\b".r), exempt = Nil)
    assert(hits.isEmpty,
      "a tier names `<dir>/tombstones` or clears segments in place — " +
        "forget, read living, compact and rebuild through ext.Forget:\n" +
        hits.mkString("\n"))
  }

  test("the postings and kNN tiers derive each relation once (source scan)") {
    // the tile replication of the pair scorer, the postings of a token
    // frame, and the base-meta + segment-totals fold
    val once = Seq(
      "ext/Similarity.scala" -> "explode\\(tiles\\)",
      "ext/Retrieval.scala" -> "explode_outer\\(col\\(\"toks\"\\)\\)",
      "ext/Retrieval.scala" -> "crossJoin\\(\\w*Totals\\(")
    val copies = once.flatMap { case (file, pattern) =>
      val hits = sourceHits(Seq(pattern.r), exempt = Nil)
        .filter(_.startsWith(s"graft/$file:"))
      if (hits.size == 1) Nil else s"$pattern: ${hits.size} hits" +: hits
    }
    assert(copies.isEmpty,
      "a relation derived in more than one place (or none) — call the " +
        "shared scorer, postingsOf or foldedTotals:\n" + copies.mkString("\n"))
  }

  test("the vector-search family derives each relation once (source scan)") {
    // the per-key ranking and the graded rounding live once in Similarity;
    // a dot product appears only in dot, l2norm and the shared cosine
    // (Clustering's private dot is an integer-grid L2 distance, not a cosine)
    val once = Seq("row_number\\(\\)\\.over", "round\\(col\\(\"cos\"\\), 4\\)")
      .flatMap { pattern =>
        val hits = sourceHits(Seq(pattern.r), exempt = Nil)
          .filter(_.startsWith("graft/ext/Similarity.scala:"))
        if (hits.size == 1) Nil else s"$pattern: ${hits.size} hits" +: hits
      }
    val dots = sourceHits(Seq("\\bdot\\(".r), exempt = Seq("ext/Clustering.scala"))
    val dotCopies = if (dots.size == 3) Nil else s"dot(: ${dots.size} hits" +: dots
    assert(once.isEmpty && dotCopies.isEmpty,
      "a vector-search relation written out in place — compose " +
        "Similarity's cosine, topN, graded projection, list assignment " +
        "and exact re-rank:\n" + (once ++ dotCopies).mkString("\n"))
  }

  test("measurements go through Trace, and ProfileQ is the one profile harness (source scan)") {
    val listeners = sourceHits(
      Seq("(new|extends|with)\\s+[\\w.]*\\b(SparkListener|QueryExecutionListener)\\b".r),
      exempt = Seq("graft/Trace.scala"), tree = "test")
    val harnesses = sourceHits(Seq("\\bobject Profile(?!Q\\b)\\w+".r),
      exempt = Nil, tree = "test")
    assert(listeners.isEmpty && harnesses.isEmpty,
      "a hand-rolled listener or profile harness in src/test — count " +
        "actions with Trace.measure, profile a query with ProfileQ:\n" +
        (listeners ++ harnesses).mkString("\n"))
  }
}
