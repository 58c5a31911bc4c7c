package graft

import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.types.{DataType, DecimalType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.batch.BatchPipeline
import graft.core.{Agg, Enrich, QuotaCheck}

/** Runs the reference's full batch composition (read → enrich → one
  * grouping-sets aggregate → 3 hourly sums + quota report) against
  * in-memory fixtures with collecting sinks. The sinks run concurrently,
  * so whatever they collect into is thread-safe. */
class BatchPipelineSpec extends SparkSpec {
  import spark.implicits._

  /** A pipeline over `msgs` ⋈ `dim` whose sinks hand each output frame to
    * `onAggregate` / `onQuota`. */
  private def pipeline(msgs: DataFrame, dim: DataFrame, app: Column = col("app"))(
      onAggregate: (DataFrame, String) => Unit, onQuota: DataFrame => Unit) =
    new BatchPipeline {
      def readSlice(): DataFrame = msgs
      def readDimension(): DataFrame = dim
      def factKey = "user_id"; def dimKey = "id"
      def antennaCol: Column = col("antenna_id")
      def appCol: Column = app
      def emailCol: Column = col("email")
      def quotaCol: Column = col("quota")
      def tsCol: Column = col("timestamp")
      def valueCol: Column = col("value")
      def writeAggregate(df: DataFrame, tag: String): Unit = onAggregate(df, tag)
      def writeQuotaReport(df: DataFrame): Unit = onQuota(df)
    }

  private lazy val fixedMsgs = Seq(
    (Timestamp.valueOf("2022-02-26 00:10:00"), "u1", "ant1", 100.0, "FB"),
    (Timestamp.valueOf("2022-02-26 00:20:00"), "u2", "ant1", 50.0, "IG"),
    (Timestamp.valueOf("2022-02-26 01:10:00"), "u1", "ant2", 7.0, "FB"),
  ).toDF("timestamp", "user_id", "antenna_id", "value", "app")
  private lazy val fixedDim = Seq(("u1", "alice@x.io", 10.0), ("u2", "bob@x.io", 999.0))
    .toDF("id", "email", "quota")

  test("template method computes all four outputs from one grouping-sets pass") {
    val aggs = TrieMap[String, Seq[(Timestamp, String, Double, String)]]()
    var quota: Seq[(String, Double, Double, Timestamp)] = Nil
    pipeline(fixedMsgs, fixedDim)(
      (df, tag) => aggs(tag) = df.as[(Timestamp, String, Double, String)].collect().toSeq,
      df => quota = df.as[(String, Double, Double, Timestamp)].collect().toSeq).run()

    assert(aggs("antenna_bytes_total").map(r => (r._2, r._3)).toSet ==
      Set(("ant1", 150.0), ("ant2", 7.0)))
    assert(aggs("email_bytes_total").map(r => (r._2, r._3)).toSet ==
      Set(("alice@x.io", 100.0), ("bob@x.io", 50.0), ("alice@x.io", 7.0)))
    assert(aggs("app_bytes_total").map(r => (r._2, r._3)).toSet ==
      Set(("FB", 100.0), ("IG", 50.0), ("FB", 7.0)))
    // alice: hour-0 usage 100 > quota 10 → violation; hour-1 usage 7 < 10 no
    assert(quota.map(q => (q._1, q._2)) == Seq(("alice@x.io", 100.0)))
  }

  /** Deterministic stand-in for the scalatestplus bridge (not in the
    * offline dependency cache): sample the generator from fixed seeds. */
  private def forAll[A](gen: Gen[A], n: Int)(prop: A => Unit): Unit =
    (1 to n).foreach(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(prop))

  private val t0 = Timestamp.valueOf("2022-02-26 00:00:00").getTime
  // values are multiples of 1/4, so the Scala-side quota sum below is exact
  private val msgGen = for {
    user <- Gen.oneOf("u0", "u1", "u2", "u3")
    minute <- Gen.choose(0, 4 * 60 - 1)
    antenna <- Gen.oneOf(Some("ant1"), Some("ant2"), None)
    app <- Gen.oneOf(Some("FB"), Some("IG"), None)
    v <- Gen.choose(0, 4000).map(_ / 4.0)
  } yield (new Timestamp(t0 + minute * 60000L), user, antenna, v, app)
  private val fixtureGen = for {
    msgs <- Gen.listOfN(60, msgGen)
    // "uq" sends only within one hour; its quota is set to exactly that usage
    uqHour <- Gen.choose(0, 3)
    uqMsgs <- Gen.listOfN(3, msgGen.map(m => m.copy(
      _1 = new Timestamp(t0 + uqHour * 3600000L + (m._1.getTime - t0) % 3600000L),
      _2 = "uq")))
    quotas <- Gen.listOfN(4, Gen.oneOf(0.0, 500.0, 2000.0, 1e9))
  } yield (msgs ++ uqMsgs, quotas :+ uqMsgs.map(_._4).sum)

  /** Each output of `run()` as its standalone call over the enriched frame. */
  private def standalone(msgs: DataFrame, dim: DataFrame, app: Column): Map[String, DataFrame] = {
    val enriched = Enrich.enrich(msgs, dim, "user_id", "id")
    Seq("antenna_bytes_total" -> col("antenna_id"), "email_bytes_total" -> col("email"),
      "app_bytes_total" -> app).map { case (tag, key) =>
      tag -> Agg.windowedSum(enriched, key, col("timestamp"), "1 hour", col("value"), tag)
    }.toMap + ("quota" -> QuotaCheck.quotaViolations(enriched, col("email"),
      col("quota"), col("timestamp"), col("value"), "1 hour"))
  }

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)
  private def shape(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)

  test("property: run() equals three windowedSum calls plus quotaViolations") {
    forAll(fixtureGen, n = 4) { case (msgRows, quotas) =>
      val msgs = msgRows.toDF("timestamp", "user_id", "antenna_id", "value", "app")
      val users = Seq("u0", "u1", "u2", "u3", "uq")
      val dim = users.zip(quotas).map { case (u, q) => (u, s"$u@x.io", q) }
        .toDF("id", "email", "quota")
      // the second binding makes the antenna and app groupings the same column
      for (app <- Seq(col("app"), col("antenna_id"))) {
        val got = TrieMap[String, (Seq[(String, DataType)], Seq[Row])]()
        def keep(out: String, df: DataFrame): Unit = got(out) = (shape(df), sorted(df))
        pipeline(msgs, dim, app)((df, tag) => keep(tag, df), keep("quota", _)).run()

        for ((out, w) <- standalone(msgs, dim, app)) assert(got(out) == ((shape(w), sorted(w))), out)
        assert(!got("quota")._2.exists(_.getString(0) == "uq@x.io"),
          "a user exactly at quota was reported")
        assert(got("antenna_bytes_total")._2.exists(_.isNullAt(1)),
          "the fixture has no null antenna")
      }
    }
  }

  /** The physical nodes of a finalized plan, AQE wrappers unwrapped; an
    * InMemoryTableScan stays a leaf (its relation's plan is not walked). */
  private def flatten(n: SparkPlan): Seq[SparkPlan] = n match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case o => o +: o.children.flatMap(flatten)
  }

  test("one scan of the slice, only the aggregate cached, cache released") {
    val slice = tmpDir("bp-slice")
    fixedMsgs.write.mode("overwrite").parquet(slice)
    def persisted = spark.sparkContext.getPersistentRDDs.size
    val before = persisted
    val plans = mutable.Buffer[SparkPlan]()
    def keep(df: DataFrame): Unit = {
      df.collect(); plans.synchronized(plans += df.queryExecution.executedPlan)
    }
    pipeline(spark.read.parquet(slice), fixedDim)((df, _) => keep(df), keep).run()
    assert(persisted == before)

    val nodes = plans.toSeq.flatMap(flatten)
    val isSliceScan: SparkPlan => Boolean = {
      case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.toString.contains(slice))
      case _ => false
    }
    assert(!nodes.exists(isSliceScan), "a sink re-scanned the slice")
    val cached = nodes.collect { case s: InMemoryTableScanExec => s.relation }
      .map(r => r.cacheBuilder -> r).toMap.values.toSeq
    assert(plans.size == 4 && cached.size == 1, "every sink reads one shared cache")
    assert(cached.head.output.map(_.name) ==
      Seq("antenna", "email", "app", "quota", "w", "value", "set"),
      "a cache holds something other than the grouping-sets aggregate")
    val build = flatten(cached.head.cachedPlan)
    assert(build.count(isSliceScan) == 1)
    assert(build.count(_.isInstanceOf[ExpandExec]) == 1)

    // a throwing sink still releases the cache
    intercept[IllegalStateException] {
      pipeline(spark.read.parquet(slice), fixedDim)((df, tag) =>
        if (tag == "email_bytes_total") throw new IllegalStateException("sink down")
        else df.collect(), _.collect()).run()
    }
    assert(persisted == before)
  }

  test("integral value column: LONG sums, bit-identical to the decimal-exact calls") {
    val big = 1L << 40
    val msgs = Seq(
      ("2022-02-26 00:10:00", "u1", "ant1", big - 3L, "FB"),
      ("2022-02-26 00:20:00", "u2", "ant1", big + 5L, "IG"),
      ("2022-02-26 00:30:00", "u1", "ant2", -big, "FB"),
      ("2022-02-26 00:40:00", "u2", "ant2", -7L, "FB"),
      ("2022-02-26 01:10:00", "u1", "ant1", 3L * big + 1L, "IG"),
      ("2022-02-26 01:50:00", "u2", "ant1", 11L, "IG"),
    ).map { case (t, u, a, v, app) => (Timestamp.valueOf(t), u, a, v, app) }
      .toDF("timestamp", "user_id", "antenna_id", "value", "app")
    val dim = Seq(("u1", "alice@x.io", 1000L), ("u2", "bob@x.io", 2L * big))
      .toDF("id", "email", "quota")

    /** Runs the pipeline over `m` and returns each output (schema, sorted
      * rows) and whether the cached aggregate casts to DECIMAL(30,6). */
    def outputs(m: DataFrame) = {
      val got = TrieMap[String, (Seq[(String, DataType)], Seq[Row])]()
      val cached = TrieMap[String, SparkPlan]()
      def keep(out: String, df: DataFrame): Unit = {
        got(out) = (shape(df), sorted(df))
        flatten(df.queryExecution.executedPlan).foreach {
          case s: InMemoryTableScanExec => cached(out) = s.relation.cachedPlan
          case _ =>
        }
      }
      pipeline(m, dim)((df, tag) => keep(tag, df), keep("quota", _)).run()
      val decimalSum = cached.values.toSeq.flatMap(flatten).exists(_.expressions.exists(
        _.exists { case c: Cast => c.dataType == DecimalType(30, 6); case _ => false }))
      (got.toMap, decimalSum)
    }

    val (got, decimalSum) = outputs(msgs)
    for ((out, w) <- standalone(msgs, dim, col("app")))
      assert(got(out) == ((shape(w), sorted(w))), out)
    assert(got("quota")._2.map(_.getString(0)) == Seq("alice@x.io"))
    assert(!decimalSum, "a LongType value column still sums through DECIMAL(30,6)")
    assert(outputs(msgs.withColumn("value", col("value").cast("double")))._2,
      "a DoubleType value column no longer sums through DECIMAL(30,6)")
  }

  test("the four sinks run concurrently") {
    val arrived = new CountDownLatch(4)
    def meet(): Unit = {
      arrived.countDown()
      assert(arrived.await(30, TimeUnit.SECONDS), "a sink ran alone")
    }
    val wrote = TrieMap[String, Long]()
    pipeline(fixedMsgs, fixedDim)((df, tag) => { meet(); wrote(tag) = df.count() },
      df => { meet(); wrote("quota") = df.count() }).run()
    assert(wrote.keySet == Set("antenna_bytes_total", "email_bytes_total",
      "app_bytes_total", "quota"))
  }

  test("a throwing sink: the others still write, the first failure is rethrown") {
    def persisted = spark.sparkContext.getPersistentRDDs.size
    val before = persisted
    val wrote = TrieMap[String, Long]()
    val e = intercept[IllegalStateException] {
      pipeline(fixedMsgs, fixedDim)((df, tag) =>
        if (tag == "email_bytes_total") throw new IllegalStateException("email down")
        else wrote(tag) = df.count(), df => wrote("quota") = df.count()).run()
    }
    assert(e.getMessage == "email down")
    assert(wrote.keySet == Set("antenna_bytes_total", "app_bytes_total", "quota"))
    assert(persisted == before)

    // the quota sink fails first in time; the email sink, submitted first, wins
    val quotaFailed = new CountDownLatch(1)
    val first = intercept[IllegalStateException] {
      pipeline(fixedMsgs, fixedDim)((df, tag) =>
        if (tag == "email_bytes_total") {
          quotaFailed.await(30, TimeUnit.SECONDS)
          throw new IllegalStateException("email down")
        } else df.count(),
        _ => { quotaFailed.countDown(); throw new IllegalStateException("quota down") }).run()
    }
    assert(first.getMessage == "email down")
    assert(persisted == before)
  }

  test("concurrent sinks: one scan of the slice, counted with Trace") {
    val slice = tmpDir("bp-scan")
    val rows = 2000
    (0 until rows).map(i => (new Timestamp(t0 + i * 7000L), s"u${1 + i % 2}",
        s"ant${i % 3}", (i % 97).toDouble, if (i % 2 == 0) "FB" else "IG"))
      .toDF("timestamp", "user_id", "antenna_id", "value", "app")
      .write.mode("overwrite").parquet(slice)
    val r = Trace.measure(spark)(pipeline(spark.read.parquet(slice), fixedDim)(
      (df, _) => df.collect(), _.collect()).run())
    // a second scan would read every row again; the cached blocks the
    // sinks read back add one record each, far fewer than the slice
    assert(r.inputRecords >= rows && r.inputRecords < 2 * rows,
      "\n" + r.render("BatchPipeline.run"))
  }
}
