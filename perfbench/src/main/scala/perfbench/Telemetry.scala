package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.batch.BatchPipeline
import graft.core.{Prune, Sinks}
import graft.streaming.Speed

/** Speed layer: each operation stages one JSON-lines file of device
  * messages and waits until all four queries (three 90 s windowed sums
  * and the hourly-partitioned archive) have processed it. */
final class TelemetryStream(seed: Long, tr: Tracer) extends Workload {
  val msgsPerFile = 5000
  val spanMs = 30000L
  val warmupFiles = 1
  val windowMs = 90000L
  val unit = "events"
  private val dims: Seq[(String, Gen.Msg => String)] = Seq(
    "antenna_bytes_total" -> (_.antenna), "user_bytes_total" -> (_.id),
    "app_bytes_total" -> (_.app))
  private val tele = new Gen.Telemetry(seed)
  private var spark: SparkSession = _
  private var dir: String = _
  private var queries: Seq[StreamingQuery] = Nil
  private val got = mutable.HashMap.empty[(String, Long, String), Long]
  private val want = mutable.HashMap.empty[(String, Long, String), Long]
  private var stagedMsgs = 0L
  private var pending: File = _

  private def write(i: Int): File = {
    val msgs = Gen.streamFile(tele, seed, i, msgsPerFile, spanMs)
    Gen.windowSums(msgs.iterator, windowMs, dims).foreach { case (k, v) =>
      want(k) = want.getOrElse(k, 0L) + v }
    val f = new File(f"$dir/staging/part-$i%06d.json")
    Gen.writeLines(f, msgs.iterator.map(tele.json))
    f
  }

  private def stageAndWait(f: File): Unit = {
    val to = new File(s"$dir/source/${f.getName}")
    if (!f.renameTo(to)) throw new java.io.IOException(s"could not stage $f")
    stagedMsgs += msgsPerFile
    queries.foreach(_.processAllAvailable())
  }

  def setup(s: SparkSession, d: String): Unit = {
    spark = s; dir = d; stagedMsgs = 0L; got.clear(); want.clear()
    new File(s"$dir/source").mkdirs()
    val raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1)
      .load(s"$dir/source")
    val parsed = Speed.parseJson(raw)
    def sumQuery(tag: String, dim: String): StreamingQuery = {
      val agg = Speed.windowedSumLong(parsed, col(dim), "timestamp", "90 seconds",
        "15 seconds", col("bytes"), tag)
      // the reference's JDBC-shaped sink: each micro-batch's updated rows
      // replace the previous values of their (window, key)
      Sinks.foreachBatchSink(agg, s"$dir/ckpt/$tag") { (b: DataFrame, _: Long) =>
        val rows = b.collect()
        got.synchronized(rows.foreach { r =>
          got((tag, r.getTimestamp(0).getTime, r.getString(1))) = r.getLong(2)
        })
      }.outputMode("update").queryName(tag.stripSuffix("_bytes_total")).start()
    }
    queries = Workload.step("start queries")(Seq(sumQuery("antenna_bytes_total", "antenna_id"),
      sumQuery("user_bytes_total", "id"), sumQuery("app_bytes_total", "app"),
      Sinks.archiveStream(parsed, "timestamp", s"$dir/archive", s"$dir/ckpt/archive")
        .queryName("archive").start()))
    Workload.step("warm-up")((0 until warmupFiles).foreach(i => stageAndWait(write(i))))
  }

  override def teardown(): Unit = queries.foreach(_.stop())

  override def prepare(i: Int): Unit = pending = write(warmupFiles + i)

  def op(i: Int): Long = tr.span("telemetry_stream.op") {
    stageAndWait(pending); msgsPerFile.toLong
  }

  def checkOp(i: Int): Seq[String] = {
    val g = got.synchronized(got.toMap)
    if (g == want.toMap) Nil
    else {
      val bad = (g.keySet ++ want.keySet).count(k => g.get(k) != want.get(k))
      Seq(s"stream op $i: $bad window sums differ from the generator's")
    }
  }

  def finalChecks(): Seq[String] = {
    val n = spark.read.parquet(s"$dir/archive").count()
    if (n == stagedMsgs) Nil else Seq(s"archive holds $n rows, $stagedMsgs were staged")
  }

  def storeRoots: Seq[String] = Seq(s"$dir/archive", s"$dir/ckpt")

  override def storeGauges(): Map[String, Double] = {
    val (b, f) = Workload.du(spark, s"$dir/archive")
    Map("store.archive.bytes" -> b.toDouble, "store.archive.files" -> f.toDouble)
  }
}

/** Batch layer: each operation is one `BatchPipeline.run` over the same
  * archived hour — scan, enrich, cache, three hourly sums and the quota
  * report, all written as parquet. The archive also holds the next hour,
  * at a hundredth of the size, so that the partition filter has a
  * partition to prune; the warm-up runs over that small hour. */
final class TelemetryBatch(seed: Long, tr: Tracer, msgsPerHour: Int = 500000) extends Workload {
  val unit = "events"
  private val tele = new Gen.Telemetry(seed)
  private var spark: SparkSession = _
  private var dir: String = _
  private var want: (Map[(String, Long, String), Long], Set[(String, Long, Long, Long)]) = _

  private val msgSchema = StructType(Seq(
    StructField("timestamp", TimestampType), StructField("id", StringType),
    StructField("antenna_id", StringType), StructField("bytes", LongType),
    StructField("app", StringType)))
  private val dimSchema = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("email", StringType), StructField("quota", LongType)))

  private def pipeline(hour: Int): BatchPipeline = new BatchPipeline {
    private val start = java.time.LocalDateTime.ofEpochSecond(
      (Gen.epochStart + hour * 3600000L) / 1000, 0, java.time.ZoneOffset.UTC)
    def readSlice(): DataFrame = Prune.hourSlice(
      spark.read.parquet(s"$dir/archive").where(
        col("year") === start.getYear && col("month") === start.getMonthValue &&
          col("day") === start.getDayOfMonth && col("hour") === start.getHour),
      "timestamp", start.getYear, start.getMonthValue, start.getDayOfMonth, start.getHour)
    def readDimension(): DataFrame = spark.read.parquet(s"$dir/user_metadata")
    def factKey = "id"
    def dimKey = "id"
    def antennaCol = col("antenna_id")
    def appCol = col("app")
    def emailCol = col("email")
    def quotaCol = col("quota")
    def tsCol = col("timestamp")
    def valueCol = col("bytes")
    def writeAggregate(df: DataFrame, tag: String): Unit =
      tr.span(s"batch.sink.$tag")(df.write.mode("overwrite").parquet(s"$dir/out/$tag"))
    def writeQuotaReport(df: DataFrame): Unit =
      tr.span("batch.sink.quota")(df.write.mode("overwrite").parquet(s"$dir/out/quota"))
  }

  override def generate(d: String): Unit = {
    val emailOf = tele.users.zip(tele.emails).toMap
    val dims: Seq[(String, Gen.Msg => String)] = Seq("antenna_bytes_total" -> (_.antenna),
      "email_bytes_total" -> (m => emailOf(m.id)), "app_bytes_total" -> (_.app))
    val msgs = Gen.archiveHour(tele, seed, 0, msgsPerHour)
    Gen.writeLines(new File(s"$d/gen/archive/hour-0.csv"), msgs.iterator.map(tele.csv))
    Gen.writeLines(new File(s"$d/gen/archive/hour-1.csv"),
      Gen.archiveHour(tele, seed, 1, msgsPerHour / 100).iterator.map(tele.csv))
    Gen.writeLines(new File(s"$d/gen/user_metadata.csv"), tele.dimensionCsv)
    want = (Gen.windowSums(msgs.iterator, 3600000L, dims), Gen.quotaViolations(tele, msgs))
  }

  def setup(s: SparkSession, d: String): Unit = {
    spark = s; dir = d
    Workload.step("archive")(Sinks.writePartitionedParquet(
      spark.read.schema(msgSchema).csv(s"$dir/gen/archive"), "timestamp", s"$dir/archive"))
    spark.read.schema(dimSchema).csv(s"$dir/gen/user_metadata.csv")
      .write.parquet(s"$dir/user_metadata")
    Workload.step("warm-up")(pipeline(1).run())
  }

  def op(i: Int): Long = tr.span("batch.BatchPipeline.run") {
    pipeline(0).run(); msgsPerHour.toLong
  }

  def checkOp(i: Int): Seq[String] = {
    val (sums, quota) = want
    val got = Seq("antenna_bytes_total", "email_bytes_total", "app_bytes_total").flatMap { tag =>
      spark.read.parquet(s"$dir/out/$tag").collect().map { r =>
        (r.getAs[String]("type"), r.getAs[java.sql.Timestamp]("timestamp").getTime,
          r.getAs[String]("id")) -> math.round(r.getAs[Any]("value").toString.toDouble)
      }
    }.toMap
    val gotQ = spark.read.parquet(s"$dir/out/quota").collect().map { r =>
      (r.getAs[String]("email"), math.round(r.getAs[Any]("usage").toString.toDouble),
        r.getAs[Long]("quota"), r.getAs[java.sql.Timestamp]("timestamp").getTime)
    }.toSet
    (if (got != sums) Seq(s"batch op $i: hourly sums differ from the generator's") else Nil) ++
      (if (gotQ != quota) Seq(s"batch op $i: quota report differs (${gotQ.size} vs ${quota.size})")
       else Nil)
  }

  def finalChecks(): Seq[String] = Nil

  def storeRoots: Seq[String] = Seq(s"$dir/archive", s"$dir/user_metadata", s"$dir/out")

  override def storeGauges(): Map[String, Double] = {
    val (b, f) = Workload.du(spark, s"$dir/archive")
    Map("store.archive.bytes" -> b.toDouble, "store.archive.files" -> f.toDouble)
  }
}
