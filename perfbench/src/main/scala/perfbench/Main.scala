package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload:
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * Prints, as its last stdout line, one JSON object with the run's outcome
  * and every metric value it measured; `run.py` selects and labels them. */
object Main {
  val cores = 4

  /** The engine's session: local[4], four shuffle partitions, and the
    * settings `graft.Bench` uses (UTC, no UI, capped status retention —
    * Spark's default retention grows the heap by hundreds of MB per
    * ingest batch and ends in an out-of-memory error). */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "16")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drift probe in the shape of `graft.Bench`'s canary (hash, aggregate,
    * exchange; min of three), at a quarter of its rows. */
  def canaryMs(spark: SparkSession): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0, 2000000L, 1, 8)
      .selectExpr("id % 1024 AS k", "pmod(xxhash64(id), 1000003) AS h")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("h"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  }.min

  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed.toDouble).sum / (1 << 20)

  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.toDouble).sum

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
    finally src.close()
  }

  def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val name = a("--workload")
    val seed = a("--seed").toLong
    val seconds = a("--seconds").toDouble
    val trace = a("--trace") == "1"
    val work = new File(a("--work")).getAbsolutePath
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    def log(s: String): Unit = System.err.println(s"[perfbench] $s")

    val tr = new Tracer
    val wl = Workload(name, seed, tr)
    // one set-up per run: a cold JVM pays it once, as a user's job does
    val t0 = System.nanoTime()
    val generated = Future(Workload.step("generate")(wl.generate(s"$work/data")))(ExecutionContext.global)
    val spark = Workload.step("session")(session(work))
    if (trace) tr.attach(spark)
    Await.result(generated, Duration.Inf)
    wl.setup(spark, s"$work/data")
    val setupS = (System.nanoTime() - t0) / 1e9
    log(f"setup seconds: $setupS%.2f")
    val storeMb = wl.storeRoots.map(Workload.du(spark, _)._1).sum / 1e6

    val values = mutable.LinkedHashMap.empty[String, Double]
    if (trace) values("box.canary_start_ms") = canaryMs(spark)
    val lat = mutable.ArrayBuffer.empty[(Int, Double, Boolean)] // (op, ms, traced)
    val gauges = mutable.ArrayBuffer.empty[String] // JSON lines, one per op
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0; var failed = 0; var units = 0L; var maintMs = 0.0
    val gc0 = gcMs
    def timed(body: => Unit): Double = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e6 }
    def maintenance(body: => Unit): Unit = {
      tr.on = trace; tr.op = Int.MaxValue
      try maintMs += timed(body)
      catch { case e: Throwable => errors += s"maintenance threw $e" }
      finally tr.on = false
    }
    tr.progress.synchronized(tr.progress.clear()) // micro-batches of the timed loop only
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var midDone = false
    var i = 0
    // a traced run compares traced with untraced ops after the first, which
    // is the first to run warm-up-free code on some workloads
    val minOps = if (trace) 3 else 1
    while (i < minOps || System.nanoTime() < deadline) {
      wl.prepare(i)
      val traced = trace && i % 2 == 1 // alternate ops measure the tracer's own cost
      tr.op = i; tr.on = traced
      attempted += 1
      val t0 = System.nanoTime()
      val r = Try(wl.op(i))
      val ms = (System.nanoTime() - t0) / 1e6
      tr.on = false
      r match {
        case Success(u) =>
          lat += ((i, ms, traced)); units += u
          val errs = Try(wl.checkOp(i)).fold(e => Seq(s"check of op $i threw $e"), identity)
          if (errs.nonEmpty) { failed += 1; errors ++= errs }
        case Failure(e) => failed += 1; errors += s"op $i threw $e"
      }
      if (trace) gauges += s"""{"op":$i,"heap_after_gc_mb":${json(heapAfterGcMb)},""" +
        s""""persisted_rdds":${spark.sparkContext.getPersistentRDDs.size},"gc_ms":${json(gcMs)}}"""
      if (!midDone && System.nanoTime() - start > (seconds * 1e9 / 2)) {
        midDone = true; maintenance(wl.midRun())
      }
      i += 1
    }
    if (!midDone) maintenance(wl.midRun())
    maintenance(wl.finish())
    val loopGcMs = gcMs - gc0
    val finalErrors = Try(Workload.step("final checks")(wl.finalChecks())).fold(e => Seq(s"final checks threw $e"), identity)
    errors ++= finalErrors
    errors.foreach(e => log(s"CHECK FAILED: $e"))

    val ms = lat.map(_._2).toSeq
    val busyMs = ms.sum + (if (wl.throughputIncludesMaintenance) maintMs else 0.0)
    values("setup_s") = jvmStartS + setupS
    values("op_p50_ms") = if (ms.isEmpty) Double.NaN else Stats.median(ms)
    values("throughput_per_s") = units / (busyMs / 1000)
    values("peak_rss_mb") = peakRssMb
    values("store_mb") = storeMb
    values("failed_frac") = failed.toDouble / attempted
    Stats.tail(ms) match {
      case Some((p, v, beyond)) =>
        values("op_tail_ms") = v
        log(f"op_tail_ms = p$p%s $v%.1f ms over ${ms.size} ops ($beyond beyond it)")
      case None => log(s"op_tail_ms omitted: ${ms.size} ops, fewer than 20")
    }
    log(f"ops=$attempted failed=$failed units=$units ${wl.unit} maintenance_ms=$maintMs%.0f")
    log(s"op ms: ${ms.map(x => f"$x%.0f").mkString(" ")}")

    if (trace) {
      Thread.sleep(1000) // let the listener bus drain
      val spans = tr.allSpans
      values ++= Trace.spanMetrics(spans, cores)
      values ++= Trace.streamMetrics(tr)
      values ++= wl.storeGauges()
      values("jvm.heap_after_gc_mb") = heapAfterGcMb
      values("spark.persisted_rdds") = spark.sparkContext.getPersistentRDDs.size.toDouble
      values("jvm.gc_ms") = loopGcMs
      values("box.canary_end_ms") = canaryMs(spark)
      val tracedMs = lat.filter(_._3).map(_._2).toSeq
      val plainMs = lat.filter(x => !x._3 && x._1 > 0).map(_._2).toSeq
      values("trace.overhead_frac") =
        if (tracedMs.isEmpty || plainMs.isEmpty) 0.0
        else Stats.median(tracedMs) / Stats.median(plainMs) - 1
      val out = new File(s"$work/traces/$name-seed$seed.jsonl")
      Gen.writeLines(out, Trace.spansJson(spans))
      Gen.writeLines(new File(s"$work/traces/$name-seed$seed.gauges.jsonl"), gauges.iterator)
      log(s"${spans.size} spans and ${gauges.size} per-op gauges written under $work/traces")
    }
    wl.teardown()
    spark.stop()

    val correct = errors.isEmpty && ms.nonEmpty
    val vals = values.map { case (k, v) => s""""$k":${json(v)}""" }.mkString(",")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"values":{$vals}}""")
  }
}
