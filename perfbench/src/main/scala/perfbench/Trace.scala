package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One public call into a layer, recorded from outside the engine. */
final class Span(val id: String, val name: String, val parent: Option[Span],
                 val op: Int, val start: Long) {
  @volatile var end: Long = 0L
  private val counts = mutable.HashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized { counts(k) = counts.getOrElse(k, 0.0) + v }
  def counters: Map[String, Double] = synchronized(counts.toMap)
  def wallMs: Double = (end - start) / 1e6
}

/** Outside-in tracer. A span wraps each public call the benchmark makes;
  * the span's id is set as the Spark job group of the calling thread, so
  * the listeners below attribute jobs, tasks, scan files and written
  * files to the innermost open span. Spans stay in memory
  * until the run ends. When `on` is false a span is a plain call. */
final class Tracer {
  @volatile var on = false
  @volatile var op = 0
  private val ids = new AtomicLong()
  // inheritable: a pool thread started inside a span sees that span as its parent
  private val stack = new InheritableThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val byId = new ConcurrentHashMap[String, Span]()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  @volatile private var spark: SparkSession = _

  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val sc = spark.sparkContext
    val parent = stack.get.headOption
    val s = new Span(s"perfbench-${ids.incrementAndGet()}", name, parent, op, System.nanoTime())
    byId.put(s.id, s)
    spans.synchronized(spans += s)
    stack.set(s :: stack.get)
    sc.setJobGroup(s.id, name, interruptOnCancel = false)
    try body
    finally {
      s.end = System.nanoTime()
      stack.set(stack.get.drop(1))
      parent match {
        case Some(p) => sc.setJobGroup(p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  // ---- listeners ---------------------------------------------------------
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val execSpan = new ConcurrentHashMap[Long, Span]()
  private val filesReadAcc = new ConcurrentHashMap[Long, Span]()
  private val filesWrittenAcc = new ConcurrentHashMap[Long, Span]()
  /** (stream run id, batch id) → jobs. */
  val streamJobs = new ConcurrentHashMap[(String, Long), AtomicLong]()
  val progress: mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent] =
    mutable.ArrayBuffer.empty

  private def spanOf(group: String): Option[Span] =
    Option(group).flatMap(g => Option(byId.get(g)))

  private def collectAccums(execId: Long, info: SparkPlanInfo): Unit =
    Option(execSpan.get(execId)).foreach { s =>
      def walk(p: SparkPlanInfo): Unit = {
        p.metrics.foreach { m =>
          if (m.name == "number of files read") filesReadAcc.put(m.accumulatorId, s)
          if (m.name == "number of written files") filesWrittenAcc.put(m.accumulatorId, s)
        }
        p.children.foreach(walk)
      }
      walk(info)
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.map(_.getProperty("spark.jobGroup.id")).orNull
      spanOf(group).foreach { s =>
        s.add("jobs", 1)
        e.stageIds.foreach(stageSpan.put(_, s))
      }
      props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).foreach { b =>
        streamJobs.computeIfAbsent((group, b.toLong), _ => new AtomicLong()).incrementAndGet()
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.add("tasks", 1)
        Option(e.taskMetrics).foreach { m =>
          s.add("exec_run_ms", m.executorRunTime.toDouble)
          s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        x.jobGroupId.flatMap(spanOf).foreach { s =>
          execSpan.put(x.executionId, s); collectAccums(x.executionId, x.sparkPlanInfo)
        }
      case x: SparkListenerSQLAdaptiveExecutionUpdate =>
        collectAccums(x.executionId, x.sparkPlanInfo)
      case x: SparkListenerDriverAccumUpdates =>
        x.accumUpdates.foreach { case (acc, v) =>
          Option(filesReadAcc.get(acc)).foreach(_.add("input_files", v.toDouble))
          Option(filesWrittenAcc.get(acc)).foreach(_.add("output_files", v.toDouble))
        }
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Register the listeners on a (new) session. */
  def attach(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(sparkListener)
    s.streams.addListener(streamListener)
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
}

object Trace {
  /** Self time: the span's wall time minus the union of its children's. */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (c.start, c.end)).sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.end - s.start - covered) / 1e6
  }

  val stats: Seq[String] = Seq("wall_ms", "self_ms", "jobs", "tasks", "exec_run_ms",
    "exec_busy_frac", "input_bytes", "input_files", "shuffle_write_bytes", "spill_bytes",
    "output_bytes", "output_files")

  /** Per-layer metrics: for every span name, each stat summed over that
    * name's spans within an op, then the median over the ops that had it. */
  def spanMetrics(spans: Seq[Span], cores: Int): Map[String, Double] = {
    val kids = spans.groupBy(_.parent.map(_.id).orNull)
    val perOp: Map[(String, Int), Map[String, Double]] =
      spans.groupBy(s => (s.name, s.op)).map { case (k, ss) =>
        val sums = mutable.HashMap.empty[String, Double]
        ss.foreach { s =>
          val c = s.counters
          val row = c ++ Map("wall_ms" -> s.wallMs,
            "self_ms" -> selfMs(s, kids.getOrElse(s.id, Nil)))
          row.foreach { case (n, v) => sums(n) = sums.getOrElse(n, 0.0) + v }
        }
        val wall = sums.getOrElse("wall_ms", 0.0)
        sums("exec_busy_frac") =
          if (wall > 0) sums.getOrElse("exec_run_ms", 0.0) / (wall * cores) else 0.0
        k -> sums.toMap
      }
    val out = mutable.HashMap.empty[String, Double]
    perOp.groupBy(_._1._1).foreach { case (name, ops) =>
      stats.foreach { st =>
        out(s"$name.$st") = Stats.median(ops.values.map(_.getOrElse(st, 0.0)).toSeq)
      }
    }
    // Par.concurrently: Σ child wall ÷ group wall, per op, median
    val par = spans.filter(_.name == "core.Par.concurrently")
    if (par.nonEmpty) out("core.Par.concurrently.overlap") = Stats.median(par.map { p =>
      kids.getOrElse(p.id, Nil).map(_.wallMs).sum / math.max(p.wallMs, 1e-9)
    })
    out.toMap
  }

  /** Per-query streaming metrics from StreamingQueryProgress, median over
    * the micro-batches that carried data (late-row drops are a total). */
  def streamMetrics(t: Tracer): Map[String, Double] = {
    val evs = t.progress.synchronized(t.progress.toList).map(_.progress)
    evs.groupBy(_.name).flatMap { case (q, ps) =>
      val data = ps.filter(_.numInputRows > 0)
      def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double): Double =
        if (data.isEmpty) 0.0 else Stats.median(data.map(f))
      Map(
        s"streaming.$q.planning_ms" -> med(d(_, "queryPlanning")),
        s"streaming.$q.add_batch_ms" -> med(d(_, "addBatch")),
        s"streaming.$q.commit_ms" -> med(p => d(p, "walCommit") + d(p, "commitOffsets")),
        s"streaming.$q.offsets_ms" -> med(p => d(p, "latestOffset") + d(p, "getBatch")),
        s"streaming.$q.trigger_ms" -> med(d(_, "triggerExecution")),
        s"streaming.$q.state_commit_ms" -> med(_.stateOperators.map(_.commitTimeMs.toDouble).sum),
        s"streaming.$q.state_rows" -> med(_.stateOperators.map(_.numRowsTotal.toDouble).sum),
        s"streaming.$q.rows_dropped_late" ->
          ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark.toDouble).sum).sum,
        s"streaming.$q.jobs" -> med { p =>
          Option(t.streamJobs.get((p.runId.toString, p.batchId))).map(_.get.toDouble).getOrElse(0.0)
        })
    }
  }

  def spansJson(spans: Seq[Span]): Iterator[String] = spans.iterator.map { s =>
    val c = s.counters.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":"${s.id}","name":"${s.name}","parent":${s.parent.map(p => "\"" + p.id + "\"").getOrElse("null")},"op":${s.op},"start_ns":${s.start},"end_ns":${s.end},"counters":{$c}}"""
  }
}
