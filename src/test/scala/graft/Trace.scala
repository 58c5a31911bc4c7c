package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** What a block of driver code asks of Spark, one row per action.
  *
  * [[measure]] tags the calling thread's jobs with a fresh Spark job
  * tag. Threads started inside the body inherit it (Spark's local
  * properties are inheritable), so `Par.concurrently`'s pool is traced
  * too. The job GROUP is left alone: perfbench attributes work by it.
  * After the body, the listener bus is drained, so every event the body
  * caused has been seen.
  *
  * An action is one tagged SQL execution; its `description` is the call
  * site Spark records (`save at Retrieval.scala:131`), which names the
  * engine line that ran it, or the job description a streaming query
  * sets. An execution started inside another (an action in a
  * foreachBatch body) is `nested`: its wall is also inside its root's.
  * A job belongs to the execution named by its
  * `spark.sql.execution.id` property; jobs outside any execution (a
  * parquet schema inference) count in the totals only. Actions do not
  * move with AQE; jobs and stages do.
  *
  * `inputRecords` is the tasks' input-metrics row count: rows read from
  * files, plus one per cached block read by a job that did not build it.
  *
  * `fixedMs` is the Chukonu split of an action: its wall time minus its
  * payload, the executor run time spread over the session's cores. */
object Trace {

  final case class Action(description: String, nested: Boolean,
                          wallMs: Long, jobs: Int, stages: Int, tasks: Int,
                          runMs: Long, inputRecords: Long,
                          shuffleWriteBytes: Long, spillBytes: Long) {
    def fixedMs(cores: Int): Long = math.max(0L, wallMs - runMs / cores)
  }

  final case class Report(wallMs: Long, cores: Int, actions: Seq[Action],
                          jobs: Int, stages: Int, tasks: Int, runMs: Long,
                          inputRecords: Long, shuffleWriteBytes: Long,
                          spillBytes: Long) {
    def fixedMs: Long = math.max(0L, wallMs - runMs / cores)

    def render(label: String): String = {
      val head = f"$label%s: wall $wallMs%d ms = payload ${wallMs - fixedMs}%d + " +
        f"fixed $fixedMs%d | ${actions.size}%d actions, $jobs%d jobs, " +
        f"$stages%d stages, $tasks%d tasks | exec run $runMs%d ms | " +
        f"read $inputRecords%d records | " +
        f"shuffle write ${mib(shuffleWriteBytes)}%s | spill ${mib(spillBytes)}%s"
      (head +: Trace.rows(actions, cores)).mkString("\n")
    }
  }

  private def mib(b: Long): String = f"${b / 1048576.0}%.2f MiB"

  /** One line per action, under a column header. */
  def rows(actions: Seq[Action], cores: Int): Seq[String] =
    "   wall_ms  fixed jobs  stg tasks  run_ms shuf_MiB spill_MiB  action" +:
      actions.map(a =>
        f"  ${a.wallMs}%8d ${a.fixedMs(cores)}%6d ${a.jobs}%4d ${a.stages}%4d " +
          f"${a.tasks}%5d ${a.runMs}%7d ${a.shuffleWriteBytes / 1048576.0}%8.2f " +
          f"${a.spillBytes / 1048576.0}%9.2f  ${if (a.nested) "> " else ""}" +
          a.description)

  /** Run `body` and report every action, job, stage and task it caused. */
  def measure(spark: SparkSession)(body: => Any): Report = {
    val sc = spark.sparkContext
    val tag = s"graft-trace-${java.util.UUID.randomUUID()}"
    val listener = new Listener(tag)
    sc.addSparkListener(listener)
    val t0 = System.nanoTime()
    sc.addJobTag(tag)
    try body
    finally {
      sc.removeJobTag(tag)
      org.apache.spark.sql.graft.Bridge.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    listener.report((System.nanoTime() - t0) / 1000000L, sc.defaultParallelism)
  }

  private final class Counts {
    var jobs, stages, tasks = 0
    var runMs, inputRecords, shuffleWriteBytes, spillBytes = 0L
  }

  /** Collects the tagged events. The bus delivers on one thread; the
    * lock only publishes the maps to the reader after the drain. */
  private final class Listener(tag: String) extends SparkListener {
    private final class Exec(val description: String, val nested: Boolean,
                             val start: Long) {
      var end = start
      val counts = new Counts
    }
    private val execs = mutable.LinkedHashMap.empty[Long, Exec]
    private val outside = new Counts
    private val stageCounts = mutable.HashMap.empty[Int, Counts]

    private def countsOf(execId: Option[Long]): Counts =
      execId.flatMap(execs.get).map(_.counts).getOrElse(outside)

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) =>
          execs(s.executionId) = new Exec(s.description.trim.replaceAll("\\s+", " "),
            s.rootExecutionId.exists(_ != s.executionId), s.time)
        case x: SparkListenerSQLExecutionEnd =>
          execs.get(x.executionId).foreach(_.end = x.time)
        case _ =>
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      if (tags.exists(_.split(',').contains(tag))) {
        val c = countsOf(props.flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong))
        c.jobs += 1
        e.stageIds.foreach(stageCounts(_) = c)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized(stageCounts.get(e.stageInfo.stageId).foreach(_.stages += 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageCounts.get(e.stageId).foreach { c =>
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.runMs += m.executorRunTime
          c.inputRecords += m.inputMetrics.recordsRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    def report(wallMs: Long, cores: Int): Report = synchronized {
      val actions = execs.values.toSeq.map { x =>
        val c = x.counts
        Action(x.description, x.nested, x.end - x.start, c.jobs, c.stages,
          c.tasks, c.runMs, c.inputRecords, c.shuffleWriteBytes, c.spillBytes)
      }
      val all = execs.values.map(_.counts).toSeq :+ outside
      Report(wallMs, cores, actions, all.map(_.jobs).sum, all.map(_.stages).sum,
        all.map(_.tasks).sum, all.map(_.runMs).sum, all.map(_.inputRecords).sum,
        all.map(_.shuffleWriteBytes).sum, all.map(_.spillBytes).sum)
    }
  }
}
