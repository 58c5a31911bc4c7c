package perfbench

import org.apache.spark.sql.SparkSession

/** One workload: a setup that builds the state the timed loop starts
  * from, and a closed loop of operations (one client: the next operation
  * starts when the previous one completes). */
trait Workload {
  /** What one unit of `throughput_per_s` counts. */
  def unit: String

  /** Write the generated inputs under `dir` and compute their expected
    * results, without Spark. Runs while the session starts. */
  def generate(dir: String): Unit = ()

  /** Build the starting state under `dir` from the generated inputs,
    * including a warm-up operation. */
  def setup(spark: SparkSession, dir: String): Unit

  /** Release what setup started (streaming queries) before the session stops. */
  def teardown(): Unit = ()

  /** Untimed preparation of operation `i` (its input file, say). */
  def prepare(i: Int): Unit = ()

  /** Timed operation `i`; returns the units it processed. */
  def op(i: Int): Long

  /** Untimed check of operation `i`'s outputs; returns the problems found. */
  def checkOp(i: Int): Seq[String]

  /** Timed work once the run is half over (a takedown, say). */
  def midRun(): Unit = ()

  /** Timed work that ends the run (a final compaction, say). */
  def finish(): Unit = ()

  /** Untimed end-of-run checks; returns the problems found. */
  def finalChecks(): Seq[String]

  /** Directories whose bytes on disk make `store_mb`. */
  def storeRoots: Seq[String]

  /** Store gauges read through the Hadoop FileSystem. */
  def storeGauges(): Map[String, Double] = Map.empty

  /** Whether `finish` and `midRun` count in the throughput's time. */
  def throughputIncludesMaintenance: Boolean = false
}

object Workload {
  def apply(name: String, seed: Long, tr: Tracer): Workload = name match {
    case "telemetry_stream" => new TelemetryStream(seed, tr)
    case "telemetry_batch" => new TelemetryBatch(seed, tr)
    case "corpus_ingest" => new CorpusIngest(seed, tr)
    case "corpus_query" => new CorpusQuery(seed, tr)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Run a set-up step and log its wall time to stderr. */
  def step[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"[perfbench]   $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** Bytes and files under a directory, listed through Hadoop FileSystem. */
  def du(spark: SparkSession, dir: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0L, 0L)
    else {
      val it = fs.listFiles(p, true)
      var bytes = 0L; var files = 0L
      while (it.hasNext) { val f = it.next(); bytes += f.getLen; files += 1 }
      (bytes, files)
    }
  }

  /** Committed child directories (not staging `__tmp`, not hidden). */
  def committed(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(s => s.isDirectory && !s.getPath.getName.endsWith("__tmp") &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
  }
}
