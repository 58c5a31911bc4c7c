package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage-level timing of the stored-postings lifecycle at sf0.1 — the
  * ret4/ret7/ret8/ret9s cost attribution (and the postings legs of
  * pipe1s/pipe2s/pipe3s). Two rounds in one JVM; round 1 is the warm
  * attribution. Also counts Spark ACTIONS per phase via a
  * QueryExecutionListener (the Round15Spec device) — at sf0.1 the
  * corpus is 5 000 docs, so these phases are job-overhead-bound and the
  * action count is the number that predicts the bench second.
  * Run: SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.ProfileRet [sfDir]" */
object ProfileRet {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit = actions.incrementAndGet()
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = actions.incrementAndGet()
      })
    def t[A](label: String)(f: => A): A = {
      Thread.sleep(300) // listener delivery is async
      val a0 = actions.get()
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"[ret-prof] $label%-34s $dt%7.2f s  actions=${actions.get() - a0}")
      r
    }
    for (round <- 0 until 2) {
      println(s"[ret-prof] ===== round $round =====")
      val docs = graft.core.Tables.documents(spark, sfDir)
      val dir = graft.core.Scratch.dir("retprof-")
      t("build (even half)") {
        graft.ext.Retrieval.writePostingsIndex(
          docs.where(col("doc_id") % 2 === 0), "doc_id", "text", dir)
      }
      t("append (odd half)") {
        graft.ext.Retrieval.appendToPostingsIndex(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text", dir)
      }
      t("append (redelivered, no-op)") {
        graft.ext.Retrieval.appendToPostingsIndex(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text", dir)
      }
      val qs = Seq(0 -> Seq("spark", "join", "table"),
        1 -> Seq("hash", "merge", "sort"),
        2 -> Seq("stream", "window", "batch"))
      t("query head (bm25TopKFromIndex)") {
        graft.ext.Retrieval.bm25TopKFromIndex(spark, qs, dir, k = 5)
          .write.format("noop").mode("overwrite").save()
      }
      t("query asOf=0 (bm25TopKFromIndex asOf)") {
        graft.ext.Retrieval.bm25TopKFromIndex(spark, qs, dir, asOf = Some(0L),
          k = 5).write.format("noop").mode("overwrite").save()
      }
      t("forget quarter + compact") {
        val doomed = docs.where(col("doc_id") % 4 === 2).select("doc_id")
        graft.ext.Retrieval.forgetFromPostingsIndex(doomed, "doc_id", dir)
        graft.ext.Retrieval.compactPostingsIndex(spark, dir)
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
