package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.{Scratch, Tables}
import graft.ext.{Dedup, Retrieval, Similarity}
import graft.streaming.Pipeline
import graft.streaming.Pipeline.Tier

/** Step timing of pipe1s_composed_pipeline or
  * pipe2s_decontaminated_pipeline: the row's own `Pipeline` declaration,
  * timed verb by verb — build, the three batch ingests (b1 = b0
  * redelivered plus planted content dups), the mid-stream takedown —
  * then the postings compact and the answer legs, each with the SQL
  * executions it ran (a QueryExecutionListener, drained until quiet).
  * Two rounds in one JVM; round 1 is the warm attribution. The batches
  * are driven directly, not through the file-source stream, so the
  * stream's own per-batch overhead is not in these numbers. Tiers build,
  * append and forget concurrently inside each verb, so a verb's time is
  * about that of its slowest tier.
  * Run: SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.ProfilePipe <pipe1s|pipe2s> <sfDir>"
  */
object ProfilePipe {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 && Set("pipe1s", "pipe2s")(args(0)),
      "usage: ProfilePipe <pipe1s|pipe2s> <sfDir>")
    val decon = args(0) == "pipe2s"
    val sfDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val actions = new AtomicInteger(0)
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        actions.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        actions.incrementAndGet()
    })
    // listener delivery is async: wait until the count is quiet
    def drained(): Int = {
      var last = actions.get(); var quietSince = System.currentTimeMillis
      while (System.currentTimeMillis - quietSince < 800) {
        Thread.sleep(100)
        val cur = actions.get()
        if (cur != last) { last = cur; quietSince = System.currentTimeMillis }
      }
      last
    }
    def t[A](label: String)(f: => A): A = {
      val a0 = drained(); val t0 = System.nanoTime()
      val r = f
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[pipe-prof] $label%-22s $secs%7.2f s ${drained() - a0}%4d actions")
      r
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    for (round <- 0 until 2) {
      println(s"[pipe-prof] ===== ${args(0)} round $round =====")
      val docs = Tables.documents(s, sfDir)
      val emb = Tables.embeddings(s, sfDir)
      val rec = docs.join(emb, docs("doc_id") === emb("vec_id"))
        .select(docs("doc_id"), col("text"), col("lang"), col("n_chars"),
          col("label"), col("embedding"))
      val dir0 = Scratch.dir("pipeprof-")
      if (decon) t("build: eval index") {
        val pu = docs.agg(max(col("doc_id"))).head().getLong(0) / 3 * 3 + 4
        val dt = docs.select("doc_id", "text")
        Dedup.writeContaminationIndex(dt.where(col("doc_id") % 20 === 3)
            .select((col("doc_id") + 5 * pu).as("doc_id"),
              concat(col("text"), lit(" evaltok")).as("text"))
            .union(dt.where(col("doc_id") % 50 === 7)
              .select((col("doc_id") + 6 * pu).as("doc_id"), col("text"))),
          "doc_id", "text", s"$dir0/evalidx")
      }
      val p = Pipeline(Some(s"$dir0/dedup"),
        col("lang") =!= "zh" && col("n_chars") >= 100,
        if (decon) Some(s"$dir0/evalidx") else None,
        Seq(Tier.postings(s"$dir0/postings"), Tier.ivf(s"$dir0/ivf")) ++
          (if (decon) Seq(Tier.pq(s"$dir0/pq", dims = 64, m = 4, ksub = 4,
            iters = 2)) else Nil) :+ Tier.knn(s"$dir0/knn", k = 3))
      val build = rec.where(col("doc_id") % 4 =!= 1)
      t("build")(p.build(build))
      val q = rec.where(col("doc_id") % 4 === 1)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
          col("embedding"))
      val s0 = q.where(pmod(col("doc_id"), lit(8)) === 1)
      val s1 = s0.unionByName(s0.select(
        (col("doc_id") + 1000000L).as("doc_id"), col("text"), col("lang"),
        col("n_chars"), col("embedding")))
      val s2 = q.where(pmod(col("doc_id"), lit(8)) === 5)
      println(s"[pipe-prof] b0 admitted ${t("ingest b0")(p.ingest(s0))}")
      println(s"[pipe-prof] b1 admitted ${t("ingest b1 (redelivery)")(p.ingest(s1))}")
      t("takedown")(p.forget(p.indexed(build)
        .where(col("doc_id") % 7 === 3).select("doc_id")))
      println(s"[pipe-prof] b2 admitted ${t("ingest b2")(p.ingest(s2))}")
      t("compact postings")(Retrieval.compactPostingsIndex(s, s"$dir0/postings"))
      val fetch = emb.select(col("vec_id"), col("embedding").as("v"))
      val queries = emb.where(col("vec_id") < 5)
      t("leg: bm25")(noop(Retrieval.bm25TopKFromIndex(s,
        Seq(0 -> Seq("spark", "join", "table"),
          1 -> Seq("hash", "merge", "sort"),
          2 -> Seq("stream", "window", "batch")), s"$dir0/postings", k = 5)))
      t("leg: ivf")(noop(Similarity.ivfQuantizedTopKFromIndex(
        s.read.parquet(s"$dir0/ivf/centroids"),
        Similarity.ivfLivingIndex(s, s"$dir0/ivf"), fetch, queries,
        "vec_id", "embedding", k = 10, nprobe = 3, shortlist = 30)))
      if (decon) t("leg: pq")(noop(Similarity.pqTopKFromIndex(s,
        s"$dir0/pq", fetch, queries, "vec_id", "embedding", k = 10,
        shortlist = 30)))
      t("leg: knn")(noop(Similarity.knnGraphFromIndex(s, s"$dir0/knn")))
      s.catalog.clearCache()
    }
    s.stop()
  }
}
