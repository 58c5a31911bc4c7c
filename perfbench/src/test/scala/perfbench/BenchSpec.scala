package perfbench

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private def streamInputs(seed: Long): (Seq[String], Map[(String, Long, String), Long]) = {
    val t = new Gen.Telemetry(seed)
    val msgs = (0 until 3).flatMap(i => Gen.streamFile(t, seed, i, 500, 30000L))
    (msgs.map(t.json), Gen.windowSums(msgs.iterator, 90000L, Seq("a" -> (_.antenna), "u" -> (_.id))))
  }

  private def corpusInputs(seed: Long): (Seq[String], Set[Long]) = {
    val c = new Gen.Corpus(seed)
    val ev = c.evalSuite(10)
    val st = new Gen.CorpusState(ev)
    val build = c.build(200, ev)
    st.applyBuild(build)
    val b1 = c.batch(1, 1000, 50, st.seenContent.toIndexedSeq, ev)
    st.applyBatch(b1)
    ((build ++ b1).map(Gen.docJson).toSeq, st.living.keySet.toSet)
  }

  test("the same seed gives byte-identical inputs and expectations; another seed does not") {
    assert(streamInputs(7) == streamInputs(7))
    assert(streamInputs(7)._1 != streamInputs(8)._1)
    assert(streamInputs(7)._2 != streamInputs(8)._2)
    val t = new Gen.Telemetry(7)
    assert(Gen.archiveHour(t, 7, 0, 1000).toSeq == Gen.archiveHour(new Gen.Telemetry(7), 7, 0, 1000).toSeq)
    assert(Gen.quotaViolations(t, Gen.archiveHour(t, 7, 0, 5000)) ==
      Gen.quotaViolations(t, Gen.archiveHour(t, 7, 0, 5000)))
    assert(corpusInputs(7) == corpusInputs(7))
    assert(corpusInputs(7)._1 != corpusInputs(8)._1)
    assert(corpusInputs(7)._2 != corpusInputs(8)._2)
  }

  test("stream files stay within the watermark: no message is late") {
    val t = new Gen.Telemetry(3)
    val files = (0 until 20).map(i => Gen.streamFile(t, 3, i, 300, 30000L))
    files.sliding(2).foreach { case Seq(a, b) =>
      assert(b.map(_.tsMillis).min > a.map(_.tsMillis).max - 15000L)
    }
  }

  test("planted contamination and redeliveries are screened out of the index tiers") {
    val c = new Gen.Corpus(5)
    val ev = c.evalSuite(10)
    val st = new Gen.CorpusState(ev)
    st.applyBuild(c.build(300, ev))
    val before = st.seenContent.toSet
    val b = c.batch(1, 10000, 200, before.toIndexedSeq, ev)
    val indexed = st.applyBatch(b).map(_.id).toSet
    val redelivered = b.filter(d => before(d.content))
    assert(redelivered.nonEmpty && redelivered.forall(d => !indexed(d.id)))
    val planted = b.filter(st.contaminated)
    assert(planted.nonEmpty && planted.forall(d => !indexed(d.id)))
  }

  test("tail: the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(xs).contains((99.0, 990.0, 10)))
    assert(Stats.tail((1 to 200).map(_.toDouble)).contains((95.0, 190.0, 10)))
    assert(Stats.tail((1 to 100).map(_.toDouble)).contains((90.0, 90.0, 10)))
    assert(Stats.tail((1 to 20).map(_.toDouble)).contains((50.0, 10.0, 10)))
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("neighbour check rejects a wrong cosine, a dead neighbour and a self match") {
    val c = new Gen.Corpus(2)
    val r = Gen.rng(2, "t")
    val docs = (1L to 3L).map(i => i -> c.doc(r, i, "a b c")).toMap
    val good = Seq((1L, 2L, math.round(Gen.cosine(docs(1).emb, docs(2).emb) * 1e4) / 1e4))
    assert(CorpusIO.checkNeighbours("t", good, docs).isEmpty)
    assert(CorpusIO.checkNeighbours("t", Seq((1L, 2L, good.head._3 + 0.01)), docs).nonEmpty)
    assert(CorpusIO.checkNeighbours("t", Seq((1L, 9L, 0.5)), docs).nonEmpty)
    assert(CorpusIO.checkNeighbours("t", Seq((1L, 1L, 1.0)), docs).nonEmpty)
  }

  test("a corrupted batch output fails the correctness check") {
    val work = Files.createTempDirectory(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")), "perfbench-spec").toFile
    val spark = Main.session(work.getPath)
    try {
      val wl = new TelemetryBatch(11, new Tracer, msgsPerHour = 3000)
      wl.generate(s"$work/data")
      wl.setup(spark, s"$work/data")
      assert(wl.op(0) == 3000L)
      assert(wl.checkOp(0).isEmpty)
      val app = s"$work/data/out/app_bytes_total"
      val bumped = spark.read.parquet(app)
        .withColumn("value", when(col("id") === "app-00", col("value") + 1).otherwise(col("value")))
        .collect()
      spark.createDataFrame(java.util.Arrays.asList(bumped: _*), spark.read.parquet(app).schema)
        .write.mode("overwrite").parquet(app + "_tmp")
      org.apache.commons.io.FileUtils.deleteDirectory(new File(app))
      assert(new File(app + "_tmp").renameTo(new File(app)))
      assert(wl.checkOp(0).nonEmpty)
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(work)
    }
  }
}
