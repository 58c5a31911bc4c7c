package graft

import org.apache.spark.sql.functions._

/** Round-7 additions, part 3: Pareto-frontier curation (par1) and
  * trigram stupid-backoff coverage (lm2).
  *
  * The frontier test is the load-bearing one: the bucketed suffix-max
  * skyline must equal the O(n²) strict-dominance definition on hostile
  * inputs — duplicate points, negative coordinates, cell-boundary values
  * (x exactly at k·bucketWidth), and a bucketWidth of 1 (every cell a
  * singleton, the cross-cell screen doing all the work) — not just on
  * well-spread data.
  */
class Round7cSpec extends SparkSpec {

  private def brute(pts: Seq[(Long, Long, Long)]): Set[Long] =
    pts.filter { case (_, x, y) =>
      !pts.exists { case (_, qx, qy) => qx > x && qy > y }
    }.map(_._1).toSet

  test("paretoFrontier equals brute-force strict dominance") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pts = (0L until 400L).map { i =>
      (i, rnd.nextInt(300).toLong - 50L, rnd.nextInt(300).toLong - 50L)
    } ++ Seq((1000L, 64L, 10L), (1001L, 64L, 10L), // exact duplicates
      (1002L, 128L, 7L), (1003L, 127L, 7L))        // cell-boundary pair
    val df = pts.toDF("id", "x", "y")
    for (w <- Seq(1L, 7L, 64L, 1000000L)) {
      val got = ext.Curation.paretoFrontier(df, $"id", $"x", $"y", w)
        .select("doc_id").as[Long].collect().toSet
      assert(got == brute(pts), s"bucketWidth=$w: ${got.diff(brute(pts))} " +
        s"extra, ${brute(pts).diff(got)} missing")
    }
  }

  test("paretoFrontier: ties never dominate; nulls excluded") {
    import spark.implicits._
    val df = Seq((1L, Some(10L), Some(5L)), (2L, Some(10L), Some(5L)),
      (3L, Some(10L), Some(4L)), (4L, None, Some(9L)))
      .toDF("id", "x", "y")
    val got = ext.Curation.paretoFrontier(df, $"id", $"x", $"y")
      .select("doc_id").as[Long].collect().toSet
    // 1 and 2 tie (neither dominates); 3 shares x=10 so nothing STRICTLY
    // beats it on both axes either; 4 has a null criterion → excluded
    assert(got == Set(1L, 2L, 3L))
  }

  test("saltedEquiJoin equals the plain inner join (dups, nulls, any salt)") {
    import spark.implicits._
    val fact = Seq((1L, Some(10L), 1.0), (2L, Some(10L), 2.0),
      (3L, Some(20L), 3.0), (4L, None, 4.0), (5L, Some(99L), 5.0))
      .toDF("rid", "k", "v")
    // duplicate dim key 10 (multiplies), no dim row for 99 (drops)
    val dim = Seq((Some(10L), "a"), (Some(10L), "b"), (Some(20L), "c"),
      (None, "n")).toDF("dk", "tag")
    val plain = fact.join(dim, $"k" === $"dk")
      .select("rid", "k", "v", "tag").as[(Long, Long, Double, String)]
      .collect().sorted.toSeq
    for (n <- Seq(1, 3, 16)) {
      val got = core.Skew.saltedEquiJoin(fact, "k", $"rid", dim, "dk", n)
        .select("rid", "k", "v", "tag").as[(Long, Long, Double, String)]
        .collect().sorted.toSeq
      assert(got == plain, s"nSalts=$n")
    }
  }

  test("matchComponents: key leg, name leg, transitive closure, singletons") {
    import spark.implicits._
    val recs = Seq(
      (1L, "alpha beta gamma delta epsilon", Some("K1")),
      (2L, "zz alpha beta gamma delta epsilon", None), // J=5/6 vs 1 → name leg
      (3L, "totally different words here", Some("K1")), // key leg → 1
      (4L, "unrelated thing", None),                    // singleton
      (5L, "alpha beta", None))                         // J=2/5 vs 1 → below 0.6
      .toDF("id", "name", "sku")
    val got = ext.EntityResolution.matchComponents(recs, "id", "name", "sku")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L), got)
  }

  test("backoffCoverage: hand-checked cascade on a tiny corpus") {
    import spark.implicits._
    val lm = Seq((0L, "a b c d")).toDF("doc_id", "text")
    // positions of "a b c x b c": (a b c)=tri-hit, (b c x)=miss all the
    // way to uni? c x -> bi miss, x -> uni miss => oov; (c x b): bi "x b"
    // miss, uni "b" hit => uni; (x b c): bi "b c" hit => bi
    val scored = Seq((1L, "a b c x b c")).toDF("doc_id", "text")
    val r = ext.TextAnalysis.backoffCoverage(lm, scored, "doc_id", "text")
      .select("n_pos", "n_tri", "n_bi", "n_uni", "n_oov", "coverage")
      .as[(Long, Long, Long, Long, Long, Double)].head()
    assert(r == ((4L, 1L, 1L, 1L, 1L, (3.0 + 2.0 + 1.0) / 12.0)), r.toString)
  }

  test("Forget: tombstone appends merge; compact preserves the living view") {
    import spark.implicits._
    val dir = core.Scratch.dir("forget-spec-")
    (0L until 20L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .write.parquet(s"$dir/arch")
    // two overlapping requests — the tombstone set is {0,4,8,12,16,2}
    ext.Forget.forget(Seq(0L, 4L, 8L).toDF("doc_id"), "doc_id", s"$dir/tomb")
    ext.Forget.forget(Seq(4L, 12L, 16L, 2L).toDF("doc_id"), "doc_id", s"$dir/tomb")
    def living() = ext.Forget.applyTombstones(
      spark.read.parquet(s"$dir/arch"), "doc_id", s"$dir/tomb")
      .select("doc_id").as[Long].collect().toSet
    val before = living()
    assert(before == (0L until 20L).toSet -- Set(0L, 2L, 4L, 8L, 12L, 16L))
    ext.Forget.compact(spark, s"$dir/arch", "doc_id", s"$dir/tomb")
    assert(living() == before, "compaction changed the living view")
    assert(!new java.io.File(s"$dir/tomb").exists(), "tombstones not cleared")
    assert(spark.read.parquet(s"$dir/arch").count() == before.size,
      "physical rewrite kept dead rows")
  }

  test("Forget: a compact crashed mid-swap heals on the next compact") {
    import spark.implicits._
    val dir = core.Scratch.dir("forget-crash-spec-")
    (0L until 20L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .write.parquet(s"$dir/arch")
    ext.Forget.forget(Seq(3L, 5L, 11L).toDF("doc_id"), "doc_id", s"$dir/tomb")
    def living() = ext.Forget.applyTombstones(
      spark.read.parquet(s"$dir/arch"), "doc_id", s"$dir/tomb")
      .select("doc_id").as[Long].collect().toSet
    val before = living()
    // a crash between the swap's two renames: the only copy sits aside
    assert(new java.io.File(s"$dir/arch")
      .renameTo(new java.io.File(s"$dir/arch__old")))
    ext.Forget.compact(spark, s"$dir/arch", "doc_id", s"$dir/tomb")
    assert(!new java.io.File(s"$dir/arch__old").exists(), "aside not cleared")
    assert(!new java.io.File(s"$dir/tomb").exists(), "tombstones not cleared")
    assert(living() == before, "the healed compact changed the living view")
    assert(spark.read.parquet(s"$dir/arch").count() == before.size,
      "physical rewrite kept dead rows")
  }

  test("kCorePeel: pendant peels off, core survives at adaptive k") {
    import spark.implicits._
    // triangle {1,2,3} plus pendant 4-1: avg deg = 2 → k = 2·3/4+1 = 2;
    // round 1 removes node 4 (deg 1), the triangle is stable thereafter
    val p = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
    val edges = (p ++ p.map(_.swap)).toDF("src", "dst")
    val got = ext.Graph.kCorePeel(edges, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), got)
  }

  test("resampleInterp: gaps ramp linearly between observed buckets") {
    import spark.implicits._
    val df = Seq(("2024-01-01 00:00:30", "u", 10.0),
      ("2024-01-01 00:03:10", "u", 40.0))
      .toDF("ts", "key", "value")
      .select(col("ts").cast("timestamp").as("ts"), col("key"), col("value"))
    val got = graft.queries.TimeSeries.resampleInterp(df, col("key"),
        col("ts"), col("value"), bucketSeconds = 60L)
      .orderBy("bucket_ts")
      .select("interp_sum", "is_gap")
      .as[(Double, Int)].collect().toSeq
    assert(got == Seq((10.0, 0), (20.0, 1), (30.0, 1), (40.0, 0)), got)
  }

  test("backoffCoverage: short docs (< 3 tokens) produce no rows") {
    import spark.implicits._
    val lm = Seq((0L, "a b c")).toDF("doc_id", "text")
    val scored = Seq((1L, "a b"), (2L, ""), (3L, "a b c")).toDF("doc_id", "text")
    val ids = ext.TextAnalysis.backoffCoverage(lm, scored, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(3L))
  }
}
