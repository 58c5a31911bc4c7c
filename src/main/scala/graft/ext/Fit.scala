package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed MODEL TRAINING with engine-exact arithmetic: full-batch
  * gradient descent for a linear probe (the classifier/regressor head a
  * data pipeline trains over engineered document features — quality
  * probes, filter heads, reward proxies), run entirely in scaled-BIGINT
  * fixed point so the whole optimization TRAJECTORY — every weight of
  * every iteration — is bit-identical on any engine, partitioning, or
  * summation order, and a SQL oracle can replay it step for step.
  *
  * Why exact: float GD accumulates per-shuffle-order rounding into the
  * weights, which compounds across iterations — two runs of the same job
  * agree only approximately, and an oracle can't value-check the result at
  * all. Integer GD makes training a deterministic query: weights are
  * `round(w · 2^scaleBits)`, residuals/gradients are exact integer sums,
  * and the learning-rate step is a truncating division (Scala `Long./`
  * truncates toward zero; the oracle mirrors it as sign-split floor
  * division, the km1 convention).
  *
  * The math, per iteration (X integer features, y integer target, S = 2^s,
  * η = 2^-e): R_i = Σ_j X_ij·W_j − y_i·S (scale S); G_j = Σ_i X_ij·R_i;
  * W_j ← W_j − G_j div (n·2^e); loss = Σ R_i² (reported at scale S²).
  * Overflow headroom: with |x| ≤ 100, |y| ≤ 1000, s = 16, residuals stay
  * < 2^26, per-row gradient terms < 2^33, and the global sums < 2^33·n —
  * Long-safe past 10⁹ rows; R² < 2^52 stays exactly representable in the
  * double the decimal accumulator ingests.
  *
  * Scale shape (the km1 discipline): one aggregate pass per iteration
  * over a persisted feature projection — map-side partials reduce each
  * partition to ONE row of (k gradients, n, loss), so per-iteration
  * shuffle and driver state are O(k). Choose η below 2/λ_max(XᵀX/n)
  * (≈ 2/(k·max|x|²)) or the descent oscillates; the spec pins a strictly
  * decreasing loss curve.
  */
object Fit {

  /** Train `iters` full-batch GD steps from W = 0; returns one row per
    * iteration: (iter, w_0..w_{k-1} scaled by 2^scaleBits, loss). */
  def linearProbeGd(df: DataFrame, features: Seq[Column], target: Column,
                    iters: Int, scaleBits: Int = 16, etaBits: Int = 15): DataFrame =
    linearProbeGdFrom(df, features, target, iters, scaleBits, etaBits,
      Array.fill(features.size)(0L), startIter = 1)

  /** The GD loop with an explicit STARTING STATE — what makes the stored
    * model artifact's extend verb provably ≡ continuous training:
    * full-batch GD is MARKOVIAN in the weight vector (iteration t+1
    * depends on nothing but W_t and the fixed corpus), so resuming from
    * the stored last weights replays the identical trajectory a longer
    * run would have produced, bit for bit — the bpe5 contract with
    * weights instead of merge state. */
  private def linearProbeGdFrom(df: DataFrame, features: Seq[Column],
                                target: Column, iters: Int, scaleBits: Int,
                                etaBits: Int, init: Array[Long],
                                startIter: Int): DataFrame = {
    require(features.nonEmpty && iters >= 1)
    require(init.length == features.size)
    val k = features.size
    val spark = df.sparkSession
    val s = 1L << scaleBits
    val x = graft.core.Par.fanOut(df.select(
        features.zipWithIndex.map { case (c, i) => c.cast("long").as(s"x$i") } :+
        target.cast("long").as("y"): _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var w = init.clone()
      val rows = (startIter until startIter + iters).map { it =>
        val r = (0 until k).map(j => col(s"x$j") * lit(w(j))).reduce(_ + _) -
          col("y") * lit(s)
        val aggs = (0 until k).map(j =>
          sum(col(s"x$j") * r).as(s"g$j")) :+
          count(lit(1)).as("n") :+
          // R² < 2^52 is integer-exact in double; the decimal accumulator
          // keeps the SUM exact at any row count
          graft.core.Num.dsum((r * r).cast("double")).as("loss")
        val row = x.agg(aggs.head, aggs.tail: _*).collect()(0)
        val n = row.getAs[Long]("n")
        val loss = row.getAs[Double]("loss")
        val div = n * (1L << etaBits)
        // Scala Long division truncates toward zero for either sign; the
        // oracle mirrors it as sign-split floor division (DuckDB // floors)
        w = Array.tabulate(k)(j => w(j) - row.getAs[Long](s"g$j") / div)
        (it.toLong, w.toSeq, loss)
      }
      import spark.implicits._
      rows.map { case (it, ws, loss) => (it, ws, loss) }
        .toDF("iter", "w", "loss")
        .select(col("iter") +:
          (0 until k).map(j => col("w").getItem(j).as(s"w$j")) :+
          col("loss"): _*)
    } finally x.unpersist(blocking = false)
  }

  /** BUILD the stored PROBE MODEL artifact — the model-registry tier
    * (the tokenizer tier's lifecycle for trained weights: at scale the
    * corpus-sized training passes are the expensive step and must be
    * build-once; every scoring job then reads k weights, never the
    * corpus). The full integer TRAJECTORY persists — one row per
    * iteration — which makes time travel structurally free exactly as
    * the BPE merge list does: version v of the model IS the
    * iteration-v row, no per-version copy. Layout: `weights/`
    * (iter, w_0..w_{k-1}, loss), `meta/` (k, scale_bits, eta_bits).
    * Committed all-or-nothing via stageCommit. */
  def writeProbeModel(df: DataFrame, features: Seq[Column], target: Column,
                      iters: Int, dir: String, scaleBits: Int = 16,
                      etaBits: Int = 15): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val traj = linearProbeGd(df, features, target, iters, scaleBits, etaBits)
    graft.core.Artifacts.stageCommit(spark, dir) { tmp =>
      traj.coalesce(1).write.parquet(s"$tmp/weights")
      Seq((features.size, scaleBits, etaBits))
        .toDF("k", "scale_bits", "eta_bits")
        .coalesce(1).write.parquet(s"$tmp/meta")
    }
  }

  /** CONTINUE training from the stored state — provably ≡ training all
    * iterations in one run, because full-batch GD is MARKOVIAN in the
    * weights (see [[linearProbeGdFrom]]); the trajectory extends by
    * `extraIters` rows and the whole artifact swaps as one unit (the
    * extendBpeVocab discipline — no crash window mixes old weights
    * with a new meta). The corpus argument must be the SAME training
    * population (the contract continuous-equivalence rests on — loud
    * scaladoc, not enforceable from k weights alone). */
  def extendProbeModel(spark: org.apache.spark.sql.SparkSession,
                       dir: String, df: DataFrame, features: Seq[Column],
                       target: Column, extraIters: Int): Unit = {
    import spark.implicits._
    require(extraIters >= 1)
    graft.core.Artifacts.heal(spark, dir)
    val meta = spark.read.parquet(s"$dir/meta").head()
    val (k, sb, eb) = (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    require(k == features.size,
      s"extendProbeModel: artifact trained on $k features, ${features.size} given")
    val old = spark.read.parquet(s"$dir/weights")
    val last = old.orderBy(col("iter").desc).limit(1).head()
    val init = Array.tabulate(k)(j => last.getAs[Long](s"w$j"))
    val grown = linearProbeGdFrom(df, features, target, extraIters, sb, eb,
      init, startIter = last.getAs[Long]("iter").toInt + 1)
    graft.core.Artifacts.swapInto(spark, dir) { tmp =>
      old.unionByName(grown).coalesce(1).write.parquet(s"$tmp/weights")
      Seq((k, sb, eb)).toDF("k", "scale_bits", "eta_bits")
        .coalesce(1).write.parquet(s"$tmp/meta")
    }
  }

  /** The stored weight vector at the trained head, or AS OF iteration
    * `asOf` — a bounded driver read (iters × k longs). Pins beyond the
    * trained head, or at/below 0, fail loudly. */
  def probeWeights(spark: org.apache.spark.sql.SparkSession,
                   dir: String, asOf: Option[Long] = None): Seq[Long] = {
    graft.core.Artifacts.heal(spark, dir)
    val k = spark.read.parquet(s"$dir/meta").head().getInt(0)
    val rows = spark.read.parquet(s"$dir/weights").orderBy("iter").collect()
    require(rows.nonEmpty, s"probeWeights: $dir holds no trajectory")
    val head = rows.last.getAs[Long]("iter")
    val pin = asOf.getOrElse(head)
    require(pin >= 1 && pin <= head,
      s"probeWeights: iteration $pin of $dir does not exist " +
        s"(trained head = $head)")
    val r = rows.find(_.getAs[Long]("iter") == pin).getOrElse(
      throw new IllegalArgumentException(
        s"probeWeights: trajectory of $dir is missing iteration $pin"))
    (0 until k).map(j => r.getAs[Long](s"w$j"))
  }

  /** SCORE a corpus against the stored model (optionally a PINNED
    * iteration): the cur5 projection with the artifact's weights as
    * literals — pure codegen'd fixed point, zero training work. */
  def scoreFromProbeModel(df: DataFrame, id: Column, features: Seq[Column],
                          dir: String, tauScaled: Long,
                          asOf: Option[Long] = None): DataFrame = {
    val w = probeWeights(df.sparkSession, dir, asOf)
    val score = features.zipWithIndex
      .map { case (c, j) => c.cast("long") * lit(w(j)) }.reduce(_ + _)
    df.select(id.as("doc_id"), score.as("score"),
      (score >= lit(tauScaled)).cast("int").as("kept"))
  }
}
