package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** The reference's whole aggregation surface (survey §2.5 A1-A7): tumbling
  * event-time window + one grouping dimension + sum, projected onto the
  * unified output schema `(timestamp, id, value, type)`
  * (`StreamingJobImpl.scala:43-77`, `BatchJobImpl.scala:46-88`).
  *
  * Parameterized over group column, window duration and type tag — the
  * reference hardwires seven copies of this one shape; we keep one
  * implementation.
  *
  * Scale notes:
  *  - `groupBy(dim, window(ts, d))` compiles to partial HashAggregate →
  *    shuffle on (dim, window) → final HashAggregate. Map-side combine
  *    collapses each partition to ~|dims × windows-per-partition| rows
  *    before the shuffle, so shuffled bytes are bounded by group
  *    cardinality, not input rows — the right shape at 100 TB.
  *  - Skewed dims (one hot antenna) are handled by AQE skew handling; the
  *    partial aggregate already absorbs most of the skew.
  */
object Agg {

  /** The one aggregation shape everything shares: groupBy(dim, windowExpr)
    * → agg → unified `(timestamp = window.start, id, value, type)`. Every
    * public variant differs only in the window and the aggregate — a single
    * body keeps the contract in one place (the reference hardwires seven
    * copies of it). */
  private def unified(df: DataFrame, dim: Column, windowExpr: Column,
                      aggValue: Column, typeTag: String): DataFrame =
    toUnified(df.groupBy(dim.as("id"), windowExpr.as("w"))
      .agg(aggValue.as("value")), typeTag)

  /** The unified projection itself, over any aggregate with columns `id`,
    * `w` (a window struct) and `value` — shared with the consumers of
    * [[windowedSumSets]], so the output contract has one definition. */
  private[graft] def toUnified(agg: DataFrame, typeTag: String): DataFrame =
    agg.select(
      col("w.start").as("timestamp"),
      col("id"),
      col("value"),
      lit(typeTag).as("type"))

  /** Tumbling-window sum. The sum is exact-decimal (see [[Num.dsum]]) so
    * results are order-independent and reproducible. */
  def windowedSum(df: DataFrame, dim: Column, ts: Column, dur: String,
                  value: Column, typeTag: String): DataFrame =
    unified(df, dim, window(ts, dur), Num.dsum(value), typeTag)

  /** Tumbling-window sums over SEVERAL groupings in one pass: Catalyst's
    * GROUPING SETS plan one scan, one `Expand` and one shuffle, where a
    * [[windowedSum]] per grouping scans and shuffles its input once each.
    * `keys` names every grouping column; each of `sets` lists the key names
    * it groups by, and the window `w` joins every set. The result has one
    * column per key (null where the row's set does not group by it), `w`,
    * `value` — a double sum bit-identical to the standalone [[windowedSum]]
    * of each set — and `set`, the index of the row's grouping in `sets`.
    * `set` is read off `grouping_id()`, not off which keys are null, so a
    * null key value stays a group of its own, and two keys may bind the
    * same column.
    *
    * The sum follows the value column's type. An integral column (`Byte`,
    * `Short`, `Integer`, `Long`) sums as LONG and casts to double once, as
    * [[windowedSumLong]] does: exact, and it spares every `Expand` row the
    * DECIMAL(30,6) cast and decimal add. The result equals [[Num.dsum]]'s
    * bit for bit while |sum| < 2^53, where both are the exact integer. A
    * fractional column keeps [[Num.dsum]]. */
  def windowedSumSets(df: DataFrame, keys: Seq[(String, Column)],
                      sets: Seq[Seq[String]], ts: Column, dur: String,
                      value: Column): DataFrame = {
    // a repeated set would share its grouping id with the first one
    require(sets.distinct.size == sets.size, s"repeated grouping set in $sets")
    val names = keys.map(_._1) :+ "w"
    // grouping_id() sets bit (n-1-i) when the i-th grouping column is not
    // in the row's set
    def gid(set: Seq[String]): Long = names.indices
      .collect { case i if !set.contains(names(i)) => 1L << (names.size - 1 - i) }.sum
    val setOfGid = sets.zipWithIndex.map { case (s, i) => gid(s :+ "w") -> i }.toMap
    val rows = df.select(keys.map { case (n, c) => c.as(n) } :+
      window(ts, dur).as("w") :+ value.as("value"): _*)
    val total = rows.schema("value").dataType match {
      case ByteType | ShortType | IntegerType | LongType => sum(col("value")).cast("double")
      case _ => Num.dsum(col("value"))
    }
    rows.groupingSets(sets.map(s => (s :+ "w").map(col)), names.map(col): _*)
      .agg(total.as("value"), grouping_id().as("gid"))
      .select(names.map(col) :+ col("value") :+
        element_at(typedLit(setOfGid), col("gid")).as("set"): _*)
  }

  /** Sliding-window variant (duration > slide ⇒ each row lands in
    * duration/slide windows). The reference only uses tumbling windows;
    * this rounds out the window surface. */
  def windowedSumSliding(df: DataFrame, dim: Column, ts: Column, dur: String,
                         slide: String, value: Column, typeTag: String): DataFrame =
    unified(df, dim, window(ts, dur, slide), Num.dsum(value), typeTag)

  /** Same shape for an integral value column (the reference sums LongType
    * bytes — no decimal dance needed for exact integer sums). */
  def windowedSumLong(df: DataFrame, dim: Column, ts: Column, dur: String,
                      value: Column, typeTag: String): DataFrame =
    unified(df, dim, window(ts, dur), sum(value), typeTag)

  /** Session-window (gap-based) sum — used by the speed layer. */
  def windowedSumSession(df: DataFrame, dim: Column, ts: Column, gap: String,
                         value: Column, typeTag: String): DataFrame =
    unified(df, dim, session_window(ts, gap), Num.dsum(value), typeTag)

  /** Two-stage SALTED sum for pathologically skewed keys: stage 1 groups by
    * (key, salt) — salt derived deterministically from a high-cardinality
    * column — spreading one hot key across `nSalts` reducers; stage 2
    * re-sums the per-salt partials by key alone. AQE's skew handling splits
    * skewed JOIN partitions, but a skewed aggregation key still funnels its
    * entire post-combine partial stream into ONE reducer; salting is the
    * standard fix when a hot key (one antenna carrying 30% of a 100 TB
    * feed) overwhelms a single task. Exact-decimal partials ([[Num]]) make
    * the two-stage result bit-identical to the direct sum (associativity) —
    * a pure physical rewrite, oracle-checkable against the plain GROUP BY.
    */
  def saltedSum(df: DataFrame, key: Column, saltSrc: Column, nSalts: Int,
                value: Column, as: String): DataFrame = {
    require(nSalts > 0)
    df.groupBy(key.as("id"), pmod(xxhash64(saltSrc), lit(nSalts)).as("__salt"))
      .agg(Num.dsumDec(value).as("__part"))
      .groupBy("id").agg(sum(col("__part")).cast("double").as(as))
  }
}
