package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's quota-violation report (survey §2.5 A7 + §2.3 P8):
  * group by (email, quota, hourly window), sum usage, keep rows where usage
  * exceeds quota — a group-by + HAVING (`BatchJobImpl.scala:79-88`). Output
  * column order `(email, usage, quota, timestamp)` is part of the contract
  * (`BatchJobImpl.scala:86`).
  *
  * Catalyst plans the post-agg `where` as Filter-over-Aggregate (HAVING);
  * nothing custom needed. The filter cannot be pushed below the aggregate
  * (it references the aggregate result), which is correct.
  */
object QuotaCheck {

  def quotaViolations(enriched: DataFrame, email: Column, quota: Column,
                      ts: Column, value: Column, dur: String): DataFrame =
    report(enriched
      .groupBy(email.as("email"), quota.as("quota"), window(ts, dur).as("w"))
      .agg(Num.dsum(value).as("usage")))

  /** The HAVING and the contract projection, over any aggregate with
    * columns `email`, `quota`, `w` (a window struct) and `usage` — shared
    * with the batch layer's grouping-sets pass, so the report has one
    * definition. */
  private[graft] def report(agg: DataFrame): DataFrame =
    agg.where(col("usage") > col("quota"))
      .select(col("email"), col("usage"), col("quota"),
        col("w.start").as("timestamp"))
}
