package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analytics.Analytics

/** Driver contract: the flagship query and the honest materializing
  * drive. The registered queries live in `graft.queries.QuerySpec.all`. */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q3(spark, "/root/testdata/sf0.001")

  /** Fully materialize every output row of the query's OWN physical
    * plan and return the row count — the honest bench/profile drive.
    *
    * `df.count()` is NOT that: Catalyst re-optimizes the count plan and
    * legally prunes everything the count doesn't need — unconsumed
    * projection expressions (q_line_dedup's kept_text rebuild),
    * aggregate functions whose output column is never referenced
    * (q_postings' posting-list collection!), the final global sort,
    * and even a whole LeftOuter join when the right side is
    * unique-keyed and only left columns survive. Measured round 10:
    * q_line_dedup under count() ran a join-ELIMINATED plan at 0.56 s
    * where the real query costs ~1.5 s at sf1. The DuckDB proxy
    * fetches full result sets, so count()-driven ratios silently
    * flattered graft on any query with heavy output expressions.
    * Driving the already-planned executedPlan's RDD skips the
    * re-optimization: every operator of the plan the user would run
    * executes, rows materialize as full UnsafeRows, and only the
    * driver-side result transfer is skipped. */
  def materialize(df: DataFrame): Long =
    df.queryExecution.executedPlan.execute().count()
}
