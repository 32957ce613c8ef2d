package graft

import org.apache.spark.sql.functions._
import graft.queries.{AnalyticsQueries, QuerySpec}

/** q_range_join's exactness bounds, ENFORCED not documented (r10
  * VERDICT ask #5): the unscaled-long fast path is bit-identical to
  * the old decimal(30,10) sum only while |value| < 10^8 (fits
  * decimal(18,10)) and Σ|uv| stays inside long headroom. Out of
  * range must raise — the plain cast would return NULL (a silent
  * wrong answer) and the long sum would wrap. */
class RangeJoinGuardSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.{Row, types => t}

  private def df(vals: java.lang.Double*) =
    spark.createDataFrame(
      vals.map(v => Row(v)).asJava,
      t.StructType(Seq(t.StructField("value", t.DoubleType, nullable = true))))

  test("in-range values: guarded unscaled long == decimal(30,10) scaled by 1e10") {
    val d = df(0.0, 1.5, -2.75, 9.99999999e7, -9.99999999e7, null)
    val got = d.select(AnalyticsQueries.rangeJoinUnscaled(col("value")).as("uv"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    val want = d.select(
        graft.functions.GraftFunctions.unscaledLong(
          col("value").cast("decimal(30,10)").cast("decimal(18,10)")).as("uv"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(got.toSeq == want.toSeq)
  }

  test("|value| >= 1e8 raises instead of silently NULLing") {
    // ANSI on (the Spark 4 default): the cast itself fails loud
    val e1 = intercept[Exception] {
      df(1.0e8).select(AnalyticsQueries.rangeJoinUnscaled(col("value"))).collect()
    }
    assert(msgs(e1).exists(m => m.contains("does not fit decimal(18,10)") ||
        m.contains("NUMERIC_VALUE_OUT_OF_RANGE")),
      s"expected a loud failure, got: $e1")
    // ANSI off: the plain cast would return NULL — the guard is what
    // turns that silent wrong answer into an error
    val key = "spark.sql.ansi.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val e2 = intercept[Exception] {
        df(1.0e8).select(AnalyticsQueries.rangeJoinUnscaled(col("value"))).collect()
      }
      assert(msgs(e2).exists(_.contains("does not fit decimal(18,10)")),
        s"expected the fail-loud guard under ansi=false, got: $e2")
    } finally spark.conf.set(key, old)
  }

  private def msgs(x: Throwable): Seq[String] =
    if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)

  private def underAnsi[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.ansi.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, old)
  }

  /** One q_range_join window's sum over `vals`, split round-robin over
    * `parts` partitions so the partial sums merge across them. */
  private def windowSum(vals: Seq[java.lang.Double], parts: Int): java.math.BigDecimal =
    df(vals: _*).repartition(parts)
      .withColumn("__uv", AnalyticsQueries.rangeJoinUnscaled(col("value")))
      .agg(AnalyticsQueries.rangeJoinSum(col("__uv")))
      .head().getDecimal(0)

  test("per-group sum guard: inside headroom passes through, outside raises") {
    assert(windowSum(Seq(1.5, -2.75, null), parts = 2).compareTo(
      new java.math.BigDecimal("-1.25")) == 0)
    // an all-NULL window keeps its NULL sum (try_sum is NULL there too)
    assert(windowSum(Seq(null, null), parts = 2) == null)
    // Σ|uv| = 1.08e19 past long headroom inside one partition: the
    // signed sum may have wrapped, so it must raise, not return
    val e = intercept[Exception](
      windowSum(Seq.tabulate(12)(i => Double.box(if (i % 2 == 0) 9.0e7 else -9.0e7)), parts = 1))
    assert(msgs(e).exists(_.contains("headroom exceeded")),
      s"expected the overflow guard, got: $e")
  }

  for (ansi <- Seq(true, false)) {
    test(s"mixed-sign window near 1e8 sums exactly (ansi=$ansi)") {
      // 10 values of |v| = 9.2e7 (+ a fraction): Σ|uv| ≈ 9.2e18 fits a
      // long, though a max|uv|·n bound with a 9.0e18 margin would refuse it
      val vals = (0 until 10).map(i => (if (i % 3 == 0) -1 else 1) * (9.2e7 + i * 0.125))
      assert(vals.map(v => math.abs(v) * 1e10).max * vals.size > 9.0e18)
      val want = df(vals.map(Double.box): _*)
        .agg(sum(col("value").cast("decimal(30,10)"))).head().getDecimal(0)
      val got = underAnsi(ansi)(windowSum(vals.map(Double.box), parts = 3))
      assert(got.compareTo(want) == 0, s"got $got, want $want")
    }

    test(s"overflowing window split over partitions raises (ansi=$ansi)") {
      // alternating ±9e7: every partial signed sum stays small, but
      // Σ|uv| = 1.08e19 overflows when the 3 partial sums merge
      val vals = (0 until 12).map(i => if (i % 2 == 0) 9.0e7 else -9.0e7)
      val e = intercept[Exception](underAnsi(ansi)(windowSum(vals.map(Double.box), parts = 3)))
      assert(msgs(e).exists(_.contains("headroom exceeded")),
        s"expected the overflow guard, got: $e")
    }
  }

  test("q_range_join has no hard-coded partition count") {
    // the fence must scale with the cluster (defaultParallelism), never
    // a local-mode literal — pin by reading the plan's repartition width
    val p = QuerySpec.named("q_range_join").build(spark, sfDir)
      .queryExecution.executedPlan.toString()
    val par = spark.sparkContext.defaultParallelism
    assert(p.contains(s"RoundRobinPartitioning($par), REPARTITION_BY_NUM"),
      s"fence must be defaultParallelism ($par):\n$p")
  }
}
