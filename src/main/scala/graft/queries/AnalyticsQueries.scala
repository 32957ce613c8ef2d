package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.Joins
import graft.analytics.Analytics
import QuerySpec._

/** Analytics headliners, skew-safe joins, graph and temporal joins. */
object AnalyticsQueries {
  /** Top-3 parts by revenue per brand — the oracle for q_window_topn
    * and its bounded-heap twin q_topk_agg. */
  private val topNPerBrandSql: String =
    """WITH rev AS (
      |  SELECT p_brand, p_partkey,
      |    CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand, p_partkey),
      |r AS (SELECT *, CAST(row_number() OVER
      |        (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey ASC) AS INTEGER) AS rnk
      |      FROM rev)
      |SELECT p_brand, p_partkey, revenue, rnk FROM r WHERE rnk <= 3
      |ORDER BY p_brand, rnk""".stripMargin

  /** q_range_join's per-event unscaled-long extraction with the
    * decimal(18,10) range ENFORCED: |value| >= 10^8 does not fit and
    * the plain cast would return NULL where the old decimal(30,10)
    * form kept the value — a silent wrong answer at scale. Raises
    * instead (r10 VERDICT ask #5). */
  private[graft] def rangeJoinUnscaled(value: Column): Column = {
    val dec = value.cast("decimal(18,10)")
    graft.functions.GraftFunctions.unscaledLong(
      when(value.isNotNull && dec.isNull,
        raise_error(concat(
          lit("q_range_join: |value| >= 1e8 does not fit decimal(18,10): "),
          value.cast("string")))).otherwise(dec))
  }

  /** q_range_join's per-window exact sum of the unscaled longs `uv`,
    * rebuilt as decimal(28,10) once per group. Every partial signed sum
    * is bounded by Σ|uv|, so an exact `try_sum(abs(uv))` (NULL on
    * overflow, and NULL stays NULL across the partial-aggregate merge)
    * proves no intermediate of the signed sum overflowed anywhere. A
    * window whose Σ|uv| has no long headroom raises instead of wrapping
    * silently; an all-NULL window keeps its NULL sum. */
  private[graft] def rangeJoinSum(uv: Column): Column = {
    val us = sum(uv)
    graft.functions.GraftFunctions.makeDecimal(
      when(us.isNotNull && try_sum(abs(uv)).isNull,
        raise_error(lit("q_range_join: unscaled-long sum headroom exceeded " +
          "for a window: sum(|uv|) does not fit a long")))
        .otherwise(us), 28, 10)
  }

  /** The q_bloom_join query with a caller-chosen bitmap size — one
    * builder for both the registered query (2^22 bits) and the plan
    * render (graft.Plans passes small bits so PLANS.md doesn't embed a
    * megabyte hex literal; the plan SHAPE is identical). */
  private[graft] def bloomJoinQuery(s: SparkSession, dir: String,
                                    numBits: Int): DataFrame = {
    val dim = T(s, dir, "part").filter(col("p_brand") === "Brand#4")
    graft.ops.RuntimeFilter.bloomJoin(T(s, dir, "lineitem"), "l_partkey",
        dim, "p_partkey", numBits = numBits)
      .groupBy("p_size")
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice").cast(DecimalType(30, 10))), 2)
          .cast("double").as("revenue"))
      .orderBy("p_size")
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q1_agg", (s, dir) => Analytics.q1(s, dir),
      Sql("""SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_charge,
        |  CAST(floor((CAST(sum(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) / count(*)) * 100 + 0.5) AS DOUBLE) / 100 AS avg_qty,
        |  CAST(floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) / count(*)) * 100 + 0.5) AS DOUBLE) / 100 AS avg_price,
        |  CAST(floor((CAST(sum(CAST(l_discount AS DECIMAL(30,10))) AS DOUBLE) / count(*)) * 100 + 0.5) AS DOUBLE) / 100 AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      plan = Some(PlanNote("Full lineitem scan with the ship-date filter pushed to parquet; " +
        "decimal partial aggregation before the single 6-row shuffle.", atScale = false))),
    QuerySpec("q3_join", (s, dir) => Analytics.q3(s, dir),
      Sql("""SELECT l_orderkey,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS DATE) AS o_orderdate
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin),
      plan = Some(PlanNote("Both fact scans carry pushed date predicates; the filtered " +
        "customer side has NO broadcast hint (it grows with scale) - stats/AQE " +
        "pick broadcast here because it fits; TakeOrderedAndProject for the " +
        "top-10 (no global sort).", atScale = false))),
    QuerySpec("q5_multijoin", (s, dir) => Analytics.q5(s, dir),
      Sql("""SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin),
      plan = Some(PlanNote("Only the fixed-size region/nation dims carry broadcast " +
        "hints; supplier is stats/AQE-decided; orders date range pushed to the " +
        "scan; one agg shuffle.", atScale = false))),
    // Salted skew join: the fact side's hot keys spread over 8 salted
    // sub-keys; the dim replicates once per salt. The salt must be
    // invisible in the result — the oracle is the plain join.
    QuerySpec("q_salted_join", (s, dir) => {
      graft.ops.Skew.saltedJoin(T(s, dir, "lineitem"), "l_partkey",
          T(s, dir, "part").select("p_partkey", "p_brand"), "p_partkey", salts = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice").cast(DecimalType(30, 10))), 2)
            .cast("double").as("revenue"))
        .orderBy("p_brand")
    }, Sql("""SELECT p_brand,
        |  count(*) AS n_lines,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin),
      plan = Some(PlanNote("Skew-safe join at the 100 TB shape (auto-broadcast " +
        "disabled): fact shuffles on (key, salt) so a pathologically hot key " +
        "spreads across 8 reducers; the dim side replicates via a " +
        "salts-row literal broadcast cross join before its exchange. The salt " +
        "never reaches the aggregate.", atScale = true))),
    // Runtime-filter join: Bloom over the selective dim's keys kills
    // fact rows in the scan stage before the join exchange; the exact
    // join removes false positives, so result ≡ the plain join the
    // oracle runs.
    QuerySpec("q_bloom_join", (s, dir) => bloomJoinQuery(s, dir, 1 << 22),
      Sql("""SELECT p_size,
        |  count(*) AS n_lines,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#4'
        |GROUP BY p_size
        |ORDER BY p_size""".stripMargin),
      plan = Some(PlanNote("Runtime-filter join at the 100 TB shape " +
        "(auto-broadcast disabled): the dim's keys partial-aggregate into ONE " +
        "bounded bloom_agg row (numBits/8 bytes regardless of key count) that " +
        "broadcasts as a literal; bloom_might_contain runs as a codegen filter " +
        "in the fact scan stage, so the join exchange carries ~selectivity x " +
        "|fact| rows; the exact shuffled join then removes false positives.", atScale = true))),
    // Damped PageRank over the customer–supplier purchase graph, 3
    // exact rounds (decimal-exact contribution sums, Det-rounded
    // scores) — the link-analysis signal of a crawl-curation pipeline.
    QuerySpec("q_pagerank", (s, dir) => {
      // Distinct on the INT pair before any rendering: the dedup
      // shuffle moves 2 longs/row instead of 2 strings/row.
      // The iteration runs on PACKED LONG node ids (customer 2k,
      // supplier 2k+1 — a bijection, so the graph is isomorphic and
      // deg/pr are bit-identical); the "c<id>"/"s<id>" strings the
      // query always returned are rendered in the FINAL projection
      // only. The previous string-typed rounds read ~117 MB of cached
      // string state per round at sf0.1 (guide §2.3: narrower types) —
      // long state is ~1/3 the bytes and hashes a word, not a string.
      val edges = T(s, dir, "lineitem")
        .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("l_suppkey")).distinct()
        // cast BEFORE packing: *2 in the key's own (possibly int) type
        // would overflow / ANSI-throw at very large scale factors
        .select((col("o_custkey").cast("long") * 2).as("src"),
          (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
      graft.analytics.Graph.pageRank(edges, "src", "dst", iterations = 3)
        .select(
          concat(
            when(pmod(col("node").cast("long"), lit(2)) === 0, lit("c")).otherwise(lit("s")),
            shiftright(col("node").cast("long"), 1).cast("string")).as("node"),
          col("deg"), col("pr"))
        .orderBy("node")
    }, Sql {
        // the teleport constant must be THE SAME DOUBLE Spark folds
        // (1.0-0.85 in IEEE = 0.15000000000000002); DuckDB would fold
        // (1.0 - 0.85) decimal-exact to 0.15 = a DIFFERENT double, so the
        // round-trip string of the Scala value is cast instead
        val teleport = (1.0 - 0.85).toString
        def iter(i: Int): String =
          s"""c$i AS (SELECT sym.dst AS node, CAST(p.pr / p.deg AS DECIMAL(38,18)) AS c
             |  FROM sym JOIN p${i - 1} p ON sym.src = p.node),
             |p$i AS (SELECT c$i.node, d.deg,
             |    CAST(floor((CAST(sum(c) AS DOUBLE) * 0.85 + CAST('$teleport' AS DOUBLE) / n.nn)
             |      * 1000000000 + 0.5) AS DOUBLE) / 1000000000 AS pr
             |  FROM c$i JOIN deg d ON c$i.node = d.node, n
             |  GROUP BY c$i.node, d.deg, n.nn)""".stripMargin
        s"""WITH e0 AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
           |    's' || CAST(l_suppkey AS VARCHAR) AS dst
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |sym AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
           |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
           |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM deg),
           |p0 AS (SELECT node, deg,
           |    CAST(floor((1.0 / nn) * 1000000000 + 0.5) AS DOUBLE) / 1000000000 AS pr
           |  FROM deg, n),
           |${iter(1)},
           |${iter(2)},
           |${iter(3)}
           |SELECT node, deg, pr FROM p3 ORDER BY node""".stripMargin
      },
      plan = Some(PlanNote("Damped PageRank, 3 unrolled rounds (auto-broadcast " +
        "disabled): per round ONE hash-shuffled edges-scores equi-join plus a " +
        "partial-aggregated decimal contribution sum keyed on the destination; " +
        "the node count crosses as a 1-row literal broadcast; the edge list is " +
        "never collected and the plan depth is the fixed iteration count.", atScale = true))),
    // "Customers who bought X also bought Y": supplier-supplier Jaccard
    // from shared customers, pairs generated per basket (never an
    // item-item cross join); deliverable = top-5 similar items per item
    // (scale-invariant, unlike an absolute similarity threshold — the
    // declarative row_number form rides the TopKRewrite heap).
    QuerySpec("q_cooccur", (s, dir) => {
      val edges = T(s, dir, "lineitem")
        .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      val sim = graft.analytics.Graph.coPurchaseSimilarity(edges, "cust", "supp",
        threshold = 0.01)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("item_a").orderBy(col("jaccard").desc, col("item_b"))
      sim.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .orderBy("item_a", "rnk")
    }, Sql("""WITH e AS (SELECT DISTINCT o_custkey AS b, l_suppkey AS i
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |ok AS (SELECT b FROM e GROUP BY b HAVING count(*) <= 100000),
        |e2 AS (SELECT e.b, e.i FROM e JOIN ok USING (b)),
        |deg AS (SELECT i AS item, CAST(count(*) AS BIGINT) AS deg FROM e2 GROUP BY 1),
        |p AS (SELECT l.i AS item_a, r.i AS item_b, CAST(count(*) AS BIGINT) AS shared
        |  FROM e2 l JOIN e2 r ON l.b = r.b AND l.i < r.i GROUP BY 1, 2),
        |j AS (SELECT * FROM (
        |    SELECT item_a, item_b, shared,
        |      CAST(floor((CAST(shared AS DOUBLE) / (da.deg + db.deg - shared))
        |        * 10000 + 0.5) AS DOUBLE) / 10000 AS jaccard
        |    FROM p JOIN deg da ON item_a = da.item JOIN deg db ON item_b = db.item)
        |  WHERE jaccard >= 0.01)
        |SELECT item_a, item_b, shared, jaccard, rnk FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY item_a
        |      ORDER BY jaccard DESC, item_b) AS INTEGER) AS rnk
        |  FROM j)
        |WHERE rnk <= 5
        |ORDER BY item_a, rnk""".stripMargin),
      plan = Some(PlanNote("Co-occurrence similarity at the 100 TB shape " +
        "(auto-broadcast disabled): ONE basket-keyed shuffle builds sorted " +
        "distinct item sets (mega-basket cap BEFORE pairing); items ride a " +
        "broadcast dense-id dictionary so the map-side pair generates feed a " +
        "partial aggregate keyed on a SINGLE packed long (item_a<<32|item_b) " +
        "— half the hash cost and key width of the hottest exchange; never an " +
        "item-item cross join; degree tables fold back on int ids and the " +
        "top-5 window compiles through the TopKRewrite heap.", atScale = true))),
    QuerySpec("q_window_topn", (s, dir) => Analytics.windowTopN(s, dir),
      Sql(topNPerBrandSql),
      plan = Some(PlanNote("Written as the DECLARATIVE row_number window top-N — " +
        "and compiled by graft.plans.TopKRewrite (injected optimizer rule) into " +
        "the bounded-heap topk_rows aggregate: no Window operator, no per-group " +
        "sort; partial_topk_rows ships <= 3 rows per brand per partition. Part " +
        "join stats/AQE-decided (no hint - part grows with scale).", atScale = false))),
    // Same result through the custom bounded-heap TopKLargest aggregate
    // (map-side partial top-k; shuffle carries ≤ n rows per group per
    // partition) — oracle identical to q_window_topn.
    QuerySpec("q_topk_agg", (s, dir) => Analytics.windowTopNAgg(s, dir),
      Sql(topNPerBrandSql),
      plan = Some(PlanNote("The bounded-heap twin: ObjectHashAggregate with " +
        "partial_topk_largest BEFORE its exchange - the shuffle carries at most " +
        "k rows per group per partition instead of every (brand, part) row " +
        "followed by a per-group sort.", atScale = false))),
    QuerySpec("q_skew_agg", (s, dir) => Analytics.skewAgg(s, dir).orderBy("l_orderkey"),
      Sql("""SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_qty,
        |  round(max(l_extendedprice), 2) AS max_price
        |FROM lineitem
        |GROUP BY l_orderkey
        |HAVING count(*) >= 4
        |ORDER BY l_orderkey""".stripMargin)),
    // Interpolation spelled out to match the Spark side's exact
    // expression shape — quantile_cont's internal FP formula differs
    // in the last ulp and flips round(…,2) boundaries at some scales.
    QuerySpec("q_quantiles", (s, dir) =>
      Analytics.groupQuantiles(T(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice", Seq(0.25, 0.5, 0.75, 0.95))
        .orderBy("l_returnflag"),
      Sql {
        def q(p: String, name: String) =
          s"""round(max(CASE WHEN rn = floor($p*(n-1)) + 1 THEN v END)
             |  + (coalesce(max(CASE WHEN rn = floor($p*(n-1)) + 2 THEN v END),
             |              max(CASE WHEN rn = floor($p*(n-1)) + 1 THEN v END))
             |     - max(CASE WHEN rn = floor($p*(n-1)) + 1 THEN v END))
             |    * max($p*(n-1) - floor($p*(n-1))), 4) AS $name""".stripMargin
        s"""WITH r AS (SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v,
           |    row_number() OVER (PARTITION BY l_returnflag ORDER BY CAST(l_extendedprice AS DOUBLE)) AS rn,
           |    count(*) OVER (PARTITION BY l_returnflag) AS n
           |  FROM lineitem)
           |SELECT l_returnflag,
           |  ${q("0.25", "q25")},
           |  ${q("0.5", "q50")},
           |  ${q("0.75", "q75")},
           |  ${q("0.95", "q95")}
           |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
      }),
    QuerySpec("q_profile", (s, dir) =>
      Analytics.profile(T(s, dir, "documents"),
          Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy("column"),
      Sql {
        def one(c: String) =
          s"""SELECT '$c' AS column, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
             |FROM documents""".stripMargin
        Seq("doc_id", "lang", "source", "n_chars").map(one)
          .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
      }),
    // Backward as-of join: each event → the user's most recent purchase
    // at-or-before it. The build side is pre-aggregated to one row per
    // (user, ts) so the carried payload is deterministic.
    QuerySpec("q_asof_join", (s, dir) => {
      val events = T(s, dir, "events")
      val purchases = events.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max("event_id").as("pid"))
      Joins.asofJoin(events, purchases, "user_id", "ts", "ts")
        .select(col("event_id"), col("user_id"),
          col("asof.pid").as("last_purchase_id"),
          (unix_micros(col("ts")) - unix_micros(col("asof.__rt"))).as("gap_us"))
        .orderBy("event_id")
    }, Sql("""WITH b AS (SELECT user_id, ts, max(event_id) AS pid FROM events
        |           WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, b.pid AS last_purchase_id,
        |  epoch_us(e.ts) - epoch_us(b.ts) AS gap_us
        |FROM events e ASOF LEFT JOIN b
        |  ON e.user_id = b.user_id AND e.ts >= b.ts
        |ORDER BY e.event_id""".stripMargin),
      plan = Some(PlanNote("Backward as-of join as tagged union + per-key window: " +
        "ONE hash exchange on the key (both inputs align to it), a per-key time " +
        "sort, last(ignoreNulls) carry-forward - no join operator, no candidate " +
        "explosion.", atScale = false))),
    // Keyless interval join: 1-hour windows anchored at high-value
    // signups, counting ALL events inside each window. Bucketed on the
    // hour so the plan is a hash join on the bucket key, never the
    // cross join Spark would pick for the raw inequality predicate.
    //
    // The exact decimal sum runs on the UNSCALED LONG, not the decimal:
    // overlapping windows fan each event out to ~240 (event, anchor)
    // pairs at sf1, and sum(decimal(30,10)) over the pair stream can't
    // use the fast aggregate hash map — each update round-trips a
    // BigDecimal through the row buffer (measured 15.6 s vs 2.3 s for
    // the identical plan summing longs). So: cast value → decimal(18,10)
    // ONCE per event row, carry its unscaled long through the join,
    // sum longs over the pairs, and rebuild the decimal per GROUP with
    // make_decimal before the final round — bit-identical to
    // round(sum(cast(value as decimal)), 2) while the hot path stays
    // long-typed. The repartition below the join is a REQUIRED barrier,
    // not a tuning knob: Catalyst collapses an un-fenced projection
    // above the join, recomputing the cast per PAIR (measured 7.4 s vs
    // 2.7 s with the fence). Exactness bounds are ENFORCED fail-loud
    // (r10 VERDICT ask #5) by rangeJoinUnscaled / rangeJoinSum
    // — an out-of-range value raises instead of silently NULLing (cast)
    // or wrapping (long sum).
    QuerySpec("q_range_join", (s, dir) => {
      val events = T(s, dir, "events")
        .withColumn("__uv", rangeJoinUnscaled(col("value")))
        .repartition(s.sparkContext.defaultParallelism)
      val anchors = T(s, dir, "events")
        .filter(col("event_type") === "signup" && col("value") > 9.0)
        .select(col("event_id").as("anchor_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
      Joins.rangeJoin(events, "ts", anchors, "w_start", "w_end",
          bucketUs = 3600L * 1000000L)
        .groupBy("anchor_id")
        .agg(count(lit(1)).as("n_in_window"), rangeJoinSum(col("__uv")).as("__sum"))
        .select(col("anchor_id"), col("n_in_window"),
          round(col("__sum"), 2).cast("double").as("sum_value"))
        .orderBy("anchor_id")
    }, Sql("""WITH a AS (SELECT event_id AS anchor_id, ts FROM events
        |           WHERE event_type = 'signup' AND value > 9.0)
        |SELECT a.anchor_id, CAST(count(*) AS BIGINT) AS n_in_window,
        |  CAST(round(sum(CAST(e.value AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_value
        |FROM a JOIN events e
        |  ON e.ts >= a.ts AND e.ts < a.ts + INTERVAL 1 HOUR
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      plan = Some(PlanNote("Corpus-scale shape (auto-broadcast disabled): keyless " +
        "interval join bucketed on the hour - intervals explode to their covering " +
        "buckets, probes key to one bucket, hash join on the bucket with exact " +
        "[start,end) containment as the join filter; never a cartesian product.", atScale = true)))
  )
}
