package graft
package queries

import org.apache.spark.sql.functions._
import graft.sources.Sources
import graft.sources.Sources.{DateRange, Year}
import QuerySpec._

/** Source/Table loading, paging, related-table merges and the geo layer. */
object SourceQueries {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_load_year", (s, dir) =>
      Sources.load(T(s, dir, "orders"), date = Some(("o_orderdate", Year(1997))))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("date").as("o_orderdate"), col("o_totalprice"))
        .orderBy("o_orderkey"),
      Sql("""SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |ORDER BY o_orderkey""".stripMargin)),
    QuerySpec("q_load_date_range", (s, dir) =>
      Sources.load(T(s, dir, "events"),
          date = Some(("ts", DateRange("2024-01-10", "2024-01-20"))))
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id"),
      Sql("""SELECT event_id, user_id, event_type, value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
        |ORDER BY event_id""".stripMargin)),
    QuerySpec("q_load_agency", (s, dir) =>
      Sources.load(T(s, dir, "events"), agency = Some(("event_type", "CLI")))
        .select("event_id", "event_type", "value").orderBy("event_id"),
      Sql("""SELECT event_id, event_type, value FROM events
        |WHERE contains(lower(event_type), 'cli') ORDER BY event_id""".stripMargin)),
    QuerySpec("q_load_select", (s, dir) =>
      Sources.load(T(s, dir, "lineitem"),
          select = Seq("l_orderkey", "l_linenumber", "l_quantity"))
        .orderBy("l_orderkey", "l_linenumber"),
      Sql("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q_load_page", (s, dir) =>
      Sources.pageAfter(T(s, dir, "events"), "event_id", 1000L, 50)
        .select("event_id", "event_type"),
      Sql("""SELECT event_id, event_type FROM events WHERE event_id > 1000
        |ORDER BY event_id LIMIT 50""".stripMargin)),
    // Geo layer (graft.geo.Geo — the reference's geopandas surface):
    // events get deterministic synthetic WGS84 coordinates (the test
    // tables carry none), a point struct is attached, a bounding box
    // filters it, and the WKT rendering + haversine distance to a fixed
    // anchor ride along — all scan-stage expressions, no shuffle. The
    // oracle replays the identical IEEE arithmetic.
    QuerySpec("q_geo_filter", (s, dir) => {
      import graft.geo.Geo
      val e = T(s, dir, "events")
        .withColumn("lat",
          (col("event_id") % 1600L).cast("double") / 10.0 - 80.0)
        .withColumn("lon",
          ((col("user_id") * 37L + col("event_id")) % 3200L).cast("double") / 10.0 - 160.0)
      val pts = Geo.withPoint(e, "lat", "lon")
      val anchor = Geo.point(lit(-73.99), lit(40.73))
      pts.filter(Geo.bboxContains(col("geometry"), -100.0, 10.0, -50.0, 45.0))
        .select(col("event_id"),
          col("geometry.lon").as("lon"), col("geometry.lat").as("lat"),
          Geo.toWkt(col("geometry"), 4).as("wkt"),
          graft.functions.Det.round4(
            Geo.haversineKm(col("geometry"), anchor)).as("km_to_anchor"))
        .orderBy("event_id")
    }, Sql {
        // Scala-folded double constants, round-tripped as strings so the
        // oracle multiplies by the SAME IEEE double (pagerank pattern)
        val degToRad = (math.Pi / 180.0).toString
        val twoR = (2.0 * 6371.0088).toString
        s"""WITH pts AS (
           |  SELECT event_id,
           |    CAST((user_id * 37 + event_id) % 3200 AS DOUBLE) / CAST(10 AS DOUBLE)
           |      - CAST(160 AS DOUBLE) AS lon,
           |    CAST(event_id % 1600 AS DOUBLE) / CAST(10 AS DOUBLE)
           |      - CAST(80 AS DOUBLE) AS lat
           |  FROM events),
           |f AS (SELECT * FROM pts
           |  WHERE lon >= -100 AND lon <= -50 AND lat >= 10 AND lat <= 45),
           |h AS (SELECT event_id, lon, lat,
           |    sin((CAST('40.73' AS DOUBLE) - lat) * CAST('$degToRad' AS DOUBLE) / 2) AS slat,
           |    sin((CAST('-73.99' AS DOUBLE) - lon) * CAST('$degToRad' AS DOUBLE) / 2) AS slon,
           |    cos(lat * CAST('$degToRad' AS DOUBLE)) *
           |      cos(CAST('40.73' AS DOUBLE) * CAST('$degToRad' AS DOUBLE)) AS cc
           |  FROM f)
           |SELECT event_id, lon, lat,
           |  printf('POINT (%.4f %.4f)', lon, lat) AS wkt,
           |  CAST(floor(CAST('$twoR' AS DOUBLE) *
           |      asin(sqrt(slat * slat + cc * (slon * slon)))
           |      * 10000 + 0.5) AS DOUBLE) / 10000 AS km_to_anchor
           |FROM h ORDER BY event_id""".stripMargin
      },
      plan = Some(PlanNote("Geo layer is pure scan-stage expressions: the point " +
        "struct builds from lat/lon with WGS84 validation, the bounding box " +
        "is four range compares on struct fields (parquet-pushable), WKT and " +
        "haversine are codegen'd projections — no shuffle, no UDF anywhere.", atScale = false))),
    // Grid-blocked radius join (Geo.radiusJoin): events within 600 km
    // of the nation-derived centers — an equi-join on grid cells plus
    // the exact haversine filter, never a cross join; the oracle IS the
    // cross join (25 centers × events is small at oracle scale), so a
    // hash match proves the blocking loses no pairs.
    QuerySpec("q_geo_join", (s, dir) => {
      import graft.geo.Geo
      val e = T(s, dir, "events")
        .withColumn("lat",
          (col("event_id") % 1600L).cast("double") / 10.0 - 80.0)
        .withColumn("lon",
          ((col("user_id") * 37L + col("event_id")) % 3200L).cast("double") / 10.0 - 160.0)
      val pts = Geo.withPoint(e, "lat", "lon")
        .select(col("event_id"), col("geometry"))
      val ctr = T(s, dir, "nation")
        .withColumn("clat",
          (col("n_nationkey") * 61 % 1500).cast("double") / 10.0 - 75.0)
        .withColumn("clon",
          (col("n_nationkey") * 131 % 3100).cast("double") / 10.0 - 155.0)
        .select(col("n_nationkey").cast("long").as("center_id"),
          Geo.point(col("clon"), col("clat")).as("center_geometry"))
      Geo.radiusJoin(pts, ctr, radiusKm = 600.0)
        .select(col("event_id"), col("center_id"),
          graft.functions.Det.round4(col("km")).as("km"))
        .orderBy("event_id", "center_id")
    }, Sql {
        val degToRad = (math.Pi / 180.0).toString
        val twoR = (2.0 * 6371.0088).toString
        s"""WITH pts AS (
           |  SELECT event_id,
           |    CAST((user_id * 37 + event_id) % 3200 AS DOUBLE) / CAST(10 AS DOUBLE)
           |      - CAST(160 AS DOUBLE) AS lon,
           |    CAST(event_id % 1600 AS DOUBLE) / CAST(10 AS DOUBLE)
           |      - CAST(80 AS DOUBLE) AS lat
           |  FROM events),
           |ctr AS (
           |  SELECT CAST(n_nationkey AS BIGINT) AS center_id,
           |    CAST((n_nationkey * 61) % 1500 AS DOUBLE) / CAST(10 AS DOUBLE)
           |      - CAST(75 AS DOUBLE) AS clat,
           |    CAST((n_nationkey * 131) % 3100 AS DOUBLE) / CAST(10 AS DOUBLE)
           |      - CAST(155 AS DOUBLE) AS clon
           |  FROM nation),
           |h AS (SELECT event_id, center_id,
           |    sin((clat - lat) * CAST('$degToRad' AS DOUBLE) / 2) AS slat,
           |    sin((clon - lon) * CAST('$degToRad' AS DOUBLE) / 2) AS slon,
           |    cos(lat * CAST('$degToRad' AS DOUBLE)) *
           |      cos(clat * CAST('$degToRad' AS DOUBLE)) AS cc
           |  FROM pts, ctr),
           |d AS (SELECT event_id, center_id,
           |    CAST('$twoR' AS DOUBLE) *
           |      asin(sqrt(slat * slat + cc * (slon * slon))) AS km
           |  FROM h)
           |SELECT event_id, center_id,
           |  CAST(floor(km * 10000 + 0.5) AS DOUBLE) / 10000 AS km
           |FROM d WHERE km <= 600
           |ORDER BY event_id, center_id""".stripMargin
      },
      plan = Some(PlanNote("Radius join at the 100 TB shape (auto-broadcast " +
        "disabled): grid-cell equi-join — points shuffle ONCE on (cellX, " +
        "cellY); centers replicate to their +-1 lat cells and cos-scaled lon " +
        "span (a dim-sized generate, with +-360 seam copies), then the exact " +
        "haversine filters inside the join stage. Never a cross join; the " +
        "oracle is the cross join, so the hash match proves lossless " +
        "blocking.", atScale = true))),
    QuerySpec("q_count", (s, dir) =>
      T(s, dir, "orders")
        .filter(Sources.dateFilter(col("o_orderdate"), Year(1996)))
        .agg(count(lit(1)).as("cnt")),
      Sql("""SELECT count(*) AS cnt FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'""".stripMargin)),
    QuerySpec("q_get_years", (s, dir) => Sources.getYears(T(s, dir, "orders"), "o_orderdate"),
      Sql("SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS yr FROM orders ORDER BY yr")),
    QuerySpec("q_get_agencies", (s, dir) => Sources.getAgencies(T(s, dir, "events"), "event_type"),
      Sql("SELECT DISTINCT event_type AS agency FROM events ORDER BY agency")),
    QuerySpec("q_combine", (s, dir) => {
      val e = T(s, dir, "events")
      Sources.combine(Seq(
          e.filter(col("event_type") === "click").select("event_id", "event_type", "value"),
          e.filter(col("event_type") === "purchase").select("event_id", "event_type", "props")))
        .orderBy("event_id")
    }, Sql("""SELECT event_id, event_type, value, CAST(NULL AS VARCHAR) AS props
        |FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, event_type, CAST(NULL AS DOUBLE) AS value, props
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin)),
    QuerySpec("q_related_tables", (s, dir) => {
      val ord = T(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          Sources.dateFilter(col("o_orderdate"), Year(1996)))
      T(s, dir, "lineitem").join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("l_linenumber"),
          col("o_orderdate").cast("date").as("o_orderdate"), col("l_quantity"))
        .orderBy("o_orderkey", "l_linenumber")
    }, Sql("""SELECT o_orderkey, l_linenumber, CAST(o_orderdate AS DATE) AS o_orderdate, l_quantity
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |ORDER BY o_orderkey, l_linenumber""".stripMargin))
  )
}
