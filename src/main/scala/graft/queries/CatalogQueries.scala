package graft
package queries

import org.apache.spark.sql.functions._
import graft.sources.Sources
import graft.catalog.Catalog
import QuerySpec._

/** The reference's dataset catalog: query, summaries, counts. */
object CatalogQueries {
  val specs: Seq[QuerySpec] = Seq(
    // merge with the join key AUTO-DETECTED by the reference's tiered
    // find_id_column heuristics (differing incident-id spellings on the
    // two sides).
    QuerySpec("q_related_auto", (s, dir) => {
      val orders = T(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("Incident_Number"), col("o_orderdate"))
      val items = T(s, dir, "lineitem")
        .select(col("l_orderkey").as("incident_num"), col("l_linenumber"),
          col("l_quantity"))
      Sources.mergeRelatedAuto(items, orders)
        .select(col("incident_num"), col("l_linenumber"),
          col("o_orderdate").cast("date").as("o_orderdate"), col("l_quantity"))
        .orderBy("incident_num", "l_linenumber")
    }, Sql("""SELECT l_orderkey AS incident_num, l_linenumber,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, l_quantity
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |ORDER BY incident_num, l_linenumber""".stripMargin)),
    QuerySpec("q_catalog_query", (s, dir) =>
      Catalog.query(Catalog.catalog(s, dir),
          state = Some("NATION_3"), tableType = Some("BUILDING"))
        .orderBy("source_id"),
      Sql("""SELECT DISTINCT n_name AS state, c_custkey AS source_id, c_name AS source_name,
        |  c_mktsegment AS table_type
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON o_custkey = c_custkey
        |WHERE n_name = 'NATION_3' AND c_mktsegment = 'BUILDING'
        |ORDER BY source_id""".stripMargin)),
    QuerySpec("q_summary_by_state", (s, dir) => {
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      Catalog.summaryByState(Catalog.catalog(s, dir), segs)
        .select(col("state") +: segs.map(v => col(v).as(v.toLowerCase)): _*)
        .orderBy("state")
    }, Sql {
        val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        val cols = segs.map(v =>
          s"CAST(count(DISTINCT CASE WHEN c_mktsegment = '$v' THEN c_custkey END) AS BIGINT) AS ${v.toLowerCase}")
          .mkString(",\n  ")
        s"""SELECT n_name AS state,
           |  $cols
           |FROM customer
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |JOIN orders ON o_custkey = c_custkey
           |GROUP BY n_name ORDER BY state""".stripMargin
      }),
    QuerySpec("q_summary_by_type", (s, dir) =>
      Catalog.summaryByType(Catalog.catalog(s, dir)).orderBy("table_type", "year"),
      Sql("""SELECT c_mktsegment AS table_type, CAST(year(o_orderdate) AS BIGINT) AS year,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_sources
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY table_type, year""".stripMargin)),
    QuerySpec("q_num_sources", (s, dir) =>
      Catalog.numSources(Catalog.catalog(s, dir)).orderBy("state"),
      Sql("""SELECT n_name AS state, CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_sources
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY state""".stripMargin)),
    QuerySpec("q_num_unique", (s, dir) =>
      Catalog.numUniqueAgg(Catalog.catalog(s, dir),
        Seq("state", "source_id", "table_type")),
      Sql("""SELECT CAST(count(DISTINCT n_name) AS BIGINT) AS n_state,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_source_id,
        |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_table_type
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON o_custkey = c_custkey""".stripMargin)),
    QuerySpec("q_table_types", (s, dir) =>
      Catalog.tableTypes(Catalog.catalog(s, dir), contains = Some("ur"))
        .orderBy("table_type"),
      Sql("""SELECT DISTINCT c_mktsegment AS table_type
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON o_custkey = c_custkey
        |WHERE contains(lower(c_mktsegment), 'ur')
        |ORDER BY table_type""".stripMargin))
  )
}
