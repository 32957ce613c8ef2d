package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.{Sources, Tables}
import graft.sources.Sources.{DateRange, Year}
import graft.ops.{AgeRange, Dates, Expand, Joins, Luts, Standardize}
import graft.catalog.Catalog
import graft.dedup.Dedup
import graft.sim.Ann
import graft.text.{Curation, Rank, TextStats}
import graft.multimodal.Binary
import graft.streaming.Streams
import graft.analytics.Analytics

/** Driver contract: every SURVEY.md §2 operator registered as a query,
  * with equivalent DuckDB SQL for the correctness oracle (omitted only
  * for the rows-only ops: minhash/simhash/LSH/IVF/mm_features).
  *
  * Oracle discipline (SURVEY §6): aliases identical on both sides,
  * counts BIGINT, money sums decimal-exact then round(…,2), timestamps
  * never emitted raw at nanosecond precision (µs epoch or DATE), every
  * query deterministic via explicit ORDER BY + unique tiebreaks.
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** VALUES clause for an (id, raw) test-vector table; null-safe. */
  private def valuesSql(raws: Seq[String]): String =
    raws.zipWithIndex.map { case (v, i) =>
      s"(${i + 1}, ${if (v == null) "NULL" else sqlLit(v)})"
    }.mkString(", ")

  private def rawsDf(s: SparkSession, raws: Seq[String]): DataFrame = {
    import s.implicits._
    raws.zipWithIndex.map { case (v, i) => (i + 1, Option(v)) }.toDF("id", "raw")
  }

  // ---- standardization test vectors (exercise each vocabulary rule) ----

  private val raceRaws: Seq[String] = Seq(
    "WHITE", "White", "W", "CAUCASIAN", "WHTE", "WN", "wht", " white ",
    "B", "BLACK", "African American", "BLK", "BLCK", "AFR AM",
    "SOUTH ASIAN", "EAST INDIAN", "ASIAN INDIAN",
    "ME", "ARABIC", "MIDDLE EASTERN",
    "A", "ASIAN", "ORIENTAL", "ASN", "ASIAN/PACIFIC ISLANDER",
    "ASIAN PACIFIC", "HAWAIIAN", "PACIFIC ISLANDER", "NHPI", "PI",
    "NATIVE HAWAIIAN OR OTHER PACIFIC ISLANDER",
    "H", "HISPANIC", "LATINO", "HISP", "HISPANIC/LATINO",
    "I", "INDIAN", "ALASKAN NATIVE", "AMERICAN INDIAN", "NAT AM",
    "AMERICAN INDIAN/ALASKAN NATIVE", "NATIVE AMERICAN",
    "MIXED", "BIRACIAL", "TWO OR MORE", "MULTI-RACIAL", "2 OR MORE",
    "U", "UK", "UNKNOWN", "UNK", "OTH/UNK",
    "O", "OTHER", "OTH", "OTHER RACE",
    "MISSING", "NOT SPECIFIED", "N/A", "NONE", "", "   ", null, "ZEBRA",
    "CHINESE", "SAMOAN", "WHITE HISPANIC", "MEXICAN", "BOSNIAN", "FILIPINO",
    "BLACK/AFRICAN AMERICAN", "WHITE,OTHER", "WHITE, NON-HISPANIC",
    "BLACK NON-HISPANIC", "W - WHITE", "BLAC")

  private val genderRaws: Seq[String] = Seq(
    "M", "MALE", "Male", "MAN", "MLE", "MALE/MAN", "MAN/BOY",
    "F", "FEMALE", "female", "WOMAN", "FEMAL", "FEMALE/WOMAN", "WOMAN/GIRL",
    "OTHER", "O", "TRANSGENDER", "TRANSGENDERED", "NONBINARY", "NON-BINARY",
    "GENDER NON-CONFORMING", "GENDER DIVERSE", "TRANSGENDER MALE",
    "TRANSGENDER MAN", "TRANSGENDER WOMAN", "TRANSGENDER FEMALE",
    "U", "UNKNOWN", "UNK", "MISSING", "NOT SPECIFIED", "NO DATA", "NONE",
    "", null, "X123")

  private val injuryRaws: Seq[String] = Seq(
    null, "", "0", "1", "Yes", "No", "FATAL", "Killed", "Non-Fatal",
    "NO INJURY", "NONE", "NOT INJURED", "COMPLAINT OF PAIN", "LACERATION",
    "GUNSHOT WOUND", "SUICIDE", "SELF INFLICTED FATAL", "STUN GUN",
    "3 - LACERATION", "OFFICER INJURED", "SUBJECT KILLED", "UNKNOWN",
    "NOT AVAILABLE", "OTHER", "BROKEN BONE", "TREATED AND RELEASED",
    "Unspecified", "DECEASED", "NO COMPLAINT OF INJURY", "MINOR BLEEDING")

  private val ageRaws: Seq[String] = Seq(
    "25 - 34", "18-24", "OVER 65", ">40", "65+", "18 PLUS", "60 AND OLDER",
    "UNDER 21", "<18", "BELOW 25", "17 AND YOUNGER", "20S", "30s",
    "B - 18-29", "25", "7", "45", "117", "", "MISSING", "UNKNOWN", null,
    "ADULT", "JUVENILE", "1 TO 17", "18 to 24")

  private val fatalRaws: Seq[String] = Seq(
    null, "", "   ", "FATAL", "Yes", "Y", "DECEASED", "1",
    "Non-Fatal", "NON FATAL", "No", "N", "NO CONTACT", "0",
    "SELF-INFLICTED", "UNRESOLVED")

  private val firearmRaws: Seq[String] = Seq(
    null, "", "YES", "y", "TRUE", "FIREARM", "1",
    "NO", "n", "FALSE", "PHYSICAL FORCE", "ELECTRICAL WEAPON", "OC SPRAY",
    "IMPACT WEAPON", "NO FORCE", "0", "CANINE BITE", "BLANKET HOLD",
    "DISPLAYED WEAPON", "CUTTING INSTRUMENT", "VEHICLE")

  private val nameRaws: Seq[String] = Seq(
    null, "John Doe", " Jane Roe / John Doe ", "A/B/C", "",
    "O'Brien, Patrick", "SMITH JR./ DOE SR.")

  // std_with_counts injury test vectors (_converters.py:975 region,
  // preproc.py check_for_multiple): count-multiplied items, bare
  // multi-item cells, whole-cell standardization beating the token
  // parse (contains-keyword rules), reference quirks (digit-only →
  // nothing, trailing count ignored, absurd count → keep whole).
  private val injuryCountRaws: Seq[String] = Seq(
    "2 Injured 1 Deceased", "Deceased Injured", "No Injury",
    "Complaint Of Pain", "2 Gibberish Xyz", null, "6", "2 Injured 1",
    "99999999999 Injured", "", "3 Laceration", "3 - Laceration",
    "1 Killed 2 Injured", "Fatal", "Unknown")

  private val countRaws: Seq[String] = Seq(
    "2 - Black 1 - White", "1 - Asian", "3 - Am. Ind.", "White", null, "",
    "1 - White 1 - Black 1 - Hispanic", "2-White", "10 - Pacific Islander",
    "0 - White 1 - Black") // zero count contributes nothing (both engines)

  private val withNameRaws: Seq[String] = Seq(
    "John Doe W/M; Jane Roe B/F", "Smith AA/F", "Flores H/M", "W", null,
    "[Lee TestÊA/F]", "No Code Here")

  private val ethRaws: Seq[String] = Seq(
    null, "", "MISSING", "NOT SPECIFIED", "NOT RECORDED", "N/A", "NONE",
    "BLANK", "NO DATA AVAILABLE", "(NULL)",
    "N", "NH", "NON HISPANIC", "NON-HISPANIC", "NOT HISPANIC",
    "NON-LATINO", "NONHISPANIC",
    "H", "L", "HISP", "HIS", "HISPANIC", "LATINO", "HISPANIC OR LATINO",
    "WHITE HISPANIC",
    "ME", "ARABIC", "MIDDLE EASTERN", "MIDDLE EAST",
    "U", "UK", "UNK", "UNKNOWN", "ZEBRA")

  // scalar-age vectors for the e2e standardize pipeline: junk, zero,
  // out-of-range, decimals on both sides of the half-even boundary
  private val ageScalarRaws: Seq[String] = Seq(
    "25", "0", "117", "150", "17.4", "2.5", "3.5", "-3", "UNKNOWN", "",
    null, "44", "63.0")

  /** DuckDB list literal over a raws fixture (1-based indexing at the
    * use site: `listSql(xs)[key % n + 1]`). */
  private def listSql(raws: Seq[String]): String =
    raws.map(v => if (v == null) "NULL" else sqlLit(v)).mkString("[", ", ", "]")

  private val raceEthRaws: Seq[(String, String)] = Seq(
    ("WHITE", "HISPANIC"), ("WHITE", "NON-HISPANIC"), ("BLACK", "HISPANIC OR LATINO"),
    ("BLACK", null), ("ASIAN", "NOT HISPANIC"), (null, "HISPANIC"),
    ("B", "H"), ("CAUCASIAN", "UNKNOWN"), ("UNKNOWN", "LATINO"), (null, null))

  // ---- flagship ---------------------------------------------------------

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q3(spark, "/root/testdata/sf0.001")

  // ---- the full SURVEY §2 inventory ------------------------------------

  /** Per-query session-conf overrides, applied (and restored) by
    * Bench / Verify / Profile around the query. The session default
    * `spark.sql.codegen.hugeMethodLimit=8000` aligns Spark's codegen
    * fallback with HotSpot's DontCompileHugeMethods refusal — the
    * safer default, because the failure it prevents is SILENT
    * interpretation of a hot loop (q_geo_join: 6.3 s → 1.2 s at sf1).
    * But the tradeoff is real and was measured in the other direction
    * on the streaming stream-stream join, whose >8000-bytecode stage
    * is NOT its hot loop: falling back to volcano execution there
    * costs more than running the generated outer method interpreted
    * (q_stream_joined sf0.1 isolated A/B: 8.5–9.0 s at 65535 vs
    * 10.7–12.8 s at 8000 — the whole r5→r6 "regression" was this
    * config change, not code). Ops that measured the opposite trade
    * declare it here instead of flipping the global. */
  val queryConfs: Map[String, Map[String, String]] = Map(
    "q_stream_joined" -> Map(
      "spark.sql.codegen.hugeMethodLimit" -> "65535",
      // An INNER stream-stream join in append mode emits every result
      // row inside the data batch itself; the trailing no-data
      // micro-batch only advances the watermark to evict join state —
      // at 2× 32 partitions × 4 state stores it re-opened and
      // re-committed every store for zero output rows (measured 6.8 of
      // the query's 14.8 s isolated at sf0.1). Output is identical
      // with it off (oracle-pinned); stateful operators that EMIT on
      // watermark close (sessionization, dedupe horizons, append-mode
      // windows) keep the default — this conf is scoped per query.
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"),
    // Same reasoning, per emission mode: Complete-mode sinks re-emit
    // the full table each batch (a no-data batch adds nothing);
    // dropDuplicatesWithinWatermark and the default neardup emission
    // both emit on the data batch that first carries a key — the
    // trailing batch only evicts state. q_stream_sessions(+native) and
    // q_stream_asof EMIT on watermark close and keep the default.
    "q_stream_window" -> Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"),
    "q_stream_topk" -> Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"),
    "q_stream_dedupe" -> Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"),
    "q_stream_enrich" -> Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"),
    "q_stream_neardup" -> Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))

  /** Per-query CORE (SparkConf) overrides — confs the running context
    * cannot change (`spark.conf.set` on them is a no-op after SparkEnv
    * exists), so they only apply where a FRESH JVM runs the query:
    * Bench fork mode passes them as -D args when
    * SPARK_GRAFT_SCALE_CONFS=1; a cluster deployment sets them on the
    * job. In-suite runs keep the global default.
    *
    * These are SCALE confs, opt-in by design: q_cooccur's 6.8 GB
    * pair-count shuffle is single-NVMe-bound at sf10, where zstd's
    * denser blocks won the interleaved A/B by 12-29% (100.4 vs
    * 113.8 s, 79.0 vs 110.8 s) — but at sf0.1 the same shuffle is
    * CPU-bound and zstd LOSES ~45% (interleaved fresh-JVM A/B: lz4
    * 3.8/4.0 s vs zstd 5.4/5.7 s). The codec choice tracks the DATA
    * DECADE, not the query, so it is applied only where the
    * deployment declares the scale — never pinned statically. */
  val queryCoreConfs: Map[String, Map[String, String]] = Map(
    "q_cooccur" -> Map("spark.io.compression.codec" -> "zstd"))

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
  def materialize(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.executedPlan.execute().count()

  /** Run `body` with `queryConfs(name)` applied to the session conf,
    * restoring prior values (or unsetting) afterwards. */
  def withQueryConfs[A](spark: SparkSession, name: String)(body: => A): A = {
    val overrides = queryConfs.getOrElse(name, Map.empty[String, String])
    val saved = overrides.keys.map(k => k -> spark.conf.getOption(k)).toMap
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Core query API
    "q_load_year" -> ((s, dir) =>
      Sources.load(T(s, dir, "orders"), date = Some(("o_orderdate", Year(1997))))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("date").as("o_orderdate"), col("o_totalprice"))
        .orderBy("o_orderkey")),
    "q_load_date_range" -> ((s, dir) =>
      Sources.load(T(s, dir, "events"),
          date = Some(("ts", DateRange("2024-01-10", "2024-01-20"))))
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")),
    "q_load_agency" -> ((s, dir) =>
      Sources.load(T(s, dir, "events"), agency = Some(("event_type", "CLI")))
        .select("event_id", "event_type", "value").orderBy("event_id")),
    "q_load_select" -> ((s, dir) =>
      Sources.load(T(s, dir, "lineitem"),
          select = Seq("l_orderkey", "l_linenumber", "l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")),
    "q_load_page" -> ((s, dir) =>
      Sources.pageAfter(T(s, dir, "events"), "event_id", 1000L, 50)
        .select("event_id", "event_type")),
    // Geo layer (graft.geo.Geo — the reference's geopandas surface):
    // events get deterministic synthetic WGS84 coordinates (the test
    // tables carry none), a point struct is attached, a bounding box
    // filters it, and the WKT rendering + haversine distance to a fixed
    // anchor ride along — all scan-stage expressions, no shuffle. The
    // oracle replays the identical IEEE arithmetic.
    "q_geo_filter" -> ((s, dir) => {
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
    }),
    // Grid-blocked radius join (Geo.radiusJoin): events within 600 km
    // of the nation-derived centers — an equi-join on grid cells plus
    // the exact haversine filter, never a cross join; the oracle IS the
    // cross join (25 centers × events is small at oracle scale), so a
    // hash match proves the blocking loses no pairs.
    "q_geo_join" -> ((s, dir) => {
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
    }),
    "q_count" -> ((s, dir) =>
      T(s, dir, "orders")
        .filter(Sources.dateFilter(col("o_orderdate"), Year(1996)))
        .agg(count(lit(1)).as("cnt"))),
    "q_get_years" -> ((s, dir) => Sources.getYears(T(s, dir, "orders"), "o_orderdate")),
    "q_get_agencies" -> ((s, dir) => Sources.getAgencies(T(s, dir, "events"), "event_type")),
    "q_combine" -> ((s, dir) => {
      val e = T(s, dir, "events")
      Sources.combine(Seq(
          e.filter(col("event_type") === "click").select("event_id", "event_type", "value"),
          e.filter(col("event_type") === "purchase").select("event_id", "event_type", "props")))
        .orderBy("event_id")
    }),
    "q_related_tables" -> ((s, dir) => {
      val ord = T(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          Sources.dateFilter(col("o_orderdate"), Year(1996)))
      T(s, dir, "lineitem").join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("l_linenumber"),
          col("o_orderdate").cast("date").as("o_orderdate"), col("l_quantity"))
        .orderBy("o_orderkey", "l_linenumber")
    }),

    // Catalog
    // merge with the join key AUTO-DETECTED by the reference's tiered
    // find_id_column heuristics (differing incident-id spellings on the
    // two sides).
    "q_related_auto" -> ((s, dir) => {
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
    }),

    "q_catalog_query" -> ((s, dir) =>
      Catalog.query(Catalog.catalog(s, dir),
          state = Some("NATION_3"), tableType = Some("BUILDING"))
        .orderBy("source_id")),
    "q_summary_by_state" -> ((s, dir) => {
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      Catalog.summaryByState(Catalog.catalog(s, dir), segs)
        .select(col("state") +: segs.map(v => col(v).as(v.toLowerCase)): _*)
        .orderBy("state")
    }),
    "q_summary_by_type" -> ((s, dir) =>
      Catalog.summaryByType(Catalog.catalog(s, dir)).orderBy("table_type", "year")),
    "q_num_sources" -> ((s, dir) =>
      Catalog.numSources(Catalog.catalog(s, dir)).orderBy("state")),
    "q_num_unique" -> ((s, dir) =>
      Catalog.numUniqueAgg(Catalog.catalog(s, dir),
        Seq("state", "source_id", "table_type"))),
    "q_table_types" -> ((s, dir) =>
      Catalog.tableTypes(Catalog.catalog(s, dir), contains = Some("ur"))
        .orderBy("table_type")),

    // Standardization
    "q_std_race" -> ((s, dir) =>
      rawsDf(s, raceRaws)
        .select(col("id"), col("raw"), Luts.raceStd(col("raw")).as("race_std"))
        .orderBy("id")),
    "q_std_gender" -> ((s, dir) =>
      rawsDf(s, genderRaws)
        .select(col("id"), col("raw"), Luts.genderStd(col("raw")).as("gender_std"))
        .orderBy("id")),
    // std_counts (_converters.py:975): count-annotated demographic
    // cells ("2 - Black 1 - White") explode to one row per person,
    // then standardize through the race LUT.
    "q_expand_counts" -> ((s, dir) =>
      Expand.expandCounts(rawsDf(s, countRaws), "raw", "value", "item_num")
        .select(col("id"), col("item_num"), col("value"),
          Luts.raceStd(col("value")).as("race_std"))
        .orderBy("id", "item_num")),
    // std_with_names (_converters.py std_with_names): name-annotated
    // cells ("John Doe W/M; Jane Roe B/F") → one row per person,
    // race component (itemNum=0) through the race LUT.
    "q_expand_names" -> ((s, dir) =>
      Expand.expandWithNames(rawsDf(s, withNameRaws), "raw", "value",
          "item_num", itemNum = 0)
        .select(col("id"), col("item_num"), col("value"),
          Luts.raceStd(col("value")).as("race_std"))
        .orderBy("id", "item_num")),
    // std_with_counts, injury MultType (_converters.py:975): converter-
    // GUIDED greedy parse — not SQL-expressible, so the oracle is the
    // hand-derived expected table for the fixture (a VALUES literal,
    // like the other converter fixtures).
    "q_expand_injury" -> ((s, dir) =>
      Expand.expandInjuryCounts(rawsDf(s, injuryCountRaws), "raw", "value",
          "item_num")
        .select(col("id"), col("item_num"), col("value"))
        .orderBy("id", "item_num")),
    // standardize_name (preproc.py:1424): null → UNSPECIFIED, '/'-held
    // multi-name cells split into trimmed parts (pipe-joined here so
    // the driver compare sees a scalar).
    "q_std_name" -> ((s, dir) =>
      rawsDf(s, nameRaws)
        .select(col("id"), col("raw"),
          concat_ws("|", Standardize.nameParts(col("raw"))).as("parts"))
        .orderBy("id")),
    "q_std_age_range" -> ((s, dir) =>
      rawsDf(s, ageRaws)
        .select(col("id"), col("raw"), AgeRange.ageRangeStd(col("raw")).as("age_range_std"))
        .orderBy("id")),
    // Scalar age standardization over an injected messy column: junk,
    // negatives, >120, zero, one -9999 sentinel, and a ".4" decimal.
    "q_std_age" -> ((s, dir) => {
      val raw = when(pmod(col("doc_id"), lit(13)) === 0, lit("UNKNOWN"))
        .when(pmod(col("doc_id"), lit(17)) === 0, lit("-5"))
        .when(pmod(col("doc_id"), lit(19)) === 0, lit("150"))
        .when(pmod(col("doc_id"), lit(23)) === 0, lit("0"))
        .when(col("doc_id") === 7, lit("-9999"))
        .when(pmod(col("doc_id"), lit(29)) === 0,
          concat((pmod(col("doc_id"), lit(80)) + 1).cast("string"), lit(".4")))
        .otherwise((pmod(col("doc_id"), lit(90)) + 1).cast("string"))
      AgeRange.standardizeAge(
          T(s, dir, "documents").select(col("doc_id"), raw.as("raw")),
          "doc_id", "raw")
        .orderBy("doc_id")
    }),
    "q_std_injury" -> ((s, dir) =>
      rawsDf(s, injuryRaws)
        .select(col("id"), col("raw"), Luts.injuryStd(col("raw")).as("injury_std"))
        .orderBy("id")),
    "q_std_fatal" -> ((s, dir) =>
      rawsDf(s, fatalRaws)
        .select(col("id"), col("raw"), Luts.fatalStd(col("raw")).as("fatal_std"))
        .orderBy("id")),
    "q_std_firearm" -> ((s, dir) =>
      rawsDf(s, firearmRaws)
        .select(col("id"), col("raw"), Luts.firearmStd(col("raw")).as("firearm_std"))
        .orderBy("id")),
    "q_std_eth" -> ((s, dir) =>
      rawsDf(s, ethRaws)
        .select(col("id"), col("raw"), Luts.ethStd(col("raw")).as("eth_std"))
        .orderBy("id")),
    "q_combine_race_eth" -> ((s, dir) => {
      import s.implicits._
      val df = raceEthRaws.zipWithIndex
        .map { case ((r, e), i) => (i + 1, Option(r), Option(e)) }
        .toDF("id", "race", "eth")
      df.select(col("id"), col("race"), col("eth"),
          Standardize.combineRaceEth(
            Luts.raceStd(col("race")), Luts.ethStd(col("eth")), "merge")
            .as("race_eth"))
        .orderBy("id")
    }),
    "q_parse_dates" -> ((s, dir) => {
      // RANGE repartition on the sort key BELOW the format/parse
      // projection (r10 recipe, guide §2.4): the global orderBy's
      // RangePartitioner sample job re-executed the projection (and on
      // the scan's 3 splits only — 0.66 s sample + 0.51 s real at
      // sf0.1); range-partitioning the cheap scan instead runs the
      // projection ONCE at full width. The orderBy stays: over
      // range-partitioned input it satisfies OrderedDistribution and
      // compiles to a partition-local sort with no extra exchange —
      // and degrades to a correct (just slower) global sort if the
      // partitioning ever stops surviving.
      val o = T(s, dir, "orders")
        .repartitionByRange(s.sparkContext.defaultParallelism, col("o_orderkey"))
      val raw = when(pmod(col("o_orderkey"), lit(3)) === 0,
          date_format(col("o_orderdate"), "MM/dd/yyyy"))
        .when(pmod(col("o_orderkey"), lit(3)) === 1,
          date_format(col("o_orderdate"), "yyyyMMdd"))
        .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd"))
      o.select(col("o_orderkey"), raw.as("raw"),
          Dates.parseDateMulti(raw, Seq("MM/dd/yyyy", "yyyyMMdd", "yyyy-MM-dd")).as("parsed"))
        .orderBy("o_orderkey")
    }),
    "q_merge_date_time" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val d = date_format(col("ts"), "yyyy-MM-dd")
      val t = when(pmod(col("user_id"), lit(10)) === 0, lit(null).cast("string"))
        .otherwise(date_format(col("ts"), "HH:mm:ss"))
      e.select(col("event_id"), Dates.mergeDateTime(d, t).as("merged"))
        .orderBy("event_id")
    }),
    "q_expand_demo" -> ((s, dir) =>
      Expand.expandDelimPos(
          T(s, dir, "documents").filter(col("doc_id") < 100).select("doc_id", "text"),
          "text", " ", "word", "pos")
        .orderBy("doc_id", "pos")),
    "q_std_rename" -> ((s, dir) =>
      T(s, dir, "events").select(
          col("event_id").as("incident_id"),
          col("ts").cast("date").as("incident_date"),
          col("event_type").as("agency"),
          col("value"))
        .orderBy("incident_id")),
    // The reference's flagship Table.standardize() composition in ONE
    // oracle-pinned row: messy column NAMES (identify + role binding +
    // content validation), messy VALUES (race/eth/gender LUTs, scalar
    // age, US-format dates, HH:mm:ss times with nulls), the
    // DATE+TIME→DATETIME merge, and the RE_GROUP race+eth combine —
    // all through Standardizer.standardize over a deterministic
    // events-derived frame. Single scan stage, no shuffle (the one
    // bounded validation aggregate reads a 1000-row sample).
    "q_standardize_e2e" -> ((s, dir) => {
      def pick(raws: Seq[String], key: Column): Column =
        element_at(array(raws.map(v => lit(v).cast("string")): _*),
          (pmod(key, lit(raws.size)) + 1).cast("int"))
      val raw = T(s, dir, "events").select(
        col("event_id"),
        date_format(col("ts"), "MM/dd/yyyy").as("incident date"),
        when(pmod(col("user_id"), lit(10)) === 0, lit(null).cast("string"))
          .otherwise(date_format(col("ts"), "HH:mm:ss")).as("occurred time"),
        pick(raceRaws, col("event_id")).as("subject race"),
        pick(ethRaws, col("event_id")).as("subject ethnicity"),
        pick(genderRaws, col("event_id")).as("officer gender"),
        pick(ageScalarRaws, col("event_id")).as("subject age"),
        col("event_type").as("department"))
        // RANGE repartition on the output sort key (was: id-hash): it
        // still spreads the regex-heavy std projection off the raw
        // frame's 2 parquet splits, AND it is the final order — the
        // output sort becomes partition-local, so the RangePartitioner
        // sample job of a global orderBy no longer re-executes the std
        // projection (it samples this cheap pick projection instead).
        // One exchange total; std projection runs ONCE (guide §2.4;
        // sf0.1 isolated 11.3 → ~6 s, r10). Row order is identical:
        // range partitions are ordered and event_id is unique.
        .repartitionByRange(s.sparkContext.defaultParallelism, col("event_id"))
      graft.ops.Standardizer.standardize(raw).df
        .select(col("event_id"),
          col("DATE").as("date"), col("TIME").as("time"),
          col("DATETIME").as("datetime"),
          col("RACE_SUBJECT").as("race_subject"),
          col("ETHNICITY_SUBJECT").as("ethnicity_subject"),
          col("RE_GROUP_SUBJECT").as("re_group_subject"),
          col("GENDER_OFFICER").as("gender_officer"),
          col("AGE_SUBJECT").as("age_subject"),
          col("AGENCY").as("agency"))
        // partition-local sort: the input is already RANGE-partitioned
        // by event_id (above), so ordered partitions + local sort ==
        // the global orderBy, without its sample-job double execution
        .sortWithinPartitions("event_id")
    }),

    // Dedup
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(T(s, dir, "documents"), "doc_id", "text").orderBy("keep_id")),
    "q_dedup_fingerprint" -> ((s, dir) =>
      Dedup.fingerprint(T(s, dir, "documents"), "doc_id", "text").orderBy("fingerprint")),
    // carrySigs: the fat-cluster-safe form (corpus-linear shuffles —
    // SCALING.md "the sf10 drill"); identical rows to the re-attach
    // default, measured at parity on the thin-cluster bench corpora.
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(T(s, dir, "documents"), "doc_id", "text",
          k = 5, numPerms = 128, bands = 16, threshold = 0.5,
          carrySigs = true)
        .orderBy("id_a", "id_b")),
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(T(s, dir, "documents"), "doc_id", "text", maxHamming = 6)
        .orderBy("id_a", "id_b")),
    // SQL-verifiable companion to q_dedup_minhash: re-check the emitted
    // candidate pairs with EXACT 5-gram Jaccard and keep only >= 0.8 —
    // the oracle computes the same set over ALL pairs, so the row sets
    // match iff LSH recall at j >= 0.8 is complete. With 32 bands of 4
    // rows the per-pair miss probability at j = 0.8 is ~5e-8 (and the
    // pipeline is fully deterministic on fixed data). Pins signature
    // determinism, banding, the candidate join, and estimation.
    "q_dedup_minhash_verify" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      // Candidate gate 0.6, not the 0.5 the standalone pair query uses:
      // everything below the 0.8 exact-confirm dies downstream anyway,
      // and P(est < 0.6 | J >= 0.8) = P(Bin(128,.8) < 76.8) ~ 7e-9 —
      // tighter than the 5e-8 banding-recall bound this query already
      // documents. At corpora with fat ~0.5-similar clusters (sf10:
      // ~100-member cross-copy families) the gate cuts the gram-array
      // confirm join ~40x; it is the difference between the confirm
      // shuffle fitting and detonating.
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        k = 5, numPerms = 128, bands = 32, threshold = 0.6,
        carrySigs = true)
      // Repartition before the gram kernel: the docs scan is one parquet
      // split and the projection feeds both join probes — unpartitioned
      // it would run 2x on one core.
      val g = docs.repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          graft.functions.GraftFunctions.gramHashes(col("text"), 5).as("grams"))
      pairs.join(g.as("ga"), col("id_a") === col("ga.doc_id"))
        .join(g.as("gb"), col("id_b") === col("gb.doc_id"))
        .select(col("id_a"), col("id_b"),
          graft.functions.Det.round4(graft.functions.GraftFunctions.jaccardSorted(
            col("ga.grams"), col("gb.grams"))).as("jaccard"))
        .filter(col("jaccard") >= 0.8)
        .orderBy("id_a", "id_b")
    }),
    // SQL-verifiable companion to q_dedup_simhash: SimHash is invariant
    // under word permutation, so a copy of each doc with its words
    // sorted has hamming 0 from the original and MUST be found (hamming
    // 0 shares every band). Union docs with sorted-word copies
    // (ids + 1e6), run the blocked pipeline, keep pairs whose word
    // multisets agree — the oracle recomputes that set directly.
    "q_dedup_simhash_verify" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val base = docs.select(col("doc_id"), Dedup.normText(col("text")).as("nt"))
      val perm = base.select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", array_sort(split(col("nt"), " "))).as("nt"))
      val all = base.unionByName(perm)
      // Word-multiset agreement = equality of the sorted-word STRING,
      // carried as ONE xxhash64 (the line-dedup fingerprint trick) ON
      // the band rows via simhashPairs(carry): the fingerprint rides
      // the corpus-linear band exchange (8 bytes × bands per doc) and
      // the multiset check is a long compare INSIDE the join stage —
      // the former per-pair re-join of the corpus paid two
      // candidate-volume exchanges (~1.8 GB at sf10 for ~30M raw
      // candidates; 15 s of 19). Collision risk ~1e-13 per corpus —
      // the repo's standard fingerprint discipline, and the oracle
      // recomputes the multiset equality exactly.
      val pairs = Dedup.simhashPairs(all, "doc_id", "nt", maxHamming = 6,
        carry = Seq("wh" ->
          xxhash64(concat_ws(" ", array_sort(split(col("nt"), " "))))))
      pairs.filter(col("wh_a") === col("wh_b"))
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),
    // The Manku (WWW'07) table-of-combinations construction — HARD
    // recall to maxHamming = 6 where the 4×16 banding is best-effort
    // past hamming 3 (DedupSpec proves completeness against all-pairs
    // brute force and exhibits an all-bands-disagree pair only this
    // form finds). Same verify-twin oracle design as
    // q_dedup_simhash_verify: permuted copies are hamming-0 pairs the
    // construction MUST find; the multiset fingerprint rides the table
    // exchange as a carry and the oracle recomputes the multiset
    // equality exactly — a full hash match on the hard-recall plumbing.
    "q_dedup_simhash_manku" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val base = docs.select(col("doc_id"), Dedup.normText(col("text")).as("nt"))
      val perm = base.select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", array_sort(split(col("nt"), " "))).as("nt"))
      val all = base.unionByName(perm)
      val pairs = Dedup.simhashPairsHard(all, "doc_id", "nt",
        maxHamming = 6, blocks = 8,
        carry = Seq("wh" ->
          xxhash64(concat_ws(" ", array_sort(split(col("nt"), " "))))))
      pairs.filter(col("wh_a") === col("wh_b"))
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),
    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(T(s, dir, "documents"), "doc_id", "text",
          blockCol = "source", n = 3, threshold = 0.6)
        .orderBy("id_a", "id_b")),
    "q_dedup_embed" -> ((s, dir) =>
      Dedup.embedCosinePairs(T(s, dir, "embeddings"), "vec_id", "embedding",
          "label", threshold = 0.3)
        .orderBy("id_a", "id_b")),
    // End-to-end MinHash dedup — the full production pipeline in one
    // operator: full-recall banded candidate pairs → exact-Jaccard
    // confirmation (>= 0.8) → connected components → keep the lowest id
    // per cluster. Every doc appears once with its cluster label and
    // survivor flag; the oracle replays the whole chain (all-pairs
    // Jaccard + recursive-CTE closure) in SQL.
    // RECALL ASSUMPTION: candidates come from banded MinHash (128
    // perms, 32 bands × r=4), so a J>=0.8 pair is missed with
    // P=(1-J^4)^32 ≈ 5e-8 — while the all-pairs oracle never misses.
    // On THIS corpus no qualifying pair lands in the miss set (the
    // hash seeds are fixed, so the check is deterministic), but on a
    // different corpus/scale the suite could in principle diverge
    // without either engine being wrong. Kept banded deliberately:
    // the e2e query exists to pin the PRODUCTION pipeline, and
    // all-pairs candidate generation would not survive 100 TB.
    // RECALL ASSUMPTION (documented, not incidental): the oracle
    // enumerates ALL pairs with exact jaccard >= 0.8, while this
    // pipeline only confirms pairs the 32-band/4-row LSH surfaces. The
    // match holds because banding recall at the confirm threshold is
    // 1-(1-s^4)^32 >= 1-5e-8 for s >= 0.8 — i.e. a true near-dup pair
    // escapes all 32 bands with probability < 1e-7, so on any corpus
    // this size the banded candidate set provably covers the oracle's
    // pair set. Lowering numPerms/bands (or raising the confirm
    // threshold toward the band threshold) weakens that bound — the
    // hash-equality gate is then probabilistic, not exact.
    "q_dedup_minhash_e2e" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      // est gate 0.6 (see q_dedup_minhash_verify): P(est<0.6 | J>=0.8)
      // ~ 7e-9 < the 5e-8 band-miss bound above, and the gate keeps the
      // exact-confirm join output-shaped instead of cluster²-shaped.
      val cand = Dedup.minhashPairs(docs, "doc_id", "text",
        k = 5, numPerms = 128, bands = 32, threshold = 0.6,
        carrySigs = true)
      val g = docs.repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          graft.functions.GraftFunctions.gramHashes(col("text"), 5).as("grams"))
      val pairs = cand.join(g.as("ga"), col("id_a") === col("ga.doc_id"))
        .join(g.as("gb"), col("id_b") === col("gb.doc_id"))
        .filter(graft.functions.GraftFunctions.jaccardSorted(
          col("ga.grams"), col("gb.grams")) >= 0.8)
        .select("id_a", "id_b")
      val comp = Dedup.componentsStars(pairs)
        .withColumnRenamed("id", "doc_id")
      docs.select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster"),
          (coalesce(col("component"), col("doc_id")) === col("doc_id")).as("keep"))
        .orderBy("doc_id")
    }),
    // Pairs → clusters: connected components over the embed near-dup
    // graph (oracle = recursive CTE closure). This cosine graph is
    // chain-shaped at threshold 0.3; star alternations contract paths
    // geometrically (6 rounds at sf0.1).
    "q_dedup_components" -> ((s, dir) =>
      Dedup.componentsStars(
          Dedup.embedCosinePairs(T(s, dir, "embeddings"), "vec_id", "embedding",
            "label", threshold = 0.3))
        .orderBy("id")),
    // Symmetric int8 embedding quantization (4x shuffle/storage cut for
    // corpus-scale vector tables) — bytes rendered as CSV for the
    // driver compare.
    "q_embed_quant" -> ((s, dir) => {
      val q = graft.sim.Vectors.quantizeInt8(col("embedding"))
      T(s, dir, "embeddings")
        // contract: null/empty vectors are excluded on BOTH sides (the
        // engines' null semantics for concat_ws/list_max diverge)
        .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
        .select(col("vec_id"), q.as("qz"))
        .select(col("vec_id"), graft.functions.Det.round(col("qz.scale"), 6).as("scale"),
          concat_ws(",", transform(col("qz.q"), x => x.cast("string"))).as("q_csv"))
        .orderBy("vec_id")
    }),
    // SemDeDup: keep-lowest-id survivors after cell-scoped cosine
    // dominance (oracle = NOT EXISTS over the same rounded cosine).
    "q_dedup_semantic" -> ((s, dir) =>
      Dedup.semantic(T(s, dir, "embeddings"), "vec_id", "embedding",
          "label", threshold = 0.3)
        .orderBy("vec_id")),
    // Exact substring dedup (Lee et al. 2022): maximal token spans whose
    // 10-token windows repeat corpus-wide — the suffix-array method
    // re-expressed as gram-count shuffle + gaps-and-islands (47 spans,
    // max 93 tokens at sf0.01). span_md5 pins the span CONTENT.
    "q_substr_dedup" -> ((s, dir) =>
      Dedup.repeatedSpans(T(s, dir, "documents"), "doc_id", "text",
          k = 10, minCount = 2)
        .orderBy("doc_id", "span_pos")),
    // ...and the removal step: all but the corpus-global first
    // occurrence of each repeated span cut, text reassembled.
    "q_substr_scrub" -> ((s, dir) =>
      // scrubRepeatedSpans returns its output RANGE-partitioned by
      // doc_id (see the operator). orderBy over that partitioning
      // satisfies OrderedDistribution, so it compiles to the same
      // partition-local sort with NO extra exchange (verified in the
      // r11 plan dump) — and unlike the previous sortWithinPartitions
      // it stays CORRECT if the operator's removal-ranges join ever
      // stops broadcasting and re-shuffles the base side (the r10
      // ADVICE silent-misorder risk): the degraded path plans a real
      // range exchange instead of silently mis-ordering.
      Dedup.scrubRepeatedSpans(T(s, dir, "documents"), "doc_id", "text",
          k = 10, minCount = 2)
        .orderBy("doc_id")),

    // Similarity search
    "q_ann_bruteforce" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Ann.bruteForceTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding", 10)
        .orderBy("query_id", "rank")
    }),
    "q_ann_lsh" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Ann.lshTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding", 10)
        .orderBy("query_id", "rank")
    }),
    "q_ann_ivf" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Ann.ivfTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding", "label", 10)
        .orderBy("query_id", "rank")
    }),
    // Product quantization (Jégou et al. 2011): 64 float dims → 8 codes
    // against a deterministic 16-entry codebook, queries scored by
    // integer-micro ADC lookups — every stage (codebook, codes, ranks)
    // bit-pinned by the oracle. The exact-rerank serving path is
    // PqSpec-pinned to equal brute force at full shortlist.
    "q_ann_pq" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      graft.sim.Pq.pqTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
          k = 10, m = 8, subDim = 8, nCentroids = 16)
        .orderBy("query_id", "rank")
    }),
    // One deterministic Lloyd iteration (the learned-quantizer training
    // step): integer-micro assignment + decimal-exact per-dim means.
    "q_kmeans_iter" -> ((s, dir) =>
      graft.sim.Kmeans.lloydIteration(T(s, dir, "embeddings"), "vec_id",
          "embedding", k = 8, dim = 64)
        .orderBy("cluster", "dim")),
    // FAISS-style IVF-PQ composition, registered in its exactness form
    // (nprobe >= |cells|, shortlist >= |corpus| -> must equal brute
    // force); pruned settings are the serving shape (PqSpec).
    "q_ann_ivfpq" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      graft.sim.Pq.ivfPqTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
          "label", k = 10, nprobe = 1000, shortlist = 10000000)
        .orderBy("query_id", "rank")
    }),
    // The PRODUCTION IVF-PQ form (nprobe << |cells|, bounded
    // shortlist): the serving shape whose cost is nprobe/|cells| of
    // the corpus in 8-byte codes + `shortlist` float reads per query.
    // Approximate by construction → rows-only; the exactness twin
    // above (same code path, full probe) is its SQL-verified
    // companion, and measured recall@10 vs brute force is tabled in
    // SCALING.md.
    "q_ann_ivfpq_probe" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      graft.sim.Pq.ivfPqTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
          "label", k = 10, nprobe = 3, shortlist = 100)
        .orderBy("query_id", "rank")
    }),
    // SQL-verifiable companion to q_ann_lsh: 16 one-bit bands — a corpus
    // vector is excluded only if its signature disagrees with the query
    // on ALL 16 hyperplanes (probability ~(θ/π)^16; for actual top-k
    // neighbors, vanishingly small). Not exact BY CONSTRUCTION like
    // ivf_verify, but deterministic on the fixed corpus and verified to
    // reproduce brute force at sf0.01 and sf0.1. Exercises signature
    // computation, banding, the bucket join, and the re-rank.
    "q_ann_lsh_verify" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Ann.lshTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding", 10,
          numPlanes = 16, bands = 16)
        .orderBy("query_id", "rank")
    }),
    // SQL-verifiable companion to q_ann_ivf: nprobe ≥ #cells probes
    // every cell, so routing + per-cell scoring + global top-k must
    // reproduce brute force exactly (verifies everything but pruning).
    "q_ann_ivf_verify" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Ann.ivfTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding", "label", 10,
          nprobe = 1024)
        .orderBy("query_id", "rank")
    }),
    // Learned-quantizer IVF (seeded MLlib k-means): full probe → exact
    // by construction, so the brute-force oracle verifies the fit +
    // assignment + routing + re-rank pipeline end-to-end.
    "q_ann_ivf_learned" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Ann.ivfLearnedTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding", 10,
          nCells = 8, nprobe = 1024)
        .orderBy("query_id", "rank")
    }),

    // Text analysis
    "q_lang_id" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextStats.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),
    "q_quality_score" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextStats.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),
    "q_token_count" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.wsTokens(col("text")).as("ws_tokens"),
          TextStats.bpeTokens(col("text")).as("bpe_tokens"))
        .orderBy("doc_id")),

    "q_bm25" -> ((s, dir) =>
      Rank.bm25(T(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "query", "window"), limit = 15)),
    // Gopher-style intra-doc repetition over 2-grams (the synthetic
    // small-vocab corpus has meaningful repeat rates at n=2)
    "q_rep_ngrams" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
          TextStats.repetitionRatio2(col("text")).as("rep2"))
        .orderBy("doc_id")),
    "q_vocab" -> ((s, dir) =>
      Rank.buildVocab(T(s, dir, "documents"), "doc_id", "text", minDf = 100L)
        .orderBy("term_id")),
    // Vocabulary application: every doc encoded as its token-id
    // sequence under the minDf=100 vocab; OOV -> 0.
    "q_tokenize" -> ((s, dir) =>
      Rank.tokenize(T(s, dir, "documents"), "doc_id", "text", minDf = 100L)
        .orderBy("doc_id")),
    // Long-tail inverted index: full posting lists only where df bounds
    // them (≤ 1/25 of the corpus); hot terms are excluded by design
    // (sharded at scale).
    "q_postings" -> ((s, dir) =>
      Rank.postings(T(s, dir, "documents"), "doc_id", "text", denom = 25)
        .orderBy("term")),
    "q_keywords" -> ((s, dir) =>
      Rank.keywords(T(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rnk")),
    "q_lm_score" -> ((s, dir) =>
      TextStats.lmScore(T(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    // CCNet head/middle/tail: rank-based perplexity terciles over the
    // in-engine LM score (rank cuts are integer-exact — portable where
    // interpolated score boundaries are not).
    "q_ccnet_buckets" -> ((s, dir) =>
      Curation.rankBuckets(
          TextStats.lmScore(T(s, dir, "documents"), "doc_id", "text")
            .select("doc_id", "nats"), "nats", "doc_id")
        .orderBy("doc_id")),
    "q_sample_pergroup" -> ((s, dir) =>
      Curation.sampleKPerGroup(T(s, dir, "documents"), "source", "doc_id",
          "text", k = 5)
        .orderBy("source", "doc_id")),

    // Winnowing fingerprints (rolling-hash document fingerprinting):
    // emit count + CSV of the sorted fingerprint set so the driver can
    // hash-compare against the oracle's identical polynomial hashes.
    "q_fingerprint_winnow" -> ((s, dir) =>
      T(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism) // kernel off the single split
        .select(col("doc_id"), TextStats.winnowFingerprints(col("text")).as("fp"))
        .select(col("doc_id"), size(col("fp")).cast("long").as("n_fp"),
          concat_ws(",", transform(col("fp"), x => x.cast("string"))).as("fp_csv"))
        .orderBy("doc_id")),

    // Corpus curation (training-data pipeline ops beyond the reference)
    "q_sample_split" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          Curation.splitLabel(col("text"),
            Seq("train" -> 0.8, "val" -> 0.1), "test").as("split"))
        .orderBy("doc_id")),
    // Deterministic PII is injected first (the synthetic corpus has
    // none), then counted and scrubbed — email/SSN/phone in that order.
    "q_pii_scrub" -> ((s, dir) => {
      val injected = concat_ws(" ", col("text"),
        concat(lit("user"), col("doc_id"), lit("@example.com")),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("123-45-6789")).otherwise(lit("na")),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("555.867.5309")).otherwise(lit("na")))
      // One kernel call per doc (pii_scrub_stats) instead of the six
      // regex passes of the declarative twin (scrubPii/piiCount kept
      // as the spec oracle; PiiKernelSpec pins equivalence). RANGE
      // repartition on doc_id BEFORE the kernel: the global orderBy's
      // sample job re-executed the kernel subtree (2× kernel); ordered
      // partitions + local sort give the identical row order with the
      // kernel run once, and the raw-text exchange spreads the kernel
      // across the full parallelism instead of the scan's 2 splits.
      T(s, dir, "documents")
        .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
          graft.functions.GraftFunctions.piiScrubStats(injected).as("__p"))
        .select(col("doc_id"),
          (col("__p.n_email") + col("__p.n_ssn") + col("__p.n_phone")).as("n_pii"),
          col("__p.scrubbed").as("scrubbed"))
        .sortWithinPartitions("doc_id")
    }),
    // Word 3-grams (the synthetic ~30-word vocabulary makes real 8/13-
    // gram overlap vanishingly rare; the operator takes n as a param).
    "q_decontaminate" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Curation.contamination(
          docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(97)) === 0),
          "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }),
    // DSIR: how much does each doc "look like" the fr-language target
    // set, under corpus-trained unigram+bigram models.
    "q_dsir_weights" -> ((s, dir) =>
      Curation.dsirWeights(T(s, dir, "documents"), "doc_id", "text",
          isTarget = col("lang") === "fr")
        .orderBy("doc_id")),
    // DSIR's production form: features hashed into a fixed bucket
    // count (the paper's own trick), so the model dimension is bounded
    // no matter the corpus vocabulary. Oracle mirrors the md5-derived
    // bucket, pinning the collided model bit-for-bit.
    "q_dsir_hashed" -> ((s, dir) =>
      Curation.dsirWeightsHashed(T(s, dir, "documents"), "doc_id", "text",
          isTarget = col("lang") === "fr", buckets = 4096)
        .orderBy("doc_id")),
    "q_distinct_kmv" -> ((s, dir) =>
      Curation.kmvDistinct(T(s, dir, "orders"), col("o_custkey"), k = 256)),
    // Incremental dedup demo: the delta is exact copies of the %7 docs
    // (re-idd — must be dropped) plus modified copies of the %11 docs
    // (new content — must be kept).
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val dupes = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val novel = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" novel suffix")).as("text"))
      Dedup.incremental(dupes.unionByName(novel), docs, "doc_id", "text")
        .select("doc_id")
        .orderBy("doc_id")
    }),
    "q_pack_chunks" -> ((s, dir) =>
      Curation.packChunks(T(s, dir, "documents"), "doc_id", "text",
          shardCol = "source", contextLen = 256)
        .orderBy("source", "doc_id")),
    // Line-level dedup: the corpus has no newlines, so lines are formed
    // deterministically (break after every 5th word) — same injection
    // trick as q_pii_scrub; the operator itself is line-structure-
    // agnostic. minCount=2 drops ~10% of lines at sf0.01.
    "q_line_dedup" -> ((s, dir) =>
      Curation.lineDedup(
          T(s, dir, "documents").select(col("doc_id"),
            regexp_replace(col("text"), "((\\w+ ){5})", "$1\n").as("text")),
          "doc_id", "text", minCount = 2)
        .orderBy("doc_id")),
    "q_gopher_filter" -> ((s, dir) =>
      Curation.gopherQuality(T(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    // C4 cleaning: lines injected (break after every 7th word), half the
    // lines get terminal punctuation by content hash, and a sprinkle of
    // docs get the lorem-ipsum / curly-brace kill markers.
    "q_c4_filter" -> ((s, dir) =>
      Curation.c4Clean(
          T(s, dir, "documents").select(col("doc_id"), c4Injected.as("text")),
          "doc_id", "text")
        .orderBy("doc_id")),
    // The full curation gauntlet with kill provenance: dup -> c4 ->
    // gopher -> lm_tail over the same injected line corpus.
    "q_curation_e2e" -> ((s, dir) =>
      Curation.curationPipeline(
          T(s, dir, "documents").select(col("doc_id"), c4Injected.as("text")),
          "doc_id", "text")
        .orderBy("doc_id")),
    // Contiguous global ids without a single-partition window (the
    // offsets fold back from one count per partition).
    "q_assign_ids" -> ((s, dir) =>
      Curation.assignIds(T(s, dir, "documents").select("doc_id", "source"),
          orderCols = Seq("source", "doc_id"))
        .select(col("doc_id"), col("source"), col("gid"))
        .orderBy("gid")),
    // Uniform language mix: every lang downsampled toward the smallest
    // (fr, 64 docs at sf0.01) by content-hash thresholding.
    "q_domain_mix" -> ((s, dir) =>
      Curation.domainMix(T(s, dir, "documents"), "lang", "doc_id", "text")
        .orderBy("lang", "doc_id")),
    // Mix-planning table: per-source docs/token totals, corpus share,
    // cumulative share in largest-first order (the top-p cut finder).
    "q_token_budget" -> ((s, dir) =>
      Curation.tokenBudget(T(s, dir, "documents"), "source", "text")
        .orderBy(col("tokens").desc, col("source"))),

    // Multimodal
    "q_mm_meta" -> ((s, dir) =>
      Binary.withMeta(T(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "n_bytes", "sha256", "mime")
        .orderBy("doc_id")),
    // Image-header metadata over the (textual) payloads: REAL PNG/GIF/
    // JPEG header parsing; on this corpus every payload is text, so the
    // oracle pins that the parser never false-positives on arbitrary
    // bytes (format null, dims -1). BinarySpec covers the positive
    // cases with crafted headers.
    "q_mm_imagemeta" -> ((s, dir) =>
      Binary.withImageMeta(s,
          Binary.withMeta(T(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "payload")
        .orderBy("id")),
    // Pins the resize mapPartitions KERNEL against SQL: the oracle
    // re-derives the strided thumb from chars (ASCII corpus) and the
    // md5s must agree byte-for-byte.
    "q_mm_resize" -> ((s, dir) =>
      Binary.resizeStub(s,
          Binary.withMeta(T(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "payload", targetW = 8, targetH = 8)
        .toDF()
        .select(col("id"), col("width"), col("height"),
          octet_length(col("thumb")).cast("long").as("n_thumb"),
          md5(col("thumb")).as("thumb_md5"))
        .orderBy("id")),
    // Frame sampling with integer-exact byte-window placement. The
    // oracle mirrors byte windows with CHAR windows — equivalent here
    // because the corpus is pure ASCII (octet_length ≡ length,
    // verified), and md5 hashes the same UTF-8 bytes on both engines.
    "q_mm_frames" -> ((s, dir) =>
      Binary.sampleFrames(
          Binary.withMeta(T(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "payload")
        .orderBy("doc_id", "frame_idx")),
    // Same negative pinning for the WAV parser (EngineSpec covers the
    // positive cases with crafted RIFF headers).
    "q_mm_audiometa" -> ((s, dir) =>
      Binary.withAudioMeta(s,
          Binary.withMeta(T(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "payload")
        .orderBy("id")),

    // Rows-only query, but the output must still be SORTABLE by the
    // driver's pandas canonicalizer — a raw array<float> column crashes
    // its factorize step, so the feature vector is projected to a
    // deterministic CSV string (4-decimal fixed point per bin).
    "q_mm_features" -> ((s, dir) =>
      Binary.extractFeatures(s,
          Binary.withMeta(T(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "payload")
        .toDF()
        .select(col("id"), col("n_bytes"),
          array_join(transform(col("features"),
            f => format_number(f.cast("double"), 4)), ",").as("features_csv"))
        .orderBy("id")),

    // SQL-verified companion for q_mm_features: the float histogram is
    // projected back to EXACT integer bin counts — round(f * n_bytes)
    // inverts the float32 division exactly while any single bin holds
    // < ~8e6 bytes (abs error grows as count * 6e-8), far above this
    // corpus's payloads. The oracle recomputes per CODEPOINT, which
    // equals the kernel's per-BYTE histogram only on an ASCII corpus —
    // a documented property of this verification fixture (BinarySpec
    // covers arbitrary binary payloads); null text coalesces to empty
    // on both sides.
    "q_mm_features_verify" -> ((s, dir) =>
      Binary.extractFeatures(s,
          Binary.withMeta(T(s, dir, "documents")
            .select(col("doc_id"), coalesce(col("text"), lit("")).as("text")),
            "doc_id", "text"),
          "doc_id", "payload")
        .toDF()
        .select(col("id"), col("n_bytes"),
          concat_ws(",", transform(col("features"),
            f => round(f.cast("double") * col("n_bytes")).cast("long").cast("string")))
            .as("hist_csv"))
        .orderBy("id")),

    // Analytics headliners
    "q1_agg" -> ((s, dir) => Analytics.q1(s, dir)),
    "q3_join" -> ((s, dir) => Analytics.q3(s, dir)),
    "q5_multijoin" -> ((s, dir) => Analytics.q5(s, dir)),
    // Salted skew join: the fact side's hot keys spread over 8 salted
    // sub-keys; the dim replicates once per salt. The salt must be
    // invisible in the result — the oracle is the plain join.
    "q_salted_join" -> ((s, dir) => {
      graft.ops.Skew.saltedJoin(T(s, dir, "lineitem"), "l_partkey",
          T(s, dir, "part").select("p_partkey", "p_brand"), "p_partkey", salts = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice").cast(DecimalType(30, 10))), 2)
            .cast("double").as("revenue"))
        .orderBy("p_brand")
    }),
    // Runtime-filter join: Bloom over the selective dim's keys kills
    // fact rows in the scan stage before the join exchange; the exact
    // join removes false positives, so result ≡ the plain join the
    // oracle runs.
    "q_bloom_join" -> ((s, dir) => bloomJoinQuery(s, dir, 1 << 22)),
    // Damped PageRank over the customer–supplier purchase graph, 3
    // exact rounds (decimal-exact contribution sums, Det-rounded
    // scores) — the link-analysis signal of a crawl-curation pipeline.
    "q_pagerank" -> ((s, dir) => {
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
    }),
    // "Customers who bought X also bought Y": supplier-supplier Jaccard
    // from shared customers, pairs generated per basket (never an
    // item-item cross join); deliverable = top-5 similar items per item
    // (scale-invariant, unlike an absolute similarity threshold — the
    // declarative row_number form rides the TopKRewrite heap).
    "q_cooccur" -> ((s, dir) => {
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
    }),
    "q_window_topn" -> ((s, dir) => Analytics.windowTopN(s, dir)),
    // Same result through the custom bounded-heap TopKLargest aggregate
    // (map-side partial top-k; shuffle carries ≤ n rows per group per
    // partition) — oracle identical to q_window_topn.
    "q_topk_agg" -> ((s, dir) => Analytics.windowTopNAgg(s, dir)),
    "q_skew_agg" -> ((s, dir) => Analytics.skewAgg(s, dir).orderBy("l_orderkey")),
    "q_quantiles" -> ((s, dir) =>
      Analytics.groupQuantiles(T(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice", Seq(0.25, 0.5, 0.75, 0.95))
        .orderBy("l_returnflag")),
    "q_profile" -> ((s, dir) =>
      Analytics.profile(T(s, dir, "documents"),
          Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy("column")),

    // Streaming
    "q_stream_window" -> ((s, dir) =>
      Streams.windowAgg(s, dir).orderBy("window_start_us", "event_type")),
    "q_stream_topk" -> ((s, dir) =>
      Streams.topValues(s, dir, k = 3).orderBy("window_start_us", "event_type")),
    // Native session_window twin: emits ONLY watermark-closed sessions
    // (fMGWS also closes a session the moment its successor arrives),
    // so its oracle keeps just the watermark visibility condition.
    "q_stream_sessions_native" -> ((s, dir) =>
      Streams.sessionizeNative(s, dir).orderBy("user_id", "start_us")),
    "q_stream_sessions" -> ((s, dir) =>
      Streams.sessionize(s, dir).orderBy("user_id", "start_us")),
    // Watermark-bounded streaming dedup: event_id is unique in the
    // corpus, so every event passes exactly once and the oracle is the
    // full table — pinning that the stateful pipeline neither drops nor
    // duplicates (DedupSpec covers the duplicate-dropping case).
    "q_stream_dedupe" -> ((s, dir) =>
      Streams.dedupeStream(s, dir).orderBy("event_id")),
    // Streaming near-dup dedup on an md5-minhash signature built from
    // builtin functions only — the oracle recomputes the signature
    // bit-for-bit and takes min(doc_id) per group.
    "q_stream_neardup" -> ((s, dir) =>
      Streams.neardupStream(s, dir).orderBy("keep_id")),
    "q_stream_enrich" -> ((s, dir) =>
      Streams.enrich(s, dir).orderBy("window_start_us", "tier")),
    "q_stream_joined" -> ((s, dir) =>
      Streams.intervalJoin(s, dir).orderBy("click_id", "purchase_id")),
    // Streaming temporal (as-of) enrichment: emitted once the watermark
    // finalizes each probe's version set; visibility = events strictly
    // below the final watermark (max ts - 30min), mirrored by the oracle.
    "q_stream_asof" -> ((s, dir) =>
      Streams.temporalEnrich(s, dir).orderBy("event_id")),
    // Stateless streaming curation gate: C4 clean -> Gopher score on
    // the cleaned text, in-flight, zero state — identical operators
    // serve batch and stream, so the oracle is simply the batch chain.
    "q_stream_quality" -> ((s, dir) => {
      val docs = Streams.readTableStreamParallel(s, dir, "documents")
        .select(col("doc_id"), c4Injected.as("text"))
      Streams.runToMemory(
          Streams.curationGateStream(docs, "doc_id", "text"),
          s"graft_stream_quality_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy("doc_id")
    }),

    // Temporal joins (operators Spark lacks natively; ops/Joins.scala)
    // Backward as-of join: each event → the user's most recent purchase
    // at-or-before it. The build side is pre-aggregated to one row per
    // (user, ts) so the carried payload is deterministic.
    "q_asof_join" -> ((s, dir) => {
      val events = T(s, dir, "events")
      val purchases = events.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max("event_id").as("pid"))
      Joins.asofJoin(events, purchases, "user_id", "ts", "ts")
        .select(col("event_id"), col("user_id"),
          col("asof.pid").as("last_purchase_id"),
          (unix_micros(col("ts")) - unix_micros(col("asof.__rt"))).as("gap_us"))
        .orderBy("event_id")
    }),
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
    // (r10 VERDICT ask #5) by rangeJoinUnscaled / rangeJoinGuardedSum
    // below — an out-of-range value raises instead of silently
    // NULLing (cast) or wrapping (long sum).
    "q_range_join" -> ((s, dir) => {
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
        .agg(count(lit(1)).as("n_in_window"), sum(col("__uv")).as("__us"),
          max(abs(col("__uv"))).as("__mx"))
        .select(col("anchor_id"), col("n_in_window"),
          round(graft.functions.GraftFunctions.makeDecimal(
            rangeJoinGuardedSum(col("__us"), col("__mx"), col("n_in_window")),
            28, 10), 2)
            .cast("double").as("sum_value"))
        .orderBy("anchor_id")
    })
  )

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

  /** q_range_join's per-group overflow guard for the unscaled-long
    * sum: every partial sum is bounded by max|uv|·n, so
    * max|uv|·n < 2^63 proves no intermediate overflowed anywhere.
    * Checked conservatively in doubles with a ~2% margin (9.0e18 <
    * 2^63 ≈ 9.22e18) — a group that near-fills long headroom raises
    * instead of wrapping silently. */
  private[graft] def rangeJoinGuardedSum(us: Column, maxAbs: Column,
                                         n: Column): Column =
    when(maxAbs.cast("double") * n.cast("double") > lit(9.0e18),
      raise_error(concat(
        lit("q_range_join: unscaled-long sum headroom exceeded for a "),
        lit("window: max|uv|*n = "),
        (maxAbs.cast("double") * n.cast("double")).cast("string"))))
      .otherwise(us)

  // ---- oracle SQL (DuckDB dialect, same tables) ------------------------

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

  /** Deterministic line/punctuation/marker injection shared by
    * q_c4_filter and q_curation_e2e (the corpus has no newlines or
    * punctuation of its own): break after every 7th word, terminal "."
    * on half the lines by content hash, lorem-ipsum / brace markers on
    * a sprinkle of docs. */
  private def c4Injected: org.apache.spark.sql.Column = {
    val broken = regexp_replace(col("text"), "((\\w+ ){7})", "$1\n")
    val punct = array_join(transform(split(broken, "\n"), l =>
      when(substring(md5(trim(l)), 1, 1) < "8", concat(trim(l), lit(".")))
        .otherwise(trim(l))), "\n")
    concat_ws(" ", punct,
      when(pmod(col("doc_id"), lit(41)) === 0, lit("lorem ipsum")).otherwise(lit("ok")),
      when(pmod(col("doc_id"), lit(43)) === 0, lit("{x}")).otherwise(lit("ok")))
  }

  /** The matching DuckDB CTE chain: yields `inj(doc_id, t)`. */
  private val c4InjectedSql: String =
    """b AS (SELECT doc_id,
      |    regexp_replace(text, '((\w+ ){7})', '\1' || chr(10), 'g') AS t
      |  FROM documents),
      |p AS (SELECT doc_id, array_to_string(list_transform(string_split(t, chr(10)),
      |    l -> CASE WHEN substr(md5(trim(l)), 1, 1) < '8' THEN trim(l) || '.'
      |              ELSE trim(l) END), chr(10)) AS t FROM b),
      |inj AS (SELECT doc_id, concat_ws(' ', t,
      |    CASE WHEN doc_id % 41 = 0 THEN 'lorem ipsum' ELSE 'ok' END,
      |    CASE WHEN doc_id % 43 = 0 THEN '{x}' ELSE 'ok' END) AS t FROM p)""".stripMargin

  /** Exact cosine top-10 for query vecs vec_id < 5 — the oracle for
    * q_ann_bruteforce and for the exact-by-construction ANN verify
    * variants (q_ann_lsh_verify, q_ann_ivf_verify, q_ann_ivfpq). */
  private val annExactTopKSql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |q AS (SELECT * FROM v WHERE vec_id < 5),
      |s AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CAST(floor((
      |      list_sum(list_transform(range(1, 65), i -> q.e[CAST(i AS INT)] * c.e[CAST(i AS INT)])) /
      |      (sqrt(list_sum(list_transform(range(1, 65), i -> q.e[CAST(i AS INT)] * q.e[CAST(i AS INT)]))) *
      |       sqrt(list_sum(list_transform(range(1, 65), i -> c.e[CAST(i AS INT)] * c.e[CAST(i AS INT)]))))) * 10000 + 0.5) AS DOUBLE) / 10000 AS cos
      |  FROM q CROSS JOIN v c),
      |r AS (SELECT *, CAST(row_number() OVER
      |        (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
      |      FROM s)
      |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

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

  def oracleSql: Map[String, String] = Map(
    "q_load_year" ->
      """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |ORDER BY o_orderkey""".stripMargin,
    "q_load_date_range" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
        |ORDER BY event_id""".stripMargin,
    "q_load_agency" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE contains(lower(event_type), 'cli') ORDER BY event_id""".stripMargin,
    "q_load_select" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_load_page" ->
      """SELECT event_id, event_type FROM events WHERE event_id > 1000
        |ORDER BY event_id LIMIT 50""".stripMargin,
    "q_geo_filter" -> {
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
    "q_geo_join" -> {
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
    "q_count" ->
      """SELECT count(*) AS cnt FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'""".stripMargin,
    "q_get_years" ->
      "SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS yr FROM orders ORDER BY yr",
    "q_get_agencies" ->
      "SELECT DISTINCT event_type AS agency FROM events ORDER BY agency",
    "q_combine" ->
      """SELECT event_id, event_type, value, CAST(NULL AS VARCHAR) AS props
        |FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, event_type, CAST(NULL AS DOUBLE) AS value, props
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "q_related_tables" ->
      """SELECT o_orderkey, l_linenumber, CAST(o_orderdate AS DATE) AS o_orderdate, l_quantity
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |ORDER BY o_orderkey, l_linenumber""".stripMargin,

    "q_related_auto" ->
      """SELECT l_orderkey AS incident_num, l_linenumber,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, l_quantity
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |ORDER BY incident_num, l_linenumber""".stripMargin,

    "q_catalog_query" ->
      """SELECT DISTINCT n_name AS state, c_custkey AS source_id, c_name AS source_name,
        |  c_mktsegment AS table_type
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON o_custkey = c_custkey
        |WHERE n_name = 'NATION_3' AND c_mktsegment = 'BUILDING'
        |ORDER BY source_id""".stripMargin,
    "q_summary_by_state" -> {
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
    },
    "q_summary_by_type" ->
      """SELECT c_mktsegment AS table_type, CAST(year(o_orderdate) AS BIGINT) AS year,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_sources
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY table_type, year""".stripMargin,
    "q_num_sources" ->
      """SELECT n_name AS state, CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_sources
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY state""".stripMargin,
    "q_num_unique" ->
      """SELECT CAST(count(DISTINCT n_name) AS BIGINT) AS n_state,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_source_id,
        |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_table_type
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON o_custkey = c_custkey""".stripMargin,
    "q_table_types" ->
      """SELECT DISTINCT c_mktsegment AS table_type
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON o_custkey = c_custkey
        |WHERE contains(lower(c_mktsegment), 'ur')
        |ORDER BY table_type""".stripMargin,

    "q_std_race" ->
      s"""SELECT id, raw, ${Luts.raceStdSql} AS race_std
         |FROM (VALUES ${valuesSql(raceRaws)}) AS t(id, raw)
         |ORDER BY id""".stripMargin,
    "q_std_gender" ->
      s"""SELECT id, raw, ${Luts.genderStdSql} AS gender_std
         |FROM (VALUES ${valuesSql(genderRaws)}) AS t(id, raw)
         |ORDER BY id""".stripMargin,
    "q_expand_counts" -> {
      val re = "(\\d+)\\s?-\\s?([A-Za-z]+\\.?\\s?[A-Za-z]*\\.?)"
      s"""WITH t AS (SELECT * FROM (VALUES ${valuesSql(countRaws)}) AS v(id, raw)),
         |e AS (SELECT id,
         |    CASE WHEN len(regexp_extract_all(raw, '$re', 0)) > 0
         |         THEN flatten(list_transform(regexp_extract_all(raw, '$re', 0),
         |              tk -> list_transform(range(1, CAST(regexp_extract(tk, '$re', 1) AS INT) + 1),
         |                    i -> trim(regexp_extract(tk, '$re', 2)))))
         |         ELSE [raw] END AS items
         |  FROM t),
         |x AS (SELECT id, CAST(generate_subscripts(items, 1) - 1 AS INT) AS item_num,
         |        unnest(items) AS raw FROM e)
         |SELECT id, item_num, raw AS value, ${Luts.raceStdSql} AS race_std
         |FROM x ORDER BY id, item_num""".stripMargin
    },
    "q_expand_names" -> {
      val re = "[\\sÊ](\\w{1,2}/\\w)"
      s"""WITH t AS (SELECT * FROM (VALUES ${valuesSql(withNameRaws)}) AS v(id, raw)),
         |e AS (SELECT id,
         |    CASE WHEN len(regexp_extract_all(raw, '$re', 1)) > 0
         |         THEN list_transform(regexp_extract_all(raw, '$re', 1),
         |              c -> string_split(c, '/')[1])
         |         ELSE [raw] END AS items
         |  FROM t),
         |x AS (SELECT id, CAST(generate_subscripts(items, 1) - 1 AS INT) AS item_num,
         |        unnest(items) AS raw FROM e)
         |SELECT id, item_num, raw AS value, ${Luts.raceStdSql} AS race_std
         |FROM x ORDER BY id, item_num""".stripMargin
    },
    // The greedy converter-guided parse is not SQL-expressible; the
    // oracle is the expected table for injuryCountRaws, hand-derived
    // from the reference semantics (_converters.py:975): counts
    // multiply the following item, whole-cell standardization wins
    // (ids 3,4,10-12,14,15 — note 11 via the LACERATION contains-rule
    // BEFORE any token parse), digit-only expands to nothing (id 7),
    // trailing count ignored (id 8), unparseable/absurd kept whole
    // (ids 5,9), null passes through (id 6).
    "q_expand_injury" ->
      """SELECT id, item_num, value FROM (VALUES
        |  (1, 0, 'INJURED'), (1, 1, 'INJURED'), (1, 2, 'FATAL'),
        |  (2, 0, 'FATAL'), (2, 1, 'INJURED'),
        |  (3, 0, 'NO INJURY'),
        |  (4, 0, 'INJURED'),
        |  (5, 0, '2 Gibberish Xyz'),
        |  (6, 0, NULL),
        |  (7, 0, 'INJURED'),
        |  (8, 0, 'INJURED'), (8, 1, 'INJURED'),
        |  (9, 0, '99999999999 Injured'),
        |  (10, 0, 'UNSPECIFIED'),
        |  (11, 0, 'INJURED'),
        |  (12, 0, 'INJURED'),
        |  (13, 0, 'FATAL'), (13, 1, 'INJURED'), (13, 2, 'INJURED'),
        |  (14, 0, 'FATAL'),
        |  (15, 0, 'UNKNOWN')
        |) AS t(id, item_num, value) ORDER BY id, item_num""".stripMargin,
    "q_std_name" ->
      s"""SELECT id, raw,
         |  CASE WHEN raw IS NULL THEN 'UNSPECIFIED'
         |       ELSE array_to_string(list_transform(string_split(raw, '/'), x -> trim(x)), '|')
         |  END AS parts
         |FROM (VALUES ${valuesSql(nameRaws)}) AS t(id, raw)
         |ORDER BY id""".stripMargin,
    "q_std_age_range" ->
      s"""SELECT id, raw, ${AgeRange.ageRangeStdSql} AS age_range_std
         |FROM (VALUES ${valuesSql(ageRaws)}) AS t(id, raw)
         |ORDER BY id""".stripMargin,
    "q_std_age" ->
      """WITH src AS (SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN 'UNKNOWN'
        |         WHEN doc_id % 17 = 0 THEN '-5'
        |         WHEN doc_id % 19 = 0 THEN '150'
        |         WHEN doc_id % 23 = 0 THEN '0'
        |         WHEN doc_id = 7 THEN '-9999'
        |         WHEN doc_id % 29 = 0 THEN CAST(doc_id % 80 + 1 AS VARCHAR) || '.4'
        |         ELSE CAST(doc_id % 90 + 1 AS VARCHAR) END AS raw
        |  FROM documents),
        |a AS (SELECT doc_id, TRY_CAST(raw AS DOUBLE) AS n FROM src),
        |s AS (SELECT min(n) AS smin, count(*) AS scnt FROM a WHERE n < -1000)
        |SELECT doc_id, CAST(CASE
        |    WHEN n IS NULL THEN NULL
        |    WHEN scnt = 1 AND n = smin THEN NULL
        |    WHEN n < 0 OR n > 120 THEN NULL
        |    WHEN round_even(n, 0) = 0 THEN NULL
        |    ELSE round_even(n, 0) END AS INT) AS age
        |FROM a, s ORDER BY doc_id""".stripMargin,
    "q_std_injury" ->
      s"""SELECT id, raw, ${Luts.injuryStdSql} AS injury_std
         |FROM (VALUES ${valuesSql(injuryRaws)}) AS t(id, raw)
         |ORDER BY id""".stripMargin,
    "q_std_fatal" ->
      s"""SELECT id, raw, ${Luts.fatalStdSql} AS fatal_std
         |FROM (VALUES ${valuesSql(fatalRaws)}) AS t(id, raw)
         |ORDER BY id""".stripMargin,
    "q_std_firearm" ->
      s"""SELECT id, raw, ${Luts.firearmStdSql} AS firearm_std
         |FROM (VALUES ${valuesSql(firearmRaws)}) AS t(id, raw)
         |ORDER BY id""".stripMargin,
    "q_std_eth" ->
      s"""SELECT id, raw, ${Luts.ethStdSql} AS eth_std
         |FROM (VALUES ${valuesSql(ethRaws)}) AS t(id, raw)
         |ORDER BY id""".stripMargin,
    "q_combine_race_eth" -> {
      val rows = raceEthRaws.zipWithIndex.map { case ((r, e), i) =>
        s"(${i + 1}, ${if (r == null) "NULL" else sqlLit(r)}, ${if (e == null) "NULL" else sqlLit(e)})"
      }.mkString(", ")
      val raceCase = Luts.raceStdSql.replace("raw", "race")
      val ethCase = Luts.ethStdSql.replace("raw", "eth")
      // merge mode (preproc.py:1594): ethnicity wins unless NON-LATINO
      s"""SELECT id, race, eth,
         |  CASE WHEN $ethCase = 'NON-HISPANIC/NON-LATINO'
         |       THEN $raceCase ELSE $ethCase END AS race_eth
         |FROM (VALUES $rows) AS t(id, race, eth)
         |ORDER BY id""".stripMargin
    },
    "q_parse_dates" ->
      """WITH r AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%m/%d/%Y')
        |         WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%Y%m%d')
        |         ELSE strftime(o_orderdate, '%Y-%m-%d') END AS raw
        |  FROM orders)
        |SELECT o_orderkey, raw,
        |  CAST(coalesce(try_strptime(raw, '%m/%d/%Y'), try_strptime(raw, '%Y%m%d'),
        |                try_strptime(raw, '%Y-%m-%d')) AS DATE) AS parsed
        |FROM r ORDER BY o_orderkey""".stripMargin,
    "q_merge_date_time" ->
      """SELECT event_id,
        |  coalesce(
        |    try_strptime(strftime(ts, '%Y-%m-%d') || ' ' ||
        |      CASE WHEN user_id % 10 = 0 THEN NULL ELSE strftime(ts, '%H:%M:%S') END,
        |      '%Y-%m-%d %H:%M:%S'),
        |    try_strptime(strftime(ts, '%Y-%m-%d'), '%Y-%m-%d')) AS merged
        |FROM events ORDER BY event_id""".stripMargin,
    "q_expand_demo" ->
      """SELECT doc_id,
        |  CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INTEGER) AS pos,
        |  unnest(string_split(text, ' ')) AS word
        |FROM documents WHERE doc_id < 100
        |ORDER BY doc_id, pos""".stripMargin,
    "q_std_rename" ->
      """SELECT event_id AS incident_id, CAST(ts AS DATE) AS incident_date,
        |  event_type AS agency, value
        |FROM events ORDER BY incident_id""".stripMargin,
    "q_standardize_e2e" -> {
      val raceCase = Luts.raceStdSql.replace("raw", "racex")
      val ethCase = Luts.ethStdSql.replace("raw", "ethx")
      val genderCase = Luts.genderStdSql.replace("raw", "genx")
      val ageCase =
        """CASE WHEN trim(agex) IS NULL
          |       OR NOT regexp_matches(trim(agex), '^[-+]?\d+(\.\d+)?$') THEN NULL
          |     WHEN TRY_CAST(trim(agex) AS DOUBLE) < 0
          |       OR TRY_CAST(trim(agex) AS DOUBLE) > 120 THEN NULL
          |     WHEN round_even(TRY_CAST(trim(agex) AS DOUBLE), 0) = 0 THEN NULL
          |     ELSE CAST(CAST(round_even(TRY_CAST(trim(agex) AS DOUBLE), 0) AS INT) AS VARCHAR)
          |END""".stripMargin
      s"""WITH rr AS (SELECT event_id,
         |    strftime(ts, '%m/%d/%Y') AS rawd,
         |    CASE WHEN user_id % 10 = 0 THEN NULL
         |         ELSE strftime(ts, '%H:%M:%S') END AS rawt,
         |    ${listSql(raceRaws)}[CAST(event_id % ${raceRaws.size} AS INT) + 1] AS racex,
         |    ${listSql(ethRaws)}[CAST(event_id % ${ethRaws.size} AS INT) + 1] AS ethx,
         |    ${listSql(genderRaws)}[CAST(event_id % ${genderRaws.size} AS INT) + 1] AS genx,
         |    ${listSql(ageScalarRaws)}[CAST(event_id % ${ageScalarRaws.size} AS INT) + 1] AS agex,
         |    event_type FROM events),
         |std AS (SELECT event_id,
         |    strftime(try_strptime(rawd, '%m/%d/%Y'), '%Y-%m-%d') AS sdate,
         |    rawt AS stime,
         |    $raceCase AS race_subject,
         |    $ethCase AS ethnicity_subject,
         |    $genderCase AS gender_officer,
         |    $ageCase AS age_subject,
         |    event_type AS agency
         |  FROM rr)
         |SELECT event_id, sdate AS "date", stime AS "time",
         |  coalesce(try_strptime(sdate || ' ' || stime, '%Y-%m-%d %H:%M:%S'),
         |           try_strptime(sdate, '%Y-%m-%d')) AS datetime,
         |  race_subject, ethnicity_subject,
         |  CASE WHEN ethnicity_subject = 'NON-HISPANIC/NON-LATINO'
         |       THEN race_subject ELSE ethnicity_subject END AS re_group_subject,
         |  gender_officer, age_subject, agency
         |FROM std ORDER BY event_id""".stripMargin
    },

    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents
        |GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
        |ORDER BY keep_id""".stripMargin,
    "q_dedup_fingerprint" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
        |  min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents
        |GROUP BY 1 ORDER BY fingerprint""".stripMargin,
    "q_dedup_minhash_verify" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(length(t) - 4, 1) + 1),
        |      i -> substr(t, CAST(i AS INT), 5))) AS grams
        |  FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |        FROM documents))
        |SELECT * FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(floor((CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |          CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE)) * 10000 + 0.5) AS DOUBLE) / 10000 AS jaccard
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id
        |    AND len(a.grams) >= 0.8 * len(b.grams) AND len(b.grams) >= 0.8 * len(a.grams))
        |WHERE jaccard >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_simhash_verify" ->
      """WITH base AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, nt FROM base
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(list_sort(string_split(nt, ' ')), ' ') FROM base),
        |w AS (SELECT doc_id, list_sort(string_split(nt, ' ')) AS words FROM u)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM w a JOIN w b ON a.words = b.words AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,
    // Same multiset-pair oracle as q_dedup_simhash_verify: hamming-0
    // pairs share every block, so the hard construction must emit
    // exactly the multiset-equal set after the carry filter.
    "q_dedup_simhash_manku" ->
      """WITH base AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, nt FROM base
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(list_sort(string_split(nt, ' ')), ' ') FROM base),
        |w AS (SELECT doc_id, list_sort(string_split(nt, ' ')) AS words FROM u)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM w a JOIN w b ON a.words = b.words AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_ngram" ->
      """WITH g AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, greatest(length(t) - 2, 1) + 1),
        |      i -> substr(t, CAST(i AS INT), 3))) AS grams
        |  FROM (SELECT doc_id, source,
        |          lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |        FROM documents))
        |SELECT * FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(floor((CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |          CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE)) * 10000 + 0.5) AS DOUBLE) / 10000 AS jaccard
        |  FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_embed" ->
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        |SELECT * FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(floor((
        |      list_sum(list_transform(range(1, 65), i -> a.e[CAST(i AS INT)] * b.e[CAST(i AS INT)])) /
        |      (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[CAST(i AS INT)] * a.e[CAST(i AS INT)]))) *
        |       sqrt(list_sum(list_transform(range(1, 65), i -> b.e[CAST(i AS INT)] * b.e[CAST(i AS INT)]))))) * 10000 + 0.5) AS DOUBLE) / 10000 AS cos
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE cos >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    "q_substr_dedup" ->
      """WITH g AS (
        |  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 9, 0) + 1)) AS i
        |  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents)),
        |grams AS (SELECT doc_id, i AS pos, array_to_string(w[i:i+9], ' ') AS gram FROM g),
        |c AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
        |dup AS (SELECT doc_id, pos FROM grams JOIN c USING (gram)),
        |isl AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM dup),
        |spans AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_pos,
        |    CAST(count(*) + 9 AS BIGINT) AS span_tokens,
        |    CAST(count(*) AS BIGINT) AS n_grams
        |  FROM isl GROUP BY doc_id, grp),
        |d AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents)
        |SELECT s.doc_id, s.span_pos, s.span_tokens, s.n_grams,
        |  md5(array_to_string(w[CAST(s.span_pos AS INT):CAST(s.span_pos + s.span_tokens - 1 AS INT)], ' ')) AS span_md5
        |FROM spans s JOIN d ON s.doc_id = d.doc_id
        |ORDER BY s.doc_id, span_pos""".stripMargin,
    "q_substr_scrub" ->
      """WITH g AS (
        |  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 9, 0) + 1)) AS i
        |  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents)),
        |grams AS (SELECT doc_id, i AS pos, array_to_string(w[i:i+9], ' ') AS gram FROM g),
        |c AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
        |dup AS (SELECT doc_id, pos FROM grams JOIN c USING (gram)),
        |isl AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM dup),
        |spans AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS sp,
        |    CAST(count(*) + 9 AS BIGINT) AS st
        |  FROM isl GROUP BY doc_id, grp),
        |d AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
        |withmd AS (SELECT s.doc_id, s.sp, s.st,
        |    md5(array_to_string(w[CAST(s.sp AS INT):CAST(s.sp + s.st - 1 AS INT)], ' ')) AS md
        |  FROM spans s JOIN d USING (doc_id)),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY md ORDER BY doc_id, sp) AS occ
        |  FROM withmd),
        |rm AS (SELECT doc_id, list({'s': sp, 'e': sp + st - 1}) AS rr
        |  FROM ranked WHERE occ > 1 GROUP BY doc_id),
        |out AS (SELECT d.doc_id, w,
        |    CASE WHEN rr IS NULL THEN w
        |         ELSE list_transform(list_filter(range(1, len(w) + 1),
        |            i -> len(list_filter(rr, r -> i >= r.s AND i <= r.e)) = 0),
        |            i -> w[CAST(i AS INT)]) END AS kept
        |  FROM d LEFT JOIN rm USING (doc_id))
        |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
        |  CASE WHEN len(kept) = 0 THEN NULL
        |       ELSE array_to_string(kept, ' ') END AS scrubbed
        |FROM out ORDER BY doc_id""".stripMargin,
    "q_dedup_minhash_e2e" ->
      """WITH RECURSIVE g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(length(t) - 4, 1) + 1),
        |      i -> substr(t, CAST(i AS INT), 5))) AS grams
        |  FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |        FROM documents)),
        |pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) AS jaccard
        |    FROM g a JOIN g b ON a.doc_id < b.doc_id
        |      AND len(a.grams) >= 0.8 * len(b.grams) AND len(b.grams) >= 0.8 * len(a.grams))
        |  WHERE jaccard >= 0.8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT DISTINCT src AS id, src AS label FROM edges
        |  UNION
        |  SELECT e.src AS id, r.label FROM edges e JOIN reach r ON e.dst = r.id),
        |comp AS (SELECT id, CAST(min(label) AS BIGINT) AS component
        |         FROM reach GROUP BY id)
        |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster,
        |  coalesce(c.component, d.doc_id) = d.doc_id AS keep
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_components" ->
      """WITH RECURSIVE
        |v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |      CAST(floor((
        |        list_sum(list_transform(range(1, 65), i -> a.e[CAST(i AS INT)] * b.e[CAST(i AS INT)])) /
        |        (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[CAST(i AS INT)] * a.e[CAST(i AS INT)]))) *
        |         sqrt(list_sum(list_transform(range(1, 65), i -> b.e[CAST(i AS INT)] * b.e[CAST(i AS INT)]))))) * 10000 + 0.5) AS DOUBLE) / 10000 AS cos
        |    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
        |  WHERE cos >= 0.3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT DISTINCT src AS id, src AS label FROM edges
        |  UNION
        |  SELECT e.src AS id, r.label FROM edges e JOIN reach r ON e.dst = r.id)
        |SELECT id, CAST(min(label) AS BIGINT) AS component
        |FROM reach GROUP BY id ORDER BY id""".stripMargin,
    "q_ann_bruteforce" -> annExactTopKSql,
    "q_cooccur" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS b, l_suppkey AS i
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
        |ORDER BY item_a, rnk""".stripMargin,
    "q_pagerank" -> {
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
    "q_kmeans_iter" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid, e AS cv
        |       FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)),
        |d AS (SELECT v.vec_id, cb.cid,
        |    CAST(floor(list_sum(list_transform(range(1, 65),
        |      j -> (v.e[CAST(j AS INT)] - cb.cv[CAST(j AS INT)])
        |         * (v.e[CAST(j AS INT)] - cb.cv[CAST(j AS INT)])))
        |      * 1000000 + 0.5) AS BIGINT) AS dm
        |  FROM v, cb),
        |a AS (SELECT vec_id, cid AS cluster FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dm, cid) AS rn
        |    FROM d) WHERE rn = 1),
        |x AS (SELECT a.cluster, generate_subscripts(v.e, 1) AS dim, unnest(v.e) AS x
        |  FROM a JOIN v USING (vec_id))
        |SELECT cluster, CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
        |  CAST(floor((CAST(sum(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / count(*))
        |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS mean
        |FROM x GROUP BY 1, 2 ORDER BY cluster, dim""".stripMargin,
    "q_ann_pq" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid, e AS cv
        |       FROM (SELECT * FROM v ORDER BY vec_id LIMIT 16)),
        |sp AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS s),
        |cd AS (SELECT v.vec_id, sp.s, cb.cid,
        |    CAST(floor(list_sum(list_transform(range(1, 9),
        |      j -> (v.e[CAST(sp.s*8+j AS INT)] - cb.cv[CAST(sp.s*8+j AS INT)])
        |         * (v.e[CAST(sp.s*8+j AS INT)] - cb.cv[CAST(sp.s*8+j AS INT)])))
        |      * 1000000 + 0.5) AS BIGINT) AS dm
        |  FROM v, sp, cb),
        |code AS (SELECT vec_id, s, cid FROM (
        |    SELECT vec_id, s, cid,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dm, cid) AS rn
        |    FROM cd) WHERE rn = 1),
        |qd AS (SELECT cd.vec_id AS query_id, cd.s, cd.cid, cd.dm
        |  FROM cd WHERE cd.vec_id < 5),
        |adc AS (SELECT qd.query_id, code.vec_id AS neighbor_id,
        |    CAST(sum(qd.dm) AS BIGINT) AS adc_micro
        |  FROM code JOIN qd ON code.s = qd.s AND code.cid = qd.cid
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, adc_micro,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_micro, neighbor_id) AS INTEGER) AS rank
        |  FROM adc)
        |SELECT query_id, neighbor_id, adc_micro, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // lsh_verify (16 one-bit bands → full-recall candidates) and
    // ivf_verify (nprobe ≥ #cells) are exact by construction — both
    // must reproduce the brute-force top-k.
    "q_ann_lsh_verify" -> annExactTopKSql,
    "q_ann_ivf_verify" -> annExactTopKSql,
    "q_ann_ivf_learned" -> annExactTopKSql,
    // IVF-PQ in its exactness form (full probe + full shortlist + exact
    // rerank) must reproduce the brute-force top-k.
    "q_ann_ivfpq" -> annExactTopKSql,

    "q_lang_id" -> {
      val hits = TextStats.stopwords.map { case (lang, list) =>
        s"len(list_filter(string_split(lower(text), ' '), w -> w IN (${list.map(sqlLit).mkString(", ")}))) AS ${lang}_hits"
      }.mkString(",\n    ")
      val langs = TextStats.stopwords.map(_._1)
      val best = s"greatest(${langs.map(_ + "_hits").mkString(", ")})"
      val pick = langs.map(l => s"WHEN ${l}_hits = $best AND $best > 0 THEN '$l'").mkString(" ")
      s"""WITH h AS (
         |  SELECT doc_id,
         |    $hits
         |  FROM documents)
         |SELECT doc_id, CASE $pick ELSE 'und' END AS lang_pred
         |FROM h ORDER BY doc_id""".stripMargin
    },
    "q_quality_score" -> {
      val allStops = TextStats.stopwords.flatMap(_._2).distinct
      s"""SELECT doc_id,
         |  CAST(floor((
         |    0.4 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0) +
         |    0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) /
         |                 greatest(CAST(length(text) AS DOUBLE), 1.0)) +
         |    0.3 * CAST(len(list_filter(string_split(lower(text), ' '),
         |                    w -> w IN (${allStops.map(sqlLit).mkString(", ")}))) AS DOUBLE) /
         |          greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)) * 10000 + 0.5) AS DOUBLE) / 10000 AS quality
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_bm25" ->
      """WITH tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents) u
        |  WHERE term <> '' GROUP BY doc_id, term),
        |lens AS (SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl
        |         FROM documents),
        |consts AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avg_dl FROM lens),
        |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf
        |          WHERE term IN ('spark', 'query', 'window') GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id,
        |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
        |      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avg_dl)) AS s
        |  FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id) CROSS JOIN consts)
        |SELECT doc_id,
        |  CAST(floor((CAST(sum(CAST(s AS DECIMAL(30,15))) AS DOUBLE)) * 10000 + 0.5) AS DOUBLE) / 10000 AS score FROM scored
        |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,
    "q_rep_ngrams" ->
      """WITH g AS (
        |  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1) + 1)) AS i
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |grams AS (SELECT doc_id, any_value(len(w)) AS nw,
        |    count(*) AS total, count(DISTINCT array_to_string(w[i:i+1], ' ')) AS dist
        |  FROM g GROUP BY doc_id)
        |SELECT doc_id,
        |  CASE WHEN nw IS NULL OR nw < 2 THEN 0.0
        |       ELSE CAST(floor((1.0 - CAST(dist AS DOUBLE) / total) * 10000 + 0.5) AS DOUBLE) / 10000 END AS rep2
        |FROM grams ORDER BY doc_id""".stripMargin,
    "q_vocab" ->
      """WITH t AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |           FROM documents),
        |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM t
        |      WHERE term <> '' GROUP BY term)
        |SELECT term, df, CAST(row_number() OVER (ORDER BY df DESC, term) AS BIGINT) AS term_id
        |FROM d WHERE df >= 100 ORDER BY term_id""".stripMargin,
    "q_tokenize" ->
      """WITH tt AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |            FROM documents),
        |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tt
        |      WHERE term <> '' GROUP BY term),
        |v AS (SELECT term, CAST(row_number() OVER (ORDER BY df DESC, term) AS BIGINT) AS term_id
        |      FROM d WHERE df >= 100),
        |s AS (SELECT doc_id, string_split(lower(coalesce(text, '')), ' ') AS w FROM documents),
        |t AS (SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term FROM s)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN v.term_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  string_agg(CAST(coalesce(v.term_id, 0) AS VARCHAR), ',' ORDER BY pos) AS ids_csv
        |FROM t LEFT JOIN v USING (term)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_postings" ->
      """WITH s AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |b AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(w)),
        |      i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])) AS term
        |  FROM s WHERE len(w) >= 2),
        |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
        |             array_to_string(list_sort(list(doc_id)), ',') AS docs
        |      FROM b WHERE regexp_matches(term, '^\S+ \S+$') GROUP BY term),
        |n AS (SELECT count(*) AS nn FROM documents)
        |SELECT term, df, docs FROM d, n WHERE df * 25 <= nn ORDER BY term""".stripMargin,
    "q_lm_score" ->
      """WITH n AS (SELECT doc_id, lower(text) AS t FROM documents
        |           WHERE length(lower(text)) >= 2),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(1, length(t)), i -> substr(t, CAST(i AS INT), 2))) AS g
        |  FROM n),
        |model AS (SELECT g, CAST(count(*) AS DOUBLE) AS c FROM bg GROUP BY 1),
        |ctx AS (SELECT substr(g, 1, 1) AS a, sum(c) AS ca FROM model GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT substr(g, 2, 1)) AS DOUBLE) AS nv FROM model)
        |SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(floor((CAST(round(sum(CAST(-ln((m.c + 1) / (x.ca + v.nv)) AS DECIMAL(30,15))), 6) AS DOUBLE)
        |        / count(*)) * 10000 + 0.5) AS DOUBLE) / 10000 AS nats
        |FROM bg JOIN model m USING (g)
        |JOIN ctx x ON substr(bg.g, 1, 1) = x.a, v
        |GROUP BY bg.doc_id
        |ORDER BY bg.doc_id""".stripMargin,
    "q_ccnet_buckets" ->
      """WITH n AS (SELECT doc_id, lower(text) AS t FROM documents
        |           WHERE length(lower(text)) >= 2),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(1, length(t)), i -> substr(t, CAST(i AS INT), 2))) AS g
        |  FROM n),
        |model AS (SELECT g, CAST(count(*) AS DOUBLE) AS c FROM bg GROUP BY 1),
        |ctx AS (SELECT substr(g, 1, 1) AS a, sum(c) AS ca FROM model GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT substr(g, 2, 1)) AS DOUBLE) AS nv FROM model),
        |scored AS (SELECT bg.doc_id,
        |  CAST(floor((CAST(round(sum(CAST(-ln((m.c + 1) / (x.ca + v.nv)) AS DECIMAL(30,15))), 6) AS DOUBLE)
        |        / count(*)) * 10000 + 0.5) AS DOUBLE) / 10000 AS nats
        |  FROM bg JOIN model m USING (g)
        |  JOIN ctx x ON substr(bg.g, 1, 1) = x.a, v
        |  GROUP BY bg.doc_id),
        |r AS (SELECT doc_id, nats,
        |    CAST(row_number() OVER (ORDER BY nats, doc_id) AS BIGINT) - 1 AS rk,
        |    CAST(count(*) OVER () AS BIGINT) AS nn
        |  FROM scored)
        |SELECT doc_id, nats,
        |  CASE WHEN rk * 3 < nn THEN 'head'
        |       WHEN rk * 3 < nn * 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_keywords" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM tok
        |       WHERE term <> '' GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |s AS (SELECT doc_id, term,
        |        CAST(floor((tf * ln((n_docs + 1) / (df + 1))) * 10000 + 0.5) AS DOUBLE) / 10000 AS score
        |      FROM tf JOIN dfq USING (term), n),
        |r AS (SELECT *, CAST(row_number() OVER
        |        (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rnk
        |      FROM s)
        |SELECT doc_id, term, score, rnk FROM r WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,
    "q_sample_pergroup" ->
      """WITH h AS (SELECT source, doc_id,
        |    ('0x' || substr(md5(text), 1, 8))::UBIGINT AS h FROM documents),
        |kept AS (SELECT source, h FROM (
        |  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |  FROM (SELECT DISTINCT source, h FROM h) dh) r WHERE rn <= 5),
        |rep AS (SELECT source, h, min(doc_id) AS doc_id FROM h GROUP BY source, h)
        |SELECT rep.source, doc_id FROM rep JOIN kept USING (source, h)
        |ORDER BY source, doc_id""".stripMargin,
    "q_fingerprint_winnow" ->
      """WITH n AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |           FROM documents),
        |h AS (SELECT doc_id,
        |  list_transform(range(1, greatest(length(t) - 3, 1) + 1),
        |    i -> (greatest(ord(substr(t, CAST(i AS INT), 1)), 0) * 29791 +
        |          greatest(ord(substr(t, CAST(i+1 AS INT), 1)), 0) * 961 +
        |          greatest(ord(substr(t, CAST(i+2 AS INT), 1)), 0) * 31 +
        |          greatest(ord(substr(t, CAST(i+3 AS INT), 1)), 0)) % 1000000007) AS hs
        |  FROM n),
        |w AS (SELECT doc_id,
        |  list_sort(list_distinct(list_transform(range(1, greatest(len(hs) - 4, 1) + 1),
        |    j -> list_min(array_slice(hs, j, j + 4))))) AS fp
        |  FROM h)
        |SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fp, array_to_string(fp, ',') AS fp_csv
        |FROM w ORDER BY doc_id""".stripMargin,
    "q_sample_split" ->
      s"""SELECT doc_id, ${Curation.splitLabelSql("text",
             Seq("train" -> 0.8, "val" -> 0.1), "test")} AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_pii_scrub" -> {
      val inj = """concat_ws(' ', text, 'user' || CAST(doc_id AS VARCHAR) || '@example.com',
        | CASE WHEN doc_id % 3 = 0 THEN '123-45-6789' ELSE 'na' END,
        | CASE WHEN doc_id % 2 = 0 THEN '555.867.5309' ELSE 'na' END)""".stripMargin.replace("\n", "")
      s"""WITH t AS (SELECT doc_id, $inj AS t FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${Curation.EmailRe}')) +
         |       len(regexp_extract_all(regexp_replace(t, '${Curation.EmailRe}', '<EMAIL>', 'g'),
         |           '${Curation.SsnRe}')) +
         |       len(regexp_extract_all(regexp_replace(regexp_replace(t,
         |             '${Curation.EmailRe}', '<EMAIL>', 'g'),
         |             '${Curation.SsnRe}', '<SSN>', 'g'),
         |           '${Curation.PhoneRe}')) AS BIGINT) AS n_pii,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '${Curation.EmailRe}', '<EMAIL>', 'g'),
         |    '${Curation.SsnRe}', '<SSN>', 'g'),
         |    '${Curation.PhoneRe}', '<PHONE>', 'g') AS scrubbed
         |FROM t ORDER BY doc_id""".stripMargin
    },
    "q_decontaminate" ->
      """WITH g AS (
        |  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS i
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram FROM g),
        |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
        |corp AS (SELECT doc_id, gram FROM grams WHERE doc_id % 97 <> 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM corp JOIN bench USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_dsir_weights" ->
      """WITH d AS (SELECT doc_id, lang = 'fr' AS tgt,
        |    string_split(coalesce(text, ''), ' ') AS w FROM documents),
        |uni AS (SELECT doc_id, tgt, unnest(w) AS feat FROM d),
        |bi AS (SELECT doc_id, tgt,
        |    unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
        |      i -> w[i] || ' ' || w[i + 1])) AS feat FROM d),
        |f AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
        |m AS (SELECT feat,
        |    sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
        |    sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cs
        |  FROM f GROUP BY 1),
        |t AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt, CAST(sum(cs) AS DOUBLE) AS ns,
        |    CAST(count(*) AS DOUBLE) AS v FROM m)
        |SELECT doc_id, tgt AS is_target, CAST(count(*) AS BIGINT) AS n_feats,
        |  CAST(round(sum(CAST(ln(((m.ct + 1) * (t.ns + t.v)) /
        |    ((m.cs + 1) * (t.nt + t.v))) AS DECIMAL(30,15))), 6) AS DOUBLE) AS logw
        |FROM f JOIN m USING (feat), t
        |GROUP BY doc_id, tgt ORDER BY doc_id""".stripMargin,
    // Same models, features hashed to buckets: bucket = 60-bit md5
    // prefix mod 4096 — both engines compute the identical bucket, so
    // collisions merge identically. The per-doc (bucket, cnt) CTE
    // mirrors graft's pre-aggregated scoring (Σ cnt·lr as exact
    // decimals ≡ the per-occurrence Σ lr).
    "q_dsir_hashed" ->
      """WITH d AS (SELECT doc_id, lang = 'fr' AS tgt,
        |    string_split(coalesce(text, ''), ' ') AS w FROM documents),
        |uni AS (SELECT doc_id, tgt, unnest(w) AS feat FROM d),
        |bi AS (SELECT doc_id, tgt,
        |    unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
        |      i -> w[i] || ' ' || w[i + 1])) AS feat FROM d),
        |f AS (SELECT doc_id, tgt,
        |    ('0x' || substr(md5(feat), 1, 15))::BIGINT % 4096 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |pd AS (SELECT doc_id, tgt, b, CAST(count(*) AS BIGINT) AS cnt
        |  FROM f GROUP BY 1, 2, 3),
        |m AS (SELECT b,
        |    sum(CASE WHEN tgt THEN cnt ELSE 0 END) AS ct,
        |    sum(CASE WHEN tgt THEN 0 ELSE cnt END) AS cs
        |  FROM pd GROUP BY 1),
        |t AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt, CAST(sum(cs) AS DOUBLE) AS ns,
        |    CAST(count(*) AS DOUBLE) AS v FROM m)
        |SELECT doc_id, tgt AS is_target, CAST(sum(cnt) AS BIGINT) AS n_feats,
        |  CAST(round(sum(CAST(cnt AS DECIMAL(12,0)) *
        |    CAST(ln(((m.ct + 1) * (t.ns + t.v)) /
        |      ((m.cs + 1) * (t.nt + t.v))) AS DECIMAL(20,15))), 6) AS DOUBLE) AS logw
        |FROM pd JOIN m USING (b), t
        |GROUP BY doc_id, tgt ORDER BY doc_id""".stripMargin,
    "q_distinct_kmv" ->
      """WITH h AS (SELECT DISTINCT
        |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::UBIGINT AS h
        |  FROM orders),
        |stats AS (SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM h) AS n_distinct,
        |    (SELECT max(h) FROM (SELECT h FROM h ORDER BY h LIMIT 256) q) AS hk),
        |est AS (SELECT n_distinct,
        |    CASE WHEN n_distinct <= 256 THEN CAST(n_distinct AS DOUBLE)
        |         ELSE CAST(floor((255 * 4294967296.0 / hk) * 10 + 0.5) AS DOUBLE) / 10 END AS estimate
        |  FROM stats)
        |SELECT estimate, n_distinct AS exact,
        |  CAST(floor((abs(estimate - n_distinct) * 100.0 / n_distinct) * 10 + 0.5) AS DOUBLE) / 10 AS err_pct
        |FROM est""".stripMargin,
    "q_dedup_incremental" ->
      """WITH known AS (SELECT DISTINCT
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents),
        |delta AS (
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' novel suffix' FROM documents WHERE doc_id % 11 = 0)
        |SELECT doc_id FROM delta
        |WHERE NOT EXISTS (SELECT 1 FROM known
        |  WHERE known.fp = md5(lower(trim(regexp_replace(delta.text, '\s+', ' ', 'g')))))
        |ORDER BY doc_id""".stripMargin,
    "q_pack_chunks" ->
      """WITH t AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
        |      OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS tok_end
        |  FROM documents)
        |SELECT source, doc_id, n_tokens,
        |  tok_end - n_tokens AS tok_offset,
        |  CAST(floor((tok_end - n_tokens) / 256) AS BIGINT) AS first_chunk,
        |  CAST(floor((tok_end - 1) / 256) AS BIGINT) AS last_chunk
        |FROM t ORDER BY source, doc_id""".stripMargin,
    "q_assign_ids" ->
      """SELECT doc_id, source,
        |  CAST(row_number() OVER (ORDER BY source, doc_id) AS BIGINT) - 1 AS gid
        |FROM documents ORDER BY gid""".stripMargin,
    "q_token_budget" ->
      """WITH t AS (SELECT source, CAST(count(*) AS BIGINT) AS docs,
        |    CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(tokens) AS DOUBLE) AS tt FROM t)
        |SELECT source, docs, tokens,
        |  CAST(floor((tokens / tt) * 1000000 + 0.5) AS DOUBLE) / 1000000 AS share,
        |  CAST(floor((CAST(sum(tokens) OVER (ORDER BY tokens DESC, source) AS DOUBLE) / tt)
        |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS cum_share
        |FROM t, tot ORDER BY tokens DESC, source""".stripMargin,
    "q_domain_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |m AS (SELECT min(n) AS mn FROM c),
        |r AS (SELECT lang, CAST(mn AS DOUBLE) / n AS rate FROM c, m)
        |SELECT d.lang, d.doc_id FROM documents d JOIN r USING (lang)
        |WHERE CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT AS DOUBLE) / 4294967296.0 < r.rate
        |ORDER BY lang, doc_id""".stripMargin,
    "q_line_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(coalesce(text, ''), '((\w+ ){5})', '\1' || chr(10), 'g') AS t
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    generate_subscripts(string_split(t, chr(10)), 1) AS pos,
        |    trim(unnest(string_split(t, chr(10)))) AS line
        |  FROM d),
        |c AS (SELECT line, count(*) AS cnt FROM l GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE cnt < 2) AS kept_text
        |FROM l JOIN c USING (line)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_c4_filter" ->
      s"""WITH $c4InjectedSql,
        |m AS (SELECT doc_id, t, string_split(t, chr(10)) AS ls,
        |    list_filter(string_split(t, chr(10)), x ->
        |      regexp_matches(trim(x), '[.!?"]$$')
        |      AND len(string_split(trim(x), ' ')) >= 5) AS kept
        |  FROM inj)
        |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  (len(kept) >= 3 AND NOT contains(lower(t), 'lorem ipsum')
        |   AND NOT contains(t, '{')) AS keep,
        |  CASE WHEN len(kept) = 0 THEN NULL
        |       ELSE array_to_string(list_transform(kept, x -> trim(x)), chr(10)) END AS cleaned_text
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_curation_e2e" ->
      s"""WITH $c4InjectedSql,
        |fp AS (SELECT doc_id,
        |    md5(lower(trim(regexp_replace(t, '\\s+', ' ', 'g')))) AS f FROM inj),
        |kk AS (SELECT f, min(doc_id) AS keep_id FROM fp GROUP BY 1),
        |dup AS (SELECT doc_id, doc_id <> keep_id AS is_dup FROM fp JOIN kk USING (f)),
        |c4 AS (SELECT doc_id,
        |    (len(list_filter(string_split(t, chr(10)), x ->
        |       regexp_matches(trim(x), '[.!?"]$$')
        |       AND len(string_split(trim(x), ' ')) >= 5)) >= 3
        |     AND NOT contains(lower(t), 'lorem ipsum')
        |     AND NOT contains(t, '{')) AS c4keep
        |  FROM inj),
        |gw AS (SELECT doc_id, t, string_split(t, ' ') AS ws FROM inj),
        |gq AS (SELECT doc_id,
        |    (CAST(len(ws) AS BIGINT) BETWEEN 50 AND 100000
        |     AND (CAST(floor((len(replace(t, ' ', '')) * 1.0 / len(ws)) * 10000 + 0.5) AS DOUBLE) / 10000) BETWEEN 3.0 AND 10.0
        |     AND (CAST(floor(((len(t) - len(replace(t, '#', '')) + (len(t) - len(replace(t, '...', ''))) / 3) * 1.0 / len(ws)) * 10000 + 0.5) AS DOUBLE) / 10000) < 0.1
        |     AND (CAST(floor((len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(ws)) * 10000 + 0.5) AS DOUBLE) / 10000) > 0.8
        |     AND CAST(len(list_filter(ws, x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) >= 2) AS gkeep
        |  FROM gw),
        |n AS (SELECT doc_id, lower(t) AS t FROM inj WHERE length(lower(t)) >= 2),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(1, length(t)), i -> substr(t, CAST(i AS INT), 2))) AS g
        |  FROM n),
        |model AS (SELECT g, CAST(count(*) AS DOUBLE) AS c FROM bg GROUP BY 1),
        |ctx AS (SELECT substr(g, 1, 1) AS a, sum(c) AS ca FROM model GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT substr(g, 2, 1)) AS DOUBLE) AS nv FROM model),
        |scored AS (SELECT bg.doc_id,
        |    CAST(floor((CAST(round(sum(CAST(-ln((m.c + 1) / (x.ca + v.nv)) AS DECIMAL(30,15))), 6) AS DOUBLE)
        |          / count(*)) * 10000 + 0.5) AS DOUBLE) / 10000 AS nats
        |  FROM bg JOIN model m USING (g)
        |  JOIN ctx x ON substr(bg.g, 1, 1) = x.a, v
        |  GROUP BY bg.doc_id),
        |r AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY nats, doc_id) AS BIGINT) - 1 AS rk,
        |    CAST(count(*) OVER () AS BIGINT) AS nn
        |  FROM scored),
        |lt AS (SELECT doc_id, rk * 3 >= nn * 2 AS is_tail FROM r),
        |fin AS (SELECT d.doc_id,
        |    CASE WHEN dup.is_dup THEN 'duplicate'
        |         WHEN NOT c4.c4keep THEN 'c4'
        |         WHEN NOT gq.gkeep THEN 'gopher'
        |         WHEN coalesce(lt.is_tail, FALSE) THEN 'lm_tail' END AS reason
        |  FROM inj d
        |  JOIN dup USING (doc_id) JOIN c4 USING (doc_id) JOIN gq USING (doc_id)
        |  LEFT JOIN lt USING (doc_id))
        |SELECT doc_id, reason IS NULL AS keep, reason
        |FROM fin ORDER BY doc_id""".stripMargin,
    "q_gopher_filter" ->
      """WITH w AS (SELECT doc_id, coalesce(text, '') AS t,
        |    string_split(coalesce(text, ''), ' ') AS ws FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(floor((len(replace(t, ' ', '')) * 1.0 / len(ws)) * 10000 + 0.5) AS DOUBLE) / 10000 AS mean_word_len,
        |    CAST(floor((len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(ws)) * 10000 + 0.5) AS DOUBLE) / 10000 AS frac_alpha_words,
        |    CAST(len(list_filter(ws, x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS n_stopwords,
        |    CAST(floor(((len(t) - len(replace(t, '#', '')) + (len(t) - len(replace(t, '...', ''))) / 3) * 1.0 / len(ws)) * 10000 + 0.5) AS DOUBLE) / 10000 AS symbol_ratio
        |  FROM w)
        |SELECT doc_id, n_words, mean_word_len, frac_alpha_words, n_stopwords,
        |  symbol_ratio,
        |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND symbol_ratio < 0.1 AND frac_alpha_words > 0.8
        |   AND n_stopwords >= 2) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_mm_resize" ->
      """WITH p AS (SELECT doc_id AS id, text, CAST(length(text) AS BIGINT) AS n
        |           FROM documents),
        |s AS (SELECT id, n, greatest(n // 64, 1) AS stride, text FROM p),
        |t AS (SELECT id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |        CASE WHEN n = 0 THEN '' ELSE
        |          list_aggregate(list_transform(range(0, (n - 1) // stride + 1),
        |            k -> substr(text, CAST(k * stride + 1 AS INT), 1)), 'string_agg', '')
        |        END AS thumb
        |      FROM s)
        |SELECT id, width, height, CAST(length(thumb) AS BIGINT) AS n_thumb,
        |  md5(thumb) AS thumb_md5
        |FROM t ORDER BY id""".stripMargin,
    "q_mm_frames" ->
      """WITH p AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        |           FROM documents WHERE length(text) > 0),
        |f AS (SELECT doc_id, text, n, unnest(range(0, 4)) AS fi FROM p),
        |g AS (SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
        |        CAST(CASE WHEN n <= 64 THEN 0 ELSE (fi * (n - 64)) // 3 END AS BIGINT) AS off,
        |        text
        |      FROM f WHERE n > 64 OR fi = 0)
        |SELECT doc_id, frame_idx, off,
        |  md5(substring(text, CAST(off + 1 AS BIGINT), 64)) AS frame_md5
        |FROM g ORDER BY doc_id, frame_idx""".stripMargin,
    "q_mm_imagemeta" ->
      """SELECT doc_id AS id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(NULL AS VARCHAR) AS format,
        |  CAST(-1 AS INTEGER) AS width, CAST(-1 AS INTEGER) AS height
        |FROM documents ORDER BY id""".stripMargin,
    "q_mm_audiometa" ->
      """SELECT doc_id AS id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(NULL AS VARCHAR) AS format, CAST(-1 AS INTEGER) AS channels,
        |  CAST(-1 AS INTEGER) AS sample_rate, CAST(-1 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY id""".stripMargin,
    "q_mm_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha256, 'text/plain' AS mime
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
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
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      """SELECT l_orderkey,
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
        |LIMIT 10""".stripMargin,
    "q5_multijoin" ->
      """SELECT n_name,
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
        |ORDER BY revenue DESC, n_name ASC""".stripMargin,
    // The salt must be invisible in the result: the oracle is the
    // PLAIN join.
    "q_salted_join" ->
      """SELECT p_brand,
        |  count(*) AS n_lines,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    // The Bloom runtime filter must be invisible in the result: the
    // oracle is the PLAIN join (false positives die in the exact join).
    "q_bloom_join" ->
      """SELECT p_size,
        |  count(*) AS n_lines,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#4'
        |GROUP BY p_size
        |ORDER BY p_size""".stripMargin,
    // q_topk_agg must reproduce the window-based top-N exactly.
    "q_topk_agg" -> topNPerBrandSql,
    "q_window_topn" -> topNPerBrandSql,
    "q_skew_agg" ->
      """SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_qty,
        |  round(max(l_extendedprice), 2) AS max_price
        |FROM lineitem
        |GROUP BY l_orderkey
        |HAVING count(*) >= 4
        |ORDER BY l_orderkey""".stripMargin,
    // Interpolation spelled out to match the Spark side's exact
    // expression shape — quantile_cont's internal FP formula differs
    // in the last ulp and flips round(…,2) boundaries at some scales.
    "q_quantiles" -> {
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
    },
    "q_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS column, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
           |FROM documents""".stripMargin
      Seq("doc_id", "lang", "source", "n_chars").map(one)
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    "q_stream_topk" ->
      """WITH e AS (SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS w,
        |    event_type, CAST(value AS DECIMAL(18,6)) AS d
        |  FROM events),
        |r AS (SELECT w, event_type, d,
        |    row_number() OVER (PARTITION BY w, event_type ORDER BY d DESC) AS rn
        |  FROM e)
        |SELECT CAST(epoch_us(w) AS BIGINT) AS window_start_us, event_type,
        |  string_agg(CAST(d AS VARCHAR), ',' ORDER BY rn) AS top_csv
        |FROM r WHERE rn <= 3
        |GROUP BY w, event_type
        |ORDER BY window_start_us, event_type""".stripMargin,
    "q_stream_window" ->
      """SELECT CAST(epoch_us(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))) AS BIGINT) AS window_start_us,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(30,10))), 2) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY window_start_us, event_type""".stripMargin,
    "q_stream_dedupe" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |FROM events ORDER BY event_id""".stripMargin,
    // The md5-minhash signature is rebuilt here from the same builtin
    // primitives (md5, min over distinct 5-gram shingles), so streaming
    // survivor choice (min doc_id per signature) is fully checkable.
    "q_stream_neardup" ->
      """WITH nrm AS (SELECT doc_id,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t FROM documents),
        |g AS (SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(length(t) - 4, 1) + 1),
        |      i -> substr(t, CAST(i AS INT), 5))) AS grams
        |  FROM nrm),
        |h AS (SELECT doc_id, list_transform(grams, x -> md5(x)) AS hs FROM g),
        |s AS (SELECT doc_id,
        |    list_min(list_transform(hs, x -> substr(x, 1, 8))) || '|' ||
        |    list_min(list_transform(hs, x -> substr(x, 9, 8))) || '|' ||
        |    list_min(list_transform(hs, x -> substr(x, 17, 8))) || '|' ||
        |    list_min(list_transform(hs, x -> substr(x, 25, 8))) AS sig
        |  FROM h)
        |SELECT min(doc_id) AS keep_id, sig FROM s GROUP BY sig
        |ORDER BY keep_id""".stripMargin,
    "q_stream_joined" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin,
    "q_stream_enrich" ->
      """WITH dim AS (SELECT o_custkey AS user_id,
        |    CASE WHEN sum(CAST(o_totalprice AS DECIMAL(30,10))) > 2500000
        |         THEN 'high' ELSE 'low' END AS tier
        |  FROM orders GROUP BY 1)
        |SELECT CAST(epoch_us(time_bucket(INTERVAL 1 HOUR, CAST(e.ts AS TIMESTAMP))) AS BIGINT) AS window_start_us,
        |  d.tier, CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(e.value AS DECIMAL(30,10))), 2) AS DOUBLE) AS total_value
        |FROM events e JOIN dim d USING (user_id)
        |GROUP BY 1, 2 ORDER BY window_start_us, tier""".stripMargin,
    "q_embed_quant" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |           WHERE embedding IS NOT NULL AND len(embedding) > 0),
        |s AS (SELECT vec_id, e,
        |    CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0 THEN 1.0
        |         ELSE list_max(list_transform(e, x -> abs(x))) / 127.0 END AS sc
        |  FROM v)
        |SELECT vec_id, CAST(floor(sc * 1000000 + 0.5) AS DOUBLE) / 1000000 AS scale,
        |  array_to_string(list_transform(e,
        |    x -> CAST(CAST(floor(x / sc + 0.5) AS BIGINT) AS VARCHAR)), ',') AS q_csv
        |FROM s ORDER BY vec_id""".stripMargin,
    "q_dedup_semantic" ->
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |p AS (
        |  SELECT b.vec_id AS id_b,
        |    CAST(floor((
        |      list_sum(list_transform(range(1, 65), i -> a.e[CAST(i AS INT)] * b.e[CAST(i AS INT)])) /
        |      (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[CAST(i AS INT)] * a.e[CAST(i AS INT)]))) *
        |       sqrt(list_sum(list_transform(range(1, 65), i -> b.e[CAST(i AS INT)] * b.e[CAST(i AS INT)]))))) * 10000 + 0.5) AS DOUBLE) / 10000 AS cos
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT vec_id, label FROM v
        |WHERE vec_id NOT IN (SELECT id_b FROM p WHERE cos >= 0.3)
        |ORDER BY vec_id""".stripMargin,
    "q_stream_sessions" ->
      """WITH e AS (SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) AS t FROM events),
        |m AS (SELECT max(t) AS mx FROM e),
        |s AS (SELECT user_id, t,
        |        CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |               OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e),
        |g AS (SELECT user_id, t,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY t
        |                         ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM s),
        |sess AS (SELECT user_id, sid, min(t) AS start_us, max(t) AS end_us,
        |           CAST(count(*) AS BIGINT) AS n_events
        |         FROM g GROUP BY 1, 2)
        |-- watermark-finalized visibility ONLY (no successor-closure):
        |-- a session is emitted once the ms-floored final watermark
        |-- (max ts, ms-floored, minus the 30 min delay) passes
        |-- end + gap — Spark tracks event time in MILLISECONDS, so the
        |-- oracle floors the same way
        |SELECT s.user_id, s.start_us, s.end_us, s.n_events
        |FROM sess s, m
        |WHERE s.end_us + 1800000000 < (m.mx // 1000) * 1000 - 1800000000
        |ORDER BY s.user_id, s.start_us""".stripMargin,
    "q_stream_sessions_native" ->
      """WITH e AS (SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) AS t FROM events),
        |m AS (SELECT max(t) AS mx FROM e),
        |s AS (SELECT user_id, t,
        |        -- >= , not > : session_window merges on strict WINDOW
        |        -- OVERLAP, so an exact-gap successor starts a NEW
        |        -- session (unlike the fMGWS twin, which merges it)
        |        CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |               OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) >= 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e),
        |g AS (SELECT user_id, t,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY t
        |                         ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM s),
        |sess AS (SELECT user_id, min(t) AS start_us, max(t) AS end_us,
        |           CAST(count(*) AS BIGINT) AS n_events
        |         FROM g GROUP BY user_id, sid)
        |SELECT user_id, start_us, end_us, n_events FROM sess, m
        |WHERE end_us + 1800000000 < m.mx - 1800000000
        |ORDER BY user_id, start_us""".stripMargin,

    "q_mm_features_verify" ->
      """WITH d AS (SELECT doc_id AS id, coalesce(text, '') AS t,
        |    CAST(length(coalesce(text, '')) AS BIGINT) AS n_bytes FROM documents)
        |SELECT id, n_bytes,
        |  array_to_string(list_transform(range(0, 16), b ->
        |    CAST(len(list_filter(range(1, CAST(n_bytes AS INT) + 1),
        |      i -> ord(substr(t, CAST(i AS INT), 1)) // 16 = b)) AS VARCHAR)), ',') AS hist_csv
        |FROM d ORDER BY id""".stripMargin,

    "q_stream_quality" ->
      s"""WITH $c4InjectedSql,
        |cl AS (SELECT doc_id,
        |    coalesce(CASE WHEN len(kept) = 0 THEN NULL
        |         ELSE array_to_string(list_transform(kept, x -> trim(x)), chr(10)) END,
        |      '') AS t,
        |    (len(kept) >= 3 AND NOT (contains(lower(t0), 'lorem ipsum')
        |       OR contains(t0, '{'))) AS c4_keep
        |  FROM (SELECT doc_id, t AS t0,
        |      list_filter(string_split(t, chr(10)), x ->
        |        regexp_matches(trim(x), '[.!?"]$$')
        |        AND len(string_split(trim(x), ' ')) >= 5) AS kept
        |    FROM inj) k),
        |w AS (SELECT doc_id, t, c4_keep, string_split(t, ' ') AS ws FROM cl),
        |m AS (SELECT doc_id, c4_keep,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(floor((len(replace(t, ' ', '')) * 1.0 / len(ws)) * 10000 + 0.5) AS DOUBLE) / 10000 AS mean_word_len,
        |    CAST(floor((len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(ws)) * 10000 + 0.5) AS DOUBLE) / 10000 AS frac_alpha_words,
        |    CAST(len(list_filter(ws, x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS n_stopwords,
        |    CAST(floor(((len(t) - len(replace(t, '#', '')) + (len(t) - len(replace(t, '...', ''))) / 3) * 1.0 / len(ws)) * 10000 + 0.5) AS DOUBLE) / 10000 AS symbol_ratio
        |  FROM w)
        |SELECT doc_id, n_words, mean_word_len, frac_alpha_words, n_stopwords,
        |  symbol_ratio,
        |  -- the gate ANDs the C4 kill into the Gopher verdict
        |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND symbol_ratio < 0.1 AND frac_alpha_words > 0.8
        |   AND n_stopwords >= 2 AND c4_keep) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_stream_asof" ->
      // the horizon is the MILLISECOND-floored Spark watermark (event
      // times are tracked in ms), not the raw max microsecond
      """WITH m AS (SELECT (max(epoch_us(ts)) // 1000) * 1000 AS mx FROM events),
        |b AS (SELECT user_id, ts, max(event_id) AS pid FROM events
        |      WHERE event_type = 'purchase' GROUP BY 1, 2),
        |vis AS (SELECT e.event_id, e.user_id, e.ts FROM events e, m
        |        WHERE epoch_us(e.ts) < m.mx - 1800000000)
        |SELECT e.event_id, e.user_id, b.pid AS last_purchase_id,
        |  epoch_us(e.ts) - epoch_us(b.ts) AS gap_us
        |FROM vis e ASOF LEFT JOIN b
        |  ON e.user_id = b.user_id AND e.ts >= b.ts
        |ORDER BY e.event_id""".stripMargin,
    "q_asof_join" ->
      """WITH b AS (SELECT user_id, ts, max(event_id) AS pid FROM events
        |           WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, b.pid AS last_purchase_id,
        |  epoch_us(e.ts) - epoch_us(b.ts) AS gap_us
        |FROM events e ASOF LEFT JOIN b
        |  ON e.user_id = b.user_id AND e.ts >= b.ts
        |ORDER BY e.event_id""".stripMargin,
    "q_range_join" ->
      """WITH a AS (SELECT event_id AS anchor_id, ts FROM events
        |           WHERE event_type = 'signup' AND value > 9.0)
        |SELECT a.anchor_id, CAST(count(*) AS BIGINT) AS n_in_window,
        |  CAST(round(sum(CAST(e.value AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_value
        |FROM a JOIN events e
        |  ON e.ts >= a.ts AND e.ts < a.ts + INTERVAL 1 HOUR
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
