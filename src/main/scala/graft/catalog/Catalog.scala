package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.sources.Tables

/** Dataset catalog — the reference's `datasets.py` front door re-expressed
  * over the synthetic star schema.
  *
  * Reference: openpolicedata/datasets.py — `query` (:107),
  * `summary_by_state` (:184), `summary_by_table_type` (:248),
  * `num_unique`/`num_sources` (:160,168), `get_table_types` (:317).
  *
  * Domain mapping (SURVEY.md §0): nation → state, region → region,
  * customer → source, c_mktsegment → table type, order year → dataset
  * coverage year. One catalog row = one (source, year) dataset entry.
  *
  * Scale notes: nation/region are classic broadcast dims (25/5 rows —
  * broadcast() hinted so the plan never shuffles the fact side for them).
  * The coverage digest (distinct orders custkey × year) joins customer by
  * a shuffle hash join on custkey: it grows with the order fact, so it is
  * never broadcast. All summaries are partial-aggregated map-side before
  * the shuffle.
  *
  * [[catalog]] is a snapshot, like the reference's table read once per
  * process: it is persisted lazily (MEMORY_AND_DISK), filled by its first
  * action, and every later call on the same frame scans the cached
  * columns instead of re-joining orders. The snapshot stays distributed
  * as block-manager blocks and grows with customers × years; nothing is
  * held on the driver. `cat.unpersist()` releases it; a snapshot taken
  * before the tables change keeps serving the old rows until then.
  */
object Catalog {

  /** The catalog snapshot: state, region, source_id, source_name,
    * table_type, year. Persisted lazily (no job runs here); the first
    * action fills the cache, later calls on this frame reuse it, and
    * `unpersist()` releases it. */
  def catalog(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables(spark, dir, "customer")
    val nation   = Tables(spark, dir, "nation")
    val region   = Tables(spark, dir, "region")
    // Every catalog operation is distinct over (source, year), so the
    // orders fact reduces to its distinct (custkey, year) pairs BEFORE
    // the join — at 100 TB this is the difference between joining the
    // order fact and joining a per-customer-year digest (the distinct
    // partial-aggregates map-side first). The shuffle_hash hint keeps
    // AQE from broadcasting the digest once it measures it small: it
    // is corpus-side, and a cached plan would pin the broadcast
    // relation on the driver.
    val coverage = Tables(spark, dir, "orders")
      .select(col("o_custkey"), year(col("o_orderdate")).cast("long").as("year"))
      .distinct()
      .hint("shuffle_hash")
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .join(coverage, col("o_custkey") === col("c_custkey"))
      .select(
        col("n_name").as("state"),
        col("r_name").as("region"),
        col("c_custkey").as("source_id"),
        col("c_name").as("source_name"),
        col("c_mktsegment").as("table_type"),
        col("year"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  // ---- catalog build/reload from CSV (datasets.py:32 _build, :94
  //      reload) -------------------------------------------------------

  /** Build the catalog DataFrame from a user-supplied source-table CSV
    * with the reference's cleaning steps (datasets.py:32 `_build`):
    *
    *  1. legacy rename Jurisdiction → Agency, jurisdiction_field →
    *     agency_field (datasets.py:70);
    *  2. every string cell trimmed (datasets.py:65);
    *  3. Year: digit strings coerce to int, "MULTI" → "MULTIPLE"
    *     (defs.py:290; kept as a string column since MULTI/NA markers
    *     and years share it, exactly like the pandas object column);
    *  4. SourceName/Agency: "Police Department" removed, Agency
    *     "MULTI" → "MULTIPLE" (datasets.py:59-60);
    *  5. ArcGIS URLs truncated after the (MapServer|FeatureServer)/#
    *     layer (datasets.py:68-77);
    *  6. duplicate keys dropped on the reference's key columns
    *     (datasets.py:79-80);
    *  7. coverage_start/coverage_end m/d/yyyy strings parsed to dates
    *     (datasets.py:82-87).
    *
    * All cleaning is scan-stage expressions over the (small) catalog —
    * distributed-safe but typically driver-local. Columns the CSV lacks
    * are passed through absent, matching `_build`'s `if "x" in df`
    * guards. */
  def build(spark: SparkSession, csvPath: String): DataFrame = {
    val raw = spark.read.option("header", "true").csv(csvPath)
    var df = raw
    if (df.columns.contains("Jurisdiction"))
      df = df.withColumnRenamed("Jurisdiction", "Agency")
    if (df.columns.contains("jurisdiction_field"))
      df = df.withColumnRenamed("jurisdiction_field", "agency_field")
    // trim all string cells first (the reference trims after its
    // per-column fixes, but every fix below is trim-insensitive on
    // digit/keyword matches, and trimming first lets them see clean
    // values — same fixpoint)
    df = df.select(df.columns.map(c => trim(col(c)).as(c)): _*)
    if (df.columns.contains("Year"))
      df = df.withColumn("Year",
        when(col("Year") === "MULTI", lit(YearMulti)).otherwise(col("Year")))
    if (df.columns.contains("SourceName"))
      df = df.withColumn("SourceName",
        trim(regexp_replace(col("SourceName"), "Police Department", "")))
    if (df.columns.contains("Agency"))
      df = df.withColumn("Agency",
        when(col("Agency") === "MULTI", lit(YearMulti))
          .otherwise(trim(regexp_replace(col("Agency"), "Police Department", ""))))
    if (df.columns.contains("URL") && df.columns.contains("DataType"))
      // truncate ONLY when the layer pattern is present (datasets.py:72
      // p.search) — regexp_extract returns "" on no match, which would
      // blank a service-root URL
      df = df.withColumn("URL",
        when(col("DataType") === "ArcGIS" &&
            col("URL").rlike("(MapServer|FeatureServer)/\\d+"),
          regexp_extract(col("URL"), "^(.*?(?:MapServer|FeatureServer)/\\d+)", 1))
        .otherwise(col("URL")))
    // dataset_id.parse (dataset_id.py:48): JSON-shaped ids get curly
    // quotes normalized so downstream json parsing succeeds; scalar ids
    // pass through. The structural expansion (files/sheets/join specs)
    // is the consuming loader's job — the catalog stores the string.
    if (df.columns.contains("dataset_id"))
      df = df.withColumn("dataset_id",
        when(col("dataset_id").rlike("^[\\[{]"),
          translate(col("dataset_id"), "“”", "\"\""))
        .otherwise(col("dataset_id")))
    val keyVals = Seq("State", "SourceName", "Agency", "TableType", "Year",
      "coverage_start", "coverage_end").filter(df.columns.contains)
    if (keyVals.nonEmpty) {
      // KEEP-FIRST-IN-FILE-ORDER dedup (pandas drop_duplicates
      // semantics, datasets.py:80) — dropDuplicates keeps an ARBITRARY
      // row, so two key-equal rows differing in URL/min_version would
      // survive nondeterministically. monotonically_increasing_id over
      // the CSV read preserves file order (splits of one text file map
      // in order), and min_by-style row_number picks the first.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyVals.map(col): _*).orderBy(col("__ord"))
      df = df.withColumn("__ord", monotonically_increasing_id())
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__ord", "__rn")
    }
    for (c <- Seq("coverage_start", "coverage_end") if df.columns.contains(c))
      // ANCHORED gate: the reference applies pd.to_datetime only when
      // the m/d/yyyy pattern is present; an unanchored rlike would send
      // strings like "1/1/2021 - 6/30/2021" into to_date, which returns
      // null and would DESTROY the original value
      // try_to_date + coalesce: the anchored regex admits calendar-
      // invalid dates like 2/30/2021, which to_date THROWS on under
      // ANSI (and nulls — destroying the cell — without); the try_
      // form keeps the original value instead.
      df = df.withColumn(c,
        when(col(c).rlike("^\\d{1,2}/\\d{1,2}/\\d{4}$"),
          coalesce(call_function("try_to_date", col(c), lit("M/d/yyyy"))
            .cast("string"), col(c)))
          .otherwise(col(c)))
    df
  }

  /** `datasets.reload` (datasets.py:94): rebuild from a CSV, fail-loud
    * (error=True semantics — a missing/bad file throws). */
  def reload(spark: SparkSession, csvPath: String): DataFrame = {
    // The existence pre-check only applies to LOCAL paths: an s3a://
    // or hdfs:// catalog is perfectly loadable by spark.read.csv, and
    // java.io.File would reject it as a false failure. Non-local paths
    // still fail loud — inside build(), from the reader.
    val scheme = Option(java.net.URI.create(
      csvPath.replace(" ", "%20")).getScheme)
    if (scheme.forall(_ == "file"))
      require(new java.io.File(csvPath.stripPrefix("file:")).exists(),
        s"reload: catalog CSV not found: $csvPath")
    build(spark, csvPath)
  }

  /** `datasets.query(state=, table_type=)` (datasets.py:107): filtered
    * distinct catalog entries. */
  def query(cat: DataFrame, state: Option[String] = None,
            tableType: Option[String] = None): DataFrame = {
    val f1 = state.map(s => cat.filter(col("state") === s)).getOrElse(cat)
    val f2 = tableType.map(t => f1.filter(col("table_type") === t)).getOrElse(f1)
    f2.select("state", "source_id", "source_name", "table_type").distinct()
  }

  /** Generalized catalog query: equality filters on any catalog columns
    * (the reference's query() accepts state / source_name / agency /
    * table_type / year — datasets.py:107). Unknown columns fail fast. */
  def queryBy(cat: DataFrame, filters: Map[String, Any]): DataFrame = {
    val cols = cat.columns.toSet
    filters.keys.foreach(k => require(cols.contains(k),
      s"Unknown catalog column '$k' (have: ${cat.columns.mkString(", ")})"))
    // Compare in the CATALOG column's type: with a string Year column
    // holding both "2020" and the MULTIPLE/NONE markers, `col === 2020`
    // would coerce the COLUMN to a number and throw CAST_INVALID_INPUT
    // on the markers under ANSI; casting the literal instead makes a
    // non-matching row simply not match (the reference's behavior).
    filters.foldLeft(cat) { case (df, (k, v)) =>
      df.filter(col(k) === lit(v).cast(df.schema(df.schema.fieldIndex(k)).dataType)) }
      .distinct()
  }

  /** `query(source_name=, fuzzy_source=True)` (datasets.py:128,:153):
    * the reference accepts fuzzy/partial source-name matches via
    * rapidfuzz `partial_ratio > 90`. Spark-native analogue, entirely in
    * codegen builtins: case-insensitive substring containment (the
    * partial_ratio=100 case) OR whole-string Levenshtein similarity
    * `1 - dist/maxLen >= threshold` for typo tolerance. A scan-stage
    * predicate — no UDF, no driver pass. */
  def fuzzySourceMatch(c: Column, query: String,
                       threshold: Double = 0.9): Column = {
    val q = lit(query.toLowerCase)
    val s = lower(c)
    c.isNotNull && (s.contains(q) || q.contains(s) ||
      (lit(1.0) - levenshtein(s, q).cast("double") /
        greatest(length(s), length(q))) >= threshold)
  }

  /** `query` with a fuzzy source filter (datasets.py:153). */
  def queryFuzzySource(cat: DataFrame, sourceName: String,
                       sourceCol: String = "source_name"): DataFrame =
    cat.filter(fuzzySourceMatch(col(sourceCol), sourceName))

  /** `summary_by_state` (datasets.py:184): pivot state × table_type with
    * distinct-source counts. Pivot values are passed explicitly so no
    * extra distinct-collection job runs. */
  def summaryByState(cat: DataFrame, tableTypes: Seq[String]): DataFrame =
    cat.groupBy("state")
      .pivot("table_type", tableTypes)
      .agg(count_distinct(col("source_id")))
      .na.fill(0L)

  /** `summary_by_table_type` (datasets.py:248): dataset counts by
    * table_type × year. */
  def summaryByType(cat: DataFrame): DataFrame =
    cat.groupBy("table_type", "year")
      .agg(count_distinct(col("source_id")).as("n_sources"))

  /** `num_unique`/`num_sources` (datasets.py:160): distinct sources per
    * state. */
  def numSources(cat: DataFrame): DataFrame =
    cat.groupBy("state").agg(count_distinct(col("source_id")).as("n_sources"))

  /** `num_unique` (datasets.py:160): distinct values of one catalog
    * column. NULLs are excluded, matching pandas `nunique(dropna=True)`
    * (and SQL count(DISTINCT ...)) — so this agrees with
    * [[numUniqueAgg]] on nullable columns. */
  def numUnique(cat: DataFrame, column: String): Long =
    cat.filter(col(column).isNotNull).select(column).distinct().count()

  /** DataFrame form of [[numUnique]] over several columns in one pass
    * (each count_distinct partial-aggregates map-side; no driver
    * action). NULLs excluded, like [[numUnique]]. */
  def numUniqueAgg(cat: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "numUniqueAgg: need at least one column")
    cat.agg(count_distinct(col(cols.head)).as(s"n_${cols.head}"),
      cols.tail.map(c => count_distinct(col(c)).as(s"n_$c")): _*)
  }

  /** `get_table_types(contains=)` (datasets.py:317): distinct table types
    * matching a case-insensitive substring. */
  def tableTypes(cat: DataFrame, contains: Option[String] = None): DataFrame = {
    val base = cat.select("table_type").distinct()
    contains.map(s => base.filter(lower(col("table_type")).contains(s.toLowerCase)))
      .getOrElse(base)
  }

  // ---- dataset version gating (data.py:2249 _check_version) ------------

  /** Sortable semver key: each dot component split into its numeric
    * prefix (zero-padded to 12 — beyond any real version number) and
    * its textual suffix, with a release marker so a PRERELEASE sorts
    * BELOW its release ("2.0rc1" < "2.0", matching packaging.version's
    * ordering in the reference) — a plain lexical lpad compared
    * "0rc1" > "0" and let prerelease builds through the version gate,
    * and truncated 7+-digit components. The component list is
    * right-padded with zero-release components so different arities
    * compare semantically ("2.1" == "2.1.0" < "2.1.1" < "2.10"). */
  private[graft] def versionKey(v: Column): Column = {
    val zeroRelease = "0" * 12 + "1"
    val parts = transform(split(v, "\\."), x => {
      val num = regexp_extract(x, "^([0-9]*)", 1)
      val suffix = regexp_extract(x, "^[0-9]*(.*)$", 1)
      concat(
        lpad(when(num === "", "0").otherwise(num), 12, "0"),
        when(suffix === "", lit("1")).otherwise(concat(lit("0"), suffix)))
    })
    concat_ws(".", concat(parts,
      array_repeat(lit(zeroRelease), greatest(lit(8) - size(parts), lit(0)))))
  }

  /** Rows of a catalog that THIS library version may load — the
    * reference's `_check_version`: a null `min_version` always loads,
    * `"-1"` never loads (future release), otherwise semver
    * `libVersion >= min_version`. Catalogs without the column pass
    * entirely. */
  def compatible(cat: DataFrame, libVersion: String): DataFrame =
    if (!cat.columns.contains("min_version")) cat
    else cat.filter(col("min_version").isNull ||
      (trim(col("min_version")) =!= "-1" &&
        versionKey(lit(libVersion)) >= versionKey(trim(col("min_version")))))

  /** Error form, mirroring OPD_FutureError / OPD_MinVersionError: fails
    * when the requested dataset rows are version-gated. Driver-side by
    * design — the catalog is small and the reference raises before any
    * data is fetched. */
  def checkVersion(requested: DataFrame, libVersion: String): Unit =
    if (requested.columns.contains("min_version")) {
      val gated = requested.filter(col("min_version").isNotNull &&
          (trim(col("min_version")) === "-1" ||
            versionKey(lit(libVersion)) < versionKey(trim(col("min_version")))))
        .limit(1).collect()
      gated.headOption.foreach { row =>
        val mv = row.getString(row.fieldIndex("min_version")).trim
        if (mv == "-1") throw new IllegalStateException(
          "This data cannot be loaded in this version. It will be made available in a future release")
        else throw new IllegalStateException(
          s"This data cannot be loaded in version $libVersion. " +
            s"Update to at least version $mv to access this data.")
      }
    }

  // ---- related-table discovery (data.py:1629 find_related_tables) ------

  /** Wildcard year markers (defs.py:290 MULTI / :291 NA). */
  val YearMulti = "MULTIPLE"
  val YearNa = "NONE"

  /** The sub-table suffixes the reference recognizes in
    * "BASE - SUBTYPE"-shaped table types (find_related_tables doc). */
  val relatedSubtypes: Seq[String] = Seq(
    "INCIDENTS", "SUBJECTS", "OFFICERS", "SUBJECTS/OFFICERS",
    "PENALTIES", "ALLEGATIONS", "NONMOTORIST", "BACKGROUND", "VEHICLES")

  private val subtypeAlt = relatedSubtypes.map(java.util.regex.Pattern.quote).mkString("|")
  private val splitRe = ("(?i)^(.+) - (" + subtypeAlt + ")$").r

  /** `find_related_tables` discovery half: given the catalog's
    * (table_type, year) entries and a "BASE - SUBTYPE" table type,
    * return the sibling sub-tables of the same BASE ("USE OF FORCE -
    * INCIDENTS" → SUBJECTS/OFFICERS/…). `subType` narrows to one
    * subtype (substring match unless `exactMatch`); `year` keeps
    * entries of that year or the MULTI/NA wildcards; with no year and
    * ambiguous duplicates the call fails (the reference raises). A
    * table type with no subtype suffix has no related tables (note the
    * reference's (?!INVOLVED) guard: "OFFICER-INVOLVED SHOOTINGS" is a
    * BASE, not a subtype split — our fixed subtype alternation gives
    * the same behavior). Driver-side metadata work over the (small)
    * catalog listing. */
  def findRelatedTables(entries: Seq[(String, String)], tableType: String,
                        year: Option[String] = None,
                        subType: Option[String] = None,
                        exactMatch: Boolean = false): Seq[(String, String)] =
    tableType match {
      case splitRe(base, _) =>
        val sibling = ("(?i)^" + java.util.regex.Pattern.quote(base) + " - (" + subtypeAlt + ")$").r
        var related = entries.filter { case (t, _) =>
          // case-insensitive self-exclusion, consistent with the (?i)
          // sibling match — a case-variant of the queried type is the
          // same table, not a related one
          !t.equalsIgnoreCase(tableType) && sibling.pattern.matcher(t).matches()
        }
        subType.foreach { st =>
          related = related.filter { case (t, _) =>
            val m = sibling.pattern.matcher(t); m.matches()
            val sub = m.group(1).toUpperCase
            if (exactMatch) sub == st.toUpperCase else sub.contains(st.toUpperCase)
          }
        }
        year match {
          case Some(y) =>
            related.filter { case (_, ey) =>
              ey == y || ey == YearMulti || ey == YearNa ||
                y == YearMulti || y == YearNa
            }
          case None =>
            require(related.map(_._1).distinct.size == related.size,
              "Multiple possible years found for related tables. Please specify year.")
            related
        }
      case _ => Nil
    }
}
