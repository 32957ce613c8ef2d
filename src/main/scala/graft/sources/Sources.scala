package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's Source/Table query API re-expressed as composable,
  * lazy Spark transforms.
  *
  * Reference: openpolicedata/data.py:827 `Source` — `load` (:1165) with
  * `date` = year | year-range | date-range and case-insensitive agency
  * substring matching (:1372), `get_count` (:1056), `get_years` (:885),
  * `get_agencies` (:963), `load_iter` (:1102); plus
  * data_loaders/combine_dataset.py `CombinedDataset` (schema-aligned
  * union of several datasets).
  *
  * Scale notes: load, paging and the summaries return unevaluated
  * DataFrames, so date and agency predicates reach the parquet scan as
  * PushedFilters and column selection prunes the read schema. Paging is
  * ORDER BY a unique key + offset/limit (Spark's GlobalLimit/Offset), the
  * declarative analogue of the reference's limit/offset record batching
  * (data_loader.py:381 `_setup_records_request`). [[loadIter]] is the
  * exception: each page is fetched by one job and handed back as a local
  * frame of at most `chunk` rows held on the driver.
  */
object Sources {

  /** Date selector mirroring data.py `load(date=...)` accepted shapes. */
  sealed trait DateSel
  final case class Year(y: Int) extends DateSel
  final case class YearRange(y0: Int, y1: Int) extends DateSel
  /** Half-open [start, end) timestamp range, `yyyy-MM-dd...` literals. */
  final case class DateRange(start: String, end: String) extends DateSel

  /** All selectors compile to *range predicates on the raw column* (never
    * `year(field) === y`, which parquet cannot push down) so the filter
    * reaches the scan as PushedFilters — the 100 TB-safe form. */
  def dateFilter(field: Column, sel: DateSel): Column = sel match {
    case Year(y) =>
      field >= to_timestamp(lit(f"$y%04d-01-01")) && field < to_timestamp(lit(f"${y + 1}%04d-01-01"))
    case YearRange(a, b) =>
      field >= to_timestamp(lit(f"$a%04d-01-01")) && field < to_timestamp(lit(f"${b + 1}%04d-01-01"))
    case DateRange(s, e)  => field >= to_timestamp(lit(s)) && field < to_timestamp(lit(e))
  }

  /** The reference's `_clean_date_input` (data_loaders/data_loader.py:69):
    * the string/number front door to [[DateSel]]. Accepts one element
    * (a year or a date) or a [start, stop] pair; stop is INCLUSIVE like
    * the reference (converted to our half-open DateRange by advancing
    * one day). Validation mirrors the reference's errors: a number must
    * be a 4-digit year (999 < y < 10000), the list must have length
    * <= 2, start must not exceed stop; times in inputs are ignored
    * (floored to the day, the reference warns and floors). */
  def cleanDateInput(parts: Seq[String]): DateSel = {
    require(parts.nonEmpty && parts.size <= 2,
      "List of start/stop dates is not length 2")
    def asYear(s: String): Option[Int] =
      if (s.forall(_.isDigit) && s.nonEmpty) {
        val n = BigInt(s) // arbitrary precision: a 19+-digit string gets
                          // the reference's year error, not a Long overflow
        require(n > 999 && n < 10000, s"Unable to parse number $s as a year")
        Some(n.toInt)
      } else None
    def asDate(s: String): java.time.LocalDate = {
      val datePart = s.trim.split("[T ]")(0) // times ignored (floor to day)
      try java.time.LocalDate.parse(datePart)
      catch { case _: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(s"Unable to parse date input '$s'") }
    }
    parts.map(p => asYear(p).toLeft(p)) match {
      case Seq(Left(y)) => Year(y)
      case Seq(Left(a), Left(b)) =>
        require(a <= b, s"Start date must be less than stop date. Invalid input: $parts")
        YearRange(a, b)
      case _ =>
        // mixed or date-string bounds → concrete [start, stop] dates;
        // a year start means Jan 1, a year stop means Dec 31 (:88)
        val Seq(s0, s1) =
          (if (parts.size == 1) Seq(parts.head, parts.head) else parts)
            .zipWithIndex.map {
              case (p, 0) => asYear(p).map(y => java.time.LocalDate.of(y, 1, 1)).getOrElse(asDate(p))
              case (p, _) => asYear(p).map(y => java.time.LocalDate.of(y, 12, 31)).getOrElse(asDate(p))
            }
        require(!s0.isAfter(s1),
          s"Start date must be less than stop date. Invalid input: $parts")
        // inclusive stop → half-open. A stop in year 9999 (the "no end"
        // sentinel) cannot advance a day — LocalDate would render year
        // 10000 as "+10000-01-01", which timestamp parsing rejects —
        // so cap at the last representable microsecond instead.
        val end =
          if (s1.getYear >= 9999 && s1.getMonthValue == 12 && s1.getDayOfMonth == 31)
            "9999-12-31T23:59:59.999999"
          else s1.plusDays(1).toString
        DateRange(s0.toString, end)
    }
  }

  /** Case-insensitive substring agency match (data.py:1372). */
  def agencyFilter(field: Column, agency: String): Column =
    lower(field).contains(agency.toLowerCase)

  /** `Source.load`: date filter + agency filter + column selection +
    * optional row cap (the reference's nrows quick-subset; for
    * DETERMINISTIC paging use [[page]]/[[pageAfter]] — an unordered
    * limit takes whatever rows arrive first, exactly like pandas
    * nrows). */
  def load(df: DataFrame,
           date: Option[(String, DateSel)] = None,
           agency: Option[(String, String)] = None,
           select: Seq[String] = Nil,
           nrows: Option[Int] = None): DataFrame = {
    val d = date.map { case (f, sel) => df.filter(dateFilter(col(f), sel)) }.getOrElse(df)
    val a = agency.map { case (f, v) => d.filter(agencyFilter(col(f), v)) }.getOrElse(d)
    val s = if (select.nonEmpty) a.select(select.map(col): _*) else a
    nrows.map(s.limit).getOrElse(s)
  }

  /** Deterministic paging over a unique sort key (data_loader.py:321
    * `load(nrows, offset)`). At scale prefer keyset pagination
    * (`WHERE key > lastSeen LIMIT n`) — see `pageAfter`. */
  def page(df: DataFrame, sortKey: String, offset: Int, nrows: Int): DataFrame =
    df.orderBy(col(sortKey)).offset(offset).limit(nrows)

  /** Keyset pagination: O(page) instead of O(offset + page) — the form
    * that survives 100 TB (no global skip). */
  def pageAfter(df: DataFrame, sortKey: String, lastSeen: Long, nrows: Int): DataFrame =
    df.filter(col(sortKey) > lastSeen).orderBy(col(sortKey)).limit(nrows)

  /** `load_iter` (data.py:1102): chunked iteration as keyset pagination —
    * each chunk is `WHERE key > lastSeen ORDER BY key LIMIT n`, so pages
    * are exactly `chunk` rows (matching the reference's fixed-size-batch
    * contract) regardless of key sparsity/skew, and every page is an
    * independent pruned scan (no global offset skip at 100 TB).
    *
    * Each page is fetched by ONE Spark job, like the reference's one
    * request per batch: the job collects `chunk + 1` rows, and the page
    * comes back as a local DataFrame of the first `chunk` of them, whose
    * actions run no further job. So at most `chunk + 1` rows are held on
    * the driver at a time; size `chunk` for driver memory.
    *
    * The sort key must be integral, NON-NULL, and UNIQUE — all three
    * fail fast: type at construction; a null key or a duplicate key
    * spanning a page boundary with a named error on the page that hits
    * it (a duplicate at the boundary would otherwise be silently
    * skipped by the `key > last` filter — invisible data loss). */
  def loadIter(df: DataFrame, sortKey: String, chunk: Int): Iterator[DataFrame] = {
    import org.apache.spark.sql.types._
    val field = df.schema.find(_.name == sortKey).getOrElse(
      throw new IllegalArgumentException(s"loadIter: no such column '$sortKey'"))
    val integral = field.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    require(integral,
      s"loadIter: sort key '$sortKey' must be integral, got ${field.dataType}")
    require(chunk > 0, "loadIter: chunk must be positive")
    val k = df.schema.fieldIndex(sortKey)
    new Iterator[DataFrame] {
      private var lastSeen: Option[Long] = None // None = first page
      private var exhausted = false
      private var nextPage: Option[(DataFrame, Long, Int)] = None
      private def fetch(): Unit = if (nextPage.isEmpty && !exhausted) {
        val base = lastSeen.map(v => df.filter(col(sortKey) > v)).getOrElse(df)
        // chunk+1 rows: the extra row detects a duplicate key at the
        // page boundary, which the `> lastSeen` filter would skip.
        val rows = base.orderBy(col(sortKey)).limit(chunk + 1).collect()
        if (rows.isEmpty) { exhausted = true }
        else {
          val pageRows = rows.take(chunk)
          def key(i: Int): Long = rows(i).getAs[Number](k).longValue
          // nulls sort first in ascending order, so the first page
          // catches them — fail with a named error, not ROW_VALUE_IS_NULL
          if (pageRows.exists(_.isNullAt(k)))
            throw new IllegalArgumentException(
              s"loadIter: sort key '$sortKey' contains nulls — keyset " +
                "pagination needs a non-null unique key")
          if (rows.length == chunk + 1 && key(chunk - 1) == key(chunk))
            throw new IllegalArgumentException(
              s"loadIter: sort key '$sortKey' is not unique at a page " +
                s"boundary (duplicate key ${key(chunk)}) — " +
                "rows would be silently skipped")
          val page = df.sparkSession.createDataFrame(
            java.util.Arrays.asList(pageRows: _*), df.schema)
          nextPage = Some((page, key(pageRows.length - 1), pageRows.length))
        }
      }
      def hasNext: Boolean = { fetch(); nextPage.nonEmpty }
      def next(): DataFrame = {
        fetch()
        val (page, last, n) = nextPage.getOrElse(throw new NoSuchElementException)
        nextPage = None
        lastSeen = Some(last)
        if (n < chunk) exhausted = true
        page
      }
    }
  }

  /** `split_date_range` (datetime_parser.py:759): chop [start, end)
    * into a leading partial year, whole calendar years, and a trailing
    * partial year — the chunking the reference's date-based load_iter
    * walks. Dates are "yyyy-MM-dd" literals; the range is half-open
    * (the reference's inclusive-to-the-second stop minus one second is
    * the same boundary). Every chunk compiles to a range predicate on
    * the raw column via [[dateFilter]], so each iteration is an
    * independently pruned scan. */
  def splitDateRange(start: String, endExclusive: String): Seq[DateSel] = {
    val s = java.time.LocalDate.parse(start)
    val e = java.time.LocalDate.parse(endExclusive)
    require(!e.isBefore(s), s"splitDateRange: end $endExclusive before start $start")
    def jan1(y: Int) = java.time.LocalDate.of(y, 1, 1)
    val fullYears = (s.getYear to e.getYear).filter(y =>
      !jan1(y).isBefore(s) && !e.isBefore(jan1(y + 1)))
    val out = Seq.newBuilder[DateSel]
    if (fullYears.isEmpty) {
      if (s != e) out += DateRange(start, endExclusive)
    } else {
      if (s.isBefore(jan1(fullYears.head)))
        out += DateRange(start, jan1(fullYears.head).toString)
      fullYears.foreach(out += Year(_))
      if (e.isAfter(jan1(fullYears.last + 1)))
        out += DateRange(jan1(fullYears.last + 1).toString, endExclusive)
    }
    out.result()
  }

  /** Date-chunked iteration (the reference's load_iter(by date) path):
    * one lazily-filtered DataFrame per [[splitDateRange]] chunk. */
  def loadIterByDate(df: DataFrame, dateField: String,
                     start: String, endExclusive: String): Iterator[(DateSel, DataFrame)] =
    splitDateRange(start, endExclusive).iterator
      .map(sel => sel -> df.filter(dateFilter(col(dateField), sel)))

  // ---- dataset disambiguation (data.py:1373 load(url_contains=, id=)) --

  /** One catalog dataset descriptor — the reference's datasets-table row
    * with a possibly-compound dataset id (dataset_id.py:56 `expand`:
    * a multi-file dataset is several files combined into one logical
    * table). */
  final case class DatasetDesc(url: String, id: Option[String],
                               tableType: String, year: Option[Int] = None,
                               format: String = "parquet",
                               files: Seq[String] = Nil)

  /** Narrow a source's candidate datasets by table type, year,
    * url substring, and exact dataset id (data.py:1326 `filter`):
    * exactly one must remain, otherwise the error lists every candidate
    * in the reference's "(url=…, id=…)" form so the caller can pass a
    * disambiguator. */
  def selectDataset(datasets: Seq[DatasetDesc],
                    tableType: Option[String] = None,
                    year: Option[Int] = None,
                    urlContains: Option[String] = None,
                    id: Option[String] = None): DatasetDesc = {
    val hits = datasets
      .filter(d => tableType.forall(_ == d.tableType))
      .filter(d => year.forall(y => d.year.contains(y)))
      .filter(d => urlContains.forall(u => d.url.toLowerCase.contains(u.toLowerCase)))
      .filter(d => id.forall(i => d.id.contains(i)))
    def render(ds: Seq[DatasetDesc]): String = ds.map(d =>
      d.id.map(i => s"(url=${d.url}, id=$i)").getOrElse(s"(url=${d.url})")).mkString(", ")
    hits match {
      case Seq(one) => one
      case Seq() => throw new IllegalArgumentException(
        s"No matching dataset. Available: ${render(datasets)}")
      case many => throw new IllegalArgumentException(
        "Multiple datasets match; pass url_contains= or id= to disambiguate: " + render(many))
    }
  }

  /** Load a (possibly multi-file) dataset descriptor through the loader
    * registry and align the parts (dataset_id.py expand → combine). */
  def loadDataset(spark: org.apache.spark.sql.SparkSession, d: DatasetDesc): DataFrame = {
    val loader = Loaders(d.format)
    val paths = if (d.files.nonEmpty) d.files else Seq(d.url)
    combine(paths.map(loader.load(spark, _)))
  }

  /** `get_count(date=, agency=)` (data.py:1056): count after the same
    * pushed-down filters load applies. */
  def count(df: DataFrame, date: Option[(String, DateSel)] = None,
            agency: Option[(String, String)] = None): Long =
    load(df, date, agency).count()

  /** Distinct years of the date field, sorted, a NULL year first
    * (data.py:885 get_years). See [[sortedDistinct]] for the plan. */
  def getYears(df: DataFrame, dateField: String): DataFrame =
    sortedDistinct(df.select(year(col(dateField)).cast("long").as("yr")))

  /** Distinct agency values, sorted, a NULL agency first, optionally
    * restricted to a case-insensitive partial name (data.py:963
    * get_agencies partial_name parameter). See [[sortedDistinct]]. */
  def getAgencies(df: DataFrame, agencyField: String,
                  partialName: Option[String] = None): DataFrame = {
    val base = partialName
      .map(p => df.filter(agencyFilter(col(agencyField), p))).getOrElse(df)
    sortedDistinct(base.select(col(agencyField).as("agency")))
  }

  /** The distinct rows of a one-column frame in ascending order, NULL
    * first. `distinct` shuffles by value, then the already-distinct rows
    * move to ONE partition and sort there: that single-partition step is
    * bounded by the number of distinct values (years, agencies), never
    * by the input rows. A global `orderBy` would add a range-partition
    * sampling job to sort a result that small. */
  private def sortedDistinct(one: DataFrame): DataFrame =
    one.distinct().repartition(1).sortWithinPartitions(one.columns.head)

  /** `CombinedDataset` (combine_dataset.py): union datasets with
    * schema alignment — missing columns become nulls. */
  def combine(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** `find_related_tables` + `Table.merge` (data.py:1629, :312): join a
    * table with a related table on the shared incident-id column. The
    * caller hints `broadcastRight` when the related side is a small
    * lookup (the common case: per-incident detail joined to a filtered
    * incident list); otherwise both sides shuffle on the id. */
  def mergeRelated(left: DataFrame, right: DataFrame, idCol: String,
                   how: String = "inner",
                   broadcastRight: Boolean = false): DataFrame =
    left.join(if (broadcastRight) broadcast(right) else right, Seq(idCol), how)

  // ---- automatic merge-key detection (preproc.py:140 find_id_column) ----

  private val IncIdPattern =
    "(incident|stop|case)(_|\\s)?(id|num|number|code|#|\\*)$".r

  private def incIdMatches(cols: Seq[String]): Seq[String] = {
    val lower = cols.map(c => c -> c.toLowerCase)
    val anchored = lower.collect {
      case (c, l) if IncIdPattern.pattern.matcher(l).matches() => c
    }
    if (anchored.nonEmpty) anchored
    else lower.collect {
      case (c, l) if IncIdPattern.findFirstIn(l).isDefined => c
    }
  }

  private def splitWords(s: String): Seq[String] =
    s.toLowerCase.split("[_\\s]+").toSeq.filter(_.nonEmpty)

  /** `find_id_column` (preproc.py:140): pick the shared id column two
    * related tables join on, by the reference's tiered name heuristics —
    * (1) a single incident/stop/case-id-shaped column on both sides,
    * (2) a common column named `case` or a two-word incident-id form,
    * (3) a common `<entity>id` / `<entity>_num` form for the known
    * entity words, (4) a common `id`/`filenum`, (5) `casenumber`/
    * `accidentnumber` validated by CONTENT: one side's values must be
    * STRICTLY more than 98% contained in the other's — the reference's
    * `.mean() > 0.98` — (computed distributedly: two distinct-project
    * scans and a join, no driver collect).
    * Returns the (leftCol, rightCol) pair, None when nothing matches;
    * several incident-id candidates on one side raise (the reference's
    * NotImplementedError). */
  def findIdColumn(df1: DataFrame, df2: DataFrame): Option[(String, String)] = {
    val m1 = incIdMatches(df1.columns.toSeq)
    val m2 = incIdMatches(df2.columns.toSeq)
    if (m1.length > 1 || m2.length > 1)
      throw new IllegalArgumentException(
        s"findIdColumn: ambiguous incident-id candidates " +
          s"(${(m1 ++ m2).mkString(", ")})")
    if (m1.length == 1 && m2.length == 1) return Some((m1.head, m2.head))

    val common = df1.columns.map(_.toLowerCase).toSet
      .intersect(df2.columns.map(_.toLowerCase).toSet)
    def orig(df: DataFrame, l: String): String =
      df.columns.find(_.toLowerCase == l).get
    def pair(l: String) = Some((orig(df1, l), orig(df2, l)))

    val tier2 = common.toSeq.sorted.collectFirst {
      case c if c == "case" => c
      case c if { val w = splitWords(c)
        w.length == 2 && "incident".startsWith(w.head) &&
          Seq("num", "id", "number").contains(w(1)) } => c
    }
    if (tier2.isDefined) return pair(tier2.get)

    val idWords = Seq("master", "crime", "complaint", "tax", "log",
      "collision", "report", "case")
    val tier3 = common.toSeq.sorted.collectFirst {
      case c if idWords.exists { w =>
        c == w + "id" || c == w + "_subject_id" || {
          val ws = splitWords(c)
          ws.length == 2 && ws.head == w &&
            Seq("num", "id", "number", "no").contains(ws(1))
        }
      } => c
    }
    if (tier3.isDefined) return pair(tier3.get)

    Seq("id", "filenum").find(common.contains) match {
      case Some(c) => pair(c)
      case None =>
        // content-validated fallback (the reference's Norman-crashes
        // case): casenumber/accidentnumber count as the id only when
        // one side's values are >= 98% contained in the other's
        val cands = Seq("casenumber", "accidentnumber")
        val c1 = df1.columns.find(x => cands.contains(x.toLowerCase))
        val c2 = df2.columns.find(x => cands.contains(x.toLowerCase))
        (c1, c2) match {
          case (Some(a), Some(b)) if containmentRate(df1, a, df2, b) > 0.98 ||
              containmentRate(df2, b, df1, a) > 0.98 => Some((a, b))
          case _ => None
        }
    }
  }

  /** Fraction of df1's non-null `c1` values present among df2's `c2`
    * values — two distinct projections meeting in a left-semi join;
    * both sides partial-aggregate, nothing reaches the driver but the
    * two counts. */
  private def containmentRate(df1: DataFrame, c1: String,
                              df2: DataFrame, c2: String): Double = {
    val v1 = df1.select(col(c1).cast("string").as("v"))
      .filter(col("v").isNotNull).distinct()
    val v2 = df2.select(col(c2).cast("string").as("v"))
      .filter(col("v").isNotNull).distinct()
    val total = v1.count()
    if (total == 0) 0.0
    else v1.join(v2, Seq("v"), "left_semi").count().toDouble / total
  }

  /** [[mergeRelated]] with the join key auto-detected by
    * [[findIdColumn]]; errors with both schemas when no key is found. */
  def mergeRelatedAuto(left: DataFrame, right: DataFrame,
                       how: String = "inner"): DataFrame = {
    val (lc, rc) = findIdColumn(left, right).getOrElse(
      throw new IllegalArgumentException(
        "mergeRelatedAuto: no shared id column found between " +
          s"[${left.columns.mkString(", ")}] and [${right.columns.mkString(", ")}]"))
    left.join(right.withColumnRenamed(rc, lc), Seq(lc), how)
  }
}
