package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** One registered query: what Bench times, Verify checks against the
  * DuckDB oracle, Profile attributes and Plans renders.
  *
  * Oracle discipline (SURVEY §6): aliases identical on both sides,
  * counts BIGINT, money sums decimal-exact then round(…,2), timestamps
  * never emitted raw at nanosecond precision (µs epoch or DATE), every
  * query deterministic via explicit ORDER BY + unique tiebreaks.
  *
  * @param confs session-conf overrides, applied around the query and
  *              restored afterwards, for ops that measured the opposite
  *              trade from a session default.
  * @param plan  the note PLANS.md prints above the query's plan. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: QuerySpec.Oracle,
    confs: Map[String, String] = Map.empty,
    plan: Option[QuerySpec.PlanNote] = None) {

  /** Build the query on `sfDir` and hand it to `drive` with `confs`
    * applied to the session, restoring prior values (or unsetting)
    * afterwards. */
  def run[A](spark: SparkSession, sfDir: String)(drive: DataFrame => A): A = {
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try drive(build(spark, sfDir)) finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object QuerySpec {

  /** How Verify checks a query: DuckDB SQL over the same tables, or —
    * for an approximate operator — by name of the SQL-verified twin
    * that runs the same code path in its exactness form. */
  sealed trait Oracle
  final case class Sql(text: String) extends Oracle
  final case class RowsOnly(twin: String, reason: String) extends Oracle

  /** `atScale` renders the plan with auto-broadcast disabled — the shape
    * the query takes once every corpus-derived side exceeds any
    * broadcast threshold. At sf0.1 the planner legitimately picks
    * stats-based broadcast for those tiny sides; the 100 TB reader
    * needs to see the shuffle form. */
  final case class PlanNote(text: String, atScale: Boolean)

  /** Every registered query (the SURVEY.md §2 inventory), by domain. */
  lazy val all: Seq[QuerySpec] = Seq(SourceQueries.specs, CatalogQueries.specs,
    StandardizeQueries.specs, DedupQueries.specs, SimilarityQueries.specs,
    TextQueries.specs, MultimodalQueries.specs, AnalyticsQueries.specs,
    StreamingQueries.specs).flatten

  /** The registered queries named in `names`, in registry order; an
    * unknown name is an error, never an empty selection. */
  def select(names: Iterable[String]): Seq[QuerySpec] = {
    val unknown = names.filterNot(n => all.exists(_.name == n))
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown queries: ${unknown.toSeq.distinct.mkString(", ")}")
    all.filter(q => names.exists(_ == q.name))
  }

  def named(name: String): QuerySpec = select(Seq(name)).head

  // ---- shared fixtures ---------------------------------------------------

  private[queries] def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  private[queries] def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** VALUES clause for an (id, raw) test-vector table; null-safe. */
  private[queries] def valuesSql(raws: Seq[String]): String =
    raws.zipWithIndex.map { case (v, i) =>
      s"(${i + 1}, ${if (v == null) "NULL" else sqlLit(v)})"
    }.mkString(", ")

  private[queries] def rawsDf(s: SparkSession, raws: Seq[String]): DataFrame = {
    import s.implicits._
    raws.zipWithIndex.map { case (v, i) => (i + 1, Option(v)) }.toDF("id", "raw")
  }

  // ---- standardization test vectors (exercise each vocabulary rule) ----

  private[queries] val raceRaws: Seq[String] = Seq(
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

  private[queries] val genderRaws: Seq[String] = Seq(
    "M", "MALE", "Male", "MAN", "MLE", "MALE/MAN", "MAN/BOY",
    "F", "FEMALE", "female", "WOMAN", "FEMAL", "FEMALE/WOMAN", "WOMAN/GIRL",
    "OTHER", "O", "TRANSGENDER", "TRANSGENDERED", "NONBINARY", "NON-BINARY",
    "GENDER NON-CONFORMING", "GENDER DIVERSE", "TRANSGENDER MALE",
    "TRANSGENDER MAN", "TRANSGENDER WOMAN", "TRANSGENDER FEMALE",
    "U", "UNKNOWN", "UNK", "MISSING", "NOT SPECIFIED", "NO DATA", "NONE",
    "", null, "X123")

  private[queries] val injuryRaws: Seq[String] = Seq(
    null, "", "0", "1", "Yes", "No", "FATAL", "Killed", "Non-Fatal",
    "NO INJURY", "NONE", "NOT INJURED", "COMPLAINT OF PAIN", "LACERATION",
    "GUNSHOT WOUND", "SUICIDE", "SELF INFLICTED FATAL", "STUN GUN",
    "3 - LACERATION", "OFFICER INJURED", "SUBJECT KILLED", "UNKNOWN",
    "NOT AVAILABLE", "OTHER", "BROKEN BONE", "TREATED AND RELEASED",
    "Unspecified", "DECEASED", "NO COMPLAINT OF INJURY", "MINOR BLEEDING")

  private[queries] val ageRaws: Seq[String] = Seq(
    "25 - 34", "18-24", "OVER 65", ">40", "65+", "18 PLUS", "60 AND OLDER",
    "UNDER 21", "<18", "BELOW 25", "17 AND YOUNGER", "20S", "30s",
    "B - 18-29", "25", "7", "45", "117", "", "MISSING", "UNKNOWN", null,
    "ADULT", "JUVENILE", "1 TO 17", "18 to 24")

  private[queries] val fatalRaws: Seq[String] = Seq(
    null, "", "   ", "FATAL", "Yes", "Y", "DECEASED", "1",
    "Non-Fatal", "NON FATAL", "No", "N", "NO CONTACT", "0",
    "SELF-INFLICTED", "UNRESOLVED")

  private[queries] val firearmRaws: Seq[String] = Seq(
    null, "", "YES", "y", "TRUE", "FIREARM", "1",
    "NO", "n", "FALSE", "PHYSICAL FORCE", "ELECTRICAL WEAPON", "OC SPRAY",
    "IMPACT WEAPON", "NO FORCE", "0", "CANINE BITE", "BLANKET HOLD",
    "DISPLAYED WEAPON", "CUTTING INSTRUMENT", "VEHICLE")

  private[queries] val nameRaws: Seq[String] = Seq(
    null, "John Doe", " Jane Roe / John Doe ", "A/B/C", "",
    "O'Brien, Patrick", "SMITH JR./ DOE SR.")

  // std_with_counts injury test vectors (_converters.py:975 region,
  // preproc.py check_for_multiple): count-multiplied items, bare
  // multi-item cells, whole-cell standardization beating the token
  // parse (contains-keyword rules), reference quirks (digit-only →
  // nothing, trailing count ignored, absurd count → keep whole).
  private[queries] val injuryCountRaws: Seq[String] = Seq(
    "2 Injured 1 Deceased", "Deceased Injured", "No Injury",
    "Complaint Of Pain", "2 Gibberish Xyz", null, "6", "2 Injured 1",
    "99999999999 Injured", "", "3 Laceration", "3 - Laceration",
    "1 Killed 2 Injured", "Fatal", "Unknown")

  private[queries] val countRaws: Seq[String] = Seq(
    "2 - Black 1 - White", "1 - Asian", "3 - Am. Ind.", "White", null, "",
    "1 - White 1 - Black 1 - Hispanic", "2-White", "10 - Pacific Islander",
    "0 - White 1 - Black") // zero count contributes nothing (both engines)

  private[queries] val withNameRaws: Seq[String] = Seq(
    "John Doe W/M; Jane Roe B/F", "Smith AA/F", "Flores H/M", "W", null,
    "[Lee TestÊA/F]", "No Code Here")

  private[queries] val ethRaws: Seq[String] = Seq(
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
  private[queries] val ageScalarRaws: Seq[String] = Seq(
    "25", "0", "117", "150", "17.4", "2.5", "3.5", "-3", "UNKNOWN", "",
    null, "44", "63.0")

  /** DuckDB list literal over a raws fixture (1-based indexing at the
    * use site: `listSql(xs)[key % n + 1]`). */
  private[queries] def listSql(raws: Seq[String]): String =
    raws.map(v => if (v == null) "NULL" else sqlLit(v)).mkString("[", ", ", "]")

  private[queries] val raceEthRaws: Seq[(String, String)] = Seq(
    ("WHITE", "HISPANIC"), ("WHITE", "NON-HISPANIC"), ("BLACK", "HISPANIC OR LATINO"),
    ("BLACK", null), ("ASIAN", "NOT HISPANIC"), (null, "HISPANIC"),
    ("B", "H"), ("CAUCASIAN", "UNKNOWN"), ("UNKNOWN", "LATINO"), (null, null))

  /** Deterministic line/punctuation/marker injection shared by
    * q_c4_filter and q_curation_e2e (the corpus has no newlines or
    * punctuation of its own): break after every 7th word, terminal "."
    * on half the lines by content hash, lorem-ipsum / brace markers on
    * a sprinkle of docs. */
  private[queries] def c4Injected: org.apache.spark.sql.Column = {
    val broken = regexp_replace(col("text"), "((\\w+ ){7})", "$1\n")
    val punct = array_join(transform(split(broken, "\n"), l =>
      when(substring(md5(trim(l)), 1, 1) < "8", concat(trim(l), lit(".")))
        .otherwise(trim(l))), "\n")
    concat_ws(" ", punct,
      when(pmod(col("doc_id"), lit(41)) === 0, lit("lorem ipsum")).otherwise(lit("ok")),
      when(pmod(col("doc_id"), lit(43)) === 0, lit("{x}")).otherwise(lit("ok")))
  }

  /** The matching DuckDB CTE chain: yields `inj(doc_id, t)`. */
  private[queries] val c4InjectedSql: String =
    """b AS (SELECT doc_id,
      |    regexp_replace(text, '((\w+ ){7})', '\1' || chr(10), 'g') AS t
      |  FROM documents),
      |p AS (SELECT doc_id, array_to_string(list_transform(string_split(t, chr(10)),
      |    l -> CASE WHEN substr(md5(trim(l)), 1, 1) < '8' THEN trim(l) || '.'
      |              ELSE trim(l) END), chr(10)) AS t FROM b),
      |inj AS (SELECT doc_id, concat_ws(' ', t,
      |    CASE WHEN doc_id % 41 = 0 THEN 'lorem ipsum' ELSE 'ok' END,
      |    CASE WHEN doc_id % 43 = 0 THEN '{x}' ELSE 'ok' END) AS t FROM p)""".stripMargin

}
