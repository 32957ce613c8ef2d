package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.catalog.Catalog
import graft.ops.Standardizer
import graft.sources.{Export, Sources, Tables}
import graft.sources.Sources.{DateRange, Year}

/** `analyst`: one client in a closed loop, pulling police-style tables
  * call by call through the Source/Table and catalog API and collecting
  * each result to the driver. Operation 0 is always a year load; after
  * it each kind runs once, untimed, to warm up. The measured window is
  * whole rounds, each running every kind once in a seeded order with
  * seeded arguments, so every seed sees the same mix. */
final class Analyst(ctx: Ctx) extends Workload {
  private val tr = ctx.tracer
  private val ex = ctx.expect
  private val rng = new java.util.Random(ctx.seed)
  private var orders, events, lineitem, cat: DataFrame = _

  private val kinds = Vector("catalog_query", "summary_by_state", "get_years",
    "get_agencies", "count", "count_agency", "load_year", "load_nrows", "load_date_range",
    "load_agency", "page", "page_after", "load_iter", "standardize", "merge_related", "export")
  private var pending = List.empty[String]
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  // each substring names one agency, so every agency call returns a
  // similar share of rows whatever the seed picks
  private val agencySubs = Vector("austin", "dallas", "houston", "denver", "seattle", "tucson",
    "cincinnati", "louisville", "phoenix", "boston", "baltimore", "fairfax")
  private val years = ex.get("years").elements.asScala.map(_.asInt).toVector
  private val nEvents = ex.get("n_events").asInt

  def setup(spark: SparkSession): Unit = {
    tr.span("sources", "Tables") {
      orders = Tables(spark, ctx.inDir, "orders")
      events = Tables(spark, ctx.inDir, "events")
      lineitem = Tables(spark, ctx.inDir, "lineitem")
      Seq("orders" -> orders, "events" -> events, "lineitem" -> lineitem)
        .foreach { case (n, df) => df.createOrReplaceTempView(n) }
    }
    cat = tr.span("catalog", "Catalog.catalog")(Catalog.catalog(spark, ctx.inDir))
  }

  override def warmup: Int = kinds.size
  override def round: Int = kinds.size

  def op(i: Int): OpOutcome = {
    warm = i > warmup
    if (warm) warmOps += 1
    if (i == 0) return call("load_year")
    if (i <= warmup) return call(kinds(i - 1))
    if (pending.isEmpty) pending = scala.util.Random.javaRandomToRandom(rng).shuffle(kinds).toList
    val k = pending.head
    pending = pending.tail
    call(k)
  }

  private def day(d: Int) = java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString
  private def perDay(key: String, d0: Int, n: Int): Long =
    (d0 until d0 + n).map(d => ex.get(key).get(d).asLong).sum
  private def agencyDays(sub: String, d0: Int, n: Int): Long =
    ex.get("agency_per_day").properties.asScala
      .filter(_.getKey.toLowerCase.contains(sub))
      .map(e => (d0 until d0 + n).map(d => e.getValue.get(d).asLong).sum).sum
  private def expectEq(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, expected $want")
  private def sources[A](name: String)(body: => A): A = tr.span("sources", name)(body)

  private def call(kind: String): OpOutcome = run(kind).copy(kind = kind)

  private def run(kind: String): OpOutcome = kind match {
    case "catalog_query" =>
      val n = rng.nextInt(25); val seg = segments(rng.nextInt(segments.size))
      val rows = tr.span("catalog", "Catalog.query") {
        Catalog.query(cat, state = Some(s"NATION_$n"), tableType = Some(seg)).collect()
      }
      val want = Option(ex.get("catalog").get(s"NATION_$n|$seg")).map(_.asInt).getOrElse(0)
      OpOutcome(rows.length, () => expectEq("catalog query rows", rows.length, want))
    case "summary_by_state" =>
      val rows = tr.span("catalog", "Catalog.summaryByState") {
        Catalog.summaryByState(cat, segments).collect()
      }
      val total = rows.map(r => segments.indices.map(j => r.getLong(j + 1)).sum).sum
      OpOutcome(rows.length, () =>
        expectEq("summary total sources", total, ex.get("customers_with_orders").asLong))
    case "get_years" =>
      val got = sources("Sources.getYears") {
        Sources.getYears(orders, "o_orderdate").collect().map(_.getLong(0).toInt).toVector
      }
      OpOutcome(got.size, () => expectEq("years", got, years))
    case "get_agencies" =>
      val sub = agencySubs(rng.nextInt(agencySubs.size))
      val got = sources("Sources.getAgencies") {
        Sources.getAgencies(events, "agency", Some(sub)).collect().map(_.getString(0)).toVector
      }
      val want = ex.get("agency_per_day").fieldNames.asScala.toVector
        .filter(_.toLowerCase.contains(sub)).sorted
      OpOutcome(got.size, () => expectEq(s"agencies like $sub", got, want))
    case "count" =>
      val y = years(rng.nextInt(years.size))
      val got = sources("Sources.count") {
        Sources.count(orders, date = Some(("o_orderdate", Year(y))))
      }
      OpOutcome(1, () => expectEq(s"count $y", got, ex.get("orders_per_year").get(y.toString).asLong))
    case "count_agency" =>
      val sub = agencySubs(rng.nextInt(agencySubs.size))
      val got = sources("Sources.count") {
        Sources.count(events, agency = Some(("agency", sub)))
      }
      OpOutcome(1, () => expectEq(s"count agency $sub", got, agencyDays(sub, 0, 31)))
    case "load_nrows" =>
      val n = 200 + rng.nextInt(300)
      val rows = sources("Sources.load") {
        Sources.load(events, select = Seq("event_id", "agency", "subject_race"), nrows = Some(n))
          .collect()
      }
      OpOutcome(rows.length, () => expectEq("load nrows", rows.length, n))
    case "load_year" =>
      val y = years(rng.nextInt(years.size))
      val rows = sources("Sources.load") {
        Sources.load(orders, date = Some(("o_orderdate", Year(y))),
          select = Seq("o_orderkey", "o_custkey", "o_totalprice")).collect()
      }
      OpOutcome(rows.length, () =>
        expectEq(s"load $y", rows.length.toLong, ex.get("orders_per_year").get(y.toString).asLong))
    case "load_date_range" =>
      val d0 = rng.nextInt(28); val n = 3
      val rows = sources("Sources.load") {
        Sources.load(events, date = Some(("ts", DateRange(day(d0), day(d0 + n)))),
          select = Seq("event_id", "user_id", "value")).collect()
      }
      OpOutcome(rows.length, () =>
        expectEq("load date range", rows.length.toLong, perDay("events_per_day", d0, n)))
    case "load_agency" =>
      val sub = agencySubs(rng.nextInt(agencySubs.size)); val d0 = rng.nextInt(28)
      val rows = sources("Sources.load") {
        Sources.load(events, date = Some(("ts", DateRange(day(d0), day(d0 + 3)))),
          agency = Some(("agency", sub)), select = Seq("event_id", "agency")).collect()
      }
      OpOutcome(rows.length, () =>
        expectEq(s"load agency $sub", rows.length.toLong, agencyDays(sub, d0, 3)))
    case "page" =>
      // a narrow offset range: the cost of an offset page grows with it
      val off = nEvents / 2 + rng.nextInt(1000)
      val ids = sources("Sources.page") {
        Sources.page(events.select("event_id", "agency"), "event_id", off, 50)
          .collect().map(_.getLong(0)).toVector
      }
      OpOutcome(ids.size, () => expectEq("page ids", ids, (off until off + 50).map(_.toLong).toVector))
    case "page_after" =>
      val last = rng.nextInt(nEvents - 100).toLong
      val ids = sources("Sources.pageAfter") {
        Sources.pageAfter(events.select("event_id", "agency"), "event_id", last, 50)
          .collect().map(_.getLong(0)).toVector
      }
      OpOutcome(ids.size, () => expectEq("pageAfter ids", ids, (last + 1 to last + 50).toVector))
    case "load_iter" =>
      val start = rng.nextInt(nEvents - 3000).toLong
      val chunks = sources("Sources.loadIter") {
        Sources.loadIter(events.filter(col("event_id") >= start).select("event_id", "ts"),
          "event_id", 1000).take(2).map(_.collect().map(_.getLong(0)).toVector).toVector
      }
      val want = Vector(start until start + 1000, start + 1000 until start + 2000).map(_.toVector)
      OpOutcome(chunks.map(_.size).sum, () => expectEq("loadIter chunks", chunks, want))
    case "standardize" =>
      val d = rng.nextInt(31)
      val slice = sources("Sources.load") {
        Sources.load(events, date = Some(("ts", DateRange(day(d), day(d + 1)))),
          select = Seq("event_id", "ts", "agency", "subject_race", "subject_sex", "subject_age"))
      }
      val (n, white) = tr.span("ops", "Standardizer.standardize") {
        val r = Standardizer.standardize(slice)
        val race = r.raceCol().getOrElse("RACE_SUBJECT")
        val rows = r.df.collect()
        val j = r.df.columns.indexOf(race)
        (rows.length.toLong, if (j < 0) -1L else rows.count(x => x.getString(j) == "WHITE").toLong)
      }
      OpOutcome(n, () => expectEq("standardize rows", n, perDay("events_per_day", d, 1)) ++
        expectEq("standardize WHITE", white, perDay("white_per_day", d, 1)))
    case "merge_related" =>
      val d0 = rng.nextInt(2550); val n = 3
      val from = java.time.LocalDate.parse(ex.get("order_day0").asText).plusDays(d0)
      val rows = sources("Sources.mergeRelated") {
        val o = Sources.load(orders, date = Some(("o_orderdate",
            DateRange(from.toString, from.plusDays(n).toString))),
          select = Seq("o_orderkey", "o_orderdate")).withColumnRenamed("o_orderkey", "orderkey")
        val items = lineitem.select(col("l_orderkey").as("orderkey"), col("l_linenumber"),
          col("l_quantity"))
        Sources.mergeRelated(o, items, "orderkey").collect()
      }
      OpOutcome(rows.length, () =>
        expectEq("mergeRelated rows", rows.length.toLong, perDay("items_per_order_day", d0, n)))
    case "export" =>
      val d = rng.nextInt(31)
      val path = tr.span("sources.export", "Export.toParquet") {
        val slice = sources("Sources.load") {
          Sources.load(events, date = Some(("ts", DateRange(day(d), day(d + 1)))))
        }
        Export.toParquet(slice, s"${ctx.workDir}/export", "TX", "Austin",
          "Austin Police Department", "STOPS", Left("2024"))
      }
      if (warm) exportBytes += dirBytes(path)
      OpOutcome(perDay("events_per_day", d, 1), () =>
        if (new java.io.File(path, "_SUCCESS").exists) Nil else Seq(s"export: no _SUCCESS in $path"))
  }

  private var warm = false
  private var warmOps = 0
  private var exportBytes = 0L
  private def dirBytes(p: String): Long =
    Option(new java.io.File(p).listFiles).map(_.filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum).getOrElse(0L)

  override def layerExtras(): Map[String, Double] =
    Map("sources.export.bytes_out" -> exportBytes.toDouble / math.max(warmOps, 1))
}
