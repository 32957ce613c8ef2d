package graft

import org.apache.spark.sql.functions._
import graft.sources.{Sources, Tables}
import graft.sources.Sources._

class SourcesSpec extends SparkSpec {

  test("splitDateRange: partial years, full years, single-year slices") {
    import graft.sources.Sources._
    // mid-2020 .. mid-2023: partial + 2021 + 2022 + partial
    assert(splitDateRange("2020-06-15", "2023-03-01") == Seq(
      DateRange("2020-06-15", "2021-01-01"), Year(2021), Year(2022),
      DateRange("2023-01-01", "2023-03-01")))
    // aligned full years only
    assert(splitDateRange("2020-01-01", "2022-01-01") == Seq(Year(2020), Year(2021)))
    // inside one year
    assert(splitDateRange("2020-03-01", "2020-05-01") ==
      Seq(DateRange("2020-03-01", "2020-05-01")))
    // empty range
    assert(splitDateRange("2020-03-01", "2020-03-01").isEmpty)
    intercept[IllegalArgumentException](splitDateRange("2021-01-01", "2020-01-01"))
  }

  test("loadIterByDate chunks cover the range exactly once") {
    import graft.sources.Sources._
    val events = graft.sources.Tables(spark, sfDir, "events")
    val chunks = loadIterByDate(events, "ts", "2024-01-05", "2024-02-01").toSeq
    val total = chunks.map(_._2.count()).sum
    val direct = events.filter(
      dateFilter(org.apache.spark.sql.functions.col("ts"),
        DateRange("2024-01-05", "2024-02-01"))).count()
    assert(total == direct && direct > 0)
  }

  test("selectDataset disambiguates by url_contains and id, errors listing candidates") {
    import graft.sources.Sources._
    val ds = Seq(
      DatasetDesc("https://a.example/stops2020.csv", Some("d1"), "STOPS", Some(2020), "csv"),
      DatasetDesc("https://b.example/stops2020v2.csv", Some("d2"), "STOPS", Some(2020), "csv"),
      DatasetDesc("https://a.example/arrests.csv", None, "ARRESTS", None, "csv"))
    assert(selectDataset(ds, tableType = Some("ARRESTS")).url.contains("arrests"))
    assert(selectDataset(ds, tableType = Some("STOPS"), urlContains = Some("b.example")).id.contains("d2"))
    assert(selectDataset(ds, id = Some("d1")).url.contains("stops2020.csv"))
    val ambiguous = intercept[IllegalArgumentException](
      selectDataset(ds, tableType = Some("STOPS"), year = Some(2020)))
    assert(ambiguous.getMessage.contains("id=d1") && ambiguous.getMessage.contains("id=d2"))
    val none = intercept[IllegalArgumentException](selectDataset(ds, id = Some("nope")))
    assert(none.getMessage.contains("Available"))
  }

  test("loadDataset combines a multi-file descriptor through the registry") {
    import graft.sources.Sources._
    val tmp = java.nio.file.Files.createTempDirectory("graft_multifile").toString
    val nation = graft.sources.Tables(spark, sfDir, "nation")
    nation.filter(org.apache.spark.sql.functions.col("n_nationkey") < 10)
      .write.mode("overwrite").option("header", "true").csv(s"$tmp/part1.csv")
    nation.filter(org.apache.spark.sql.functions.col("n_nationkey") >= 10)
      .write.mode("overwrite").option("header", "true").csv(s"$tmp/part2.csv")
    val d = DatasetDesc(s"$tmp/part1.csv", Some("multi"), "NATION", None, "csv",
      files = Seq(s"$tmp/part1.csv", s"$tmp/part2.csv"))
    assert(loadDataset(spark, d).count() == 25)
  }
  import spark.implicits._

  private def dated = Seq(
    (1L, "2020-06-01", "Austin PD"),
    (2L, "2021-01-15", "Dallas Police"),
    (3L, "2021-12-31", "austin pd"),
    (4L, "2022-03-01", "Houston PD")
  ).toDF("id", "d", "agency").withColumn("d", col("d").cast("timestamp"))

  test("cleanDateInput mirrors the reference's _clean_date_input") {
    // single year, as int-string (test_clean_date_input_year)
    assert(Sources.cleanDateInput(Seq("2020")) == Year(2020))
    // year pair → inclusive year range (test_clean_date_input_list)
    assert(Sources.cleanDateInput(Seq("2019", "2021")) == YearRange(2019, 2021))
    // date strings: inclusive stop converted to half-open range
    assert(Sources.cleanDateInput(Seq("2020-02-01", "2020-03-05"))
      == DateRange("2020-02-01", "2020-03-06"))
    // single date → that one day
    assert(Sources.cleanDateInput(Seq("2020-02-01"))
      == DateRange("2020-02-01", "2020-02-02"))
    // mixed year + date (year stop means Dec 31, data_loader.py:88)
    assert(Sources.cleanDateInput(Seq("2020-06-15", "2021"))
      == DateRange("2020-06-15", "2022-01-01"))
    assert(Sources.cleanDateInput(Seq("2020", "2021-02-01"))
      == DateRange("2020-01-01", "2021-02-02"))
    // times are ignored — floored to the day (test_clean_date_includes_time)
    assert(Sources.cleanDateInput(Seq("2020-02-01T10:30:00", "2020-02-02 01:00:00"))
      == DateRange("2020-02-01", "2020-02-03"))
    // errors: number not a 4-digit year (test_clean_date_input_year_out_of_range)
    intercept[IllegalArgumentException](Sources.cleanDateInput(Seq("999")))
    intercept[IllegalArgumentException](Sources.cleanDateInput(Seq("10000")))
    // bad string (test_clean_date_input_bad_string_input)
    intercept[IllegalArgumentException](Sources.cleanDateInput(Seq("garbage")))
    // wrong arity (test_clean_date_input_list_not_length2)
    intercept[IllegalArgumentException](
      Sources.cleanDateInput(Seq("2020", "2021", "2022")))
    // out of order (test_clean_date_input_out_of_order)
    intercept[IllegalArgumentException](Sources.cleanDateInput(Seq("2021", "2019")))
    intercept[IllegalArgumentException](
      Sources.cleanDateInput(Seq("2020-03-01", "2020-02-01")))
    // the year-9999 "no end" sentinel stays timestamp-parseable (no
    // "+10000-01-01" literal, which to_timestamp rejects)
    assert(Sources.cleanDateInput(Seq("2020-01-01", "9999"))
      == DateRange("2020-01-01", "9999-12-31T23:59:59.999999"))
    val e = graft.sources.Tables(spark, sfDir, "events")
    assert(e.filter(Sources.dateFilter(col("ts"),
      Sources.cleanDateInput(Seq("1990", "9999")))).count() == e.count())
  }

  test("dateFilter Year keeps only that calendar year") {
    val got = dated.filter(Sources.dateFilter(col("d"), Year(2021)))
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 3L))
  }

  test("dateFilter YearRange is inclusive on both years") {
    val got = dated.filter(Sources.dateFilter(col("d"), YearRange(2020, 2021)))
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 3L))
  }

  test("dateFilter DateRange is half-open [start, end)") {
    val got = dated.filter(Sources.dateFilter(col("d"), DateRange("2021-01-15", "2021-12-31")))
      .select("id").as[Long].collect()
    assert(got.toSeq == Seq(2L))
  }

  test("agencyFilter matches case-insensitive substrings") {
    val got = dated.filter(Sources.agencyFilter(col("agency"), "AUSTIN"))
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 3L))
  }

  test("load composes date + agency + projection") {
    val got = Sources.load(dated,
      date = Some(("d", YearRange(2020, 2021))),
      agency = Some(("agency", "pd")),
      select = Seq("id"))
    assert(got.columns.toSeq == Seq("id"))
    assert(got.as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("pageAfter is deterministic keyset paging") {
    val e = Tables(spark, sfDir, "events")
    val p1 = Sources.pageAfter(e, "event_id", -1L, 10).select("event_id").as[Long].collect()
    assert(p1.length == 10 && p1.toSeq == p1.sorted.toSeq)
    val p2 = Sources.pageAfter(e, "event_id", p1.last, 10).select("event_id").as[Long].collect()
    assert(p2.length == 10 && p2.head > p1.last)
  }

  test("loadIter yields fixed-size chunks covering all rows exactly once") {
    val e = Tables(spark, sfDir, "events").limit(95)
    val chunks = Sources.loadIter(e, "event_id", 20).map(_.count()).toSeq
    assert(chunks.init.forall(_ == 20) && chunks.sum == 95)
  }

  test("loadIter fails fast on a non-integral sort key") {
    val e = Tables(spark, sfDir, "events")
    intercept[IllegalArgumentException](Sources.loadIter(e, "event_type", 10))
  }

  test("loadIter fails loud on null keys and boundary duplicates, not silently") {
    import spark.implicits._
    // null key: named error instead of ROW_VALUE_IS_NULL mid-iteration
    val withNull = Seq(Some(1L), None, Some(3L), Some(4L)).toDF("k")
    val e1 = intercept[IllegalArgumentException](
      Sources.loadIter(withNull, "k", 2).foreach(_.count()))
    assert(e1.getMessage.contains("null"))
    // duplicate key SPANNING a page boundary: the `> last` filter would
    // silently skip the remaining duplicates — must throw, naming the key
    val dup = Seq(1L, 2L, 2L, 3L).toDF("k")
    val e2 = intercept[IllegalArgumentException](
      Sources.loadIter(dup, "k", 2).foreach(_.count()))
    assert(e2.getMessage.contains("not unique") && e2.getMessage.contains("2"))
    // duplicates fully INSIDE a page are fine
    val dupInside = Seq(1L, 1L, 2L, 3L).toDF("k")
    assert(Sources.loadIter(dupInside, "k", 3).map(_.count()).sum == 4)
  }

  test("loadIter fetches each page with exactly one Spark job") {
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    def drain(): Unit = org.apache.spark.graftest.Bus.drain(spark.sparkContext)
    val e = Tables(spark, sfDir, "events").select("event_id", "ts")
    val it = Sources.loadIter(e, "event_id", 100)
    spark.sparkContext.addSparkListener(listener)
    try {
      for (p <- 1 to 3) {
        drain()
        val before = jobs
        val rows = it.next().collect()
        drain()
        assert(rows.length == 100 && jobs - before == 1, s"page $p ran ${jobs - before} jobs")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("loadIter pages concatenate to orderBy(key), for Int and Long keys") {
    val e = Tables(spark, sfDir, "events").filter(col("event_id") < 300)
      .select("event_id", "event_type", "ts")
    for (key <- Seq(e, e.withColumn("event_id", col("event_id").cast("int")))) {
      val want = key.orderBy("event_id").collect().toSeq
      val got = Sources.loadIter(key, "event_id", 37).flatMap(_.collect()).toSeq
      assert(got == want)
      assert(Sources.loadIter(key, "event_id", 37).next().schema == key.schema)
    }
  }

  test("getYears / getAgencies: NULL first, empty and single-row frames unchanged") {
    import spark.implicits._
    // the output of the global-sort form these functions replace
    def sortedForm(df: org.apache.spark.sql.DataFrame) =
      df.distinct().orderBy(df.columns.head).collect().toSeq
    val dates = Seq("2020-01-05", null, "2019-03-01", "2020-07-01", null)
      .toDF("d").select(to_timestamp(col("d")).as("d"))
    for (df <- Seq(dates, dates.limit(0), dates.filter(col("d").isNotNull).limit(1))) {
      val got = getYears(df, "d")
      assert(got.columns.toSeq == Seq("yr"))
      assert(got.collect().toSeq == sortedForm(df.select(year(col("d")).cast("long").as("yr"))))
    }
    assert(getYears(dates, "d").collect().map(r => Option(r.get(0))).toSeq ==
      Seq(None, Some(2019L), Some(2020L)))
    val ag = Seq("Austin", null, "Dallas", "Austin", "dallas").toDF("agency")
    for (df <- Seq(ag, ag.limit(0), ag.limit(1))) {
      assert(getAgencies(df, "agency").collect().toSeq == sortedForm(df))
    }
    assert(getAgencies(ag, "agency").collect().map(r => Option(r.getString(0))).toSeq ==
      Seq(None, Some("Austin"), Some("Dallas"), Some("dallas")))
    assert(getAgencies(ag, "agency", Some("DAL")).collect().map(_.getString(0)).toSeq ==
      Seq("Dallas", "dallas"))
  }

  test("mergeRelated joins related tables on the incident id") {
    val orders = Tables(spark, sfDir, "orders").select("o_orderkey", "o_orderdate")
      .withColumnRenamed("o_orderkey", "incident_id").limit(50)
    val items = Tables(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "incident_id")
    val merged = Sources.mergeRelated(items, orders, "incident_id", broadcastRight = true)
    assert(merged.columns.toSeq == Seq("incident_id", "l_quantity", "o_orderdate"))
    assert(merged.count() > 0)
  }

  test("findIdColumn: tiered name heuristics follow the reference") {
    import spark.implicits._
    def df(cols: String*) = cols.zipWithIndex
      .foldLeft(Seq((1)).toDF("__seed")) { case (d, (c, i)) => d.withColumn(c, lit(i)) }
      .drop("__seed")
    // tier 1: incident-id-shaped on both sides (different names OK)
    assert(Sources.findIdColumn(df("Incident_ID", "race"), df("INCIDENT NUMBER", "x"))
      === Some(("Incident_ID", "INCIDENT NUMBER")))
    // anchored match preferred over an embedded one
    assert(Sources.findIdColumn(df("case_id", "ncase_id2x"), df("CASE_ID"))
      === Some(("case_id", "CASE_ID")))
    // ambiguity raises (reference: NotImplementedError)
    intercept[IllegalArgumentException](
      Sources.findIdColumn(df("incident_id", "stop_id"), df("case_no_b", "x")))
    // tier 2: common column named case
    assert(Sources.findIdColumn(df("Case", "a"), df("case", "b"))
      === Some(("Case", "case")))
    // tier 3: entity-word id forms
    assert(Sources.findIdColumn(df("reportid", "a"), df("REPORTID", "b"))
      === Some(("reportid", "REPORTID")))
    // tier 4: plain id
    assert(Sources.findIdColumn(df("id", "a"), df("ID", "b"))
      === Some(("id", "ID")))
    // nothing shared → None
    assert(Sources.findIdColumn(df("foo", "bar"), df("baz")) === None)
  }

  test("findIdColumn content fallback: cross-name case/accident number needs 98% containment") {
    // casenumber alone is an incident-id-shaped name (tier 1); the
    // content-validated path is for CROSS-name pairs (the reference's
    // Norman crashes dataset: casenumber vs accidentnumber)
    val a = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("CaseNumber", "a")
    val contained = (1 to 50).map(i => (i.toLong, i)).toDF("AccidentNumber", "b")
    val disjoint = (1000 to 1050).map(i => (i.toLong, i)).toDF("AccidentNumber", "b")
    assert(Sources.findIdColumn(a, contained) === Some(("CaseNumber", "AccidentNumber")))
    assert(Sources.findIdColumn(a, disjoint) === None)
  }

  test("mergeRelatedAuto joins on the detected key across differing names") {
    val orders = Tables(spark, sfDir, "orders").select("o_orderkey", "o_orderdate")
      .withColumnRenamed("o_orderkey", "Incident_Number").limit(50)
    val items = Tables(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "incident_num")
    val merged = Sources.mergeRelatedAuto(items, orders)
    assert(merged.columns.toSeq ==
      Seq("incident_num", "l_quantity", "o_orderdate"))
    assert(merged.count() > 0)
  }

  test("combine aligns schemas with nulls for missing columns") {
    val a = Seq((1L, "x")).toDF("id", "only_a")
    val b = Seq((2L, 3.0)).toDF("id", "only_b")
    val got = Sources.combine(Seq(a, b)).orderBy("id").collect()
    assert(got.length == 2)
    assert(got(0).getAs[String]("only_a") == "x" && got(0).isNullAt(2))
    assert(got(1).isNullAt(1) && got(1).getAs[Double]("only_b") == 3.0)
  }

  test("catalog reload from CSV applies the reference's _build cleaning; queries run on it") {
    import graft.catalog.Catalog
    val csv = java.nio.file.Files.createTempFile("graft_catalog", ".csv")
    java.nio.file.Files.write(csv,
      ("""State,SourceName,Jurisdiction,TableType,Year,DataType,URL,coverage_start,coverage_end,min_version
        |Texas, Austin Police Department ,Austin Police Department,TRAFFIC STOPS,2021,Socrata,https://data.austintexas.gov/x,1/1/2021,12/31/2021,
        |Texas,Austin Police Department,Austin Police Department,TRAFFIC STOPS,2021,Socrata,https://data.austintexas.gov/x,1/1/2021,12/31/2021,
        |Virginia,Virginia,MULTI,STOPS,MULTI,ArcGIS,https://services.arcgis.com/a/FeatureServer/3/query?f=json,,,
        |California,Oakland,Oakland,USE OF FORCE - INCIDENTS,2019,CSV,https://oakland.example/uof.csv,,,0.1
        |""".stripMargin).getBytes("UTF-8"))
    val cat = Catalog.reload(spark, csv.toString)
    // legacy rename happened
    assert(cat.columns.contains("Agency") && !cat.columns.contains("Jurisdiction"))
    // duplicate key rows collapsed (rows 1+2 differ only by padding)
    assert(cat.count() == 3)
    val austin = cat.filter(col("State") === "Texas").head()
    // "Police Department" stripped + trimmed in SourceName and Agency
    assert(austin.getAs[String]("SourceName") == "Austin")
    assert(austin.getAs[String]("Agency") == "Austin")
    // coverage dates parsed from m/d/yyyy
    assert(austin.getAs[String]("coverage_start") == "2021-01-01")
    assert(austin.getAs[String]("coverage_end") == "2021-12-31")
    val va = cat.filter(col("State") === "Virginia").head()
    // MULTI markers normalized; ArcGIS URL truncated after the layer
    assert(va.getAs[String]("Agency") == "MULTIPLE")
    assert(va.getAs[String]("Year") == "MULTIPLE")
    assert(va.getAs[String]("URL") == "https://services.arcgis.com/a/FeatureServer/3")
    // the standard catalog queries run against the reloaded frame
    val q = Catalog.queryBy(cat,
      Map("State" -> "Texas", "TableType" -> "TRAFFIC STOPS"))
    assert(q.count() == 1)
    assert(Catalog.tableTypes(cat.withColumnRenamed("TableType", "table_type"),
      Some("stops")).count() == 2) // TRAFFIC STOPS + STOPS
    // version gating composes with the reloaded catalog
    assert(Catalog.compatible(cat, "1.0").count() == 3)
    assert(Catalog.compatible(cat, "0.0.1").count() == 2) // Oakland gated
    // missing file fails loud (reload's error=True semantics)
    intercept[IllegalArgumentException](
      Catalog.reload(spark, "/nonexistent/catalog.csv"))
  }

  test("catalog build: URL preservation, keep-first dedup, unparsable coverage dates (review regressions)") {
    import graft.catalog.Catalog
    val csv = java.nio.file.Files.createTempFile("graft_catalog2", ".csv")
    java.nio.file.Files.write(csv,
      ("""State,SourceName,Agency,TableType,Year,DataType,URL,coverage_start,min_version
        |Ohio,Cincinnati,Cincinnati,STOPS,2020,ArcGIS,https://host/arcgis/rest/services/Foo/MapServer,,
        |Iowa,Ames,Ames,ARRESTS,2019,Socrata,https://a.example/x,1/1/2019 - 6/30/2019,
        |Utah,Provo,Provo,STOPS,2018,CSV,https://first.example/a.csv,,1.0
        |Utah,Provo,Provo,STOPS,2018,CSV,https://second.example/b.csv,,2.0
        |""".stripMargin).getBytes("UTF-8"))
    val cat = Catalog.build(spark, csv.toString)
    // an ArcGIS URL WITHOUT a numeric layer suffix passes through
    // untouched (regexp_extract's empty-string-on-no-match would have
    // blanked it)
    assert(cat.filter(col("State") === "Ohio").head().getAs[String]("URL")
      == "https://host/arcgis/rest/services/Foo/MapServer")
    // a coverage value the m/d/yyyy parser cannot FULLY parse is
    // preserved verbatim, not nulled
    assert(cat.filter(col("State") === "Iowa").head()
      .getAs[String]("coverage_start") == "1/1/2019 - 6/30/2019")
    // duplicate keys keep the FIRST row in file order (pandas
    // drop_duplicates semantics), deterministically
    val utah = cat.filter(col("State") === "Utah").collect()
    assert(utah.length == 1)
    assert(utah.head.getAs[String]("URL") == "https://first.example/a.csv")
    assert(utah.head.getAs[String]("min_version") == "1.0")
  }

  test("fuzzy source query: containment and typo tolerance, scan-stage only") {
    import graft.catalog.Catalog
    val cat = Seq("New York City", "Chicago", "Los Angeles", "Mesa")
      .toDF("source_name")
    def got(q: String, t: Double = 0.9) =
      cat.filter(Catalog.fuzzySourceMatch(col("source_name"), q, t))
        .as[String].collect().toSet
    assert(got("New York") == Set("New York City"))   // partial containment
    assert(got("chicago") == Set("Chicago"))          // case-insensitive
    assert(got("Los Angelos", 0.85) == Set("Los Angeles")) // typo via levenshtein
    assert(got("Houston").isEmpty)
    // dataset_id curly-quote normalization rides build()
    val csv = java.nio.file.Files.createTempFile("graft_dsid", ".csv")
    java.nio.file.Files.write(csv,
      ("""State,SourceName,Agency,TableType,Year,dataset_id
        |Texas,Austin,Austin,STOPS,2021,"[{“sheets”: “S1”}]"
        |Texas,Dallas,Dallas,STOPS,2021,plain-id
        |""".stripMargin).getBytes("UTF-8"))
    val built = Catalog.build(spark, csv.toString).orderBy("SourceName")
      .select("dataset_id").as[String].collect().toSeq
    assert(built == Seq("""[{"sheets": "S1"}]""", "plain-id"))
  }
}
