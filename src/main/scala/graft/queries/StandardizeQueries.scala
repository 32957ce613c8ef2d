package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import graft.ops.{AgeRange, Dates, Expand, Luts, Standardize}
import QuerySpec._

/** Standardization: vocabulary LUTs, demographic expansion, dates, the e2e pipeline. */
object StandardizeQueries {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_std_race", (s, dir) =>
      rawsDf(s, raceRaws)
        .select(col("id"), col("raw"), Luts.raceStd(col("raw")).as("race_std"))
        .orderBy("id"),
      Sql(s"""SELECT id, raw, ${Luts.raceStdSql} AS race_std
         |FROM (VALUES ${valuesSql(raceRaws)}) AS t(id, raw)
         |ORDER BY id""".stripMargin)),
    QuerySpec("q_std_gender", (s, dir) =>
      rawsDf(s, genderRaws)
        .select(col("id"), col("raw"), Luts.genderStd(col("raw")).as("gender_std"))
        .orderBy("id"),
      Sql(s"""SELECT id, raw, ${Luts.genderStdSql} AS gender_std
         |FROM (VALUES ${valuesSql(genderRaws)}) AS t(id, raw)
         |ORDER BY id""".stripMargin)),
    // std_counts (_converters.py:975): count-annotated demographic
    // cells ("2 - Black 1 - White") explode to one row per person,
    // then standardize through the race LUT.
    QuerySpec("q_expand_counts", (s, dir) =>
      Expand.expandCounts(rawsDf(s, countRaws), "raw", "value", "item_num")
        .select(col("id"), col("item_num"), col("value"),
          Luts.raceStd(col("value")).as("race_std"))
        .orderBy("id", "item_num"),
      Sql {
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
      }),
    // std_with_names (_converters.py std_with_names): name-annotated
    // cells ("John Doe W/M; Jane Roe B/F") → one row per person,
    // race component (itemNum=0) through the race LUT.
    QuerySpec("q_expand_names", (s, dir) =>
      Expand.expandWithNames(rawsDf(s, withNameRaws), "raw", "value",
          "item_num", itemNum = 0)
        .select(col("id"), col("item_num"), col("value"),
          Luts.raceStd(col("value")).as("race_std"))
        .orderBy("id", "item_num"),
      Sql {
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
      }),
    // std_with_counts, injury MultType (_converters.py:975): converter-
    // GUIDED greedy parse — not SQL-expressible, so the oracle is the
    // expected table for injuryCountRaws (a VALUES literal, like the
    // other converter fixtures), hand-derived from the reference
    // semantics: counts multiply the following item, whole-cell
    // standardization wins (ids 3,4,10-12,14,15 — note 11 via the
    // LACERATION contains-rule BEFORE any token parse), digit-only
    // expands to nothing (id 7), trailing count ignored (id 8),
    // unparseable/absurd kept whole (ids 5,9), null passes through (id 6).
    QuerySpec("q_expand_injury", (s, dir) =>
      Expand.expandInjuryCounts(rawsDf(s, injuryCountRaws), "raw", "value",
          "item_num")
        .select(col("id"), col("item_num"), col("value"))
        .orderBy("id", "item_num"),
      Sql("""SELECT id, item_num, value FROM (VALUES
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
        |) AS t(id, item_num, value) ORDER BY id, item_num""".stripMargin)),
    // standardize_name (preproc.py:1424): null → UNSPECIFIED, '/'-held
    // multi-name cells split into trimmed parts (pipe-joined here so
    // the driver compare sees a scalar).
    QuerySpec("q_std_name", (s, dir) =>
      rawsDf(s, nameRaws)
        .select(col("id"), col("raw"),
          concat_ws("|", Standardize.nameParts(col("raw"))).as("parts"))
        .orderBy("id"),
      Sql(s"""SELECT id, raw,
         |  CASE WHEN raw IS NULL THEN 'UNSPECIFIED'
         |       ELSE array_to_string(list_transform(string_split(raw, '/'), x -> trim(x)), '|')
         |  END AS parts
         |FROM (VALUES ${valuesSql(nameRaws)}) AS t(id, raw)
         |ORDER BY id""".stripMargin)),
    QuerySpec("q_std_age_range", (s, dir) =>
      rawsDf(s, ageRaws)
        .select(col("id"), col("raw"), AgeRange.ageRangeStd(col("raw")).as("age_range_std"))
        .orderBy("id"),
      Sql(s"""SELECT id, raw, ${AgeRange.ageRangeStdSql} AS age_range_std
         |FROM (VALUES ${valuesSql(ageRaws)}) AS t(id, raw)
         |ORDER BY id""".stripMargin)),
    // Scalar age standardization over an injected messy column: junk,
    // negatives, >120, zero, one -9999 sentinel, and a ".4" decimal.
    QuerySpec("q_std_age", (s, dir) => {
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
    }, Sql("""WITH src AS (SELECT doc_id,
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
        |FROM a, s ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_std_injury", (s, dir) =>
      rawsDf(s, injuryRaws)
        .select(col("id"), col("raw"), Luts.injuryStd(col("raw")).as("injury_std"))
        .orderBy("id"),
      Sql(s"""SELECT id, raw, ${Luts.injuryStdSql} AS injury_std
         |FROM (VALUES ${valuesSql(injuryRaws)}) AS t(id, raw)
         |ORDER BY id""".stripMargin)),
    QuerySpec("q_std_fatal", (s, dir) =>
      rawsDf(s, fatalRaws)
        .select(col("id"), col("raw"), Luts.fatalStd(col("raw")).as("fatal_std"))
        .orderBy("id"),
      Sql(s"""SELECT id, raw, ${Luts.fatalStdSql} AS fatal_std
         |FROM (VALUES ${valuesSql(fatalRaws)}) AS t(id, raw)
         |ORDER BY id""".stripMargin)),
    QuerySpec("q_std_firearm", (s, dir) =>
      rawsDf(s, firearmRaws)
        .select(col("id"), col("raw"), Luts.firearmStd(col("raw")).as("firearm_std"))
        .orderBy("id"),
      Sql(s"""SELECT id, raw, ${Luts.firearmStdSql} AS firearm_std
         |FROM (VALUES ${valuesSql(firearmRaws)}) AS t(id, raw)
         |ORDER BY id""".stripMargin)),
    QuerySpec("q_std_eth", (s, dir) =>
      rawsDf(s, ethRaws)
        .select(col("id"), col("raw"), Luts.ethStd(col("raw")).as("eth_std"))
        .orderBy("id"),
      Sql(s"""SELECT id, raw, ${Luts.ethStdSql} AS eth_std
         |FROM (VALUES ${valuesSql(ethRaws)}) AS t(id, raw)
         |ORDER BY id""".stripMargin)),
    QuerySpec("q_combine_race_eth", (s, dir) => {
      import s.implicits._
      val df = raceEthRaws.zipWithIndex
        .map { case ((r, e), i) => (i + 1, Option(r), Option(e)) }
        .toDF("id", "race", "eth")
      df.select(col("id"), col("race"), col("eth"),
          Standardize.combineRaceEth(
            Luts.raceStd(col("race")), Luts.ethStd(col("eth")), "merge")
            .as("race_eth"))
        .orderBy("id")
    }, Sql {
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
      }),
    QuerySpec("q_parse_dates", (s, dir) => {
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
    }, Sql("""WITH r AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%m/%d/%Y')
        |         WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%Y%m%d')
        |         ELSE strftime(o_orderdate, '%Y-%m-%d') END AS raw
        |  FROM orders)
        |SELECT o_orderkey, raw,
        |  CAST(coalesce(try_strptime(raw, '%m/%d/%Y'), try_strptime(raw, '%Y%m%d'),
        |                try_strptime(raw, '%Y-%m-%d')) AS DATE) AS parsed
        |FROM r ORDER BY o_orderkey""".stripMargin)),
    QuerySpec("q_merge_date_time", (s, dir) => {
      val e = T(s, dir, "events")
      val d = date_format(col("ts"), "yyyy-MM-dd")
      val t = when(pmod(col("user_id"), lit(10)) === 0, lit(null).cast("string"))
        .otherwise(date_format(col("ts"), "HH:mm:ss"))
      e.select(col("event_id"), Dates.mergeDateTime(d, t).as("merged"))
        .orderBy("event_id")
    }, Sql("""SELECT event_id,
        |  coalesce(
        |    try_strptime(strftime(ts, '%Y-%m-%d') || ' ' ||
        |      CASE WHEN user_id % 10 = 0 THEN NULL ELSE strftime(ts, '%H:%M:%S') END,
        |      '%Y-%m-%d %H:%M:%S'),
        |    try_strptime(strftime(ts, '%Y-%m-%d'), '%Y-%m-%d')) AS merged
        |FROM events ORDER BY event_id""".stripMargin)),
    QuerySpec("q_expand_demo", (s, dir) =>
      Expand.expandDelimPos(
          T(s, dir, "documents").filter(col("doc_id") < 100).select("doc_id", "text"),
          "text", " ", "word", "pos")
        .orderBy("doc_id", "pos"),
      Sql("""SELECT doc_id,
        |  CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INTEGER) AS pos,
        |  unnest(string_split(text, ' ')) AS word
        |FROM documents WHERE doc_id < 100
        |ORDER BY doc_id, pos""".stripMargin)),
    QuerySpec("q_std_rename", (s, dir) =>
      T(s, dir, "events").select(
          col("event_id").as("incident_id"),
          col("ts").cast("date").as("incident_date"),
          col("event_type").as("agency"),
          col("value"))
        .orderBy("incident_id"),
      Sql("""SELECT event_id AS incident_id, CAST(ts AS DATE) AS incident_date,
        |  event_type AS agency, value
        |FROM events ORDER BY incident_id""".stripMargin)),
    // The reference's flagship Table.standardize() composition in ONE
    // oracle-pinned row: messy column NAMES (identify + role binding +
    // content validation), messy VALUES (race/eth/gender LUTs, scalar
    // age, US-format dates, HH:mm:ss times with nulls), the
    // DATE+TIME→DATETIME merge, and the RE_GROUP race+eth combine —
    // all through Standardizer.standardize over a deterministic
    // events-derived frame. Single scan stage, no shuffle (the one
    // bounded validation aggregate reads a 1000-row sample).
    QuerySpec("q_standardize_e2e", (s, dir) => {
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
    }, Sql {
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
      })
  )
}
