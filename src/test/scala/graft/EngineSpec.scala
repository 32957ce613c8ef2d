package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.catalog.Catalog
import graft.analytics.Analytics
import graft.streaming.Streams
import graft.multimodal.Binary

/** Integration-level specs over the sf0.001 test tables: catalog,
  * analytics headliners, streaming-vs-batch equivalence, multimodal. */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  private def eventsStream = graft.sources.Tables.stream(spark, sfDir, "events")

  test("catalog query filters state and table_type") {
    val cat = Catalog.catalog(spark, sfDir)
    val got = Catalog.query(cat, state = Some("NATION_3"), tableType = Some("BUILDING"))
    val rows = got.collect()
    assert(rows.forall(r => r.getAs[String]("state") == "NATION_3" &&
      r.getAs[String]("table_type") == "BUILDING"))
  }

  test("numUnique counts distinct catalog values") {
    val cat = Catalog.catalog(spark, sfDir)
    assert(Catalog.numUnique(cat, "state") == 25L)
    assert(Catalog.numUnique(cat, "table_type") == 5L)
  }

  test("get_count applies the date selector") {
    val orders = graft.sources.Tables(spark, sfDir, "orders")
    val n = graft.sources.Sources.count(orders,
      Some(("o_orderdate", graft.sources.Sources.Year(1996))))
    val want = orders.filter(year(col("o_orderdate")) === 1996).count()
    assert(n == want && n > 0)
  }

  test("json loader round-trips through the registry") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_json").toString
    graft.sources.Tables(spark, sfDir, "region").write.mode("overwrite")
      .json(s"$tmp/region.json")
    val back = graft.sources.Loaders("json").load(spark, s"$tmp/region.json")
    assert(back.count() == 5 && back.columns.contains("r_name"))
  }

  test("queryBy filters on arbitrary catalog columns and rejects unknown ones") {
    val cat = Catalog.catalog(spark, sfDir)
    val got = Catalog.queryBy(cat, Map("state" -> "NATION_3", "year" -> 1997L))
    val rows = got.collect()
    assert(rows.nonEmpty && rows.forall(r =>
      r.getAs[String]("state") == "NATION_3" && r.getAs[Long]("year") == 1997L))
    intercept[IllegalArgumentException](Catalog.queryBy(cat, Map("nope" -> 1)))
  }

  test("getAgencies supports partial-name restriction") {
    val e = graft.sources.Tables(spark, sfDir, "events")
    val got = graft.sources.Sources.getAgencies(e, "event_type", Some("CLI"))
    assert(got.collect().map(_.getString(0)).toSeq == Seq("click"))
  }

  test("summaryByState pivot: per-state counts sum to per-state total") {
    val cat = Catalog.catalog(spark, sfDir)
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val pivoted = Catalog.summaryByState(cat, segs)
    val viaPivot = pivoted.select(segs.map(col): _*).collect()
      .map(r => (0 until segs.size).map(r.getLong).sum).sum
    val direct = Catalog.numSources(cat).agg(sum("n_sources")).as[Long].head()
    assert(viaPivot == direct)
  }

  // Final AQE plans, query stages and all.
  private object Adaptive
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
  private def readsTable(p: org.apache.spark.sql.execution.SparkPlan, t: String) =
    Adaptive.collect(p) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == s"$t.parquet") => s
    }.nonEmpty
  private def cachedScans(df: org.apache.spark.sql.DataFrame) =
    Adaptive.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }
  // block updates reach the status store through the listener bus
  private def storedRdds = {
    org.apache.spark.graftest.Bus.drain(spark.sparkContext)
    spark.sparkContext.getRDDStorageInfo
  }

  test("catalog snapshot: after one action, query scans the cache, not orders") {
    val cat = Catalog.catalog(spark, sfDir)
    try {
      assert(cat.count() > 0)
      // a non-empty answer: AQE folds an empty one to an EmptyRelation
      val q = Catalog.query(cat, state = Some("NATION_3"), tableType = Some("AUTOMOBILE"))
      assert(q.collect().length == 2)
      val plan = q.queryExecution.executedPlan
      assert(cachedScans(q).nonEmpty, s"expected an InMemoryTableScan:\n$plan")
      assert(!readsTable(plan, "orders"), s"query must not rescan orders:\n$plan")
    } finally cat.unpersist()
  }

  test("catalog plan joins the coverage digest without a broadcast") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val cat = Catalog.catalog(spark, sfDir)
    try {
      cat.count()
      val built = cachedScans(Catalog.numSources(cat)).head.relation.cacheBuilder.cachedPlan
      assert(readsTable(built, "orders"), built)
      val broadcasts = Adaptive.collect(built) { case b: BroadcastExchangeLike => b }
      assert(broadcasts.nonEmpty && broadcasts.forall(b => !readsTable(b, "orders")),
        s"only the nation/region dims may be broadcast:\n$built")
      assert(Adaptive.collect(built) { case j: ShuffledHashJoinExec => j }
        .exists(readsTable(_, "orders")), s"coverage join must shuffle:\n$built")
    } finally cat.unpersist()
  }

  test("cat.unpersist() releases the catalog snapshot's blocks") {
    GraftSession.unpersistAll(spark)
    val cat = Catalog.catalog(spark, sfDir)
    cat.count()
    assert(storedRdds.nonEmpty, "the first action fills the snapshot")
    cat.unpersist()
    assert(storedRdds.isEmpty)
  }

  test("unpersistAll drops Dataset cache entries, so a re-persist stores again") {
    def plan = spark.range(0, 5000).selectExpr("id % 17 AS k").distinct()
    GraftSession.unpersistAll(spark)
    val first = plan.persist()
    assert(first.count() == 17 && storedRdds.nonEmpty)
    GraftSession.unpersistAll(spark)
    assert(storedRdds.isEmpty)
    val again = plan.persist()
    try assert(again.count() == 17 && storedRdds.nonEmpty,
      "a stale cache entry made the second persist a no-op")
    finally GraftSession.unpersistAll(spark)
  }

  test("dataset version gating mirrors _check_version") {
    import spark.implicits._
    val cat = Seq(
      ("a", null.asInstanceOf[String]), // no gate
      ("b", "0.5"),                     // satisfied
      ("c", "2.10"),                    // needs newer than 2.2
      ("d", "-1"),                      // future release
      ("e", " 2.1 ")                    // whitespace + satisfied (2.2 >= 2.1)
    ).toDF("source_id", "min_version")
    val ok = Catalog.compatible(cat, "2.2").select("source_id")
      .as[String].collect().toSet
    assert(ok == Set("a", "b", "e"))
    // semver, not lexicographic: 2.10 > 2.2, 2.1 < 2.1.1
    assert(Catalog.compatible(cat, "2.10.3").select("source_id")
      .as[String].collect().toSet == Set("a", "b", "c", "e"))
    Catalog.checkVersion(cat.filter(col("source_id") === "b"), "2.2") // no throw
    val e1 = intercept[IllegalStateException](
      Catalog.checkVersion(cat.filter(col("source_id") === "d"), "2.2"))
    assert(e1.getMessage.contains("future release"))
    val e2 = intercept[IllegalStateException](
      Catalog.checkVersion(cat.filter(col("source_id") === "c"), "2.2"))
    assert(e2.getMessage.contains("at least version 2.10"))
    // prerelease sorts BELOW its release (packaging.version order): a
    // 2.0rc1 build must NOT pass a min_version=2.0 gate
    val pre = Seq(("p", "2.0")).toDF("source_id", "min_version")
    assert(Catalog.compatible(pre, "2.0rc1").count() == 0)
    assert(Catalog.compatible(pre, "2.0").count() == 1)
    // 7+ digit components compare numerically (lpad used to truncate)
    val big = Seq(("q", "1.1000000")).toDF("source_id", "min_version")
    assert(Catalog.compatible(big, "1.999999").count() == 0)
    assert(Catalog.compatible(big, "1.1000001").count() == 1)
    // a catalog without the column passes through untouched
    assert(Catalog.compatible(cat.drop("min_version"), "0.0").count() == 5)
    // arity-insensitive: 2.1 satisfies min_version 2.1.0 (and 2.1.0.0)
    val pad = Seq(("p", "2.1.0"), ("q", "2.1.0.0"), ("r", "2.1.1"))
      .toDF("source_id", "min_version")
    assert(Catalog.compatible(pad, "2.1").select("source_id")
      .as[String].collect().toSet == Set("p", "q"))
  }

  test("profile and group quantiles") {
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("b")), (4L, Some("a")))
      .toDF("id", "tag")
    val p = Analytics.profile(df, Seq("id", "tag")).orderBy("column").collect()
    assert(p(0).getString(0) == "id" && p(0).getLong(1) == 4 &&
      p(0).getLong(2) == 0 && p(0).getLong(3) == 4 &&
      p(0).getString(4) == "1" && p(0).getString(5) == "4")
    assert(p(1).getString(0) == "tag" && p(1).getLong(2) == 1 &&
      p(1).getLong(3) == 2 && p(1).getString(5) == "b")
    val q = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 4.0)).toDF("k", "v")
    val r = Analytics.groupQuantiles(q, "k", "v", Seq(0.5)).head()
    assert(r.getDouble(1) == 2.5) // interpolated median
    // a NULL group key is a legitimate group — the count join must be
    // null-safe or its quantile row silently vanishes
    val qn = Seq((Some("g"), 1.0), (None, 10.0), (None, 20.0))
      .toDF("k", "v")
    val rn = Analytics.groupQuantiles(qn, "k", "v", Seq(0.5)).collect()
    assert(rn.length == 2, rn.mkString(","))
    val nullRow = rn.find(_.isNullAt(0)).get
    assert(nullRow.getDouble(1) == 15.0) // interpolated median of the null group
  }

  test("q1 pricing summary has the expected group keys and positive counts") {
    val got = Analytics.q1(spark, sfDir).collect()
    assert(got.nonEmpty && got.length <= 6)
    assert(got.forall(_.getAs[Long]("count_order") > 0))
  }

  test("q3 returns exactly top-10 by revenue, descending") {
    val got = Analytics.q3(spark, sfDir).as[(Long, Double, java.sql.Date)].collect()
    assert(got.length == 10)
    assert(got.map(_._2).toSeq == got.map(_._2).sorted.reverse.toSeq)
  }

  test("q5 covers the ASIA nations with positive revenue") {
    val got = Analytics.q5(spark, sfDir).as[(String, Double)].collect()
    assert(got.nonEmpty && got.forall(_._2 > 0))
  }

  test("windowTopN keeps at most 3 per brand, ranked") {
    val got = Analytics.windowTopN(spark, sfDir).as[(String, Long, Double, Int)].collect()
    val perBrand = got.groupBy(_._1)
    assert(perBrand.values.forall(g => g.length <= 3 && g.map(_._4).sorted.toSeq == (1 to g.length)))
  }

  test("streaming windowAgg equals the batch time-bucket aggregation") {
    val streamed = Streams.runToMemory(Streams.windowAggStream(eventsStream),
        OutputMode.Complete())
      .orderBy("window_start_us", "event_type")
      .as[(Long, String, Long, Double)].collect().toSeq
    val batch = graft.sources.Tables(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(30,10)")), 2).cast("double").as("v"))
      .select(unix_micros(col("w.start")).as("ws"), col("event_type"), col("n"), col("v"))
      .orderBy("ws", "event_type")
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(streamed == batch)
  }

  test("streaming file sink writes the same rows as the memory sink") {
    // r4 verdict item 8: every q_stream_* verifies through the memory
    // sink (driver heap); pin the AT-SCALE sink path too — the same
    // pre-sink DataFrame driven through runToFileSink must produce a
    // parquet directory whose rows hash-match the memory-sink result.
    val out = java.nio.file.Files.createTempDirectory("graft_filesink").toString
    val path = Streams.runToFileSink(Streams.sessionizeStreamDf(eventsStream), out)
    val fromFile = spark.read.parquet(path)
      .orderBy("user_id", "start_us")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val fromMemory = Streams.sessionize(spark, sfDir)
      .orderBy("user_id", "start_us")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(fromFile.nonEmpty)
    assert(fromFile == fromMemory)
  }

  test("native session_window emits a subset of the fMGWS sessions, byte-equal") {
    val native = Streams.runToMemory(Streams.sessionizeNativeStream(eventsStream),
      OutputMode.Append())
    val fmgws = Streams.sessionize(spark, sfDir).toDF(native.columns: _*)
    assert(native.count() > 0)
    // fMGWS additionally emits sessions closed by a successor event
    // near stream end; every watermark-closed native session must
    // appear in the fMGWS output with identical bounds and counts
    assert(native.except(fmgws).isEmpty)
  }

  test("stream-static enrichment equals the batch join + window agg") {
    val streamed = Streams.runToMemory(Streams.enrichStream(eventsStream,
        graft.sources.Tables(spark, sfDir, "orders")), OutputMode.Complete())
      .orderBy("window_start_us", "tier")
      .as[(Long, String, Long, Double)].collect().toSeq
    val dim = graft.sources.Tables(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(30,10)")).as("spend"))
      .select(col("o_custkey").as("user_id"),
        when(col("spend") > lit(2500000L).cast("decimal(30,10)"), "high")
          .otherwise("low").as("tier"))
    val batch = graft.sources.Tables(spark, sfDir, "events")
      .join(dim, "user_id")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("tier"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(30,10)")), 2).cast("double").as("v"))
      .select(unix_micros(col("w.start")).as("ws"), col("tier"), col("n"), col("v"))
      .orderBy("ws", "tier")
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.map(_._2).distinct.sorted == Seq("high", "low"))
  }

  test("pageRank: mass conserved, hubs outrank leaves, deterministic") {
    import graft.analytics.Graph
    // star: hub h connected to 5 leaves, plus a detached pair a-b
    val edges = (Seq(("h", "l1"), ("h", "l2"), ("h", "l3"), ("h", "l4"),
      ("h", "l5"), ("a", "b"))).toDF("src", "dst")
    val pr = Graph.pageRank(edges, "src", "dst", iterations = 3)
      .collect().map(r => r.getAs[String]("node") ->
        (r.getAs[Long]("deg"), r.getAs[Double]("pr"))).toMap
    assert(pr.size === 8)
    assert(pr("h")._1 === 5L && pr("a")._1 === 1L)
    // the hub dominates every leaf; detached pair nodes are equal
    assert(pr("h")._2 > pr("l1")._2 * 2)
    assert(pr("a")._2 === pr("b")._2)
    assert((1 to 5).map(i => pr(s"l$i")._2).distinct.size === 1)
    // total mass ~ 1 (rounding each iteration leaks < 1e-6 here)
    val mass = pr.values.map(_._2).sum
    assert(math.abs(mass - 1.0) < 1e-6, s"mass $mass")
    // same input twice -> bit-identical scores (the determinism pin)
    val again = Graph.pageRank(edges, "src", "dst", iterations = 3)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Double]("pr")).toMap
    assert(pr.view.mapValues(_._2).toMap === again)
  }

  test("coPurchaseSimilarity: per-basket pairing, mega-basket cap, exact jaccard") {
    import graft.analytics.Graph
    val edges = Seq(
      // items x,y share baskets 1,2; y,z share basket 2 only
      (1L, "x"), (1L, "y"),
      (2L, "x"), (2L, "y"), (2L, "z"),
      (3L, "z"),
      // mega-basket touching everything — must be excluded by the cap
      (9L, "x"), (9L, "y"), (9L, "z"), (9L, "w")
    ).toDF("basket", "item")
    val got = Graph.coPurchaseSimilarity(edges, "basket", "item",
        threshold = 0.0, maxBasket = 3)
      .orderBy("item_a", "item_b")
      .as[(String, String, Long, Double)].collect().toSeq
    // with basket 9 dropped: deg x=2,y=2,z=2; xy shared 2 -> 2/(2+2-2)=1.0;
    // xz shared 1 -> 1/3; yz shared 1 -> 1/3; w appears ONLY in the
    // dropped basket -> no pairs at all
    assert(got == Seq(
      ("x", "y", 2L, 1.0),
      ("x", "z", 1L, 0.3333),
      ("y", "z", 1L, 0.3333)))
    // the dict-packed path (default for strings) and the generic
    // two-column aggregate agree exactly
    val generic = Graph.coPurchaseSimilarity(edges, "basket", "item",
        threshold = 0.0, maxBasket = 3, dictPack = false)
      .orderBy("item_a", "item_b")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(generic == got)
    // without the cap the mega-basket inflates every pair
    val uncapped = Graph.coPurchaseSimilarity(edges, "basket", "item",
      threshold = 0.0).count()
    assert(uncapped == 6L) // all C(4,2) pairs co-occur via basket 9
  }

  test("coPurchaseSimilarity packed paths: int direct, long via dict, wide values") {
    import graft.analytics.Graph
    // Long items incl. a negative and one far outside 32 bits: the
    // dense-dict remap must stay a bijection and keep numeric order
    val edges = Seq(
      (1L, -7L), (1L, 5L),
      (2L, -7L), (2L, 5L), (2L, 1L << 40),
      (3L, 1L << 40),
      (9L, -7L), (9L, 5L), (9L, 1L << 40), (9L, 11L)
    ).toDF("basket", "item")
    val got = Graph.coPurchaseSimilarity(edges, "basket", "item",
        threshold = 0.0, maxBasket = 3)
      .orderBy("item_a", "item_b")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (-7L, 5L, 2L, 1.0),
      (-7L, 1L << 40, 1L, 0.3333),
      (5L, 1L << 40, 1L, 0.3333)))
    // output item columns keep the input's long type
    val schema = Graph.coPurchaseSimilarity(edges, "basket", "item", 0.0).schema
    assert(schema("item_a").dataType.typeName == "long")
    // int items take the direct packed path (no dict) — same answer,
    // int schema preserved
    val intEdges = Seq(
      (1, -7), (1, 5),
      (2, -7), (2, 5), (2, 9),
      (3, 9),
      (9, -7), (9, 5), (9, 9), (9, 11)
    ).toDF("basket", "item")
    val gotInt = Graph.coPurchaseSimilarity(intEdges, "basket", "item",
        threshold = 0.0, maxBasket = 3)
      .orderBy("item_a", "item_b")
      .as[(Int, Int, Long, Double)].collect().toSeq
    assert(gotInt == Seq(
      (-7, 5, 2L, 1.0),
      (-7, 9, 1L, 0.3333),
      (5, 9, 1L, 0.3333)))
    assert(Graph.coPurchaseSimilarity(intEdges, "basket", "item", 0.0)
      .schema("item_a").dataType.typeName == "integer")
  }

  test("streaming temporal enrichment equals the batch as-of join on the visible horizon") {
    val streamed = Streams.runToMemory(Streams.temporalEnrichStream(eventsStream),
        OutputMode.Append())
      .orderBy("event_id")
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSeq
    val e = graft.sources.Tables(spark, sfDir, "events")
    // Spark tracks event time (and thus the watermark) in MILLISECONDS:
    // the visibility horizon is the ms-floored max, minus the delay
    val mx = e.agg(max(unix_micros(col("ts")))).head().getLong(0) / 1000L * 1000L
    val marker = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts")).agg(max("event_id").as("pid"))
      .withColumn("pts_us", unix_micros(col("ts")))
    val batch = graft.ops.Joins.asofJoin(
        e.filter(unix_micros(col("ts")) < mx - 1800000000L), marker,
        "user_id", "ts", "ts")
      .select(col("event_id"), col("user_id"), col("asof.pid").as("pid"),
        when(col("asof.pid").isNotNull,
          unix_micros(col("ts")) - col("asof.pts_us")).as("gap_us"))
      .orderBy("event_id")
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSeq
    assert(streamed.size == batch.size)
    assert(streamed == batch)
    // the horizon cut actually withheld the tail events
    assert(streamed.size < e.count())
    // the idle-TTL retention knob changes STATE lifetime, never the
    // emitted rows: same output with an armed (generous) TTL
    val ttld = Streams.runToMemory(
        Streams.temporalEnrichStream(eventsStream, 30, idleTtlMinutes = Some(120)),
        OutputMode.Append())
      .orderBy("event_id")
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSeq
    assert(ttld == streamed)
  }

  test("stream-stream interval join equals the batch inequality join") {
    val streamed = Streams.runToMemory(Streams.intervalJoinStream(eventsStream),
        OutputMode.Append())
      .orderBy("click_id", "purchase_id")
      .as[(Long, Long, Long)].collect().toSeq
    val e = graft.sources.Tables(spark, sfDir, "events")
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"), col("ts").as("cts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"), col("ts").as("pts"))
    val batch = c.join(p, col("cu") === col("pu") &&
        col("pts") >= col("cts") && col("pts") < col("cts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"),
        (unix_micros(col("pts")) - unix_micros(col("cts"))).as("g"))
      .orderBy("click_id", "purchase_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.forall(r => r._3 >= 0 && r._3 < 3600L * 1000000L))
  }

  test("image header metadata parses PNG/GIF/JPEG dims without a codec") {
    import graft.multimodal.Binary
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // PNG: signature + IHDR chunk; width=640 height=480 big-endian
    val png = b(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
      0, 0, 0, 13) ++ "IHDR".getBytes ++ b(0, 0, 2, 0x80, 0, 0, 1, 0xE0)
    assert(Binary.imageMeta(png) == Binary.ImageMeta("png", 640, 480))
    // GIF89a: little-endian 320x200
    val gif = "GIF89a".getBytes ++ b(0x40, 0x01, 0xC8, 0x00)
    assert(Binary.imageMeta(gif) == Binary.ImageMeta("gif", 320, 200))
    // JPEG: SOI, APP0 (skipped), SOF0 with height=600 width=800
    val jpg = b(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x04, 0x00, 0x00,
      0xFF, 0xC0, 0x00, 0x0B, 8, 0x02, 0x58, 0x03, 0x20, 1, 0x11, 0, 0)
    assert(Binary.imageMeta(jpg) == Binary.ImageMeta("jpeg", 800, 600))
    assert(Binary.imageMeta("not an image".getBytes) == null)
    // a text payload starting with 'GIF' is NOT a gif (full signature req'd)
    assert(Binary.imageMeta("GIF exports disabled".getBytes) == null)
    assert(Binary.imageMeta("GIF88a?????????".getBytes) == null)
    // JPEG with 0xFF fill/padding bytes between segments still parses
    val jpgPad = b(0xFF, 0xD8, 0xFF, 0xFF, 0xFF, 0xE0, 0x00, 0x04, 0x00, 0x00,
      0xFF, 0xFF, 0xC0, 0x00, 0x0B, 8, 0x02, 0x58, 0x03, 0x20, 1, 0x11, 0, 0)
    assert(Binary.imageMeta(jpgPad) == Binary.ImageMeta("jpeg", 800, 600))
    // BMP: BITMAPINFOHEADER, 100x50 little-endian, top-down negative height
    val bmp = b('B', 'M') ++ b(0, 0, 0, 0, 0, 0, 0, 0, 54, 0, 0, 0) ++
      b(40, 0, 0, 0, 100, 0, 0, 0, 0xCE, 0xFF, 0xFF, 0xFF) // height = -50
    assert(Binary.imageMeta(bmp) == Binary.ImageMeta("bmp", 100, 50))
    // "BM" text is not a bmp (DIB size field gate)
    assert(Binary.imageMeta("BMW motors sales data 2020 csv export".getBytes) == null)
    // a 4-byte PNG prefix on garbage is NOT a png: the full 8-byte
    // signature AND the IHDR tag are required (r6 review finding — the
    // lax sniff returned garbage dims for any crafted prefix)
    val fakePng = b(0x89, 'P', 'N', 'G') ++ "garbage-not-a-png-at-all".getBytes
    assert(Binary.imageMeta(fakePng) == null)
    // JPEG truncated exactly after the SOF0 width bytes still parses
    // (the farthest read is the last payload byte — exact bounds)
    val jpgTrunc = b(0xFF, 0xD8, 0xFF, 0xC0, 0x00, 0x0B, 8, 0x02, 0x58, 0x03, 0x20)
    assert(Binary.imageMeta(jpgTrunc) == Binary.ImageMeta("jpeg", 800, 600))
    // null payload is a non-image, not an NPE (public API hardening)
    assert(Binary.imageMeta(null) == null)
    assert(Binary.audioMeta(null) == null)
    // the Spark stage surfaces dims per row (text payloads → non-image)
    val metaDf = Binary.withImageMeta(spark,
      graft.multimodal.Binary.withMeta(
        graft.sources.Tables(spark, sfDir, "documents"), "doc_id", "text"),
      "doc_id", "payload")
    assert(metaDf.filter(col("format").isNull).count() == metaDf.count())
  }

  test("wav header metadata: fmt + data chunks, word alignment") {
    import graft.multimodal.Binary
    def le16(v: Int) = Seq(v & 0xFF, (v >> 8) & 0xFF)
    def le32(v: Int) = Seq(v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF, (v >> 24) & 0xFF)
    def bytes(xs: Seq[Int]) = xs.map(_.toByte).toArray
    // 2ch 44100Hz 16-bit, one odd-sized junk chunk before fmt, 1s of data
    val byteRate = 44100 * 2 * 2
    val wav = bytes(
      "RIFF".map(_.toInt) ++ le32(0) ++ "WAVE".map(_.toInt) ++
      "junk".map(_.toInt) ++ le32(3) ++ Seq(1, 2, 3, 0) ++ // odd size + pad
      "fmt ".map(_.toInt) ++ le32(16) ++ le16(1) ++ le16(2) ++
        le32(44100) ++ le32(byteRate) ++ le16(4) ++ le16(16) ++
      "data".map(_.toInt) ++ le32(byteRate))
    assert(Binary.audioMeta(wav) == Binary.AudioMeta("wav", 2, 44100, 16, 1000L))
    assert(Binary.audioMeta("RIFFxxxxNOPE not audio content here".getBytes) == null)
    assert(Binary.audioMeta("plain text".getBytes) == null)
    // corrupt chunk sizes (unsigned 0xFFFFFFF8 would truncate to -8 and
    // spin forever if advanced as Int) must terminate, not hang
    val corrupt = bytes("RIFF".map(_.toInt) ++ le32(0) ++ "WAVE".map(_.toInt) ++
      "junk".map(_.toInt) ++ Seq(0xF8, 0xFF, 0xFF, 0xFF) ++
      Seq.fill(20)(0))
    assert(Binary.audioMeta(corrupt) == null)
    // a TRUNCATED fmt chunk (sz=4) must not read the following data
    // chunk's header bytes as channels/rate/bits (r6 review finding)
    val truncFmt = bytes(
      "RIFF".map(_.toInt) ++ le32(0) ++ "WAVE".map(_.toInt) ++
      "fmt ".map(_.toInt) ++ le32(4) ++ le16(1) ++ le16(2) ++
      "data".map(_.toInt) ++ le32(8) ++ Seq.fill(8)(0))
    assert(Binary.audioMeta(truncFmt) == null)
  }

  test("resize and frame-sample stubs keep real batch shapes") {
    import graft.multimodal.Binary
    val docs = graft.multimodal.Binary.withMeta(
      graft.sources.Tables(spark, sfDir, "documents").limit(20), "doc_id", "text")
    val resized = Binary.resizeStub(spark, docs, "doc_id", "payload", 8, 8).collect()
    assert(resized.length == 20)
    assert(resized.forall(r => r.thumb.nonEmpty && r.width == 8 && r.height == 8))
    val frames = Binary.frameSampleStub(spark, docs, "doc_id", "payload", 4)
    val counts = frames.groupBy("id").count().collect()
    assert(counts.forall(_.getLong(1) == 4)) // one row per sampled frame
    // frames reassemble to the original payload (deterministic split)
    val one = frames.filter(col("id") === counts.head.getLong(0))
      .orderBy("frame_idx").collect().flatMap(_.frame)
    val orig = docs.filter(col("doc_id") === counts.head.getLong(0))
      .select("payload").head().getAs[Array[Byte]](0)
    assert(one.sameElements(orig))
    // empty payloads emit NO frames (demuxer rule, shared with
    // sampleFrames) and a huge-but-valid target must not overflow the
    // stride product (65536^2 overflows Int to 0 → keep-one-byte)
    val edge = Seq((1L, Array.emptyByteArray), (2L, Array[Byte](1, 2, 3)))
      .toDF("doc_id", "payload")
    assert(Binary.frameSampleStub(spark, edge, "doc_id", "payload", 4)
      .collect().forall(_.id == 2L))
    val big = Binary.resizeStub(spark, edge, "doc_id", "payload", 65536, 65536)
      .filter(col("id") === 2L).head()
    assert(big.thumb.toSeq == Seq[Byte](1, 2, 3)) // stride 1 keeps all
    // string ids are rejected at construction, not mid-job in the encoder
    val strIds = Seq(("a", Array[Byte](1))).toDF("doc_id", "payload")
    intercept[IllegalArgumentException](
      Binary.extractFeatures(spark, strIds, "doc_id", "payload"))
  }

  test("topKLargest: bounded heap across partitions, short groups, ordering") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val df = Seq(("a", 1L), ("a", 5L), ("a", 3L), ("a", 4L), ("b", 2L))
      .toDF("g", "v").repartition(4) // force partial-buffer serialize + merge
    val got = df.groupBy("g")
      .agg(graft.functions.GraftFunctions.topKLargest(col("v"), 2).as("t"))
      .orderBy("g").collect()
    assert(got(0).getSeq[Long](1) == Seq(5L, 4L)) // top-2, descending
    assert(got(1).getSeq[Long](1) == Seq(2L))     // group smaller than k
    // agg variant reproduces the window-based top-N exactly
    val viaAgg = Analytics.windowTopNAgg(spark, sfDir).collect().toSeq
    val viaWin = Analytics.windowTopN(spark, sfDir).collect().toSeq
    assert(viaAgg == viaWin)
  }

  test("streaming simhash candidates equal the batch pair generator") {
    // Stream the documents table with a synthetic event time (doc_id
    // seconds — all inside one watermark horizon, so nothing evicts and
    // the streaming candidate set must equal the batch one).
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_docs").toString
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    docs.write.mode("overwrite").parquet(s"$tmp/docs")
    val schema = spark.read.parquet(s"$tmp/docs").schema
    // offset past epoch: a doc at exactly ts=0 would sit on the initial
    // watermark and be dropped as late
    val stream = spark.readStream.schema(schema).parquet(s"$tmp/docs")
      .withColumn("ts", timestamp_micros((col("doc_id") + 86400L) * 1000000L))
    val cands = Streams.simhashCandidatesStream(stream, "doc_id", "text", "ts")
    val got = Streams.runToMemory(cands, OutputMode.Append())
      .select("id_a", "id_b", "hamming").distinct()
      .as[(Long, Long, Int)].collect().toSet
    val batch = graft.dedup.Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == batch, s"stream=${got.size} batch=${batch.size}")
    assert(got.nonEmpty)
  }

  test("streaming near-dup: whitespace/case twins collide, winner is earliest") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_neardup").toString
    Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (3L, "  The   quick brown fox jumps over the lazy DOG "), // norm-twin, earlier id
      (7L, "a completely different document about spark physical plans"),
      (8L, "a completely different document about spark physical plans")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/docs")
    val schema = spark.read.parquet(s"$tmp/docs").schema
    val stream = spark.readStream.schema(schema).parquet(s"$tmp/docs")
      .withColumn("ts", timestamp_micros((col("doc_id") + 86400L) * 1000000L))
    val got = Streams.runToMemory(
        Streams.neardupStreamDf(stream, "doc_id", "text", "ts"),
        OutputMode.Append())
      .select("keep_id").as[Long].collect().toSet
    // twins (3,10) → 3 wins (earlier event time); twins (7,8) → 7 wins
    assert(got == Set(3L, 7L))
  }

  /** Write each frame as ONE parquet file in `watch` with ascending
    * mtimes, so a file-stream source with maxFilesPerTrigger=1 replays
    * them as separate micro-batches in this exact order. */
  private def writeMicroBatches(watch: String,
                                batches: Seq[org.apache.spark.sql.DataFrame]): Unit =
    batches.zipWithIndex.foreach { case (df, i) =>
      val stage = java.nio.file.Files.createTempDirectory("graft_stage").toString
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(watch, f"b$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }

  private def microBatchStream(watch: String): org.apache.spark.sql.DataFrame = {
    val schema = spark.read.parquet(watch).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(watch)
  }

  private def ts(hhmm: String) = s"2024-01-01 $hhmm:00"
  private def us(hhmm: String) = java.sql.Timestamp.valueOf(ts(hhmm)).getTime * 1000L

  /** Event rows (event_id, user_id, event_type, hh:mm). */
  private def eventRows(rows: (Long, Long, String, String)*) =
    rows.toSeq.toDF("event_id", "user_id", "event_type", "s")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("s")).as("ts"))

  test("runToMemory leaves no temp view behind, and its rows still read") {
    val watch = java.nio.file.Files.createTempDirectory("graft_mem_sink").toString
    writeMicroBatches(watch, Seq((1L to 10L).toDF("id"), (11L to 20L).toDF("id")))
    def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = views
    val got = Streams.runToMemory(microBatchStream(watch), OutputMode.Append())
    assert(views == before)
    assert(got.as[Long].collect().sorted.toSeq == (1L to 20L))
  }

  test("streaming dedupe drops a key re-delivered in a later micro-batch") {
    // batch 2 re-delivers event 1 inside the 60-minute watermark
    // (watermark after batch 1: 10:05 - 60 min)
    val watch = java.nio.file.Files.createTempDirectory("graft_redeliver").toString
    writeMicroBatches(watch, Seq(
      eventRows((1L, 7L, "click", ts("10:00")), (2L, 7L, "view", ts("10:05"))),
      eventRows((1L, 7L, "click", ts("10:00")), (3L, 8L, "click", ts("10:20")))))
    val got = Streams.runToMemory(Streams.dedupeStreamDf(microBatchStream(watch)),
        OutputMode.Append())
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("interval join matches a click to a purchase in a later micro-batch, within 1 h only") {
    // user 7 buys 20 min after the click; user 8 buys 65 min after it
    val watch = java.nio.file.Files.createTempDirectory("graft_interval").toString
    writeMicroBatches(watch, Seq(
      eventRows((1L, 7L, "click", ts("10:00")), (2L, 8L, "click", ts("10:00"))),
      eventRows((3L, 7L, "purchase", ts("10:20")), (4L, 8L, "purchase", ts("11:05")))))
    val got = Streams.runToMemory(Streams.intervalJoinStream(microBatchStream(watch)),
        OutputMode.Append())
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, us("10:20") - us("10:00"))))
  }

  test("sessionize bridges an in-watermark out-of-order event across micro-batches") {
    // The regression the interval-set rework fixed: batch 1 carries
    // user 1's events at 10:00 and 10:45 (> gap apart), batch 2 a
    // NON-LATE 10:20 event (watermark is 10:15) that bridges them.
    // The single-open-session form emitted [10:00,10:00] on the 10:45
    // arrival — an irrevocable split — and clamped bounds by arrival
    // order; the fix must yield the batch answer: ONE session 10:00 →
    // 10:45 with 3 events, finalized once a later batch's watermark
    // (12:30) passes end + gap.
    val watch = java.nio.file.Files.createTempDirectory("graft_ooo_sess").toString
    def ev(rows: (Long, String)*) = rows.toSeq.toDF("user_id", "s")
      .select(col("user_id"), to_timestamp(col("s")).as("ts"))
    writeMicroBatches(watch, Seq(
      ev((1L, ts("10:00")), (1L, ts("10:45"))),
      ev((1L, ts("10:20"))),
      ev((2L, ts("13:00")))))
    val got = Streams.runToMemory(
        Streams.sessionizeStreamDf(microBatchStream(watch)),
        OutputMode.Append())
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, us("10:00"), us("10:45"), 3L)),
      s"got $got — session split or bounds corrupted by out-of-order arrival")
  }

  test("near-dup survivor state outlives an out-of-order timer re-arm") {
    // The eviction deadline must track the max event time EVER SEEN:
    // re-arming from only the current batch (doc at 11:30 after the
    // 12:00 winner) used to pull the timer back to 12:30, so the
    // 12:35 watermark evicted the signature inside its own 60-minute
    // horizon and the 12:50 doc produced a SECOND survivor.
    val watch = java.nio.file.Files.createTempDirectory("graft_ooo_nd").toString
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val other = "an entirely different document about catalyst physical planning"
    def docs(rows: (Long, String, String)*) = rows.toSeq.toDF("doc_id", "text", "s")
      .select(col("doc_id"), col("text"), to_timestamp(col("s")).as("ts"))
    writeMicroBatches(watch, Seq(
      docs((1L, dup, ts("12:00"))),
      docs((2L, dup, ts("11:30"))),
      docs((99L, other, ts("13:35"))),
      docs((3L, dup, ts("12:50")))))
    val got = Streams.runToMemory(
        Streams.neardupStreamDf(microBatchStream(watch), "doc_id", "text", "ts"),
        OutputMode.Append())
      .as[(Long, String)].collect()
    assert(got.groupBy(_._2).forall(_._2.length == 1),
      s"duplicate survivor emitted for one signature: ${got.toSeq}")
    assert(got.map(_._1).toSet == Set(1L, 99L), s"got ${got.toSeq}")
  }

  test("near-dup finalizeByWatermark picks the min-event-time winner across batches") {
    // Immediate emission is batch-boundary-dependent by design; the
    // production knob holds the winner until the watermark passes its
    // event time, so the later-arriving doc with the EARLIER event
    // time (id=3 at 10:00, arriving a batch after id=7 at 10:05) must
    // win regardless of micro-batch boundaries.
    val watch = java.nio.file.Files.createTempDirectory("graft_wm_nd").toString
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val other = "an entirely different document about catalyst physical planning"
    def docs(rows: (Long, String, String)*) = rows.toSeq.toDF("doc_id", "text", "s")
      .select(col("doc_id"), col("text"), to_timestamp(col("s")).as("ts"))
    writeMicroBatches(watch, Seq(
      docs((7L, dup, ts("10:05"))),
      docs((3L, dup, ts("10:00"))),
      docs((99L, other, ts("12:00")))))
    val got = Streams.runToMemory(
        Streams.neardupStreamDf(microBatchStream(watch), "doc_id", "text", "ts",
          finalizeByWatermark = true),
        OutputMode.Append())
      .as[(Long, String)].collect()
    // 99's signature never finalizes (watermark stops at 11:00 < 12:00)
    assert(got.map(_._1).toSeq == Seq(3L), s"got ${got.toSeq}")
  }

  test("streaming sessionize drives a distributed file sink (no driver collect)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString
    val path = Streams.runToFileSink(Streams.sessionizeStreamDf(eventsStream), tmp)
    val back = spark.read.parquet(path)
    assert(back.count() > 0)
    assert(back.columns.toSet == Set("user_id", "start_us", "end_us", "n_events"))
  }

  test("streaming dedupe: unique keys pass through exactly once") {
    val streamed = Streams.runToMemory(Streams.dedupeStreamDf(eventsStream),
      OutputMode.Append())
    val batchDistinct = graft.sources.Tables(spark, sfDir, "events")
      .select("event_id").distinct().count()
    assert(streamed.count() == batchDistinct)
    assert(streamed.select("event_id").distinct().count() == batchDistinct)
  }

  test("streaming sessionize: sessions are per-user, ordered, gap-respecting") {
    val sessions = Streams.sessionize(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    assert(sessions.nonEmpty)
    assert(sessions.forall(s => s._2 <= s._3 && s._4 >= 1))
    // no two emitted sessions of one user overlap or violate the gap
    sessions.groupBy(_._1).values.foreach { ss =>
      ss.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) => assert(b._2 - a._3 > 30L * 60 * 1000000)
        case _ =>
      }
    }
  }

  test("salted aggregation equals the plain groupBy for any salt count") {
    val li = graft.sources.Tables(spark, sfDir, "lineitem")
    val plain = li.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("total"))
      .orderBy("l_orderkey").collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 100)))
    Seq(1, 7, 32).foreach { s =>
      val salted = graft.ops.Skew.saltedSumCount(li, "l_orderkey", "l_quantity", s)
        .orderBy("l_orderkey").collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 100)))
      assert(salted.toSeq == plain.toSeq, s"salts=$s")
    }
  }

  test("salted join equals the plain join, incl. a pathological hot key") {
    // 10k rows on ONE key plus a uniform tail — the shape that
    // straggles a single reducer in a plain shuffled join
    val fact = ((1 to 10000).map(i => (42L, i.toLong)) ++
      (1 to 1000).map(i => (i.toLong % 50, 100000L + i))).toDF("k", "payload")
    val dim = (0L to 60L).map(k => (k, s"d$k")).toDF("dk", "tag")
    Seq(1, 8).foreach { s =>
      val got = graft.ops.Skew.saltedJoin(fact, "k", dim, "dk", s)
      val want = fact.join(dim, col("k") === col("dk"))
      assert(got.count() == want.count(), s"salts=$s")
      assert(got.except(want).isEmpty && want.except(got).isEmpty, s"salts=$s")
    }
    // salt columns must not leak into the output
    assert(!graft.ops.Skew.saltedJoin(fact, "k", dim, "dk", 4)
      .columns.exists(_.contains("salt")))
  }

  test("multimodal feature extraction: stable histograms, batch shape preserved") {
    val docs = graft.sources.Tables(spark, sfDir, "documents").limit(50)
    val feats = Binary.extractFeatures(spark,
      Binary.withMeta(docs, "doc_id", "text"), "doc_id", "payload").collect()
    assert(feats.length == 50)
    assert(feats.forall(f => f.features.length == 16 &&
      math.abs(f.features.sum - 1.0f) < 1e-3))
    val again = Binary.extractFeatures(spark,
      Binary.withMeta(docs, "doc_id", "text"), "doc_id", "payload").collect()
    assert(feats.map(_.features.toSeq).toSeq == again.map(_.features.toSeq).toSeq)
  }
}
