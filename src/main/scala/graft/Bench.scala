package graft
import java.nio.file.{Files, Paths}
import graft.queries.QuerySpec

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints two JSON lines: the full per-query record, then a compact
  * total that fits a 2000-byte stdout tail. Failed queries are reported
  * in an "errors" map (and excluded from the total) instead of being
  * silently timed — a broken query must be distinguishable from a slow
  * one.
  *
  * Each query runs SPARK_GRAFT_REPS times (default 3) and the PER-QUERY
  * MINIMUM is reported: this host carries external CPU contention with
  * a run-to-run spread of up to ~3x, and the minimum is the best
  * estimator of plan cost under noise. The first rep doubles as the
  * warmup (JIT + codegen + parquet footer cache); since minima are
  * taken, warmup cost never leaks into the reported numbers.
  *
  * For isolated-JVM numbers of one query (no JIT, codegen-cache or GC
  * debt from the rest of the suite), run `graft.Profile <sfDir> <query>
  * [reps]`. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt, 1)
    // Optional comma-separated subset for targeted runs (regression
    // attribution, scale spot checks); empty/unset = the full suite,
    // an unknown name fails before any session starts.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim)
      .filter(_.nonEmpty).toSet).filter(_.nonEmpty)
    val selected = only.fold(QuerySpec.all)(QuerySpec.select)
    val spark = GraftSession.harness()
    // Single-rep runs keep an untimed warmup pass (JIT + codegen +
    // parquet footers); with reps > 1 the first rep plays that role and
    // the minimum strips it.
    if (reps == 1)
      selected.foreach { q =>
        try q.run(spark, sfDir)(SparkEntry.materialize)
        catch { case _: Throwable => () }
      }
    val outcomes = selected.sortBy(_.name).map { q =>
      val times = Seq.newBuilder[Double]
      var err: Option[String] = None
      var r = 0
      while (r < reps && err.isEmpty) {
        val t0 = System.nanoTime()
        try {
          q.run(spark, sfDir)(SparkEntry.materialize)
          times += (System.nanoTime() - t0) / 1e9
        }
        catch { case e: Throwable => err = Some(e.toString.take(200)) }
        r += 1
      }
      val ts = times.result()
      // Post-query hygiene (outside the timers), plus a nudge to the
      // ContextCleaner so unreferenced broadcasts/shuffles actually get
      // removed — otherwise 100+ queries of accumulated state turn into
      // GC pressure that inflates later timings.
      GraftSession.unpersistAll(spark)
      System.gc()
      (q.name, if (ts.isEmpty) 0.0 else ts.min, err)
    }
    val ok = outcomes.filter(_._3.isEmpty)
    val qs = ok.map { case (k, v, _) => Json.str(k) + ":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val errs = outcomes.collect { case (k, _, Some(e)) => Json.str(k) + ":" + Json.str(e) }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir","reps":$reps,"stat":"min","drive":"materialize"}"""
    println(line)
    // The driver stores only the TAIL of the bench stdout; with 114
    // queries the single JSON line outgrows that window and the stored
    // copy becomes unparseable (BENCH_r04.json "parsed": null). Also
    // write the full line to a repo file so the complete per-query
    // numbers survive the round regardless of capture width.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    try Files.write(Paths.get(outFile), (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () } // stdout line remains the contract
    // The driver stores only the final 2000 bytes of stdout and the
    // 121-query line above is ~2.8 KB, so the stored copy has been
    // unparseable since round 9 (BENCH_r09/r10 "parsed": null) — the
    // full line CANNOT fit, because the per-query names alone exceed
    // the window. Per VERDICT r10 ask #2: also print a compact,
    // complete JSON summary as the LAST stdout line, so the captured
    // tail always contains one parseable line. Same total, same timed
    // region; the full per-query map stays on the line above and in
    // the file it was written to (queries_file).
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${ok.size},"n_errors":${outcomes.size - ok.size},"queries_file":${Json.str(outFile)},"sf":"$sfDir","reps":$reps,"stat":"min","drive":"materialize"}""")
    spark.stop()
  }
}
