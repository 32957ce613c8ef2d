package graftbench

import org.apache.spark.sql.SparkSession

/** The benchmark's own tests: the percentile rule, span self time and
  * job-to-span attribution. Run through `python3 perfbench/run.py
  * --selftest`; exits non-zero on the first failed check. */
object SelfTest {
  private var failed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => println(s"  $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failed += 1
  }

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("target/selftest")

    // percentile rule: a percentile needs >= 10 samples beyond it
    val s99 = (1 to 99).map(_.toDouble)
    val s100 = (1 to 100).map(_.toDouble)
    check("p90 of 99 samples is withheld (9 beyond)")(Stats.percentileWithTail(s99, 90).isEmpty)
    check("p90 of 100 samples is 90 (10 beyond)")(Stats.percentileWithTail(s100, 90).contains(90.0))
    check("p50 with ties counts only samples strictly beyond")(
      Stats.percentileWithTail(Seq.fill(30)(1.0) ++ Seq.fill(5)(2.0), 50).isEmpty)
    check("nearest-rank median")(Stats.median(Seq(3.0, 1.0, 2.0, 4.0)) == 2.0)

    // self time: duration minus the union of the children's intervals,
    // clipped to the parent; grandchildren do not count twice
    val spans = Seq(
      Span(1, 0, "op", "root", 1, 0, 100),
      Span(2, 1, "sources", "a", 1, 10, 30),
      Span(3, 1, "ops", "b", 1, 20, 50),
      Span(4, 3, "text", "c", 1, 25, 45),
      Span(5, 1, "sim", "d", 1, 90, 120))
    val self = Tracer.selfMs(spans)
    check("self time of root = 100 - |[10,50] u [90,100]| = 50")(self(1) == 50.0)
    check("self time of b = 30 - 20 covered by its child")(self(3) == 10.0)
    check("self time of a leaf is its duration")(self(2) == 20.0 && self(4) == 20.0)

    // attribution: a job carries its span in a local property; a job
    // without one falls to the innermost span whose interval holds it
    val synthetic = Seq(
      EngineListener.Job(1, 5, Some(2L)),
      EngineListener.Job(2, 30, None),
      EngineListener.Job(3, 95, None),
      EngineListener.Job(4, 500, None))
    val byTime = EngineListener.attribute(synthetic, spans)
    check("job with a span property keeps it")(byTime(1) == 2L)
    check("job without one goes to the innermost span holding its start")(
      byTime(2) == 4L && byTime(3) == 5L)
    check("job outside every span is unattributed")(!byTime.contains(4))

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val tr = new Tracer(true, spark.sparkContext)
      val l = new EngineListener
      spark.sparkContext.addSparkListener(l)
      tr.span("op", "op1") {
        tr.span("sources", "count")(spark.range(100).count())
        tr.span("ops", "outer") {
          tr.span("text", "inner")(spark.range(10).repartition(2).collect())
        }
      }
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      val jobs = EngineListener.asSeq(l.jobs)
      val got = EngineListener.attribute(jobs, tr.spans.toSeq)
      val name = tr.spans.map(s => s.id -> s.name).toMap
      val names = jobs.map(j => name(got(j.id))).toSet
      check(s"Spark jobs land on the span that ran them (got $names)")(
        names == Set("count", "inner"))
      check("the span property is cleared after the root span")(
        spark.sparkContext.getLocalProperty(Tracer.SpanProp) == null)
      check("task metrics are recorded per job")(
        EngineListener.asSeq(l.tasks).map(_.job).toSet.subsetOf(jobs.map(_.id).toSet))
    } finally spark.stop()

    println(if (failed == 0) "SelfTest: all passed" else s"SelfTest: $failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
