package graftbench

import scala.collection.mutable

/** Percentiles, per-layer aggregation and JSON output. */
object Stats {

  /** Nearest-rank percentile (p in (0, 100]) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100)
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** A percentile is reported only when at least `minBeyond` samples lie
    * strictly beyond it; otherwise it says nothing the maximum does not. */
  def percentileWithTail(xs: Seq[Double], p: Double,
                         minBeyond: Int = 10): Option[Double] =
    if (xs.isEmpty) None
    else {
      val v = percentile(xs, p)
      if (xs.count(_ > v) >= minBeyond) Some(v) else None
    }
}

/** Per-layer metrics of a traced run, averaged per warm operation.
  * `extra` holds the workload's own counts, already per operation. */
object Layers {
  import EngineListener._

  val graftLayers = Seq("sources", "catalog", "ops", "text", "dedup", "sim", "streaming")

  def aggregate(tr: Tracer, l: EngineListener, warmOps: Set[Long],
                codegenCompileMs: Double, codegenFallbacks: Long,
                extra: Map[String, Double]): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val n = math.max(warmOps.size, 1).toDouble
    val spans = tr.spans.toSeq
    val self = Tracer.selfMs(spans)
    val warm = spans.filter(s => warmOps.contains(s.op))
    def layerOf(s: Span) = if (s.layer.startsWith("sources")) "sources" else s.layer
    graftLayers.foreach { layer =>
      val ss = warm.filter(s => layerOf(s) == layer)
      out(s"$layer.calls") = ss.size / n
      out(s"$layer.wall_ms") = ss.map(_.durMs).sum / n
      out(s"$layer.self_ms") = ss.map(s => self(s.id)).sum / n
    }
    val ex = warm.filter(_.layer == "sources.export")
    out("sources.export.calls") = ex.size / n
    out("sources.export.wall_ms") = ex.map(_.durMs).sum / n
    out("sources.export.bytes_out") = extra.getOrElse("sources.export.bytes_out", 0.0)

    val jobs = asSeq(l.jobs)
    val spanById = spans.map(s => s.id -> s).toMap
    val jobSpan = attribute(jobs, spans)
    val warmJobs = jobs.filter(j => jobSpan.get(j.id).exists(id => warmOps.contains(spanById(id).op)))
    val warmJobIds = warmJobs.map(_.id).toSet
    val tasks = asSeq(l.tasks).filter(t => warmJobIds.contains(t.job))
    // planning has no job to carry a span id: place it by its start time
    val warmRoots = tr.roots.filter(r => warmOps.contains(r.id))
    def inWarm(t: Double) = warmRoots.exists(r => t >= r.startMs && t <= r.endMs)
    val plans = asSeq(l.plans).filter(p => inWarm(p.startMs))
    out("spark.plan.analysis_ms") = plans.map(_.analysisMs).sum / n
    out("spark.plan.optimization_ms") = plans.map(_.optimizationMs).sum / n
    out("spark.plan.planning_ms") = plans.map(_.planningMs).sum / n
    out("spark.sched.jobs") = warmJobs.size / n
    out("spark.sched.stages") = asSeq(l.stages).count(st => warmJobIds.contains(l.jobOfStage(st))) / n
    out("spark.sched.tasks") = tasks.size / n
    out("spark.sched.delay_ms") = tasks.map(_.delayMs).sum / n
    out("spark.exec.run_ms") = tasks.map(_.runMs).sum / n
    out("spark.exec.cpu_ms") = tasks.map(_.cpuMs).sum / n
    out("spark.exec.gc_ms") = tasks.map(_.gcMs).sum / n
    out("spark.exec.peak_mem_bytes") = if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max.toDouble
    out("spark.exec.codegen_compile_ms") = codegenCompileMs / n
    out("spark.exec.codegen_fallbacks") = codegenFallbacks.toDouble
    out("spark.shuffle.write_bytes") = tasks.map(_.shWrite).sum / n
    out("spark.shuffle.read_bytes") = tasks.map(_.shRead).sum / n
    out("spark.shuffle.fetch_wait_ms") = tasks.map(_.fetchWaitMs).sum / n
    out("spark.shuffle.spill_bytes") = tasks.map(_.spill).sum / n
    out("spark.input.bytes") = tasks.map(_.inputBytes).sum / n

    // streaming: progress events of data batches inside warm operations
    val prog = asSeq(l.progress).filter(p => inWarm(p.endMs))
    def d(k: String) = prog.map(_.durMs.getOrElse(k, 0.0)).sum / n
    out("streaming.batches") = prog.size / n
    out("streaming.trigger_ms") = d("triggerExecution")
    out("streaming.add_batch_ms") = d("addBatch")
    out("streaming.query_planning_ms") = d("queryPlanning")
    out("streaming.wal_commit_ms") = d("walCommit")
    val lastPerQuery = asSeq(l.progress).groupBy(_.query).values.map(_.maxBy(_.batch))
    out("streaming.state_rows") = lastPerQuery.map(_.stateRows).sum.toDouble
    out("streaming.state_mem_bytes") = lastPerQuery.map(_.stateMem).sum.toDouble
    out("streaming.state_commit_ms") = prog.map(_.stateCommitMs).sum / n
    out("streaming.late_rows") = asSeq(l.progress).map(_.lateRows).sum.toDouble

    Seq("dedup.candidate_pairs", "dedup.true_pairs", "dedup.precision",
      "dedup.recall", "sim.recall_at_k").foreach(k => out(k) = extra.getOrElse(k, 0.0))
    out("trace.spans") = spans.size.toDouble
    out.toMap
  }
}

/** Minimal JSON writer (numbers, strings, booleans, nested maps, lists). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
