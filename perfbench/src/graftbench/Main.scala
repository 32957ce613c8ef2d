package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One operation of a workload: `rows` is the input it processed, and
  * `check` (run after the timer stops) returns the mismatches found in
  * its outputs. */
final case class OpOutcome(rows: Long, check: () => Seq[String], kind: String = "op")

/** A workload drives graft through its public functions. */
trait Workload {
  /** Register the generated inputs with graft; part of set-up time. */
  def setup(spark: SparkSession): Unit
  /** Release what [[setup]] started before the session stops. */
  def teardown(): Unit = ()
  /** Run operation `i` (0 is the cold first operation). */
  def op(i: Int): OpOutcome
  /** False once the workload's inputs are used up. */
  def hasMore(i: Int): Boolean = true
  /** Operations after the cold first one that run before the measured
    * window, untimed, so every kind of operation is warm when timed. */
  def warmup: Int = 0
  /** The measured window ends on a multiple of this many operations,
    * so every run times the same mix. */
  def round: Int = 1
  /** Checks that need the whole run (after the measured window). */
  def finish(): Seq[String] = Nil
  /** Workload-specific per-layer counts for a traced run. */
  def layerExtras(): Map[String, Double] = Map.empty
}

final case class Ctx(seed: Long, seconds: Double,
                     inDir: String, workDir: String, manifest: JsonNode,
                     tracer: Tracer) {
  def expect: JsonNode = manifest.get("expect")
}

/** One benchmark run in a fresh JVM:
  *   Main --workload W --seed N --seconds S --trace 0|1 --in DIR --work DIR
  *        --trace-out DIR
  * The inputs in DIR were generated by gen.py from the same seed. The
  * last stdout line is the run's JSON result. */
object Main {
  val Setups = 3

  def session(cores: Int, workDir: String): SparkSession = {
    val s = graft.GraftSession.builder(s"local[$cores]", cores, "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/checkpoints")
      // Spark's status store keeps per-job, per-task and per-query records
      // whatever the UI setting; bounding them keeps heap_live_mb about
      // graft's own state rather than how many operations a run fitted in
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    graft.functions.GraftFunctions.ensureRegistered(s)
    graft.CodegenGuard.install()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors
    val manifest = new ObjectMapper().readTree(new File(s"${a("in")}/manifest.json"))
    var spark: SparkSession = null
    val tracer = new Tracer(a("trace") == "1", spark.sparkContext)
    val ctx = Ctx(a("seed").toLong, a("seconds").toDouble, a("in"), work,
      manifest, tracer)
    val wl: Workload = workload match {
      case "analyst" => new Analyst(ctx)
      case "curation" => new CurationPipeline(ctx)
      case "stream_ingest" => new StreamIngest(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    if (tracer.enabled) EngineListener.installCompileClock()
    // set-up, repeated: each builds a session, installs graft and
    // registers the inputs; all but the last are torn down again
    val setupS = (0 until Setups).map { k =>
      val t0 = System.nanoTime()
      spark = session(cores, work)
      wl.setup(spark)
      val dt = (System.nanoTime() - t0) / 1e9
      if (k < Setups - 1) { wl.teardown(); spark.stop() }
      dt
    }

    val listener = new EngineListener
    if (tracer.enabled) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener.qeListener)
      spark.streams.addListener(listener.streamListener)
    }
    val guard0 = graft.CodegenGuard.failures

    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    val opSpans = mutable.ArrayBuffer.empty[Long]
    val kindLat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def runOp(i: Int): (Double, Long) = {
      attempted += 1
      val t0 = System.nanoTime()
      val out = try Right(tracer.span("op", s"op$i") {
        tracer.current.foreach(s => opSpans += s.id)
        val o = wl.op(i)
        tracer.current.foreach(_.name = o.kind)
        o
      }) catch { case e: Exception => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      out match {
        case Right(o) =>
          if (i > wl.warmup)
            kindLat.getOrElseUpdate(o.kind, mutable.ArrayBuffer.empty) += dt * 1000
          val bad = try o.check() catch { case e: Exception => Seq(s"check failed: $e") }
          bad.foreach(m => failures += s"op $i: $m")
          if (bad.nonEmpty) failed += 1
          (dt, if (bad.isEmpty) o.rows else 0L)
        case Left(e) =>
          failures += s"op $i: ${e.toString.take(300)}"
          failed += 1
          (dt, 0L)
      }
    }

    val (firstS, _) = runOp(0)
    (1 to wl.warmup).foreach(runOp)
    val measuredFrom = opSpans.size
    val cg0 = EngineListener.codegenCompileMs()
    val lat = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    val windowStart = System.nanoTime()
    var i = 1 + wl.warmup
    def windowOpen = (System.nanoTime() - windowStart) / 1e9 < ctx.seconds || lat.size % wl.round != 0
    while (windowOpen && wl.hasMore(i)) {
      val (dt, r) = runOp(i)
      lat += dt
      rows += r
      i += 1
    }
    val cg1 = EngineListener.codegenCompileMs()
    val heapMb = liveHeapMb()
    val endFailures = try wl.finish() catch { case e: Exception => Seq(s"finish: $e") }
    failures ++= endFailures
    if (endFailures.nonEmpty) { attempted += 1; failed += 1 }

    val busy = lat.sum
    val e2e = if (lat.isEmpty) Map.empty[String, Double] else Map(
      "setup_s" -> Stats.median(setupS),
      "first_op_s" -> firstS,
      "op_p50_ms" -> Stats.median(lat.toSeq) * 1000,
      "ops_per_s" -> lat.size / busy,
      "rows_per_s" -> rows / busy,
      "heap_live_mb" -> heapMb)
    val p90 = Stats.percentileWithTail(lat.toSeq, 90).map(_ * 1000)
    val inputs = manifest.get("inputs")

    val layer =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
        val warm = opSpans.drop(measuredFrom).toSet
        Layers.aggregate(tracer, listener, warm,
          cg1 - cg0, graft.CodegenGuard.failures - guard0,
          wl.layerExtras())
      }
    wl.teardown()
    if (tracer.enabled) writeTrace(a("trace-out"), workload, ctx.seed,
      tracer, listener, layer)
    spark.stop()

    val info = Map(
      "workload" -> workload, "seed" -> ctx.seed, "cores" -> cores,
      "warmup_ops" -> wl.warmup, "warm_ops" -> lat.size, "setup_samples_s" -> setupS,
      "op_p50_ms" -> e2e.get("op_p50_ms"), "op_p90_ms" -> p90,
      "kind_p50_ms" -> kindLat.map { case (k, v) => k -> Stats.median(v.toSeq) }, "op_p90_rule" -> s"reported only with >= 10 of ${lat.size} samples beyond it",
      "failed_ratio" -> failed.toDouble / math.max(attempted, 1),
      "inputs" -> Map("rows" -> inputs.get("rows").asLong, "bytes" -> inputs.get("bytes").asLong,
        "dup_fraction" -> inputs.get("dup_fraction").asDouble,
        "batches" -> inputs.get("batches").asLong),
      "failures" -> failures.take(20).toSeq)
    println("info " + Json(info))
    val metrics = (if (tracer.enabled) layer else e2e)
    val result = Map(
      "correct" -> (failures.isEmpty && lat.nonEmpty),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> Units.of(k)) }.toMap)
    println(Json(result))
    System.out.flush()
    sys.exit(0) // no lingering non-daemon thread may keep the JVM alive
  }

  /** Heap left after a full GC: the pools' usage as of the collection,
    * unaffected by what other threads allocate after it. */
  private def liveHeapMb(): Double = {
    import java.lang.management.{ManagementFactory, MemoryType}
    // the second collection frees what the ContextCleaner released
    // after the first (broadcast and shuffle blocks of dropped plans)
    System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryPoolMXBeans.toArray.toSeq
      .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  private def writeTrace(dir: String, workload: String, seed: Long, tr: Tracer,
                         l: EngineListener, layer: Map[String, Double]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val self = Tracer.selfMs(tr.spans.toSeq)
    val jobSpan = EngineListener.attribute(EngineListener.asSeq(l.jobs), tr.spans.toSeq)
    val jobsPer = jobSpan.groupBy(_._2).map { case (s, js) => s -> js.size }
    val lines = tr.spans.map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.startMs, "dur_ms" -> s.durMs,
        "self_ms" -> self(s.id), "jobs" -> jobsPer.getOrElse(s.id, 0)))
    }
    val base = s"$dir/$workload-seed$seed"
    Files.write(Paths.get(s"$base.spans.jsonl"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    Files.write(Paths.get(s"$base.layers.json"), Json(layer.toSeq.sortBy(_._1).toMap).getBytes("UTF-8"))
  }
}

object Units {
  def of(name: String): String = name match {
    case "ops_per_s" => "1/s"
    case "rows_per_s" => "rows/s"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_bytes") || n.endsWith(".bytes") || n.endsWith("bytes_out") => "bytes"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("precision") || n.endsWith("recall") || n.endsWith("recall_at_k") => "ratio"
    case n if n.endsWith("_pct") => "%"
    case _ => "count"
  }
}
