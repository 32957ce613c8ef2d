package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.streaming.Streams

/** `stream_ingest`: one writer in a closed loop. Operation i moves the
  * i-th pre-generated events file and documents file into the watched
  * directories and waits until every streaming query has committed the
  * micro-batch that read them; only then is the next pair dropped. The
  * events carry re-delivered ids and out-of-order times inside the
  * watermark. Four queries write to file sinks:
  *   sessions  Streams.sessionizeStreamDf
  *   dedupe    dropDuplicatesWithinWatermark on event_id
  *   neardup   Streams.neardupStreamDf
  *   gate      Streams.curationGateStream
  * At the end, the streamed sessions must equal both the batch
  * Streams.sessionize over the same files and the sessions the
  * generator computed as closed by the files dropped. */
final class StreamIngest(ctx: Ctx) extends Workload {
  private val tr = ctx.tracer
  private val nBatches = ctx.expect.get("n_batches").asInt
  private val stage = s"${ctx.inDir}/stage"
  private var spark: SparkSession = _
  private var queries = Seq.empty[(String, StreamingQuery)]
  private var dropDir, outDir = ""
  private var setupNo = 0
  private var dropped = 0

  private def file(kind: String, i: Int) = f"$kind/$i%05d.parquet"

  def setup(s: SparkSession): Unit = {
    spark = s
    setupNo += 1
    val base = s"${ctx.workDir}/stream$setupNo"
    dropDir = s"$base/drop"
    outDir = s"$base/out"
    Seq("events", "docs").foreach(k => Files.createDirectories(new File(s"$dropDir/$k").toPath))
    val (events, docs) = tr.span("sources", "Tables") {
      val evSchema = s.read.parquet(s"$stage/${file("events", 0)}").schema
      val docSchema = s.read.parquet(s"$stage/${file("docs", 0)}").schema
      (s.readStream.schema(evSchema).parquet(s"$dropDir/events"),
        s.readStream.schema(docSchema).parquet(s"$dropDir/docs"))
    }
    val defs = tr.span("streaming", "define") {
      Seq(
        "sessions" -> Streams.sessionizeStreamDf(events),
        "dedupe" -> events.withWatermark("ts", "60 minutes")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us")),
        "neardup" -> Streams.neardupStreamDf(docs, "doc_id", "text", "ts"),
        "gate" -> Streams.curationGateStream(docs, "doc_id", "text"))
    }
    // query threads must not inherit the set-up span
    s.sparkContext.setLocalProperty(Tracer.SpanProp, null)
    queries = defs.map { case (name, df) =>
      name -> df.writeStream.format("parquet").queryName(s"${name}_$setupNo")
        .option("path", s"$outDir/$name")
        .option("checkpointLocation", s"$base/checkpoint/$name")
        .outputMode(OutputMode.Append()).start()
    }
  }

  override def teardown(): Unit = queries.foreach(_._2.stop())

  override def hasMore(i: Int): Boolean = i < nBatches

  /** The file-source offset a query has committed (-1 before any). */
  private def committed(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(p => p.sources.headOption)
      .flatMap(src => Option(src.endOffset))
      .flatMap(o => "\"logOffset\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(o).map(_.group(1).toLong))
      .getOrElse(-1L)

  def op(i: Int): OpOutcome = {
    tr.span("streaming", "microBatch") {
      Seq("events", "docs").foreach { k =>
        Files.move(new File(s"$stage/${file(k, i)}").toPath,
          new File(s"$dropDir/${file(k, i)}").toPath, StandardCopyOption.ATOMIC_MOVE)
      }
      dropped = i + 1
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (queries.exists { case (_, q) => committed(q) < i }) {
        queries.foreach { case (n, q) =>
          q.exception.foreach(e => throw new IllegalStateException(s"query $n failed", e))
        }
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"micro-batch $i not committed within 60 s")
        Thread.sleep(1)
      }
    }
    OpOutcome(ctx.expect.get("rows_per_batch").get(i).asLong, () => Nil)
  }

  private def rows(path: String, cols: String*): Set[Row] =
    spark.read.parquet(path).select(cols.map(col): _*).collect().toSet

  /** Whole-run checks: drain the queries, then compare the sinks with
    * the batch operators over the same dropped files. */
  override def finish(): Seq[String] = {
    queries.foreach(_._2.processAllAvailable())
    teardown()
    val bad = Seq.newBuilder[String]
    val evFiles = (0 until dropped).map(i => s"$dropDir/${file("events", i)}")
    val docFiles = (0 until dropped).map(i => s"$dropDir/${file("docs", i)}")
    // the batch sessionizer reads <dir>/events.parquet: concatenate
    val cmp = s"${ctx.workDir}/compare"
    spark.read.parquet(evFiles: _*).coalesce(1).write.mode("overwrite").parquet(s"$cmp/tmp")
    val part = new File(s"$cmp/tmp").listFiles.find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(s"$cmp/events.parquet").toPath)
    val cols = Seq("user_id", "start_us", "end_us", "n_events")
    val batch = Streams.sessionize(spark, cmp).select(cols.map(col): _*).collect().toSet
    val streamed = rows(s"$outDir/sessions", cols: _*)
    def diff(what: String, a: Set[Row], b: Set[Row]) =
      if (a == b) Nil else Seq(s"sessions: streamed ${a.size} vs $what ${b.size}, " +
        s"${(a -- b).size} only streamed, ${(b -- a).size} only $what")
    // the generator's sessions that the watermark has closed by now:
    // none for the first few files, about 30 for each file after them
    val closed = ctx.expect.get("sessions").elements.asScala.toSeq
      .filter(_.get(4).asInt <= dropped)
      .map(x => Row.fromSeq((0 until 4).map(j => x.get(j).asLong))).toSet
    bad ++= diff("batch", streamed, batch) ++ diff("generator", streamed, closed)

    val ids = spark.read.parquet(evFiles: _*).select("event_id").distinct().count()
    val dd = spark.read.parquet(s"$outDir/dedupe")
    val (n, nd) = { val r = dd.agg(count(lit(1)), countDistinct(col("event_id"))).head()
      (r.getLong(0), r.getLong(1)) }
    if (n != ids || nd != ids) bad += s"dedupe: $n rows, $nd ids for $ids distinct input ids"

    val docs = spark.read.parquet(docFiles: _*).select("doc_id").collect().map(_.getLong(0)).toSet
    val gate = spark.read.parquet(s"$outDir/gate").select("doc_id").collect().map(_.getLong(0))
    if (gate.length != docs.size || gate.toSet != docs)
      bad += s"gate: ${gate.length} rows for ${docs.size} documents"
    val keep = spark.read.parquet(s"$outDir/neardup").select("keep_id").collect().map(_.getLong(0)).toSet
    if (keep.isEmpty || !keep.subsetOf(docs)) bad += s"neardup: ${keep.size} kept ids not all dropped docs"
    bad.result()
  }
}
