package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.sim.Ann
import graft.sources.{Export, Tables}
import graft.text.{Curation, TextStats}

/** `curation`: a staged batch pipeline over a corpus with seeded
  * near-duplicates, PII and benchmark contamination. One operation is a
  * full pass; each stage reads the previous stage's parquet through
  * `Tables` and writes its own through `Export.toParquet`:
  *   quality  (text)  c4Clean + gopherQuality + lmScore
  *   dedup    (dedup) minhashPairs -> componentsStars
  *   cleaning (text)  scrubPii + contamination
  *   semantic (sim)   ivfTopK of the near-duplicate embeddings
  * Stage spans include their Export write, where Spark executes them. */
final class CurationPipeline(ctx: Ctx) extends Workload {
  private val tr = ctx.tracer
  private val ex = ctx.expect
  private var spark: SparkSession = _
  private var docs, emb, bench: DataFrame = _
  private val nDocs = ex.get("n_docs").asLong
  private def ids(k: String) = ex.get(k).elements.asScala.map(_.asLong).toSet
  private val junk = ids("junk_ids")
  private val contaminated = ids("contaminated_ids")
  private val dupPairs = ex.get("dup_pairs").elements.asScala
    .map(p => (p.get(0).asLong, p.get(1).asLong)).toVector
  // semantic-stage queries: for a seeded sample of the injected pairs,
  // the member dedup removes (the larger id; the component keeps its
  // minimum), whose surviving twin must come back among its neighbours
  private val queries = new scala.util.Random(ctx.seed).shuffle(dupPairs).take(48)
    .map { case (d, s) => math.max(d, s) }
  private val out = s"${ctx.workDir}/curation"
  private var lastPaths = Map.empty[String, String]

  def setup(s: SparkSession): Unit = {
    spark = s
    tr.span("sources", "Tables") {
      docs = Tables(s, ctx.inDir, "documents")
      emb = Tables(s, ctx.inDir, "embeddings")
      bench = Tables(s, ctx.inDir, "benchmark")
      Seq("documents" -> docs, "embeddings" -> emb, "benchmark" -> bench)
        .foreach { case (n, df) => df.createOrReplaceTempView(n) }
    }
  }

  private def write(df: DataFrame, stage: String): String =
    tr.span("sources.export", "Export.toParquet") {
      Export.toParquet(df, out, "ALL", "corpus", "curation", stage.toUpperCase, Left("2024"))
    }

  private def read(path: String): DataFrame = tr.span("sources", "Tables") {
    val f = new java.io.File(path)
    Tables(spark, f.getParent, f.getName.stripSuffix(".parquet"))
  }

  def op(i: Int): OpOutcome = {
    val quality = tr.span("text", "quality") {
      val c4 = Curation.c4Clean(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("c4_keep"))
      val gopher = Curation.gopherQuality(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("gopher_keep"))
      val lm = TextStats.lmScore(docs, "doc_id", "text").select("doc_id", "nats")
      write(docs.join(c4, "doc_id").join(gopher, "doc_id").join(lm, Seq("doc_id"), "left")
        .select(col("doc_id"), col("text"), (col("c4_keep") && col("gopher_keep")).as("keep"),
          col("nats")), "quality")
    }
    val dedup = tr.span("dedup", "dedup") {
      val kept = read(quality).filter(col("keep")).select("doc_id", "text")
      val pairs = Dedup.minhashPairs(kept, "doc_id", "text", k = 5, numPerms = 64,
        bands = 16, threshold = 0.6, carrySigs = true).select("id_a", "id_b")
      val comp = Dedup.componentsStars(pairs).withColumnRenamed("id", "doc_id")
      write(kept.join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"), col("text"),
          coalesce(col("component"), col("doc_id")).as("cluster")), "dedup")
    }
    val cleaning = tr.span("text", "cleaning") {
      val survivors = read(dedup).filter(col("cluster") === col("doc_id")).select("doc_id", "text")
      val hits = Curation.contamination(survivors, bench, "doc_id", "text", n = 8)
      write(survivors.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), Curation.scrubPii(col("text")).as("text"),
          (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated")), "cleaning")
    }
    val semantic = tr.span("sim", "semantic") {
      val corpus = emb.join(read(cleaning).select("doc_id"), col("vec_id") === col("doc_id"))
        .select("vec_id", "embedding", "label")
      write(Ann.ivfTopK(queryVectors, corpus, "vec_id", "embedding", "label", k = 10,
        nprobe = 2).select("query_id", "neighbor_id", "rank"), "semantic")
    }
    lastPaths = Map("quality" -> quality, "dedup" -> dedup, "cleaning" -> cleaning,
      "semantic" -> semantic)
    OpOutcome(nDocs, () => check())
  }

  private def queryVectors: DataFrame =
    emb.filter(col("vec_id").isin(queries: _*))

  private def frac(n: Long, d: Long) = if (d == 0) 1.0 else n.toDouble / d

  /** Output checks of the last pass, against the generator's records. */
  private def check(): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val q = spark.read.parquet(lastPaths("quality"))
    val r = q.agg(count(lit(1)), countDistinct(col("doc_id")), sum(col("keep").cast("long"))).head()
    if (r.getLong(0) != nDocs || r.getLong(1) != nDocs)
      bad += s"quality: ${r.getLong(0)} rows / ${r.getLong(1)} ids for $nDocs input docs"
    val keptJunk = q.filter(col("keep") && col("doc_id").isin(junk.toSeq: _*)).count()
    if (keptJunk != 0) bad += s"quality: kept $keptJunk junk docs"
    if (r.getLong(2) < 0.9 * (nDocs - junk.size))
      bad += s"quality: kept only ${r.getLong(2)} of ${nDocs - junk.size} clean docs"

    // recall over the injected pairs that both passed the quality stage
    val cluster = spark.read.parquet(lastPaths("dedup")).select("doc_id", "cluster")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val eligible = dupPairs.filter { case (d, s) => cluster.contains(d) && cluster.contains(s) }
    val found = eligible.count { case (d, s) => cluster(d) == cluster(s) }
    lastRecall = frac(found, eligible.size)
    if (lastRecall < DupRecallFloor)
      bad += f"dedup: recall $lastRecall%.3f of ${eligible.size} injected pairs is below $DupRecallFloor"
    if (eligible.size < 0.9 * dupPairs.size)
      bad += s"dedup: only ${eligible.size} of ${dupPairs.size} injected pairs passed quality"

    val c = spark.read.parquet(lastPaths("cleaning"))
    val flagged = c.filter(col("contaminated")).select("doc_id").collect().map(_.getLong(0)).toSet
    val survivors = c.select("doc_id").collect().map(_.getLong(0)).toSet
    val missed = contaminated.intersect(survivors) -- flagged
    val extra = flagged -- contaminated
    if (missed.nonEmpty) bad += s"cleaning: ${missed.size} contaminated docs not flagged"
    if (extra.size > 0.01 * survivors.size) bad += s"cleaning: ${extra.size} clean docs flagged"
    val leaked = c.filter(col("text").contains("@example.com")).count()
    if (leaked != 0) bad += s"cleaning: $leaked docs still carry an e-mail address"

    val top = spark.read.parquet(lastPaths("semantic")).select("query_id", "neighbor_id")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toSet
    val hit = queries.count(q => cluster.get(q).exists(c => top.contains(q -> c)))
    if (hit < 0.9 * queries.size) bad += s"semantic: source found for $hit of ${queries.size} queries"
    bad.result()
  }

  private val DupRecallFloor = 0.95
  private var lastRecall = 0.0

  /** Useful-work ratios of the dedup and sim layers, measured on the
    * last pass's inputs after the timed window. */
  override def layerExtras(): Map[String, Double] = {
    val kept = spark.read.parquet(lastPaths("quality")).filter(col("keep")).select("doc_id", "text")
    val cand = Dedup.minhashPairs(kept, "doc_id", "text", k = 5, numPerms = 64,
      bands = 16, threshold = 0.6, carrySigs = true).select("id_a", "id_b").cache()
    val g = kept.select(col("doc_id"),
      graft.functions.GraftFunctions.gramHashes(col("text"), 5).as("grams"))
    val nCand = cand.count()
    val nTrue = cand.join(g.as("ga"), col("id_a") === col("ga.doc_id"))
      .join(g.as("gb"), col("id_b") === col("gb.doc_id"))
      .filter(graft.functions.GraftFunctions.jaccardSorted(col("ga.grams"), col("gb.grams")) >= 0.8)
      .count()
    cand.unpersist()
    val corpus = emb.join(spark.read.parquet(lastPaths("cleaning")).select("doc_id"),
      col("vec_id") === col("doc_id")).select("vec_id", "embedding", "label")
    val exact = Ann.bruteForceTopK(queryVectors, corpus, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val approx = spark.read.parquet(lastPaths("semantic")).select("query_id", "neighbor_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val bytes = lastPaths.values.map(p => Option(new java.io.File(p).listFiles)
      .map(_.filter(_.getName.endsWith(".parquet")).map(_.length).sum).getOrElse(0L)).sum
    Map("dedup.candidate_pairs" -> nCand.toDouble, "dedup.true_pairs" -> nTrue.toDouble,
      "dedup.precision" -> frac(nTrue, nCand), "dedup.recall" -> lastRecall,
      "sim.recall_at_k" -> frac(exact.intersect(approx).size, exact.size),
      "sources.export.bytes_out" -> bytes.toDouble)
  }
}
