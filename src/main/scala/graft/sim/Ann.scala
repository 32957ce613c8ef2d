package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, random-hyperplane LSH
  * and IVF-style cell probing as the scale paths.
  *
  * Scale notes: brute-force is O(|Q|·|C|) and only acceptable when the
  * query side is small enough to broadcast — the corpus is never
  * collected. LSH/IVF prune the corpus side through a bucketed equi-join
  * (hash band / cell id), so the scan and shuffle touch only candidate
  * buckets at 100 TB.
  */
object Ann {

  /** Elementwise-double dot product (deterministic left-to-right fold —
    * the oracle computes the same order). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, v) => s + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Codegen-Expression cosine (same sequential double math → identical
    * values); requires GraftFunctions registration on the session. */
  private def cosFast(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineSim(a, b)

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Exact cosine top-k: query rows (small — broadcast) × corpus, scored,
    * ranked per query with a deterministic tiebreak on neighbor id. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.ensureRegistered(queries.sparkSession)
    val parts = corpus.sparkSession.sparkContext.defaultParallelism
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv")))
    // Repartition the corpus before scoring: the parquet scan is a
    // single split, which would serialize the |Q|x|C| cosine loop.
    val c = corpus.repartition(parts)
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
    val scored = q.crossJoin(c)
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.Det.round4(cosFast(col("qv"), col("cv"))).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Random-hyperplane LSH signature: `numPlanes` sign bits packed into
    * a long — codegen Expression (one tight projection loop per row;
    * seeded SplittableRandom hyperplanes cached in LshImpl). A previous
    * "declarative reference form" was removed: it used a DIFFERENT
    * hyperplane family (hash-derived components) and was therefore not
    * value-equivalent to this function despite claiming to be — the
    * kernel's per-plane projection is simple enough to be its own
    * specification. */
  def lshSignature(vec: Column, numPlanes: Int): Column =
    graft.functions.GraftFunctions.lshSig(asDouble(vec), numPlanes)

  /** LSH-bucketed ANN: queries and corpus are hashed to `bands` buckets
    * of `numPlanes/bands` sign bits; candidates share any bucket; exact
    * cosine re-rank keeps top-k. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, numPlanes: Int = 16,
              bands: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // fail loud on broken band math: bands > numPlanes gives 0-bit
    // bands (every row in ONE bucket — a silent cross join), and a
    // non-divisible bands silently ignores the trailing sign bits
    require(bands >= 1 && bands <= numPlanes && numPlanes % bands == 0,
      s"lshTopK: bands ($bands) must divide numPlanes ($numPlanes)")
    val rows = numPlanes / bands
    // 1L << 64 wraps to 1 under the JVM's shift-mod-64 — a 64-bit band
    // needs the all-ones mask spelled out
    val mask = if (rows == 64) -1L else (1L << rows) - 1L
    def withBuckets(df: DataFrame, id: String) = {
      val bandStructs = (0 until bands).map(b => struct(lit(b).as("band_id"),
        shiftright(col("sig"), b * rows).bitwiseAND(lit(mask)).as("band_val")))
      df.select(col(idCol).as(id), asDouble(col(vecCol)).as(id + "_v"),
          lshSignature(col(vecCol), numPlanes).as("sig"))
        .select(col(id), col(id + "_v"), inline(array(bandStructs: _*)))
    }
    graft.functions.GraftFunctions.ensureRegistered(queries.sparkSession)
    val parts = corpus.sparkSession.sparkContext.defaultParallelism
    val qb = withBuckets(queries, "query_id")
    // Corpus signatures are the expensive projection — spread the single
    // parquet split across cores first.
    val cb = withBuckets(corpus.repartition(parts), "neighbor_id")
    val cands = qb.join(cb, Seq("band_id", "band_val"))
      .select(col("query_id"), col("neighbor_id"),
        col("query_id_v").as("qv"), col("neighbor_id_v").as("cv"))
      .distinct()
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cands.select(col("query_id"), col("neighbor_id"),
        graft.functions.Det.round4(cosFast(col("qv"), col("cv"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF with LEARNED centroids — the real coarse quantizer: seeded
    * k-means (Spark MLlib) over a bounded corpus sample learns `nCells`
    * centroids, every corpus vector routes to its nearest centroid in
    * one scan (the model's assignment is a broadcast of nCells × dim
    * doubles), and queries probe their `nprobe` closest cells exactly
    * like [[ivfTopK]].
    *
    * CAVEATS (pruned path only; the nprobe >= nCells verify contract
    * is exact regardless): (1) MLlib k-means clusters by EUCLIDEAN
    * distance while routing ranks cells by cosine — the metrics agree
    * for (approximately) normalized embeddings, but with wildly
    * unnormalized vectors a large-norm corpus point can land in a cell
    * the query's cosine routing never probes; normalize first if that
    * is your data. (2) "Deterministic" covers the seed and the
    * id-ordered sample; MLlib's internal double aggregation can still
    * differ in the last ulp across partition layouts, which can flip
    * near-tie cell choices in the pruned path.
    * At 100 TB the fit runs on the sample only; assignment and probing
    * stay scan-parallel with no corpus-sized shuffle beyond the
    * candidate join. `nprobe >= nCells` probes everything → exact
    * brute-force result (the verify contract). */
  def ivfLearnedTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int, nCells: Int = 16,
                     nprobe: Int = 4, sampleSize: Int = 10000,
                     seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val parts = spark.sparkContext.defaultParallelism
    val featurize = array_to_vector(asDouble(col(vecCol))).as("features")
    // id-ordered bounded sample → deterministic fit input
    val train = corpus.orderBy(col(idCol)).limit(sampleSize).select(featurize)
    val model = new KMeans().setK(nCells).setSeed(seed).setMaxIter(10).fit(train)
    val c = model.transform(
        corpus.repartition(parts).select(col(idCol).as("neighbor_id"),
          asDouble(col(vecCol)).as("cv"), featurize))
      .withColumnRenamed("prediction", "cell")
      .select("neighbor_id", "cv", "cell")
    // learned centroids as a tiny DataFrame (nCells rows) for routing
    import spark.implicits._
    val cents = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray) }.toSeq
      .toDF("cell", "centroid")
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val routed = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qv"), col("cell"),
        cosFast(col("qv"), col("centroid")).as("ccos"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("cell").asc)
    val probes = routed.withColumn("p", row_number().over(wProbe))
      .filter(col("p") <= nprobe).select("query_id", "qv", "cell")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    probes.join(c, Seq("cell"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.Det.round4(cosFast(col("qv"), col("cv"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Per-cell centroids (IVF coarse quantizer): mean of each dimension
    * via the repo's decimal-exact-sum discipline (elements rounded to
    * decimal(30,15), summed exactly by the vec_sum_agg kernel, divided
    * by the count, rounded) — a plain double avg() merges partition
    * partials in nondeterministic order, and a last-ulp centroid
    * difference can flip which cell is a query's nprobe-th closest
    * (run-to-run instability in the PRUNED ivf path). A round-robin
    * exchange spreads the (possibly single) scan split. Tiny result
    * (cells × dim) — always broadcastable. */
  def centroids(corpus: DataFrame, cellCol: String, vecCol: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    corpus.select(col(cellCol).as("cell"), col(vecCol).cast("array<double>").as("__v"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .groupBy("cell")
      .agg(graft.functions.GraftFunctions.vecSumAgg(col("__v")).as("__vs"))
      .select(col("cell"), transform(col("__vs"), e => graft.functions.Det.round(
        (e.getField("s") / e.getField("n")).cast("double"), 6)).as("centroid"))
      // a cell whose vectors are all empty has no dimension to average
      .filter(size(col("centroid")) > 0)
  }

  /** IVF-style probe search: route each query to its `nprobe` nearest
    * centroids (broadcast join against the tiny centroid table), then
    * search only the corpus rows in those cells. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, cellCol: String, k: Int,
              nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.ensureRegistered(queries.sparkSession)
    val parts = corpus.sparkSession.sparkContext.defaultParallelism
    val cents = centroids(corpus, cellCol, vecCol)
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val routed = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qv"), col("cell"),
        // codegen cosine — identical double sequence to the declarative
        // form, one fused loop instead of three array traversals
        cosFast(col("qv"), col("centroid")).as("ccos"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("cell").asc)
    val probes = routed.withColumn("p", row_number().over(wProbe))
      .filter(col("p") <= nprobe).select("query_id", "qv", "cell")
    val c = corpus.repartition(parts).select(col(idCol).as("neighbor_id"),
      col(cellCol).as("cell"), asDouble(col(vecCol)).as("cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    probes.join(c, Seq("cell"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.Det.round4(cosFast(col("qv"), col("cv"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
