package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One deterministic Lloyd (k-means) iteration over the embedding
  * corpus — the distributed TRAINING step behind every learned
  * quantizer in this engine ([[Ann.ivfLearnedTopK]]'s MLlib fit runs
  * exactly this assignment/update loop internally). Spelled out
  * Spark-first and bit-pinnable:
  *
  *  - init: the k lowest-id corpus vectors (deterministic, like
  *    [[Pq.codebook]]) — a bounded 1-row broadcast;
  *  - assignment: per vector, argmin of the integer-micro squared L2
  *    to each centroid (micro-unit longs → comparisons are
  *    integer-exact across engines; ties → lowest centroid index) —
  *    pure scan-stage expression, no shuffle;
  *  - update: per-(cluster, dimension) mean via DECIMAL-EXACT sums
  *    (partition-order-independent; the vec_sum_agg kernel sums each
  *    cluster's vectors over unscaled scale-15 longs) divided as a
  *    double through the repo's one rounding formula.
  *
  * Scale shape: the only DATA-SIZED shuffle is the per-cluster
  * partial aggregate — k vector sums with map-side combine (the
  * round-robin `repartition` before assignment spreads the local
  * single parquet split and disappears at scale where the scan has
  * real splits; the seed selection is a bounded k-row TakeOrdered
  * gather); iterating = re-broadcasting the k×dim result as the next
  * init. At 100 TB this is the canonical distributed k-means.
  *
  * Edge contract: if two of the k lowest-id seed vectors are
  * IDENTICAL, every vector nearest to both resolves to the lower
  * index (integer tie-break), the higher seed's cluster ends empty
  * and emits no rows — callers iterating should treat a missing
  * cluster id as "merge happened", exactly as Lloyd's does.
  * Returns (cluster, dim [1-based], n, mean). */
object Kmeans {

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  def lloydIteration(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int, dim: Int): DataFrame = {
    require(k >= 2, s"kmeans: need k >= 2, got $k")
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val parts = corpus.sparkSession.sparkContext.defaultParallelism
    // same deterministic seed discipline as the PQ codebook — shared
    // code so the trainer and the quantizer can never diverge
    val cents = Pq.codebook(corpus, idCol, vecCol, k)
    val assigned = corpus.repartition(parts)
      .select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .crossJoin(broadcast(cents))
      // the assignment IS the quantizer's nearest-code rule: one
      // subspace spanning all dims, same tie-break, same integer
      // distance — Pq.nearestCode is the single shared definition
      .select(col(idCol), col("__v"),
        Pq.nearestCode(col("__v"), col("cb"), lit(0), dim).as("cluster"))
    assigned
      .groupBy(col("cluster"))
      .agg(graft.functions.GraftFunctions.vecSumAgg(col("__v")).as("__vs"))
      .select(col("cluster"), posexplode(col("__vs")).as(Seq("pos", "__e")))
      .select(col("cluster"), (col("pos") + 1).cast("long").as("dim"),
        col("__e.n").as("n"),
        graft.functions.Det.round(col("__e.s").cast("double") / col("__e.n"), 6).as("mean"))
  }
}
