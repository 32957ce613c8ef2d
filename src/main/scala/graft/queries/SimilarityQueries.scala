package graft
package queries

import org.apache.spark.sql.functions._
import graft.sim.Ann
import QuerySpec._

/** Similarity search: brute force, LSH, IVF, PQ and their exactness twins. */
object SimilarityQueries {
  /** Exact cosine top-10 for query vecs vec_id < 5 — the oracle for
    * q_ann_bruteforce and for the exact-by-construction ANN verify
    * variants (q_ann_lsh_verify, q_ann_ivf_verify, q_ann_ivfpq). */
  private val annExactTopKSql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |q AS (SELECT * FROM v WHERE vec_id < 5),
      |s AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CAST(floor((
      |      list_sum(list_transform(range(1, 65), i -> q.e[CAST(i AS INT)] * c.e[CAST(i AS INT)])) /
      |      (sqrt(list_sum(list_transform(range(1, 65), i -> q.e[CAST(i AS INT)] * q.e[CAST(i AS INT)]))) *
      |       sqrt(list_sum(list_transform(range(1, 65), i -> c.e[CAST(i AS INT)] * c.e[CAST(i AS INT)]))))) * 10000 + 0.5) AS DOUBLE) / 10000 AS cos
      |  FROM q CROSS JOIN v c),
      |r AS (SELECT *, CAST(row_number() OVER
      |        (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
      |      FROM s)
      |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_ann_bruteforce", (s, dir) => {
      val e = T(s, dir, "embeddings")
      Ann.bruteForceTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding", 10)
        .orderBy("query_id", "rank")
    }, Sql(annExactTopKSql)),
    QuerySpec("q_ann_lsh", (s, dir) => {
      val e = T(s, dir, "embeddings")
      Ann.lshTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding", 10)
        .orderBy("query_id", "rank")
    }, RowsOnly("q_ann_lsh_verify",
        "approximate top-k; the 16-band twin reproduces brute force")),
    QuerySpec("q_ann_ivf", (s, dir) => {
      val e = T(s, dir, "embeddings")
      Ann.ivfTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding", "label", 10)
        .orderBy("query_id", "rank")
    }, RowsOnly("q_ann_ivf_verify",
        "pruned probing is approximate; the full-probe twin equals brute force")),
    // Product quantization (Jégou et al. 2011): 64 float dims → 8 codes
    // against a deterministic 16-entry codebook, queries scored by
    // integer-micro ADC lookups — every stage (codebook, codes, ranks)
    // bit-pinned by the oracle. The exact-rerank serving path is
    // PqSpec-pinned to equal brute force at full shortlist.
    QuerySpec("q_ann_pq", (s, dir) => {
      val e = T(s, dir, "embeddings")
      graft.sim.Pq.pqTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
          k = 10, m = 8, subDim = 8, nCentroids = 16)
        .orderBy("query_id", "rank")
    }, Sql("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid, e AS cv
        |       FROM (SELECT * FROM v ORDER BY vec_id LIMIT 16)),
        |sp AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS s),
        |cd AS (SELECT v.vec_id, sp.s, cb.cid,
        |    CAST(floor(list_sum(list_transform(range(1, 9),
        |      j -> (v.e[CAST(sp.s*8+j AS INT)] - cb.cv[CAST(sp.s*8+j AS INT)])
        |         * (v.e[CAST(sp.s*8+j AS INT)] - cb.cv[CAST(sp.s*8+j AS INT)])))
        |      * 1000000 + 0.5) AS BIGINT) AS dm
        |  FROM v, sp, cb),
        |code AS (SELECT vec_id, s, cid FROM (
        |    SELECT vec_id, s, cid,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dm, cid) AS rn
        |    FROM cd) WHERE rn = 1),
        |qd AS (SELECT cd.vec_id AS query_id, cd.s, cd.cid, cd.dm
        |  FROM cd WHERE cd.vec_id < 5),
        |adc AS (SELECT qd.query_id, code.vec_id AS neighbor_id,
        |    CAST(sum(qd.dm) AS BIGINT) AS adc_micro
        |  FROM code JOIN qd ON code.s = qd.s AND code.cid = qd.cid
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, adc_micro,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_micro, neighbor_id) AS INTEGER) AS rank
        |  FROM adc)
        |SELECT query_id, neighbor_id, adc_micro, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin),
      plan = Some(PlanNote("Product quantization: the codebook is a bounded 1-row " +
        "broadcast (16 vectors by construction — NOT corpus-sized); encoding " +
        "is a pure scan-stage projection; ADC scoring broadcasts only the " +
        "small-by-contract query table and ranks on integer micro-distances " +
        "with a per-query window.", atScale = false))),
    // One deterministic Lloyd iteration (the learned-quantizer training
    // step): integer-micro assignment + decimal-exact per-dim means.
    QuerySpec("q_kmeans_iter", (s, dir) =>
      graft.sim.Kmeans.lloydIteration(T(s, dir, "embeddings"), "vec_id",
          "embedding", k = 8, dim = 64)
        .orderBy("cluster", "dim"),
      Sql("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid, e AS cv
        |       FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)),
        |d AS (SELECT v.vec_id, cb.cid,
        |    CAST(floor(list_sum(list_transform(range(1, 65),
        |      j -> (v.e[CAST(j AS INT)] - cb.cv[CAST(j AS INT)])
        |         * (v.e[CAST(j AS INT)] - cb.cv[CAST(j AS INT)])))
        |      * 1000000 + 0.5) AS BIGINT) AS dm
        |  FROM v, cb),
        |a AS (SELECT vec_id, cid AS cluster FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dm, cid) AS rn
        |    FROM d) WHERE rn = 1),
        |x AS (SELECT a.cluster, generate_subscripts(v.e, 1) AS dim, unnest(v.e) AS x
        |  FROM a JOIN v USING (vec_id))
        |SELECT cluster, CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
        |  CAST(floor((CAST(sum(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / count(*))
        |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS mean
        |FROM x GROUP BY 1, 2 ORDER BY cluster, dim""".stripMargin),
      plan = Some(PlanNote("One Lloyd iteration: bounded 1-row centroid " +
        "broadcast (k-row TakeOrdered seed gather), integer-micro argmin " +
        "assignment in the scan stage, and the only DATA-SIZED shuffle is " +
        "the per-cluster vec_sum_agg partial aggregate — k vector sums with " +
        "map-side combine (the round-robin repartition before assignment " +
        "spreads the local single parquet split; real scans have real " +
        "splits); exact scale-15 sums keep the means partition-order-independent.",
        atScale = false))),
    // FAISS-style IVF-PQ composition, registered in its exactness form
    // (nprobe >= |cells|, shortlist >= |corpus| -> must equal brute
    // force); pruned settings are the serving shape (PqSpec).
    QuerySpec("q_ann_ivfpq", (s, dir) => {
      val e = T(s, dir, "embeddings")
      graft.sim.Pq.ivfPqTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
          "label", k = 10, nprobe = 1000, shortlist = 10000000)
        .orderBy("query_id", "rank")
    }, Sql(annExactTopKSql)),
    // The PRODUCTION IVF-PQ form (nprobe << |cells|, bounded
    // shortlist): the serving shape whose cost is nprobe/|cells| of
    // the corpus in 8-byte codes + `shortlist` float reads per query.
    // Approximate by construction → rows-only; the exactness twin
    // above (same code path, full probe) is its SQL-verified
    // companion, and measured recall@10 vs brute force is tabled in
    // SCALING.md.
    QuerySpec("q_ann_ivfpq_probe", (s, dir) => {
      val e = T(s, dir, "embeddings")
      graft.sim.Pq.ivfPqTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
          "label", k = 10, nprobe = 3, shortlist = 100)
        .orderBy("query_id", "rank")
    }, RowsOnly("q_ann_ivfpq",
        "pruned probe + bounded shortlist; the full-probe twin equals brute force")),
    // SQL-verifiable companion to q_ann_lsh: 16 one-bit bands — a corpus
    // vector is excluded only if its signature disagrees with the query
    // on ALL 16 hyperplanes (probability ~(θ/π)^16; for actual top-k
    // neighbors, vanishingly small). Not exact BY CONSTRUCTION like
    // ivf_verify, but deterministic on the fixed corpus and verified to
    // reproduce brute force at sf0.01 and sf0.1. Exercises signature
    // computation, banding, the bucket join, and the re-rank.
    QuerySpec("q_ann_lsh_verify", (s, dir) => {
      val e = T(s, dir, "embeddings")
      Ann.lshTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding", 10,
          numPlanes = 16, bands = 16)
        .orderBy("query_id", "rank")
    }, Sql(annExactTopKSql)),
    // SQL-verifiable companion to q_ann_ivf: nprobe ≥ #cells probes
    // every cell, so routing + per-cell scoring + global top-k must
    // reproduce brute force exactly (verifies everything but pruning).
    QuerySpec("q_ann_ivf_verify", (s, dir) => {
      val e = T(s, dir, "embeddings")
      Ann.ivfTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding", "label", 10,
          nprobe = 1024)
        .orderBy("query_id", "rank")
    }, Sql(annExactTopKSql)),
    // Learned-quantizer IVF (seeded MLlib k-means): full probe → exact
    // by construction, so the brute-force oracle verifies the fit +
    // assignment + routing + re-rank pipeline end-to-end.
    QuerySpec("q_ann_ivf_learned", (s, dir) => {
      val e = T(s, dir, "embeddings")
      Ann.ivfLearnedTopK(e.filter(col("vec_id") < 5), e, "vec_id", "embedding", 10,
          nCells = 8, nprobe = 1024)
        .orderBy("query_id", "rank")
    }, Sql(annExactTopKSql))
  )
}
