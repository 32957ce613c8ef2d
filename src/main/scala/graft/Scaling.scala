package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling harness (dev tool, like Bench/Verify): times the dedup pair
  * generators at 1x and 4x corpus volume with auto-broadcast DISABLED,
  * so the joins take exactly the shuffle path they would take at 100 TB
  * (where every corpus-derived side exceeds any broadcast threshold).
  * The 4x corpus is built from near-dup copies (suffix-perturbed text /
  * id-offset vectors), which also grows the true pair count
  * quadratically inside dup clusters — the worst case for the pair
  * join. Asserts no BroadcastExchange appears in any pair plan.
  * Results recorded in SCALING.md. */
object Scaling {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the 100 TB join path
    import graft.sources.Tables

    val docs1 = Tables(spark, sfDir, "documents")
    val embs1 = Tables(spark, sfDir, "embeddings")
    def scaleDocs(n: Int): DataFrame =
      (0 until n).map(i => docs1.select(
        (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        (if (i == 0) col("text") else concat(col("text"), lit(s" v$i"))).as("text"),
        col("source"))).reduce(_.unionByName(_))
    def scaleEmbs(n: Int): DataFrame =
      (0 until n).map(i => embs1.select(
        (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        col("embedding"), col("label"))).reduce(_.unionByName(_))

    def timeWith(name: String, df: => DataFrame, checkPlan: Boolean,
                 tag: String): Unit = {
      val d = df
      if (checkPlan) {
        val plan = d.queryExecution.executedPlan.toString()
        require(!plan.contains("BroadcastExchange"),
          s"$name: corpus-side broadcast found in plan:\n$plan")
      }
      val t0 = System.nanoTime()
      val n = d.count()
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  $n%9d rows  ($tag)")
    }
    def time(name: String, df: => DataFrame): Unit =
      timeWith(name, df, checkPlan = true, "no broadcast")
    // For operators whose ONLY broadcasts are bounded by construction
    // (a 1-row aggregate, one row per partition, an item vocabulary) —
    // never the corpus.
    def timeBounded(name: String, df: => DataFrame): Unit =
      timeWith(name, df, checkPlan = false, "bounded broadcast")
    // For operators that run eager jobs at CONSTRUCTION (assignIds'
    // zipWithIndex): the whole build+count must sit inside the timer,
    // and no plan assertion is possible (the work hides in RDD lineage
    // behind a Scan ExistingRDD).
    def timeEager(name: String, thunk: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = thunk
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  $n%9d rows  (incl. construction)")
    }

    Seq(1, 4).foreach { n =>
      val docs = scaleDocs(n)
      val embs = scaleEmbs(n)
      println(s"-- ${n}x corpus (${docs.count()} docs, ${embs.count()} vecs)")
      time(s"minhash_pairs_${n}x", graft.dedup.Dedup.minhashPairs(docs, "doc_id", "text"))
      time(s"simhash_pairs_${n}x", graft.dedup.Dedup.simhashPairs(docs, "doc_id", "text"))
      time(s"ngram_pairs_${n}x", graft.dedup.Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", "source", 3, 0.6))
      time(s"embed_pairs_${n}x", graft.dedup.Dedup.embedCosinePairs(
        embs, "vec_id", "embedding", "label", 0.3))
      time(s"contamination_${n}x", graft.text.Curation.contamination(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0), "doc_id", "text", 3))
      time(s"incremental_${n}x", graft.dedup.Dedup.incremental(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + 500000000L).as("doc_id"), col("text")),
        docs, "doc_id", "text"))
      time(s"line_dedup_${n}x", graft.text.Curation.lineDedup(
        docs.select(col("doc_id"),
          regexp_replace(col("text"), "((\\w+ ){5})", "$1\n").as("text")),
        "doc_id", "text", 2))
      time(s"semantic_${n}x", graft.dedup.Dedup.semantic(
        embs, "vec_id", "embedding", "label", 0.3))
      time(s"substr_spans_${n}x", graft.dedup.Dedup.repeatedSpans(
        docs, "doc_id", "text", k = 10, minCount = 2))
      // force the token-cut projection into the timed action: a bare
      // count() would let Catalyst prune the scrubbed column (and with
      // it the whole spans lineage) out of the job
      time(s"substr_scrub_${n}x", graft.dedup.Dedup.scrubRepeatedSpans(
          docs, "doc_id", "text", k = 10, minCount = 2)
        .filter(col("n_removed") >= 0 &&
          length(coalesce(col("scrubbed"), lit(""))) >= 0))
      timeBounded(s"dsir_${n}x", graft.text.Curation.dsirWeights(
        docs, "doc_id", "text",
        isTarget = pmod(col("doc_id"), lit(10)) === 0))
      timeBounded(s"curation_e2e_${n}x", graft.text.Curation.curationPipeline(
        docs.select(col("doc_id"),
          regexp_replace(col("text"), "((\\w+ ){7})", "$1\n").as("text")),
        "doc_id", "text"))
      timeBounded(s"kmeans_iter_${n}x", graft.sim.Kmeans.lloydIteration(
        embs, "vec_id", "embedding", k = 8, dim = 64))
      locally {
        val ev = Tables(spark, sfDir, "events")
        val baskets = (0 until n).map(i => ev.select(
          (col("user_id") + lit(i * 10000000L)).as("b"), col("event_type").as("i")))
          .reduce(_.unionByName(_))
        // the string-item path broadcasts its item dictionary, which
        // is bounded by the item vocabulary (event_type), not the corpus
        timeBounded(s"cooccur_${n}x", graft.analytics.Graph.coPurchaseSimilarity(
          baskets, "b", "i", threshold = 0.0))
        timeBounded(s"pagerank_${n}x", graft.analytics.Graph.pageRank(
          baskets.select(concat(lit("u"), col("b")).as("src"), col("i").as("dst")),
          "src", "dst", iterations = 3))
      }
      timeBounded(s"domain_mix_${n}x", graft.text.Curation.domainMix(
        docs.withColumn("grp", concat(lit("g"), pmod(col("doc_id"), lit(5)))),
        "grp", "doc_id", "text"))
      timeEager(s"assign_ids_${n}x", graft.text.Curation.assignIds(
        docs.select("doc_id", "source"), Seq("source", "doc_id")).count())
      time(s"asof_join_${n}x", {
        val ev = Tables(spark, sfDir, "events")
        val probe = (0 until n).map(i => ev.select(
          (col("event_id") + lit(i * 10000000L)).as("event_id"), col("ts"),
          col("user_id"), col("event_type"))).reduce(_.unionByName(_))
        val marker = probe.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts")).agg(max("event_id").as("pid"))
        graft.ops.Joins.asofJoin(probe, marker, "user_id", "ts", "ts")
          .select(col("event_id"), col("asof.pid").as("pid"))
      })
      // TopKRewrite head-to-head: the same declarative row_number top-10
      // per returnflag (3 groups — the worst case for a per-group sort),
      // with the rewrite off (Window: full sort of every group) vs on
      // (topk_rows heap: <= 10 rows per group per partition shuffled).
      locally {
        val li = (0 until n).map(i => Tables(spark, sfDir, "lineitem").select(
          (col("l_orderkey") + lit(i * 1000000000L)).as("l_orderkey"),
          col("l_linenumber"), col("l_returnflag"), col("l_extendedprice")))
          .reduce(_.unionByName(_))
        def topn = {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("l_returnflag")
            .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
          li.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        }
        spark.conf.set("spark.graft.topk.rewrite", "false")
        timeBounded(s"topn_window_${n}x", topn)
        spark.conf.set("spark.graft.topk.rewrite", "true")
        timeBounded(s"topn_heap_${n}x", topn)
      }
      // components runs its own actions (iterative) — time it directly,
      // over PRE-MATERIALIZED pairs so the number measures the
      // iterative algorithm, not a re-run of the pair join timed above
      val pairs = graft.dedup.Dedup
        .embedCosinePairs(embs, "vec_id", "embedding", "label", 0.3)
        .localCheckpoint()
      val t0 = System.nanoTime()
      val nLabeled = graft.dedup.Dedup.componentsStars(pairs).count()
      val label = s"components_${n}x"
      println(f"$label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  $nLabeled%9d rows  (iterative)")
    }
    spark.stop()
  }
}
