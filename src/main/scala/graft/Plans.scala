package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** PLANS.md generator (dev tool): prints the formatted physical plan of
  * each headline query. Usage:
  *   SPARK_GRAFT_SF_DIR=... java ... graft.Plans > PLANS.md */
object Plans {
  /** (query, note, atScale): atScale=true renders the plan with
    * auto-broadcast disabled - the shape the query takes once every
    * corpus-derived side exceeds any broadcast threshold. At sf0.1 the
    * planner legitimately picks stats-based broadcast for those tiny
    * sides (no hint involved - exactly the adaptivity we want); the
    * 100 TB reader needs to see the shuffle form. */
  private val notes: Seq[(String, String, Boolean)] = Seq(
    ("q1_agg", "Full lineitem scan with the ship-date filter pushed to parquet; " +
      "decimal partial aggregation before the single 6-row shuffle.", false),
    ("q3_join", "Both fact scans carry pushed date predicates; the filtered " +
      "customer side has NO broadcast hint (it grows with scale) - stats/AQE " +
      "pick broadcast here because it fits; TakeOrderedAndProject for the " +
      "top-10 (no global sort).", false),
    ("q5_multijoin", "Only the fixed-size region/nation dims carry broadcast " +
      "hints; supplier is stats/AQE-decided; orders date range pushed to the " +
      "scan; one agg shuffle.", false),
    ("q_window_topn", "Written as the DECLARATIVE row_number window top-N — " +
      "and compiled by graft.plans.TopKRewrite (injected optimizer rule) into " +
      "the bounded-heap topk_rows aggregate: no Window operator, no per-group " +
      "sort; partial_topk_rows ships <= 3 rows per brand per partition. Part " +
      "join stats/AQE-decided (no hint - part grows with scale).", false),
    ("q_topk_agg", "The bounded-heap twin: ObjectHashAggregate with " +
      "partial_topk_largest BEFORE its exchange - the shuffle carries at most " +
      "k rows per group per partition instead of every (brand, part) row " +
      "followed by a per-group sort.", false),
    ("q_dedup_minhash", "Corpus-scale shape (auto-broadcast disabled), carrySigs " +
      "form (r8): Mat'd signature table; sig + band-hash array ride the bucket " +
      "rows, hash-partitioned on (band_id, band_hash) — the ONE corpus-linear " +
      "exchange, reused by both join sides. est_jaccard computes inside the " +
      "join stage and each pair emits once from its first agreeing band " +
      "(earlier_band_agree) — no distinct(), no per-pair signature re-attach, " +
      "so no exchange scales with candidate volume (SCALING.md, sf10 drill). " +
      "The thin-cluster re-attach form remains available as carrySigs=false.", true),
    ("q_dedup_ngram", "Corpus-scale shape (auto-broadcast disabled): salted " +
      "equi-join on (blk, salt) - right side carries one deterministic salt per " +
      "doc, left side replicated across salts, so parallelism is |blocks| x salts " +
      "with every pair met exactly once; merge-scan jaccard kernel inside the join " +
      "stage.", true),
    ("q_dedup_embed", "Corpus-scale shape (auto-broadcast disabled): same salted-" +
      "cell join over the embedding table; cosine codegen kernel in the join " +
      "projection.", true),
    ("q_decontaminate", "Corpus-scale shape (auto-broadcast disabled): both sides " +
      "explode 8-byte gram HASHES — the word_window_hashes kernel digests each " +
      "n-word window as a contiguous byte slice above a raw-text round-robin " +
      "exchange (no gram string, no split-array shuffle; the benchmark side gets " +
      "a narrower exchange, small by contract) — then meet in a hash-shuffled " +
      "equi-join keyed on the hash; two-phase countDistinct.", true),
    ("q_dedup_incremental", "Corpus-scale shape (auto-broadcast disabled): the " +
      "corpus collapses to DISTINCT fingerprints via partial aggregation, then a " +
      "left-anti join shuffled on the fingerprint - no broadcast of the " +
      "corpus-derived side.", true),
    ("q_distinct_kmv", "KMV demo form: the deduplicating bounded-heap kmv_sketch " +
      "aggregate consumes RAW rows (partial per partition, <= k longs shipped " +
      "each) - the exact-count column beside it is the only reason a distinct " +
      "aggregation appears; the production path (Curation.kmvEstimate) has " +
      "none.", false),
    ("q_pack_chunks", "Sequence packing: one window per shard (PARTITION BY " +
      "source) - running sums run independently per shard partition, no global " +
      "ordering bottleneck.", false),
    ("q_asof_join", "Backward as-of join as tagged union + per-key window: " +
      "ONE hash exchange on the key (both inputs align to it), a per-key time " +
      "sort, last(ignoreNulls) carry-forward - no join operator, no candidate " +
      "explosion.", false),
    ("q_range_join", "Corpus-scale shape (auto-broadcast disabled): keyless " +
      "interval join bucketed on the hour - intervals explode to their covering " +
      "buckets, probes key to one bucket, hash join on the bucket with exact " +
      "[start,end) containment as the join filter; never a cartesian product.", true),
    ("q_line_dedup", "Corpus-scale shape (auto-broadcast disabled, r10 " +
      "hash-keyed form): the raw text rides ONE deterministic id-hash " +
      "exchange (three readers via ReuseExchange — the null-safe <=> " +
      "join-back and the count(idCol) trick keep the subtrees " +
      "canonicalization-identical); only 8-byte xxhash64(line) keys + int " +
      "positions leave the explode, the boilerplate table filters to " +
      "cnt >= minCount BEFORE its join, and kept_text re-derives from the " +
      "original text by dropped position. No line STRING is shuffled " +
      "anywhere; no corpus-side broadcast.", true),
    ("q_dedup_semantic", "Corpus-scale shape (auto-broadcast disabled): " +
      "cell-blocked salted cosine pair join (reused from q_dedup_embed) plus a " +
      "left-anti fold of the removal set, both shuffled equi-joins.", true),
    ("q_assign_ids", "Contiguous global ids without a global window: range " +
      "partition on the order keys, per-partition row_number, offsets from the " +
      "per-partition COUNTS (the only single-partition exchange carries one row " +
      "per partition) folded back via broadcast join.", false),
    ("q_domain_mix", "Corpus-scale shape (auto-broadcast disabled): group-count " +
      "aggregate -> rate table joined back on the group key with NO hint (AQE " +
      "broadcasts it only while it fits — domain cardinality is unbounded at " +
      "host granularity); the keep test is a scan-stage hash threshold.", true),
    ("q_lm_score", "Self-trained char-bigram LM on the DSIR engine: an eager " +
      "dsir_model_agg job trains the model, so this plan is the scoring pass " +
      "alone — round-robin exchange, bigram_counts + dsir_score fold over a " +
      "literal nll map, one doc-keyed partial aggregate; no explode, no join, " +
      "no per-row decimal.", false),
    ("q_keywords", "ONE corpus exchange: raw text hash-partitioned on the doc " +
      "id, reused by the tf and df branches (identical column sets); tf, the " +
      "per-doc dedup, and the top-k heap (TopKRewrite → topk_rows) all run " +
      "exchange-free on that partitioning; the vocabulary-bounded df joins back " +
      "as an explicit broadcast; the 1-row corpus constant crosses as a literal " +
      "broadcast.", false),
    ("q_dedup_minhash_e2e", "Corpus-scale shape (auto-broadcast disabled): the " +
      "full dedup pipeline — carrySigs banded candidate join (r8: Mat'd " +
      "signature table; sig + band-hash array ride the bucket rows, so " +
      "est_jaccard computes inside the join stage and each pair emits once " +
      "from its first agreeing band — no distinct, no per-pair sig re-attach; " +
      "every exchange corpus-linear), exact-Jaccard confirmation kernel, " +
      "large-star/small-star components over the CONFIRMED pairs only (the " +
      "tiny graph, not the corpus), and a left join folding survivors back.", true),
    ("q_token_budget", "Corpus reduces to |domains| rows via one " +
      "partial-aggregated shuffle; the single-row total crosses as a literal " +
      "broadcast; the cumulative-share window runs over the already-reduced " +
      "domain table.", true),
    ("q_bloom_join", "Runtime-filter join at the 100 TB shape " +
      "(auto-broadcast disabled): the dim's keys partial-aggregate into ONE " +
      "bounded bloom_agg row (numBits/8 bytes regardless of key count) that " +
      "broadcasts as a literal; bloom_might_contain runs as a codegen filter " +
      "in the fact scan stage, so the join exchange carries ~selectivity x " +
      "|fact| rows; the exact shuffled join then removes false positives.", true),
    ("q_salted_join", "Skew-safe join at the 100 TB shape (auto-broadcast " +
      "disabled): fact shuffles on (key, salt) so a pathologically hot key " +
      "spreads across 8 reducers; the dim side replicates via a " +
      "salts-row literal broadcast cross join before its exchange. The salt " +
      "never reaches the aggregate.", true),
    ("q_substr_dedup", "Exact substring dedup at the 100 TB shape " +
      "(auto-broadcast disabled): position-annotated k-gram HASHES (r8: the " +
      "word_window_hashes kernel digests contiguous byte slices; the count " +
      "shuffle keys on 8-byte longs, gram strings never exist) behind a " +
      "round-robin exchange, ONE partial-aggregated count shuffle, repeated " +
      "positions fold back via a long-keyed equi-join, islands merge in a " +
      "PER-DOC window (bounded by doc length), and the span text re-joins " +
      "the raw text on the id with md5 pinning span CONTENT — no corpus-side " +
      "broadcast anywhere.", true),
    ("q_dsir_weights", "DSIR, no-explode architecture (r8): the " +
      "word_ngram_counts kernel folds each doc to its feature-count map in " +
      "the scan stage; dsir_model_agg trains both models as a " +
      "typed-imperative map-fold (one vocabulary-bounded partial per " +
      "partition, no Generate anywhere); the bounded model applies via the " +
      "dsir_score foldable-literal fold — the scoring plan has NO join at " +
      "all, which PlanSpec pins. Occurrences never exist as rows.", true),
    ("q_dsir_hashed", "DSIR's fixed-bucket production form: same no-explode " +
      "engine, features md5-bucketed inside the kernel (contiguous byte " +
      "slices, digest's first 60 bits taken numerically — no hex/conv " +
      "strings); the model is <= bucket-count rows REGARDLESS of corpus " +
      "vocabulary, so the driver-resident model application is bounded by " +
      "construction at any scale.", true),
    ("q_postings", "Single-aggregate inverted index (r10): the head cutoff " +
      "is a PLAN parameter (one driver count), so there are ZERO joins — one " +
      "deterministic doc_id-hash repartition spreads gram work off the " +
      "parquet splits, and ONE keyed aggregate emits df (count(1)) and the " +
      "posting list (capped_collect_longs, cap = N/denom) together: a " +
      "hot-head term abandons its list at the cap (NULL) instead of " +
      "building a corpus-sized buffer, and the exact post-aggregate df " +
      "filter keeps a term iff its list is provably complete. Gram build + " +
      "per-doc distinct + the cleanliness filter fuse into the codegen'd " +
      "clean_word_bigrams kernel — each bigram is a contiguous byte slice " +
      "of the text.", true),
    ("q_ann_pq", "Product quantization: the codebook is a bounded 1-row " +
      "broadcast (16 vectors by construction — NOT corpus-sized); encoding " +
      "is a pure scan-stage projection; ADC scoring broadcasts only the " +
      "small-by-contract query table and ranks on integer micro-distances " +
      "with a per-query window.", false),
    ("q_pagerank", "Damped PageRank, 3 unrolled rounds (auto-broadcast " +
      "disabled): per round ONE hash-shuffled edges-scores equi-join plus a " +
      "partial-aggregated decimal contribution sum keyed on the destination; " +
      "the node count crosses as a 1-row literal broadcast; the edge list is " +
      "never collected and the plan depth is the fixed iteration count.", true),
    ("q_cooccur", "Co-occurrence similarity at the 100 TB shape " +
      "(auto-broadcast disabled): ONE basket-keyed shuffle builds sorted " +
      "distinct item sets (mega-basket cap BEFORE pairing); items ride a " +
      "broadcast dense-id dictionary so the map-side pair generates feed a " +
      "partial aggregate keyed on a SINGLE packed long (item_a<<32|item_b) " +
      "— half the hash cost and key width of the hottest exchange; never an " +
      "item-item cross join; degree tables fold back on int ids and the " +
      "top-5 window compiles through the TopKRewrite heap.", true),
    ("q_geo_filter", "Geo layer is pure scan-stage expressions: the point " +
      "struct builds from lat/lon with WGS84 validation, the bounding box " +
      "is four range compares on struct fields (parquet-pushable), WKT and " +
      "haversine are codegen'd projections — no shuffle, no UDF anywhere.", false),
    ("q_geo_join", "Radius join at the 100 TB shape (auto-broadcast " +
      "disabled): grid-cell equi-join — points shuffle ONCE on (cellX, " +
      "cellY); centers replicate to their +-1 lat cells and cos-scaled lon " +
      "span (a dim-sized generate, with +-360 seam copies), then the exact " +
      "haversine filters inside the join stage. Never a cross join; the " +
      "oracle is the cross join, so the hash match proves lossless " +
      "blocking.", true),
    ("q_substr_scrub", "Span removal at the 100 TB shape (auto-broadcast " +
      "disabled): rides the repeatedSpans pipeline, picks the corpus-global " +
      "first occurrence in a window over the SPAN list (bounded by the " +
      "duplicate count, not the corpus), folds removal ranges back via one " +
      "id-keyed join, and cuts tokens in a scan-stage higher-order filter.", true),
    ("q_kmeans_iter", "One Lloyd iteration: bounded 1-row centroid " +
      "broadcast (k-row TakeOrdered seed gather), integer-micro argmin " +
      "assignment in the scan stage, and the only DATA-SIZED shuffle is " +
      "the per-cluster vec_sum_agg partial aggregate — k vector sums with " +
      "map-side combine (the round-robin repartition before assignment " +
      "spreads the local single parquet split; real scans have real " +
      "splits); exact scale-15 sums keep the means partition-order-independent.", false))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("# PLANS - formatted physical plans of the headline queries (sf0.1)")
    println()
    println("Generated by `graft.Plans` (SPARK_GRAFT_SF_DIR=... java ... graft.Plans).")
    println("The properties asserted programmatically live in PlanSpec.scala.")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val dflt = spark.conf.get(key)
    notes.foreach { case (name, note, atScale) =>
      spark.conf.set(key, if (atScale) "-1" else dflt)
      // q_bloom_join: render the REAL registered query, just with a
      // small bitmap (2^22 bits would print a ~1 MB hex literal twice;
      // the plan SHAPE is identical at any size)
      // q_dsir_*: same idea — the driver-bounded model applies as a
      // literal map, so render over a ~1% doc subset to keep the
      // literal readable; the plan SHAPE is identical at any model size
      val df = name match {
        case "q_bloom_join" => SparkEntry.bloomJoinQuery(spark, sfDir, 1 << 10)
        case "q_dsir_weights" | "q_dsir_hashed" =>
          import org.apache.spark.sql.functions.{col, lit, pmod}
          val docs = graft.sources.Tables(spark, sfDir, "documents")
            .filter(pmod(col("doc_id"), lit(97)) === 0)
          if (name == "q_dsir_weights")
            graft.text.Curation.dsirWeights(docs, "doc_id", "text",
              isTarget = col("lang") === "fr")
          else
            graft.text.Curation.dsirWeightsHashed(docs, "doc_id", "text",
              isTarget = col("lang") === "fr", buckets = 64)
        case _ => SparkEntry.queries(name)(spark, sfDir)
      }
      println(s"\n## $name\n")
      println(note)
      println()
      println("```")
      // Literal-heavy plans (the DSIR model map, bloom bitmaps) can put
      // tens of KB on one line; elide the tail — the SHAPE is the point.
      println(df.queryExecution.explainString(FormattedMode).trim
        .split('\n')
        .map(l => if (l.length > 800)
          l.take(800) + s"... (literal elided, ${l.length} chars)" else l)
        .mkString("\n"))
      println("```")
    }
    spark.stop()
  }
}
