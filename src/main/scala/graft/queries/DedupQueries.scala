package graft
package queries

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import QuerySpec._

/** Near-duplicate detection: exact, MinHash/SimHash, n-gram, embedding, substring. */
object DedupQueries {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_dedup_exact", (s, dir) =>
      Dedup.exact(T(s, dir, "documents"), "doc_id", "text").orderBy("keep_id"),
      Sql("""SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents
        |GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
        |ORDER BY keep_id""".stripMargin)),
    QuerySpec("q_dedup_fingerprint", (s, dir) =>
      Dedup.fingerprint(T(s, dir, "documents"), "doc_id", "text").orderBy("fingerprint"),
      Sql("""SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
        |  min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents
        |GROUP BY 1 ORDER BY fingerprint""".stripMargin)),
    // carrySigs: the fat-cluster-safe form (corpus-linear shuffles —
    // SCALING.md "the sf10 drill"); identical rows to the re-attach
    // default, measured at parity on the thin-cluster bench corpora.
    QuerySpec("q_dedup_minhash", (s, dir) =>
      Dedup.minhashPairs(T(s, dir, "documents"), "doc_id", "text",
          k = 5, numPerms = 128, bands = 16, threshold = 0.5,
          carrySigs = true)
        .orderBy("id_a", "id_b"),
      RowsOnly("q_dedup_minhash_verify",
        "banded LSH candidates are probabilistic; the twin confirms them by exact Jaccard"),
      plan = Some(PlanNote("Corpus-scale shape (auto-broadcast disabled), carrySigs " +
        "form (r8): Mat'd signature table; sig + band-hash array ride the bucket " +
        "rows, hash-partitioned on (band_id, band_hash) — the ONE corpus-linear " +
        "exchange, reused by both join sides. est_jaccard computes inside the " +
        "join stage and each pair emits once from its first agreeing band " +
        "(earlier_band_agree) — no distinct(), no per-pair signature re-attach, " +
        "so no exchange scales with candidate volume (SCALING.md, sf10 drill). " +
        "The thin-cluster re-attach form remains available as carrySigs=false.", atScale = true))),
    QuerySpec("q_dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(T(s, dir, "documents"), "doc_id", "text", maxHamming = 6)
        .orderBy("id_a", "id_b"),
      RowsOnly("q_dedup_simhash_verify",
        "banding is best-effort past hamming 3; the twin pins the hamming-0 copies")),
    // SQL-verifiable companion to q_dedup_minhash: re-check the emitted
    // candidate pairs with EXACT 5-gram Jaccard and keep only >= 0.8 —
    // the oracle computes the same set over ALL pairs, so the row sets
    // match iff LSH recall at j >= 0.8 is complete. With 32 bands of 4
    // rows the per-pair miss probability at j = 0.8 is ~5e-8 (and the
    // pipeline is fully deterministic on fixed data). Pins signature
    // determinism, banding, the candidate join, and estimation.
    QuerySpec("q_dedup_minhash_verify", (s, dir) => {
      val docs = T(s, dir, "documents")
      // Candidate gate 0.6, not the 0.5 the standalone pair query uses:
      // everything below the 0.8 exact-confirm dies downstream anyway,
      // and P(est < 0.6 | J >= 0.8) = P(Bin(128,.8) < 76.8) ~ 7e-9 —
      // tighter than the 5e-8 banding-recall bound this query already
      // documents. At corpora with fat ~0.5-similar clusters (sf10:
      // ~100-member cross-copy families) the gate cuts the gram-array
      // confirm join ~40x; it is the difference between the confirm
      // shuffle fitting and detonating.
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        k = 5, numPerms = 128, bands = 32, threshold = 0.6,
        carrySigs = true)
      // Repartition before the gram kernel: the docs scan is one parquet
      // split and the projection feeds both join probes — unpartitioned
      // it would run 2x on one core.
      val g = docs.repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          graft.functions.GraftFunctions.gramHashes(col("text"), 5).as("grams"))
      pairs.join(g.as("ga"), col("id_a") === col("ga.doc_id"))
        .join(g.as("gb"), col("id_b") === col("gb.doc_id"))
        .select(col("id_a"), col("id_b"),
          graft.functions.Det.round4(graft.functions.GraftFunctions.jaccardSorted(
            col("ga.grams"), col("gb.grams"))).as("jaccard"))
        .filter(col("jaccard") >= 0.8)
        .orderBy("id_a", "id_b")
    }, Sql("""WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(length(t) - 4, 1) + 1),
        |      i -> substr(t, CAST(i AS INT), 5))) AS grams
        |  FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |        FROM documents))
        |SELECT * FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(floor((CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |          CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE)) * 10000 + 0.5) AS DOUBLE) / 10000 AS jaccard
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id
        |    AND len(a.grams) >= 0.8 * len(b.grams) AND len(b.grams) >= 0.8 * len(a.grams))
        |WHERE jaccard >= 0.8
        |ORDER BY id_a, id_b""".stripMargin)),
    // SQL-verifiable companion to q_dedup_simhash: SimHash is invariant
    // under word permutation, so a copy of each doc with its words
    // sorted has hamming 0 from the original and MUST be found (hamming
    // 0 shares every band). Union docs with sorted-word copies
    // (ids + 1e6), run the blocked pipeline, keep pairs whose word
    // multisets agree — the oracle recomputes that set directly.
    QuerySpec("q_dedup_simhash_verify", (s, dir) => {
      val docs = T(s, dir, "documents")
      val base = docs.select(col("doc_id"), Dedup.normText(col("text")).as("nt"))
      val perm = base.select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", array_sort(split(col("nt"), " "))).as("nt"))
      val all = base.unionByName(perm)
      // Word-multiset agreement = equality of the sorted-word STRING,
      // carried as ONE xxhash64 (the line-dedup fingerprint trick) ON
      // the band rows via simhashPairs(carry): the fingerprint rides
      // the corpus-linear band exchange (8 bytes × bands per doc) and
      // the multiset check is a long compare INSIDE the join stage —
      // the former per-pair re-join of the corpus paid two
      // candidate-volume exchanges (~1.8 GB at sf10 for ~30M raw
      // candidates; 15 s of 19). Collision risk ~1e-13 per corpus —
      // the repo's standard fingerprint discipline, and the oracle
      // recomputes the multiset equality exactly.
      val pairs = Dedup.simhashPairs(all, "doc_id", "nt", maxHamming = 6,
        carry = Seq("wh" ->
          xxhash64(concat_ws(" ", array_sort(split(col("nt"), " "))))))
      pairs.filter(col("wh_a") === col("wh_b"))
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }, Sql("""WITH base AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, nt FROM base
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(list_sort(string_split(nt, ' ')), ' ') FROM base),
        |w AS (SELECT doc_id, list_sort(string_split(nt, ' ')) AS words FROM u)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM w a JOIN w b ON a.words = b.words AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin)),
    // The Manku (WWW'07) table-of-combinations construction — HARD
    // recall to maxHamming = 6 where the 4×16 banding is best-effort
    // past hamming 3 (DedupSpec proves completeness against all-pairs
    // brute force and exhibits an all-bands-disagree pair only this
    // form finds). Same verify-twin oracle design as
    // q_dedup_simhash_verify: permuted copies are hamming-0 pairs the
    // construction MUST find; the multiset fingerprint rides the table
    // exchange as a carry and the oracle recomputes the multiset
    // equality exactly — a full hash match on the hard-recall plumbing.
    QuerySpec("q_dedup_simhash_manku", (s, dir) => {
      val docs = T(s, dir, "documents")
      val base = docs.select(col("doc_id"), Dedup.normText(col("text")).as("nt"))
      val perm = base.select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", array_sort(split(col("nt"), " "))).as("nt"))
      val all = base.unionByName(perm)
      val pairs = Dedup.simhashPairsHard(all, "doc_id", "nt",
        maxHamming = 6, blocks = 8,
        carry = Seq("wh" ->
          xxhash64(concat_ws(" ", array_sort(split(col("nt"), " "))))))
      pairs.filter(col("wh_a") === col("wh_b"))
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }, Sql("""WITH base AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, nt FROM base
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(list_sort(string_split(nt, ' ')), ' ') FROM base),
        |w AS (SELECT doc_id, list_sort(string_split(nt, ' ')) AS words FROM u)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM w a JOIN w b ON a.words = b.words AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin)),
    QuerySpec("q_dedup_ngram", (s, dir) =>
      Dedup.ngramJaccardPairs(T(s, dir, "documents"), "doc_id", "text",
          blockCol = "source", n = 3, threshold = 0.6)
        .orderBy("id_a", "id_b"),
      Sql("""WITH g AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, greatest(length(t) - 2, 1) + 1),
        |      i -> substr(t, CAST(i AS INT), 3))) AS grams
        |  FROM (SELECT doc_id, source,
        |          lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |        FROM documents))
        |SELECT * FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(floor((CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |          CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE)) * 10000 + 0.5) AS DOUBLE) / 10000 AS jaccard
        |  FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.6
        |ORDER BY id_a, id_b""".stripMargin),
      plan = Some(PlanNote("Corpus-scale shape (auto-broadcast disabled): salted " +
        "equi-join on (blk, salt) - right side carries one deterministic salt per " +
        "doc, left side replicated across salts, so parallelism is |blocks| x salts " +
        "with every pair met exactly once; merge-scan jaccard kernel inside the join " +
        "stage.", atScale = true))),
    QuerySpec("q_dedup_embed", (s, dir) =>
      Dedup.embedCosinePairs(T(s, dir, "embeddings"), "vec_id", "embedding",
          "label", threshold = 0.3)
        .orderBy("id_a", "id_b"),
      Sql("""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        |SELECT * FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(floor((
        |      list_sum(list_transform(range(1, 65), i -> a.e[CAST(i AS INT)] * b.e[CAST(i AS INT)])) /
        |      (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[CAST(i AS INT)] * a.e[CAST(i AS INT)]))) *
        |       sqrt(list_sum(list_transform(range(1, 65), i -> b.e[CAST(i AS INT)] * b.e[CAST(i AS INT)]))))) * 10000 + 0.5) AS DOUBLE) / 10000 AS cos
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE cos >= 0.3
        |ORDER BY id_a, id_b""".stripMargin),
      plan = Some(PlanNote("Corpus-scale shape (auto-broadcast disabled): same salted-" +
        "cell join over the embedding table; cosine codegen kernel in the join " +
        "projection.", atScale = true))),
    // End-to-end MinHash dedup — the full production pipeline in one
    // operator: full-recall banded candidate pairs → exact-Jaccard
    // confirmation (>= 0.8) → connected components → keep the lowest id
    // per cluster. Every doc appears once with its cluster label and
    // survivor flag; the oracle replays the whole chain (all-pairs
    // Jaccard + recursive-CTE closure) in SQL.
    // RECALL ASSUMPTION (documented, not incidental): the oracle
    // enumerates ALL pairs with exact jaccard >= 0.8, while this
    // pipeline only confirms pairs the banded MinHash (128 perms, 32
    // bands × r=4) surfaces: a J>=0.8 pair escapes all bands with
    // P=(1-J^4)^32 ≈ 5e-8. The hash seeds are fixed, so the check is
    // deterministic, and on this corpus no qualifying pair lands in the
    // miss set; on a different corpus/scale the suite could in
    // principle diverge without either engine being wrong. Lowering
    // numPerms/bands (or raising the confirm threshold toward the band
    // threshold) weakens that bound. Kept banded deliberately: the e2e
    // query pins the PRODUCTION pipeline, and all-pairs candidate
    // generation would not survive 100 TB.
    QuerySpec("q_dedup_minhash_e2e", (s, dir) => {
      val docs = T(s, dir, "documents")
      // est gate 0.6 (see q_dedup_minhash_verify): P(est<0.6 | J>=0.8)
      // ~ 7e-9 < the 5e-8 band-miss bound above, and the gate keeps the
      // exact-confirm join output-shaped instead of cluster²-shaped.
      val cand = Dedup.minhashPairs(docs, "doc_id", "text",
        k = 5, numPerms = 128, bands = 32, threshold = 0.6,
        carrySigs = true)
      val g = docs.repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          graft.functions.GraftFunctions.gramHashes(col("text"), 5).as("grams"))
      val pairs = cand.join(g.as("ga"), col("id_a") === col("ga.doc_id"))
        .join(g.as("gb"), col("id_b") === col("gb.doc_id"))
        .filter(graft.functions.GraftFunctions.jaccardSorted(
          col("ga.grams"), col("gb.grams")) >= 0.8)
        .select("id_a", "id_b")
      val comp = Dedup.componentsStars(pairs)
        .withColumnRenamed("id", "doc_id")
      docs.select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster"),
          (coalesce(col("component"), col("doc_id")) === col("doc_id")).as("keep"))
        .orderBy("doc_id")
    }, Sql("""WITH RECURSIVE g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(length(t) - 4, 1) + 1),
        |      i -> substr(t, CAST(i AS INT), 5))) AS grams
        |  FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |        FROM documents)),
        |pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) AS jaccard
        |    FROM g a JOIN g b ON a.doc_id < b.doc_id
        |      AND len(a.grams) >= 0.8 * len(b.grams) AND len(b.grams) >= 0.8 * len(a.grams))
        |  WHERE jaccard >= 0.8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT DISTINCT src AS id, src AS label FROM edges
        |  UNION
        |  SELECT e.src AS id, r.label FROM edges e JOIN reach r ON e.dst = r.id),
        |comp AS (SELECT id, CAST(min(label) AS BIGINT) AS component
        |         FROM reach GROUP BY id)
        |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster,
        |  coalesce(c.component, d.doc_id) = d.doc_id AS keep
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        |ORDER BY doc_id""".stripMargin),
      plan = Some(PlanNote("Corpus-scale shape (auto-broadcast disabled): the " +
        "full dedup pipeline — carrySigs banded candidate join (r8: Mat'd " +
        "signature table; sig + band-hash array ride the bucket rows, so " +
        "est_jaccard computes inside the join stage and each pair emits once " +
        "from its first agreeing band — no distinct, no per-pair sig re-attach; " +
        "every exchange corpus-linear), exact-Jaccard confirmation kernel, " +
        "large-star/small-star components over the CONFIRMED pairs only (the " +
        "tiny graph, not the corpus), and a left join folding survivors back.", atScale = true))),
    // Pairs → clusters: connected components over the embed near-dup
    // graph (oracle = recursive CTE closure). This cosine graph is
    // chain-shaped at threshold 0.3; star alternations contract paths
    // geometrically (6 rounds at sf0.1).
    QuerySpec("q_dedup_components", (s, dir) =>
      Dedup.componentsStars(
          Dedup.embedCosinePairs(T(s, dir, "embeddings"), "vec_id", "embedding",
            "label", threshold = 0.3))
        .orderBy("id"),
      Sql("""WITH RECURSIVE
        |v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |      CAST(floor((
        |        list_sum(list_transform(range(1, 65), i -> a.e[CAST(i AS INT)] * b.e[CAST(i AS INT)])) /
        |        (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[CAST(i AS INT)] * a.e[CAST(i AS INT)]))) *
        |         sqrt(list_sum(list_transform(range(1, 65), i -> b.e[CAST(i AS INT)] * b.e[CAST(i AS INT)]))))) * 10000 + 0.5) AS DOUBLE) / 10000 AS cos
        |    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
        |  WHERE cos >= 0.3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT DISTINCT src AS id, src AS label FROM edges
        |  UNION
        |  SELECT e.src AS id, r.label FROM edges e JOIN reach r ON e.dst = r.id)
        |SELECT id, CAST(min(label) AS BIGINT) AS component
        |FROM reach GROUP BY id ORDER BY id""".stripMargin)),
    // Symmetric int8 embedding quantization (4x shuffle/storage cut for
    // corpus-scale vector tables) — bytes rendered as CSV for the
    // driver compare.
    QuerySpec("q_embed_quant", (s, dir) => {
      val q = graft.sim.Vectors.quantizeInt8(col("embedding"))
      T(s, dir, "embeddings")
        // contract: null/empty vectors are excluded on BOTH sides (the
        // engines' null semantics for concat_ws/list_max diverge)
        .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
        .select(col("vec_id"), q.as("qz"))
        .select(col("vec_id"), graft.functions.Det.round(col("qz.scale"), 6).as("scale"),
          concat_ws(",", transform(col("qz.q"), x => x.cast("string"))).as("q_csv"))
        .orderBy("vec_id")
    }, Sql("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |           WHERE embedding IS NOT NULL AND len(embedding) > 0),
        |s AS (SELECT vec_id, e,
        |    CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0 THEN 1.0
        |         ELSE list_max(list_transform(e, x -> abs(x))) / 127.0 END AS sc
        |  FROM v)
        |SELECT vec_id, CAST(floor(sc * 1000000 + 0.5) AS DOUBLE) / 1000000 AS scale,
        |  array_to_string(list_transform(e,
        |    x -> CAST(CAST(floor(x / sc + 0.5) AS BIGINT) AS VARCHAR)), ',') AS q_csv
        |FROM s ORDER BY vec_id""".stripMargin)),
    // SemDeDup: keep-lowest-id survivors after cell-scoped cosine
    // dominance (oracle = NOT EXISTS over the same rounded cosine).
    QuerySpec("q_dedup_semantic", (s, dir) =>
      Dedup.semantic(T(s, dir, "embeddings"), "vec_id", "embedding",
          "label", threshold = 0.3)
        .orderBy("vec_id"),
      Sql("""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |p AS (
        |  SELECT b.vec_id AS id_b,
        |    CAST(floor((
        |      list_sum(list_transform(range(1, 65), i -> a.e[CAST(i AS INT)] * b.e[CAST(i AS INT)])) /
        |      (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[CAST(i AS INT)] * a.e[CAST(i AS INT)]))) *
        |       sqrt(list_sum(list_transform(range(1, 65), i -> b.e[CAST(i AS INT)] * b.e[CAST(i AS INT)]))))) * 10000 + 0.5) AS DOUBLE) / 10000 AS cos
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT vec_id, label FROM v
        |WHERE vec_id NOT IN (SELECT id_b FROM p WHERE cos >= 0.3)
        |ORDER BY vec_id""".stripMargin),
      plan = Some(PlanNote("Corpus-scale shape (auto-broadcast disabled): " +
        "cell-blocked salted cosine pair join (reused from q_dedup_embed) plus a " +
        "left-anti fold of the removal set, both shuffled equi-joins.", atScale = true))),
    // Exact substring dedup (Lee et al. 2022): maximal token spans whose
    // 10-token windows repeat corpus-wide — the suffix-array method
    // re-expressed as gram-count shuffle + gaps-and-islands (47 spans,
    // max 93 tokens at sf0.01). span_md5 pins the span CONTENT.
    QuerySpec("q_substr_dedup", (s, dir) =>
      Dedup.repeatedSpans(T(s, dir, "documents"), "doc_id", "text",
          k = 10, minCount = 2)
        .orderBy("doc_id", "span_pos"),
      Sql("""WITH g AS (
        |  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 9, 0) + 1)) AS i
        |  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents)),
        |grams AS (SELECT doc_id, i AS pos, array_to_string(w[i:i+9], ' ') AS gram FROM g),
        |c AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
        |dup AS (SELECT doc_id, pos FROM grams JOIN c USING (gram)),
        |isl AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM dup),
        |spans AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_pos,
        |    CAST(count(*) + 9 AS BIGINT) AS span_tokens,
        |    CAST(count(*) AS BIGINT) AS n_grams
        |  FROM isl GROUP BY doc_id, grp),
        |d AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents)
        |SELECT s.doc_id, s.span_pos, s.span_tokens, s.n_grams,
        |  md5(array_to_string(w[CAST(s.span_pos AS INT):CAST(s.span_pos + s.span_tokens - 1 AS INT)], ' ')) AS span_md5
        |FROM spans s JOIN d ON s.doc_id = d.doc_id
        |ORDER BY s.doc_id, span_pos""".stripMargin),
      plan = Some(PlanNote("Exact substring dedup at the 100 TB shape " +
        "(auto-broadcast disabled): position-annotated k-gram HASHES (r8: the " +
        "word_window_hashes kernel digests contiguous byte slices; the count " +
        "shuffle keys on 8-byte longs, gram strings never exist) behind a " +
        "round-robin exchange, ONE partial-aggregated count shuffle, repeated " +
        "positions fold back via a long-keyed equi-join, islands merge in a " +
        "PER-DOC window (bounded by doc length), and the span text re-joins " +
        "the raw text on the id with md5 pinning span CONTENT — no corpus-side " +
        "broadcast anywhere.", atScale = true))),
    // ...and the removal step: all but the corpus-global first
    // occurrence of each repeated span cut, text reassembled.
    QuerySpec("q_substr_scrub", (s, dir) =>
      // scrubRepeatedSpans returns its output RANGE-partitioned by
      // doc_id (see the operator). orderBy over that partitioning
      // satisfies OrderedDistribution, so it compiles to the same
      // partition-local sort with NO extra exchange (verified in the
      // r11 plan dump) — and unlike the previous sortWithinPartitions
      // it stays CORRECT if the operator's removal-ranges join ever
      // stops broadcasting and re-shuffles the base side (the r10
      // ADVICE silent-misorder risk): the degraded path plans a real
      // range exchange instead of silently mis-ordering.
      Dedup.scrubRepeatedSpans(T(s, dir, "documents"), "doc_id", "text",
          k = 10, minCount = 2)
        .orderBy("doc_id"),
      Sql("""WITH g AS (
        |  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 9, 0) + 1)) AS i
        |  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents)),
        |grams AS (SELECT doc_id, i AS pos, array_to_string(w[i:i+9], ' ') AS gram FROM g),
        |c AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
        |dup AS (SELECT doc_id, pos FROM grams JOIN c USING (gram)),
        |isl AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM dup),
        |spans AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS sp,
        |    CAST(count(*) + 9 AS BIGINT) AS st
        |  FROM isl GROUP BY doc_id, grp),
        |d AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
        |withmd AS (SELECT s.doc_id, s.sp, s.st,
        |    md5(array_to_string(w[CAST(s.sp AS INT):CAST(s.sp + s.st - 1 AS INT)], ' ')) AS md
        |  FROM spans s JOIN d USING (doc_id)),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY md ORDER BY doc_id, sp) AS occ
        |  FROM withmd),
        |rm AS (SELECT doc_id, list({'s': sp, 'e': sp + st - 1}) AS rr
        |  FROM ranked WHERE occ > 1 GROUP BY doc_id),
        |out AS (SELECT d.doc_id, w,
        |    CASE WHEN rr IS NULL THEN w
        |         ELSE list_transform(list_filter(range(1, len(w) + 1),
        |            i -> len(list_filter(rr, r -> i >= r.s AND i <= r.e)) = 0),
        |            i -> w[CAST(i AS INT)]) END AS kept
        |  FROM d LEFT JOIN rm USING (doc_id))
        |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
        |  CASE WHEN len(kept) = 0 THEN NULL
        |       ELSE array_to_string(kept, ' ') END AS scrubbed
        |FROM out ORDER BY doc_id""".stripMargin),
      plan = Some(PlanNote("Span removal at the 100 TB shape (auto-broadcast " +
        "disabled): rides the repeatedSpans pipeline, picks the corpus-global " +
        "first occurrence in a window over the SPAN list (bounded by the " +
        "duplicate count, not the corpus), folds removal ranges back via one " +
        "id-keyed join, and cuts tokens in a scan-stage higher-order filter.", atScale = true)))
  )
}
