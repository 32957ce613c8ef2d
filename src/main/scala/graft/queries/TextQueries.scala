package graft
package queries

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.{Curation, Rank, TextStats}
import QuerySpec._

/** Text analysis and corpus curation. */
object TextQueries {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_lang_id", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextStats.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      Sql {
        val hits = TextStats.stopwords.map { case (lang, list) =>
          s"len(list_filter(string_split(lower(text), ' '), w -> w IN (${list.map(sqlLit).mkString(", ")}))) AS ${lang}_hits"
        }.mkString(",\n    ")
        val langs = TextStats.stopwords.map(_._1)
        val best = s"greatest(${langs.map(_ + "_hits").mkString(", ")})"
        val pick = langs.map(l => s"WHEN ${l}_hits = $best AND $best > 0 THEN '$l'").mkString(" ")
        s"""WITH h AS (
           |  SELECT doc_id,
           |    $hits
           |  FROM documents)
           |SELECT doc_id, CASE $pick ELSE 'und' END AS lang_pred
           |FROM h ORDER BY doc_id""".stripMargin
      }),
    QuerySpec("q_quality_score", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextStats.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      Sql {
        val allStops = TextStats.stopwords.flatMap(_._2).distinct
        s"""SELECT doc_id,
           |  CAST(floor((
           |    0.4 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0) +
           |    0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) /
           |                 greatest(CAST(length(text) AS DOUBLE), 1.0)) +
           |    0.3 * CAST(len(list_filter(string_split(lower(text), ' '),
           |                    w -> w IN (${allStops.map(sqlLit).mkString(", ")}))) AS DOUBLE) /
           |          greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0)) * 10000 + 0.5) AS DOUBLE) / 10000 AS quality
           |FROM documents ORDER BY doc_id""".stripMargin
      }),
    QuerySpec("q_token_count", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.wsTokens(col("text")).as("ws_tokens"),
          TextStats.bpeTokens(col("text")).as("bpe_tokens"))
        .orderBy("doc_id"),
      Sql("""SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_bm25", (s, dir) =>
      Rank.bm25(T(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "query", "window"), limit = 15),
      Sql("""WITH tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents) u
        |  WHERE term <> '' GROUP BY doc_id, term),
        |lens AS (SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl
        |         FROM documents),
        |consts AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avg_dl FROM lens),
        |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf
        |          WHERE term IN ('spark', 'query', 'window') GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id,
        |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
        |      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avg_dl)) AS s
        |  FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id) CROSS JOIN consts)
        |SELECT doc_id,
        |  CAST(floor((CAST(sum(CAST(s AS DECIMAL(30,15))) AS DOUBLE)) * 10000 + 0.5) AS DOUBLE) / 10000 AS score FROM scored
        |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 15""".stripMargin)),
    // Gopher-style intra-doc repetition over 2-grams (the synthetic
    // small-vocab corpus has meaningful repeat rates at n=2)
    QuerySpec("q_rep_ngrams", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
          TextStats.repetitionRatio2(col("text")).as("rep2"))
        .orderBy("doc_id"),
      Sql("""WITH g AS (
        |  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1) + 1)) AS i
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |grams AS (SELECT doc_id, any_value(len(w)) AS nw,
        |    count(*) AS total, count(DISTINCT array_to_string(w[i:i+1], ' ')) AS dist
        |  FROM g GROUP BY doc_id)
        |SELECT doc_id,
        |  CASE WHEN nw IS NULL OR nw < 2 THEN 0.0
        |       ELSE CAST(floor((1.0 - CAST(dist AS DOUBLE) / total) * 10000 + 0.5) AS DOUBLE) / 10000 END AS rep2
        |FROM grams ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_vocab", (s, dir) =>
      Rank.buildVocab(T(s, dir, "documents"), "doc_id", "text", minDf = 100L)
        .orderBy("term_id"),
      Sql("""WITH t AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |           FROM documents),
        |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM t
        |      WHERE term <> '' GROUP BY term)
        |SELECT term, df, CAST(row_number() OVER (ORDER BY df DESC, term) AS BIGINT) AS term_id
        |FROM d WHERE df >= 100 ORDER BY term_id""".stripMargin)),
    // Vocabulary application: every doc encoded as its token-id
    // sequence under the minDf=100 vocab; OOV -> 0.
    QuerySpec("q_tokenize", (s, dir) =>
      Rank.tokenize(T(s, dir, "documents"), "doc_id", "text", minDf = 100L)
        .orderBy("doc_id"),
      Sql("""WITH tt AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |            FROM documents),
        |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tt
        |      WHERE term <> '' GROUP BY term),
        |v AS (SELECT term, CAST(row_number() OVER (ORDER BY df DESC, term) AS BIGINT) AS term_id
        |      FROM d WHERE df >= 100),
        |s AS (SELECT doc_id, string_split(lower(coalesce(text, '')), ' ') AS w FROM documents),
        |t AS (SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term FROM s)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN v.term_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  string_agg(CAST(coalesce(v.term_id, 0) AS VARCHAR), ',' ORDER BY pos) AS ids_csv
        |FROM t LEFT JOIN v USING (term)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // Long-tail inverted index: full posting lists only where df bounds
    // them (≤ 1/25 of the corpus); hot terms are excluded by design
    // (sharded at scale).
    QuerySpec("q_postings", (s, dir) =>
      Rank.postings(T(s, dir, "documents"), "doc_id", "text", denom = 25)
        .orderBy("term"),
      Sql("""WITH s AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |b AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(w)),
        |      i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])) AS term
        |  FROM s WHERE len(w) >= 2),
        |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
        |             array_to_string(list_sort(list(doc_id)), ',') AS docs
        |      FROM b WHERE regexp_matches(term, '^\S+ \S+$') GROUP BY term),
        |n AS (SELECT count(*) AS nn FROM documents)
        |SELECT term, df, docs FROM d, n WHERE df * 25 <= nn ORDER BY term""".stripMargin),
      plan = Some(PlanNote("Single-aggregate inverted index (r10): the head cutoff " +
        "is a PLAN parameter (one driver count), so there are ZERO joins — one " +
        "deterministic doc_id-hash repartition spreads gram work off the " +
        "parquet splits, and ONE keyed aggregate emits df (count(1)) and the " +
        "posting list (capped_collect_longs, cap = N/denom) together: a " +
        "hot-head term abandons its list at the cap (NULL) instead of " +
        "building a corpus-sized buffer, and the exact post-aggregate df " +
        "filter keeps a term iff its list is provably complete. Gram build + " +
        "per-doc distinct + the cleanliness filter fuse into the codegen'd " +
        "clean_word_bigrams kernel — each bigram is a contiguous byte slice " +
        "of the text.", atScale = true))),
    QuerySpec("q_keywords", (s, dir) =>
      Rank.keywords(T(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rnk"),
      Sql("""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM tok
        |       WHERE term <> '' GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |s AS (SELECT doc_id, term,
        |        CAST(floor((tf * ln((n_docs + 1) / (df + 1))) * 10000 + 0.5) AS DOUBLE) / 10000 AS score
        |      FROM tf JOIN dfq USING (term), n),
        |r AS (SELECT *, CAST(row_number() OVER
        |        (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rnk
        |      FROM s)
        |SELECT doc_id, term, score, rnk FROM r WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin),
      plan = Some(PlanNote("ONE corpus exchange: raw text hash-partitioned on the doc " +
        "id, reused by the tf and df branches (identical column sets); tf, the " +
        "per-doc dedup, and the top-k heap (TopKRewrite → topk_rows) all run " +
        "exchange-free on that partitioning; the vocabulary-bounded df joins back " +
        "as an explicit broadcast; the 1-row corpus constant crosses as a literal " +
        "broadcast.", atScale = false))),
    QuerySpec("q_lm_score", (s, dir) =>
      TextStats.lmScore(T(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Sql("""WITH n AS (SELECT doc_id, lower(text) AS t FROM documents
        |           WHERE length(lower(text)) >= 2),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(1, length(t)), i -> substr(t, CAST(i AS INT), 2))) AS g
        |  FROM n),
        |model AS (SELECT g, CAST(count(*) AS DOUBLE) AS c FROM bg GROUP BY 1),
        |ctx AS (SELECT substr(g, 1, 1) AS a, sum(c) AS ca FROM model GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT substr(g, 2, 1)) AS DOUBLE) AS nv FROM model)
        |SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(floor((CAST(round(sum(CAST(-ln((m.c + 1) / (x.ca + v.nv)) AS DECIMAL(30,15))), 6) AS DOUBLE)
        |        / count(*)) * 10000 + 0.5) AS DOUBLE) / 10000 AS nats
        |FROM bg JOIN model m USING (g)
        |JOIN ctx x ON substr(bg.g, 1, 1) = x.a, v
        |GROUP BY bg.doc_id
        |ORDER BY bg.doc_id""".stripMargin),
      plan = Some(PlanNote("Self-trained char-bigram LM on the DSIR engine: an eager " +
        "dsir_model_agg job trains the model, so this plan is the scoring pass " +
        "alone — round-robin exchange, bigram_counts + dsir_score fold over a " +
        "literal nll map, one doc-keyed partial aggregate; no explode, no join, " +
        "no per-row decimal.", atScale = false))),
    // CCNet head/middle/tail: rank-based perplexity terciles over the
    // in-engine LM score (rank cuts are integer-exact — portable where
    // interpolated score boundaries are not).
    QuerySpec("q_ccnet_buckets", (s, dir) =>
      Curation.rankBuckets(
          TextStats.lmScore(T(s, dir, "documents"), "doc_id", "text")
            .select("doc_id", "nats"), "nats", "doc_id")
        .orderBy("doc_id"),
      Sql("""WITH n AS (SELECT doc_id, lower(text) AS t FROM documents
        |           WHERE length(lower(text)) >= 2),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(1, length(t)), i -> substr(t, CAST(i AS INT), 2))) AS g
        |  FROM n),
        |model AS (SELECT g, CAST(count(*) AS DOUBLE) AS c FROM bg GROUP BY 1),
        |ctx AS (SELECT substr(g, 1, 1) AS a, sum(c) AS ca FROM model GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT substr(g, 2, 1)) AS DOUBLE) AS nv FROM model),
        |scored AS (SELECT bg.doc_id,
        |  CAST(floor((CAST(round(sum(CAST(-ln((m.c + 1) / (x.ca + v.nv)) AS DECIMAL(30,15))), 6) AS DOUBLE)
        |        / count(*)) * 10000 + 0.5) AS DOUBLE) / 10000 AS nats
        |  FROM bg JOIN model m USING (g)
        |  JOIN ctx x ON substr(bg.g, 1, 1) = x.a, v
        |  GROUP BY bg.doc_id),
        |r AS (SELECT doc_id, nats,
        |    CAST(row_number() OVER (ORDER BY nats, doc_id) AS BIGINT) - 1 AS rk,
        |    CAST(count(*) OVER () AS BIGINT) AS nn
        |  FROM scored)
        |SELECT doc_id, nats,
        |  CASE WHEN rk * 3 < nn THEN 'head'
        |       WHEN rk * 3 < nn * 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM r ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_sample_pergroup", (s, dir) =>
      Curation.sampleKPerGroup(T(s, dir, "documents"), "source", "doc_id",
          "text", k = 5)
        .orderBy("source", "doc_id"),
      Sql("""WITH h AS (SELECT source, doc_id,
        |    ('0x' || substr(md5(text), 1, 8))::UBIGINT AS h FROM documents),
        |kept AS (SELECT source, h FROM (
        |  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |  FROM (SELECT DISTINCT source, h FROM h) dh) r WHERE rn <= 5),
        |rep AS (SELECT source, h, min(doc_id) AS doc_id FROM h GROUP BY source, h)
        |SELECT rep.source, doc_id FROM rep JOIN kept USING (source, h)
        |ORDER BY source, doc_id""".stripMargin)),
    // Winnowing fingerprints (rolling-hash document fingerprinting):
    // emit count + CSV of the sorted fingerprint set so the driver can
    // hash-compare against the oracle's identical polynomial hashes.
    QuerySpec("q_fingerprint_winnow", (s, dir) =>
      T(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism) // kernel off the single split
        .select(col("doc_id"), TextStats.winnowFingerprints(col("text")).as("fp"))
        .select(col("doc_id"), size(col("fp")).cast("long").as("n_fp"),
          concat_ws(",", transform(col("fp"), x => x.cast("string"))).as("fp_csv"))
        .orderBy("doc_id"),
      Sql("""WITH n AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |           FROM documents),
        |h AS (SELECT doc_id,
        |  list_transform(range(1, greatest(length(t) - 3, 1) + 1),
        |    i -> (greatest(ord(substr(t, CAST(i AS INT), 1)), 0) * 29791 +
        |          greatest(ord(substr(t, CAST(i+1 AS INT), 1)), 0) * 961 +
        |          greatest(ord(substr(t, CAST(i+2 AS INT), 1)), 0) * 31 +
        |          greatest(ord(substr(t, CAST(i+3 AS INT), 1)), 0)) % 1000000007) AS hs
        |  FROM n),
        |w AS (SELECT doc_id,
        |  list_sort(list_distinct(list_transform(range(1, greatest(len(hs) - 4, 1) + 1),
        |    j -> list_min(array_slice(hs, j, j + 4))))) AS fp
        |  FROM h)
        |SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fp, array_to_string(fp, ',') AS fp_csv
        |FROM w ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_sample_split", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          Curation.splitLabel(col("text"),
            Seq("train" -> 0.8, "val" -> 0.1), "test").as("split"))
        .orderBy("doc_id"),
      Sql(s"""SELECT doc_id, ${Curation.splitLabelSql("text",
             Seq("train" -> 0.8, "val" -> 0.1), "test")} AS split
         |FROM documents ORDER BY doc_id""".stripMargin)),
    // Deterministic PII is injected first (the synthetic corpus has
    // none), then counted and scrubbed — email/SSN/phone in that order.
    QuerySpec("q_pii_scrub", (s, dir) => {
      val injected = concat_ws(" ", col("text"),
        concat(lit("user"), col("doc_id"), lit("@example.com")),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("123-45-6789")).otherwise(lit("na")),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("555.867.5309")).otherwise(lit("na")))
      // One kernel call per doc (pii_scrub_stats) instead of the six
      // regex passes of the declarative twin (scrubPii/piiCount kept
      // as the spec oracle; PiiKernelSpec pins equivalence). RANGE
      // repartition on doc_id BEFORE the kernel: the global orderBy's
      // sample job re-executed the kernel subtree (2× kernel); ordered
      // partitions + local sort give the identical row order with the
      // kernel run once, and the raw-text exchange spreads the kernel
      // across the full parallelism instead of the scan's 2 splits.
      T(s, dir, "documents")
        .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
          graft.functions.GraftFunctions.piiScrubStats(injected).as("__p"))
        .select(col("doc_id"),
          (col("__p.n_email") + col("__p.n_ssn") + col("__p.n_phone")).as("n_pii"),
          col("__p.scrubbed").as("scrubbed"))
        .sortWithinPartitions("doc_id")
    }, Sql {
        val inj = """concat_ws(' ', text, 'user' || CAST(doc_id AS VARCHAR) || '@example.com',
          | CASE WHEN doc_id % 3 = 0 THEN '123-45-6789' ELSE 'na' END,
          | CASE WHEN doc_id % 2 = 0 THEN '555.867.5309' ELSE 'na' END)""".stripMargin.replace("\n", "")
        s"""WITH t AS (SELECT doc_id, $inj AS t FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(t, '${Curation.EmailRe}')) +
           |       len(regexp_extract_all(regexp_replace(t, '${Curation.EmailRe}', '<EMAIL>', 'g'),
           |           '${Curation.SsnRe}')) +
           |       len(regexp_extract_all(regexp_replace(regexp_replace(t,
           |             '${Curation.EmailRe}', '<EMAIL>', 'g'),
           |             '${Curation.SsnRe}', '<SSN>', 'g'),
           |           '${Curation.PhoneRe}')) AS BIGINT) AS n_pii,
           |  regexp_replace(regexp_replace(regexp_replace(t,
           |    '${Curation.EmailRe}', '<EMAIL>', 'g'),
           |    '${Curation.SsnRe}', '<SSN>', 'g'),
           |    '${Curation.PhoneRe}', '<PHONE>', 'g') AS scrubbed
           |FROM t ORDER BY doc_id""".stripMargin
      }),
    // Word 3-grams (the synthetic ~30-word vocabulary makes real 8/13-
    // gram overlap vanishingly rare; the operator takes n as a param).
    QuerySpec("q_decontaminate", (s, dir) => {
      val docs = T(s, dir, "documents")
      Curation.contamination(
          docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(97)) === 0),
          "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }, Sql("""WITH g AS (
        |  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS i
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram FROM g),
        |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
        |corp AS (SELECT doc_id, gram FROM grams WHERE doc_id % 97 <> 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM corp JOIN bench USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      plan = Some(PlanNote("Corpus-scale shape (auto-broadcast disabled): both sides " +
        "explode 8-byte gram HASHES — the word_window_hashes kernel digests each " +
        "n-word window as a contiguous byte slice above a raw-text round-robin " +
        "exchange (no gram string, no split-array shuffle; the benchmark side gets " +
        "a narrower exchange, small by contract) — then meet in a hash-shuffled " +
        "equi-join keyed on the hash; two-phase countDistinct.", atScale = true))),
    // DSIR: how much does each doc "look like" the fr-language target
    // set, under corpus-trained unigram+bigram models.
    QuerySpec("q_dsir_weights", (s, dir) =>
      Curation.dsirWeights(T(s, dir, "documents"), "doc_id", "text",
          isTarget = col("lang") === "fr")
        .orderBy("doc_id"),
      Sql("""WITH d AS (SELECT doc_id, lang = 'fr' AS tgt,
        |    string_split(coalesce(text, ''), ' ') AS w FROM documents),
        |uni AS (SELECT doc_id, tgt, unnest(w) AS feat FROM d),
        |bi AS (SELECT doc_id, tgt,
        |    unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
        |      i -> w[i] || ' ' || w[i + 1])) AS feat FROM d),
        |f AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
        |m AS (SELECT feat,
        |    sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
        |    sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cs
        |  FROM f GROUP BY 1),
        |t AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt, CAST(sum(cs) AS DOUBLE) AS ns,
        |    CAST(count(*) AS DOUBLE) AS v FROM m)
        |SELECT doc_id, tgt AS is_target, CAST(count(*) AS BIGINT) AS n_feats,
        |  CAST(round(sum(CAST(ln(((m.ct + 1) * (t.ns + t.v)) /
        |    ((m.cs + 1) * (t.nt + t.v))) AS DECIMAL(30,15))), 6) AS DOUBLE) AS logw
        |FROM f JOIN m USING (feat), t
        |GROUP BY doc_id, tgt ORDER BY doc_id""".stripMargin),
      plan = Some(PlanNote("DSIR, no-explode architecture (r8): the " +
        "word_ngram_counts kernel folds each doc to its feature-count map in " +
        "the scan stage; dsir_model_agg trains both models as a " +
        "typed-imperative map-fold (one vocabulary-bounded partial per " +
        "partition, no Generate anywhere); the bounded model applies via the " +
        "dsir_score foldable-literal fold — the scoring plan has NO join at " +
        "all, which PlanSpec pins. Occurrences never exist as rows.", atScale = true))),
    // DSIR's production form: features hashed into a fixed bucket
    // count (the paper's own trick), so the model dimension is bounded
    // no matter the corpus vocabulary. Oracle mirrors the md5-derived
    // bucket, pinning the collided model bit-for-bit.
    // Same models, features hashed to buckets: bucket = 60-bit md5
    // prefix mod 4096 — both engines compute the identical bucket, so
    // collisions merge identically. The per-doc (bucket, cnt) CTE
    // mirrors graft's pre-aggregated scoring (Σ cnt·lr as exact
    // decimals ≡ the per-occurrence Σ lr).
    QuerySpec("q_dsir_hashed", (s, dir) =>
      Curation.dsirWeightsHashed(T(s, dir, "documents"), "doc_id", "text",
          isTarget = col("lang") === "fr", buckets = 4096)
        .orderBy("doc_id"),
      Sql("""WITH d AS (SELECT doc_id, lang = 'fr' AS tgt,
        |    string_split(coalesce(text, ''), ' ') AS w FROM documents),
        |uni AS (SELECT doc_id, tgt, unnest(w) AS feat FROM d),
        |bi AS (SELECT doc_id, tgt,
        |    unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
        |      i -> w[i] || ' ' || w[i + 1])) AS feat FROM d),
        |f AS (SELECT doc_id, tgt,
        |    ('0x' || substr(md5(feat), 1, 15))::BIGINT % 4096 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |pd AS (SELECT doc_id, tgt, b, CAST(count(*) AS BIGINT) AS cnt
        |  FROM f GROUP BY 1, 2, 3),
        |m AS (SELECT b,
        |    sum(CASE WHEN tgt THEN cnt ELSE 0 END) AS ct,
        |    sum(CASE WHEN tgt THEN 0 ELSE cnt END) AS cs
        |  FROM pd GROUP BY 1),
        |t AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt, CAST(sum(cs) AS DOUBLE) AS ns,
        |    CAST(count(*) AS DOUBLE) AS v FROM m)
        |SELECT doc_id, tgt AS is_target, CAST(sum(cnt) AS BIGINT) AS n_feats,
        |  CAST(round(sum(CAST(cnt AS DECIMAL(12,0)) *
        |    CAST(ln(((m.ct + 1) * (t.ns + t.v)) /
        |      ((m.cs + 1) * (t.nt + t.v))) AS DECIMAL(20,15))), 6) AS DOUBLE) AS logw
        |FROM pd JOIN m USING (b), t
        |GROUP BY doc_id, tgt ORDER BY doc_id""".stripMargin),
      plan = Some(PlanNote("DSIR's fixed-bucket production form: same no-explode " +
        "engine, features md5-bucketed inside the kernel (contiguous byte " +
        "slices, digest's first 60 bits taken numerically — no hex/conv " +
        "strings); the model is <= bucket-count rows REGARDLESS of corpus " +
        "vocabulary, so the driver-resident model application is bounded by " +
        "construction at any scale.", atScale = true))),
    QuerySpec("q_distinct_kmv", (s, dir) =>
      Curation.kmvDistinct(T(s, dir, "orders"), col("o_custkey"), k = 256),
      Sql("""WITH h AS (SELECT DISTINCT
        |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::UBIGINT AS h
        |  FROM orders),
        |stats AS (SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM h) AS n_distinct,
        |    (SELECT max(h) FROM (SELECT h FROM h ORDER BY h LIMIT 256) q) AS hk),
        |est AS (SELECT n_distinct,
        |    CASE WHEN n_distinct <= 256 THEN CAST(n_distinct AS DOUBLE)
        |         ELSE CAST(floor((255 * 4294967296.0 / hk) * 10 + 0.5) AS DOUBLE) / 10 END AS estimate
        |  FROM stats)
        |SELECT estimate, n_distinct AS exact,
        |  CAST(floor((abs(estimate - n_distinct) * 100.0 / n_distinct) * 10 + 0.5) AS DOUBLE) / 10 AS err_pct
        |FROM est""".stripMargin),
      plan = Some(PlanNote("KMV demo form: the deduplicating bounded-heap kmv_sketch " +
        "aggregate consumes RAW rows (partial per partition, <= k longs shipped " +
        "each) - the exact-count column beside it is the only reason a distinct " +
        "aggregation appears; the production path (Curation.kmvEstimate) has " +
        "none.", atScale = false))),
    // Incremental dedup demo: the delta is exact copies of the %7 docs
    // (re-idd — must be dropped) plus modified copies of the %11 docs
    // (new content — must be kept).
    QuerySpec("q_dedup_incremental", (s, dir) => {
      val docs = T(s, dir, "documents")
      val dupes = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val novel = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" novel suffix")).as("text"))
      Dedup.incremental(dupes.unionByName(novel), docs, "doc_id", "text")
        .select("doc_id")
        .orderBy("doc_id")
    }, Sql("""WITH known AS (SELECT DISTINCT
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents),
        |delta AS (
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' novel suffix' FROM documents WHERE doc_id % 11 = 0)
        |SELECT doc_id FROM delta
        |WHERE NOT EXISTS (SELECT 1 FROM known
        |  WHERE known.fp = md5(lower(trim(regexp_replace(delta.text, '\s+', ' ', 'g')))))
        |ORDER BY doc_id""".stripMargin),
      plan = Some(PlanNote("Corpus-scale shape (auto-broadcast disabled): the " +
        "corpus collapses to DISTINCT fingerprints via partial aggregation, then a " +
        "left-anti join shuffled on the fingerprint - no broadcast of the " +
        "corpus-derived side.", atScale = true))),
    QuerySpec("q_pack_chunks", (s, dir) =>
      Curation.packChunks(T(s, dir, "documents"), "doc_id", "text",
          shardCol = "source", contextLen = 256)
        .orderBy("source", "doc_id"),
      Sql("""WITH t AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
        |      OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS tok_end
        |  FROM documents)
        |SELECT source, doc_id, n_tokens,
        |  tok_end - n_tokens AS tok_offset,
        |  CAST(floor((tok_end - n_tokens) / 256) AS BIGINT) AS first_chunk,
        |  CAST(floor((tok_end - 1) / 256) AS BIGINT) AS last_chunk
        |FROM t ORDER BY source, doc_id""".stripMargin),
      plan = Some(PlanNote("Sequence packing: one window per shard (PARTITION BY " +
        "source) - running sums run independently per shard partition, no global " +
        "ordering bottleneck.", atScale = false))),
    // Line-level dedup: the corpus has no newlines, so lines are formed
    // deterministically (break after every 5th word) — same injection
    // trick as q_pii_scrub; the operator itself is line-structure-
    // agnostic. minCount=2 drops ~10% of lines at sf0.01.
    QuerySpec("q_line_dedup", (s, dir) =>
      Curation.lineDedup(
          T(s, dir, "documents").select(col("doc_id"),
            regexp_replace(col("text"), "((\\w+ ){5})", "$1\n").as("text")),
          "doc_id", "text", minCount = 2)
        .orderBy("doc_id"),
      Sql("""WITH d AS (SELECT doc_id,
        |    regexp_replace(coalesce(text, ''), '((\w+ ){5})', '\1' || chr(10), 'g') AS t
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    generate_subscripts(string_split(t, chr(10)), 1) AS pos,
        |    trim(unnest(string_split(t, chr(10)))) AS line
        |  FROM d),
        |c AS (SELECT line, count(*) AS cnt FROM l GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE cnt < 2) AS kept_text
        |FROM l JOIN c USING (line)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      plan = Some(PlanNote("Corpus-scale shape (auto-broadcast disabled, r10 " +
        "hash-keyed form): the raw text rides ONE deterministic id-hash " +
        "exchange (three readers via ReuseExchange — the null-safe <=> " +
        "join-back and the count(idCol) trick keep the subtrees " +
        "canonicalization-identical); only 8-byte xxhash64(line) keys + int " +
        "positions leave the explode, the boilerplate table filters to " +
        "cnt >= minCount BEFORE its join, and kept_text re-derives from the " +
        "original text by dropped position. No line STRING is shuffled " +
        "anywhere; no corpus-side broadcast.", atScale = true))),
    QuerySpec("q_gopher_filter", (s, dir) =>
      Curation.gopherQuality(T(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Sql("""WITH w AS (SELECT doc_id, coalesce(text, '') AS t,
        |    string_split(coalesce(text, ''), ' ') AS ws FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(floor((len(replace(t, ' ', '')) * 1.0 / len(ws)) * 10000 + 0.5) AS DOUBLE) / 10000 AS mean_word_len,
        |    CAST(floor((len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(ws)) * 10000 + 0.5) AS DOUBLE) / 10000 AS frac_alpha_words,
        |    CAST(len(list_filter(ws, x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS n_stopwords,
        |    CAST(floor(((len(t) - len(replace(t, '#', '')) + (len(t) - len(replace(t, '...', ''))) / 3) * 1.0 / len(ws)) * 10000 + 0.5) AS DOUBLE) / 10000 AS symbol_ratio
        |  FROM w)
        |SELECT doc_id, n_words, mean_word_len, frac_alpha_words, n_stopwords,
        |  symbol_ratio,
        |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND symbol_ratio < 0.1 AND frac_alpha_words > 0.8
        |   AND n_stopwords >= 2) AS keep
        |FROM m ORDER BY doc_id""".stripMargin)),
    // C4 cleaning: lines injected (break after every 7th word), half the
    // lines get terminal punctuation by content hash, and a sprinkle of
    // docs get the lorem-ipsum / curly-brace kill markers.
    QuerySpec("q_c4_filter", (s, dir) =>
      Curation.c4Clean(
          T(s, dir, "documents").select(col("doc_id"), c4Injected.as("text")),
          "doc_id", "text")
        .orderBy("doc_id"),
      Sql(s"""WITH $c4InjectedSql,
        |m AS (SELECT doc_id, t, string_split(t, chr(10)) AS ls,
        |    list_filter(string_split(t, chr(10)), x ->
        |      regexp_matches(trim(x), '[.!?"]$$')
        |      AND len(string_split(trim(x), ' ')) >= 5) AS kept
        |  FROM inj)
        |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  (len(kept) >= 3 AND NOT contains(lower(t), 'lorem ipsum')
        |   AND NOT contains(t, '{')) AS keep,
        |  CASE WHEN len(kept) = 0 THEN NULL
        |       ELSE array_to_string(list_transform(kept, x -> trim(x)), chr(10)) END AS cleaned_text
        |FROM m ORDER BY doc_id""".stripMargin)),
    // The full curation gauntlet with kill provenance: dup -> c4 ->
    // gopher -> lm_tail over the same injected line corpus.
    QuerySpec("q_curation_e2e", (s, dir) =>
      Curation.curationPipeline(
          T(s, dir, "documents").select(col("doc_id"), c4Injected.as("text")),
          "doc_id", "text")
        .orderBy("doc_id"),
      Sql(s"""WITH $c4InjectedSql,
        |fp AS (SELECT doc_id,
        |    md5(lower(trim(regexp_replace(t, '\\s+', ' ', 'g')))) AS f FROM inj),
        |kk AS (SELECT f, min(doc_id) AS keep_id FROM fp GROUP BY 1),
        |dup AS (SELECT doc_id, doc_id <> keep_id AS is_dup FROM fp JOIN kk USING (f)),
        |c4 AS (SELECT doc_id,
        |    (len(list_filter(string_split(t, chr(10)), x ->
        |       regexp_matches(trim(x), '[.!?"]$$')
        |       AND len(string_split(trim(x), ' ')) >= 5)) >= 3
        |     AND NOT contains(lower(t), 'lorem ipsum')
        |     AND NOT contains(t, '{')) AS c4keep
        |  FROM inj),
        |gw AS (SELECT doc_id, t, string_split(t, ' ') AS ws FROM inj),
        |gq AS (SELECT doc_id,
        |    (CAST(len(ws) AS BIGINT) BETWEEN 50 AND 100000
        |     AND (CAST(floor((len(replace(t, ' ', '')) * 1.0 / len(ws)) * 10000 + 0.5) AS DOUBLE) / 10000) BETWEEN 3.0 AND 10.0
        |     AND (CAST(floor(((len(t) - len(replace(t, '#', '')) + (len(t) - len(replace(t, '...', ''))) / 3) * 1.0 / len(ws)) * 10000 + 0.5) AS DOUBLE) / 10000) < 0.1
        |     AND (CAST(floor((len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(ws)) * 10000 + 0.5) AS DOUBLE) / 10000) > 0.8
        |     AND CAST(len(list_filter(ws, x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) >= 2) AS gkeep
        |  FROM gw),
        |n AS (SELECT doc_id, lower(t) AS t FROM inj WHERE length(lower(t)) >= 2),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(1, length(t)), i -> substr(t, CAST(i AS INT), 2))) AS g
        |  FROM n),
        |model AS (SELECT g, CAST(count(*) AS DOUBLE) AS c FROM bg GROUP BY 1),
        |ctx AS (SELECT substr(g, 1, 1) AS a, sum(c) AS ca FROM model GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT substr(g, 2, 1)) AS DOUBLE) AS nv FROM model),
        |scored AS (SELECT bg.doc_id,
        |    CAST(floor((CAST(round(sum(CAST(-ln((m.c + 1) / (x.ca + v.nv)) AS DECIMAL(30,15))), 6) AS DOUBLE)
        |          / count(*)) * 10000 + 0.5) AS DOUBLE) / 10000 AS nats
        |  FROM bg JOIN model m USING (g)
        |  JOIN ctx x ON substr(bg.g, 1, 1) = x.a, v
        |  GROUP BY bg.doc_id),
        |r AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY nats, doc_id) AS BIGINT) - 1 AS rk,
        |    CAST(count(*) OVER () AS BIGINT) AS nn
        |  FROM scored),
        |lt AS (SELECT doc_id, rk * 3 >= nn * 2 AS is_tail FROM r),
        |fin AS (SELECT d.doc_id,
        |    CASE WHEN dup.is_dup THEN 'duplicate'
        |         WHEN NOT c4.c4keep THEN 'c4'
        |         WHEN NOT gq.gkeep THEN 'gopher'
        |         WHEN coalesce(lt.is_tail, FALSE) THEN 'lm_tail' END AS reason
        |  FROM inj d
        |  JOIN dup USING (doc_id) JOIN c4 USING (doc_id) JOIN gq USING (doc_id)
        |  LEFT JOIN lt USING (doc_id))
        |SELECT doc_id, reason IS NULL AS keep, reason
        |FROM fin ORDER BY doc_id""".stripMargin)),
    // Contiguous global ids without a single-partition window (the
    // offsets fold back from one count per partition).
    QuerySpec("q_assign_ids", (s, dir) =>
      Curation.assignIds(T(s, dir, "documents").select("doc_id", "source"),
          orderCols = Seq("source", "doc_id"))
        .select(col("doc_id"), col("source"), col("gid"))
        .orderBy("gid"),
      Sql("""SELECT doc_id, source,
        |  CAST(row_number() OVER (ORDER BY source, doc_id) AS BIGINT) - 1 AS gid
        |FROM documents ORDER BY gid""".stripMargin),
      plan = Some(PlanNote("Contiguous global ids without a global window: range " +
        "partition on the order keys, per-partition row_number, offsets from the " +
        "per-partition COUNTS (the only single-partition exchange carries one row " +
        "per partition) folded back via broadcast join.", atScale = false))),
    // Uniform language mix: every lang downsampled toward the smallest
    // (fr, 64 docs at sf0.01) by content-hash thresholding.
    QuerySpec("q_domain_mix", (s, dir) =>
      Curation.domainMix(T(s, dir, "documents"), "lang", "doc_id", "text")
        .orderBy("lang", "doc_id"),
      Sql("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |m AS (SELECT min(n) AS mn FROM c),
        |r AS (SELECT lang, CAST(mn AS DOUBLE) / n AS rate FROM c, m)
        |SELECT d.lang, d.doc_id FROM documents d JOIN r USING (lang)
        |WHERE CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT AS DOUBLE) / 4294967296.0 < r.rate
        |ORDER BY lang, doc_id""".stripMargin),
      plan = Some(PlanNote("Corpus-scale shape (auto-broadcast disabled): group-count " +
        "aggregate -> rate table joined back on the group key with NO hint (AQE " +
        "broadcasts it only while it fits — domain cardinality is unbounded at " +
        "host granularity); the keep test is a scan-stage hash threshold.", atScale = true))),
    // Mix-planning table: per-source docs/token totals, corpus share,
    // cumulative share in largest-first order (the top-p cut finder).
    QuerySpec("q_token_budget", (s, dir) =>
      Curation.tokenBudget(T(s, dir, "documents"), "source", "text")
        .orderBy(col("tokens").desc, col("source")),
      Sql("""WITH t AS (SELECT source, CAST(count(*) AS BIGINT) AS docs,
        |    CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(tokens) AS DOUBLE) AS tt FROM t)
        |SELECT source, docs, tokens,
        |  CAST(floor((tokens / tt) * 1000000 + 0.5) AS DOUBLE) / 1000000 AS share,
        |  CAST(floor((CAST(sum(tokens) OVER (ORDER BY tokens DESC, source) AS DOUBLE) / tt)
        |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS cum_share
        |FROM t, tot ORDER BY tokens DESC, source""".stripMargin),
      plan = Some(PlanNote("Corpus reduces to |domains| rows via one " +
        "partial-aggregated shuffle; the single-row total crosses as a literal " +
        "broadcast; the cumulative-share window runs over the already-reduced " +
        "domain table.", atScale = true)))
  )
}
