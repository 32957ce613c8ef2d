package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for an LLM training-data pipeline: language
  * ID, quality scoring, token counting, document fingerprinting. All are
  * built from codegen'd builtins (split / filter / regexp) — no UDFs, no
  * shuffle; they scale linearly with the scan.
  */
object TextStats {

  /** Per-language stopword lists for the n-gram/stopword heuristic
    * language scorer. Tiny on purpose: the mechanism (per-language hit
    * counting + argmax) is the operator; the lists are swappable. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "ein", "zu"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "dans"))

  private def words(text: Column): Column = split(lower(text), " ")

  /** Number of tokens from `list` appearing in the text (with
    * multiplicity). */
  def stopwordHits(text: Column, list: Seq[String]): Column =
    size(filter(words(text), w => w.isin(list: _*)))

  /** Language-ID: per-language stopword hit counts + argmax (ties broken
    * by list order; no hits → "und" per BCP-47 undetermined). */
  def langId(text: Column): Column = {
    val scores = stopwords.map { case (lang, list) => lang -> stopwordHits(text, list) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
    pick
  }

  /** Whitespace token count. NULL text counts like '' (one empty
    * token) — under legacy sizeOfNull a raw split(null) would return
    * -1 and silently pollute downstream sums (the bm25 fix class). */
  def wsTokens(text: Column): Column =
    size(split(coalesce(text, lit("")), " ")).cast("long")

  /** BPE-ish token count: letter runs, digit runs, and single
    * non-alphanumeric glyphs — a cheap proxy for subword tokenizers. */
  val bpeLikePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
  def bpeTokens(text: Column): Column =
    size(regexp_extract_all(coalesce(text, lit("")),
      lit(bpeLikePattern), lit(0))).cast("long")

  /** Length / punctuation / stopword-ratio quality score in [0,1]:
    *   0.4 * min(1, words/50) + 0.3 * (1 - punct_ratio) + 0.3 * stop_ratio
    * (rounded to 4). High = prose-like. */
  def qualityScore(text: Column): Column = {
    // NOTE deliberate ASCII-centric simplification: the punct class
    // counts every non-ASCII letter as punctuation, so accent-dense
    // es/de/fr prose scores lower than equivalent English — a real
    // multilingual pipeline should widen the class to \p{L}\p{N}.
    val t = coalesce(text, lit(""))
    // one kernel pass (word/punct/stopword counts together) — the
    // declarative split/regexp_extract_all/HOF-isin constructs ran
    // interpreted at 6.6 s per 50k docs (see TextQualityStats; the
    // kernel == declarative equality is pinned in AnnTextSpec); the
    // score arithmetic below stays declarative so the SQL oracle
    // replays the identical formula
    val st = graft.functions.GraftFunctions
      .textQualityStats(t, stopwords.flatMap(_._2).distinct)
    val nWords = st.getField("n_words").cast("double")
    val punct = st.getField("punct").cast("double")
    val stops = st.getField("stops").cast("double")
    val lenScore = least(lit(1.0), nWords / 50.0)
    val punctRatio = punct / greatest(length(t).cast("double"), lit(1.0))
    val stopRatio = stops / greatest(nWords, lit(1.0))
    graft.functions.Det.round4(
      lit(0.4) * lenScore + lit(0.3) * (lit(1.0) - punctRatio) + lit(0.3) * stopRatio)
  }

  /** Intra-document repetition (the Gopher-style "repetition" quality
    * signals): fraction of word n-gram occurrences that are repeats of
    * an earlier n-gram in the SAME document — high values flag
    * boilerplate/spam. rep = 1 - distinct_ngrams/total_ngrams, 0 for
    * docs shorter than n words. `words` must be a materialized array
    * attribute (see [[graft.text.Curation.wordNgrams]] for the
    * CollapseProject caveat). Pure per-row expressions. */
  def repetitionRatio(words: Column, n: Int): Column = {
    require(n >= 1, s"repetitionRatio: n must be >= 1, got $n")
    val grams = graft.text.Curation.rawWordNgrams(words, n)
    when(size(words) < n, lit(0.0)).otherwise(
      graft.functions.Det.round4(lit(1.0) - size(array_distinct(grams)).cast("double") /
        size(grams).cast("double")))
  }

  /** Bigram (n = 2) [[repetitionRatio]] straight from the TEXT via the
    * word_bigram_rep_stats kernel — one byte pass instead of the
    * interpreted gram-string HOF chain; equals
    * repetitionRatio(split(text, " "), 2) (spec-pinned). The generic
    * words-array form stays for other n / pre-split callers. */
  def repetitionRatio2(text: Column): Column = {
    val st = graft.functions.GraftFunctions.wordBigramRepStats(text)
    when(st.getField("n_words") < 2, lit(0.0)).otherwise(
      graft.functions.Det.round4(lit(1.0) -
        st.getField("dist").cast("double") /
        (st.getField("n_words") - 1).cast("double")))
  }

  /** Rolling-hash document fingerprint (polynomial hash of the
    * normalized text, base 31 mod 2^61-1 style via xxhash64 of the
    * normalized form — stable, collision-resistant, cheap). */
  def fingerprint(text: Column): Column =
    xxhash64(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the standard rolling-hash fingerprinting for local
    * plagiarism/near-dup detection): polynomial hash of every k-gram of
    * the normalized text (base 31, mod 1e9+7 — fixed small modulus so a
    * SQL oracle can reproduce the values bit-for-bit), sliding-window
    * (w) minima, then distinct + sorted. Two documents sharing any
    * substring of length >= k + w - 1 share at least one fingerprint
    * (the winnowing guarantee). Codegen kernel (one O(n) pass per row —
    * `graft.functions.WinnowFp`); requires GraftFunctions registration,
    * which this call performs lazily when a session is active. */
  def winnowFingerprints(text: Column, k: Int = 4, w: Int = 5): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.GraftFunctions.ensureRegistered)
    graft.functions.GraftFunctions.winnowFp(text, k, w)
  }

  /** CCNet-style language-model quality score: train a char-bigram LM
    * on the corpus itself, then score each document by its mean
    * cross-entropy under that model (nats per bigram, add-one
    * smoothed: P(b|a) = (c(ab)+1) / (c(a·)+V), V = distinct second
    * chars). Atypical documents (boilerplate, non-language noise)
    * score HIGH; fluent in-domain text scores low — the
    * perplexity-filter signal of CCNet (Wenzek et al. 2020) with the
    * n-gram model trained in-engine instead of imported.
    *
    * Determinism: each bigram's -ln P is rounded to decimal(20,15)
    * before the per-doc sum, so accumulation is exact and
    * partition-order-independent — the DuckDB oracle reproduces it
    * bit-for-bit (the repo's standard decimal-exact-sum discipline).
    *
    * Engine: the one [[graft.text.Curation.dsirWeights]] runs. Each
    * document folds to a bigram_counts map keyed `cp1 << 21 | cp2`; one
    * dsir_model_agg job trains the alphabet²-bounded model onto the
    * driver (context = key >>> 21, vocabulary = distinct key & 0x1FFFFF),
    * Spark casts each distinct bigram's `-ln P` on a local frame, and
    * scoring is the dsir_score fold over unscaled scale-15 longs: no
    * explode, no join, no per-row decimal, no pinned checkpoint.
    * EAGER: constructing the result runs the training job. Docs
    * shorter than one bigram drop (mirrored by the oracle); duplicate
    * ids pool into one score. Returns (id, n_bigrams, nats). */
  def lmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.GraftFunctions.{bigramCounts, dsirModelAgg, dsirScore}
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val counts = docs
      .select(col(idCol), lower(col(textCol)).as("t"))
      .filter(length(col("t")) >= 2)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col(idCol), bigramCounts(col("t")).as("__bc"))
    val model = counts.select(dsirModelAgg(col("__bc"), lit(true)))
      .head().getMap[Long, scala.collection.Seq[Long]](0)
      .iterator.map { case (g, cc) => (g, cc.head) }.toSeq
    val ctx = model.groupMapReduce(_._1 >>> 21)(_._2)(_ + _)
    val nv = model.iterator.map(_._1 & 0x1FFFFFL).toSet.size.toDouble
    import spark.implicits._
    val nll: Map[Long, String] = model.map { case (g, c) => (g, c, ctx(g >>> 21)) }
      .toDF("g", "c", "ca")
      .select(col("g"), (-log((col("c").cast("double") + 1) /
          (col("ca").cast("double") + lit(nv)))).cast("decimal(20,15)").cast("string"))
      .collect().iterator.map(r => r.getLong(0) -> r.getString(1)).toMap
    counts
      .select(col(idCol), dsirScore(col("__bc"), typedLit(nll)).as("__sc"))
      .groupBy(col(idCol))
      .agg(sum(col("__sc.n_feats")).as("n_bigrams"), sum(col("__sc.s")).as("__s"))
      // exact decimal sum → round(6) → IDENTICAL double on both engines,
      // then one double division + round(4): no decimal-division scale
      // rules in play (they differ between engines)
      .select(col(idCol), col("n_bigrams"),
        graft.functions.Det.round4(round(col("__s"), 6).cast("double") / col("n_bigrams")).as("nats"))
  }

  /** Declarative reference form of [[winnowFingerprints]], kept as the
    * cross-check for KernelPropertySpec-style equivalence tests. DO NOT
    * use on real data: CollapseProject re-inlines the k-gram hash array
    * into every window slice, making it O(n²·k) per row (the same
    * reason the MinHash signature has a codegen kernel). */
  def winnowFingerprintsDecl(text: Column, k: Int = 4, w: Int = 5): Column = {
    require(k >= 2 && k <= 8 && w >= 1, s"winnow: bad k=$k / w=$w")
    val t = lower(trim(regexp_replace(text, "\\s+", " ")))
    val pows = (0 until k).map(j => math.pow(31.0, (k - 1 - j).toDouble).toLong)
    val hs = transform(sequence(lit(1), greatest(length(t) - (k - 1), lit(1))),
      i => pows.zipWithIndex.map { case (p, j) =>
        ascii(t.substr(i + j, lit(1))).cast("long") * lit(p)
      }.reduce(_ + _) % lit(1000000007L))
    array_sort(array_distinct(transform(
      sequence(lit(1), greatest(size(hs) - (w - 1), lit(1))),
      j => array_min(slice(hs, j, lit(w))))))
  }
}
