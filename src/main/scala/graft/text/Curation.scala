package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Corpus-curation operators for a training-data pipeline: deterministic
  * train/val/test splitting, PII scrubbing, benchmark decontamination,
  * and a KMV (k-minimum-values) distinct-count sketch. These go beyond
  * the reference's own surface (SURVEY.md §2 "LLM-pipeline") but follow
  * the same design rules: declarative Column expressions in the scan
  * stage wherever possible, candidate generation always blocked/keyed,
  * no driver-side collects.
  *
  * Everything here is content-addressed via md5 so the DuckDB oracle can
  * recompute byte-identical results (md5 hex is lowercase in both
  * engines, so lexicographic threshold compares agree).
  */
object Curation {

  // ---- deterministic content split -------------------------------------

  /** Threshold hex literal for a cumulative fraction of the 32-bit hash
    * space: f=0.8 → "cccccccc" (0.8 * 2^32, floor, zero-padded). */
  private[graft] def hexThreshold(f: Double): String = {
    require(f >= 0.0 && f <= 1.0, s"fraction must be in [0,1], got $f")
    "%08x".format(math.floor(f * 4294967296.0).toLong min 0xFFFFFFFFL)
  }

  /** Content-addressed split label. Hashing the CONTENT (not the id)
    * keeps assignment stable under re-ingestion, re-partitioning, and
    * id re-assignment — the property a training pipeline needs so that
    * val/test never leak into train across dataset versions. Pure
    * scan-stage expression: no shuffle, no state.
    *
    * fracs are (label, fraction) with fractions summing to <= 1; rows
    * past the last cumulative threshold get `lastLabel`. */
  def splitLabel(content: Column, fracs: Seq[(String, Double)],
                 lastLabel: String): Column = {
    require(fracs.nonEmpty, "splitLabel: fracs must be non-empty")
    val h = substring(md5(content), 1, 8)
    val cum = fracs.scanLeft(0.0)(_ + _._2).tail
    require(cum.last <= 1.0 + 1e-9, "fractions must sum to <= 1")
    fracs.zip(cum).foldRight(lit(lastLabel): Column) { case (((label, _), c), rest) =>
      // a cumulative fraction of 1.0 must capture EVERY hash — the
      // clamped "ffffffff" threshold would strand the top hash value
      if (c >= 1.0) lit(label)
      else when(h < lit(hexThreshold(c)), lit(label)).otherwise(rest)
    }
  }

  /** The matching DuckDB oracle expression over a column expr `content`. */
  def splitLabelSql(content: String, fracs: Seq[(String, Double)],
                    lastLabel: String): String = {
    require(fracs.nonEmpty, "splitLabelSql: fracs must be non-empty")
    def q(l: String) = l.replace("'", "''") // SQL string-literal escape
    val cum = fracs.scanLeft(0.0)(_ + _._2).tail
    val whens = fracs.zip(cum).map { case ((label, _), c) =>
      if (c >= 1.0) s"WHEN TRUE THEN '${q(label)}'"
      else s"WHEN substr(md5($content), 1, 8) < '${hexThreshold(c)}' THEN '${q(label)}'"
    }.mkString(" ")
    s"CASE $whens ELSE '${q(lastLabel)}' END"
  }

  // ---- PII scrubbing ----------------------------------------------------

  /** Shared regex subset: no lookarounds, no backrefs — valid in both
    * java.util.regex (Spark codegen) and RE2 (the DuckDB oracle). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** Redact emails, SSNs, then phone numbers (order matters: the SSN
    * 3-2-4 shape must not see phone fragments already rewritten; the
    * oracle applies the same order). Pure scan-stage expressions that
    * stay inside WholeStageCodegen.
    *
    * DECLARATIVE SPEC TWIN: production callers should use
    * [[graft.functions.GraftFunctions.piiScrubStats]] — one kernel
    * call replacing these six regex passes (2.5 s → kernel-speed at
    * sf1); PiiKernelSpec pins kernel ≡ this chain. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        SsnRe, "<SSN>"),
      PhoneRe, "<PHONE>")

  /** Number of PII spans scrubPii redacts: each pattern is counted on
    * the same progressively-scrubbed text the replacement chain sees,
    * so overlapping spans (an SSN-shaped email local part, say) count
    * once, exactly like they are replaced once. */
  def piiCount(text: Column): Column = {
    val afterEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val afterSsn = regexp_replace(afterEmail, SsnRe, "<SSN>")
    (size(regexp_extract_all(text, lit(EmailRe), lit(0))) +
      size(regexp_extract_all(afterEmail, lit(SsnRe), lit(0))) +
      size(regexp_extract_all(afterSsn, lit(PhoneRe), lit(0)))).cast("long")
  }

  // ---- benchmark decontamination ---------------------------------------

  /** Word n-grams (with repeats) of a words ARRAY column. The lambda
    * only references `words` as a bound attribute (evaluated once per
    * row) — callers must materialize the split() behind a projection
    * barrier (e.g. a repartition) so CollapseProject cannot inline the
    * split into the per-element lambda (O(len²) blowup otherwise).
    * Documents shorter than n words contribute one truncated gram,
    * matching DuckDB's clamped list slice. Shared by the contamination
    * sweep and [[graft.text.TextStats.repetitionRatio]]. */
  def rawWordNgrams(words: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(size(words) - (n - 1), lit(1))),
      i => array_join(slice(words, i, lit(n)), " "))

  /** Distinct word n-grams — see [[rawWordNgrams]] for the caveats. */
  def wordNgrams(words: Column, n: Int): Column =
    array_distinct(rawWordNgrams(words, n))

  /** Contamination check: which corpus documents share any word n-gram
    * with a benchmark (eval-set) document — the standard pre-training
    * hygiene sweep. Returns (id, n_hits = #distinct shared n-grams).
    *
    * Scale shape: both sides explode to (gram-HASH) rows — the
    * codegen'd word_window_hashes kernel digests each n-word window as
    * a contiguous byte slice of the original text (join delimiter ==
    * split delimiter), so no gram string is ever materialized and the
    * round-robin exchange carries raw text, not split arrays (the
    * prior transform/slice/array_join form ran as interpreted HOFs and
    * shuffled 2.5× the bytes). The sides meet in an equi-join on the
    * 8-byte hash — never a cross join; the benchmark side is small by
    * contract but NOT explicitly broadcast (AQE promotes it when it
    * truly fits — corpus-derived build sides killed us in round 2).
    * countDistinct is two-phase (partial per partition). Hash-identity
    * discipline as elsewhere: n_hits tolerates ~pairs²/2^65 gram-hash
    * collisions; the bit-exact DuckDB oracle would catch one. A
    * sub-n-word document contributes its whole text as the one
    * truncated gram (the oracle's clamped slice), hashed by xxhash64 —
    * truncated grams have < n words so they can never equal a full
    * window under string semantics, and cross-algorithm hash equality
    * is as likely as any other collision. */
  def contamination(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    val parts = corpus.sparkSession.sparkContext.defaultParallelism
    def grams(df: DataFrame, width: Int, cols: Column*): DataFrame = {
      val h = graft.functions.GraftFunctions.wordWindowHashes(col(textCol), n)
      df.select((cols :+ col(textCol)): _*)
        // round-robin exchange: spreads the per-row gram work off the
        // single parquet split; the kernel runs above it on raw text
        .repartition(width)
        .select((cols :+ explode(
          when(size(h) === 0, array(xxhash64(col(textCol)))).otherwise(h)).as("gram")): _*)
    }
    // benchmark width: small-by-contract side — full corpus width just
    // buys 32 tasks of scheduling overhead on a few hundred docs
    val benchGrams = grams(benchmark, math.max(parts / 4, 1)).distinct()
    grams(corpus, parts, col(idCol))
      .join(benchGrams, "gram")
      .groupBy(idCol)
      .agg(countDistinct(col("gram")).as("n_hits"))
  }

  // ---- line-level dedup -------------------------------------------------

  /** RefinedWeb/CCNet-style line-level dedup: a (trimmed) line that
    * occurs at least `minCount` times ACROSS THE CORPUS is dropped from
    * every document — the standard scrub for boilerplate (nav bars,
    * cookie banners, signatures) that survives document-level dedup.
    * Returns (id, n_lines, n_dropped, kept_text) with kept lines
    * rejoined in original order; kept_text is NULL when every line
    * dropped (matching the oracle's string_agg over zero rows). NULL
    * text coalesces to one empty line (the doc stays in the output —
    * dropping it silently would lose rows across a re-join on the id),
    * and empty lines count like any other line.
    *
    * Scale shape (round 10 — the decontaminate recipe applied to the
    * line exchange): the raw text rides ONE deterministic id-hash
    * exchange with two readers (the line branch and the final
    * join-back — ReuseExchange keeps one copy); only 8-byte
    * xxhash64(line) keys + int positions ever leave the explode, so no
    * line STRING is shuffled anywhere. The count aggregate and the
    * line⋈count equi-join run on the hash; the count side filters to
    * BOILERPLATE hashes (cnt ≥ minCount) before the join, so the join
    * output and the per-doc dropped-positions aggregate carry only the
    * hits, not the corpus. kept_text is re-derived from the original
    * text by position (trim each line, skip the dropped positions) —
    * the prior form shuffled every line string three times (count key,
    * join key, per-doc collect) and sorted full (pos, line) structs.
    * Hash-identity discipline as in [[contamination]]: a 2^-64
    * line-hash collision conflates two distinct lines' counts; the
    * bit-exact DuckDB oracle (which joins on the line string) would
    * catch one. The count side is corpus-derived, so never an explicit
    * broadcast — AQE promotes the filtered hit table when it fits. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                minCount: Long): DataFrame = {
    require(minCount >= 2, s"lineDedup: minCount must be >= 2, got $minCount")
    val parts = df.sparkSession.sparkContext.defaultParallelism
    val docs = df
      .select(col(idCol), coalesce(col(textCol), lit("")).as("__t"))
      .repartition(parts, col(idCol))
    val lines = docs
      .select(col(idCol),
        posexplode(split(col("__t"), "\n")).as(Seq("pos", "raw")))
      .select(col(idCol), col("pos"), xxhash64(trim(col("raw"))).as("lh"))
    // count(idCol), not count(1): referencing the id keeps this branch's
    // below-exchange projection identical to the other two readers of
    // the raw-text exchange (the pruning-defeats-reuse trap — a pruned
    // doc_id-free subtree would re-run the scan). Deliberate corner: a
    // null-id doc's lines don't VOTE for boilerplate (count skips null
    // ids) though they are still scrubbed; the id contract is non-null.
    val boiler = lines.groupBy("lh").agg(count(col(idCol)).as("__cnt"))
      .filter(col("__cnt") >= minCount)
      .select("lh")
    val dropped = lines.join(boiler, "lh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nd"), collect_list(col("pos")).as("__dp"))
      .withColumnRenamed(idCol, "__rid")
    val allTrimmed = transform(split(col("__t"), "\n"), x => trim(x))
    val keptArr = filter(allTrimmed,
      (_, i) => !array_contains(coalesce(col("__dp"), array().cast("array<int>")), i))
    // null-safe join key: <=> both handles a null-id doc (it matches its
    // own dropped group, like the old groupBy form did) AND stops the
    // planner inferring isnotnull(id) onto the dropped side's scan —
    // that inferred filter de-canonicalizes the exchange subtree and
    // forfeits the three-way ReuseExchange.
    docs.join(dropped, col(idCol) <=> col("__rid"), "left")
      .select(col(idCol),
        size(split(col("__t"), "\n")).cast("long").as("n_lines"),
        coalesce(col("__nd"), lit(0L)).as("n_dropped"),
        when(size(keptArr) === 0, lit(null).cast("string"))
          .otherwise(array_join(keptArr, "\n")).as("kept_text"))
  }

  // ---- Gopher quality rules ---------------------------------------------

  /** The Gopher (Rae et al. 2021) stopword set used by the
    * must-contain-2 rule. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rules (Rae et al. 2021, table A1
    * subset): word count in [minWords, maxWords], mean word length in
    * [3, 10], symbol-to-word ratio ('#' or '…' as '...') below 0.1,
    * >= 80% of words containing an alphabetic character, and at least
    * 2 stopwords. Returns per-doc metrics plus the conjunctive `keep`
    * flag.
    *
    * DELIBERATE simplifications vs the paper, chosen so the rules stay
    * a single SQL-oracle-checkable expression: words split on the
    * SPACE character only (newline-joined prose fuses at the joins —
    * run after a line-level stage or pre-normalize whitespace), and
    * the stopword test is exact lowercase match (capitalized or
    * punctuation-suffixed instances don't count — documents at the
    * nStop boundary should pre-normalize).
    *
    * Pure scan-stage Column expressions (no shuffle, no UDF): the whole
    * filter runs inside WholeStageCodegen during the first pass over
    * the corpus, which is exactly where a 100 TB curation pipeline
    * wants its cheap kill rules. */
  def gopherQuality(df: DataFrame, idCol: String, textCol: String,
                    minWords: Long = 50, maxWords: Long = 100000,
                    passThrough: Seq[String] = Nil): DataFrame = {
    val outNames = Seq("n_words", "mean_word_len", "frac_alpha_words",
      "n_stopwords", "symbol_ratio", "keep")
    val clash = passThrough.map(_.toLowerCase)
      .intersect(outNames ++ Seq(idCol.toLowerCase))
    require(clash.isEmpty, s"gopherQuality: passThrough columns " +
      s"${clash.mkString(", ")} collide with the emitted columns")
    val t = coalesce(col(textCol), lit(""))
    val words = split(t, " ")
    val nWords = size(words).cast("long")
    val meanWl = graft.functions.Det.round4(length(regexp_replace(t, " ", "")).cast("double") / nWords)
    val fracAlpha = graft.functions.Det.round4(
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / nWords)
    val nStop = size(filter(words, w => w.isInCollection(GopherStopwords))).cast("long")
    val nHash = length(t) - length(regexp_replace(t, "#", ""))
    val nEllipsis = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3
    val symRatio = graft.functions.Det.round4((nHash + nEllipsis).cast("double") / nWords)
    val keep = nWords.between(minWords, maxWords) &&
      meanWl.between(3.0, 10.0) && symRatio < 0.1 &&
      fracAlpha > 0.8 && nStop >= 2
    df.select(Seq(col(idCol), nWords.as("n_words"), meanWl.as("mean_word_len"),
      fracAlpha.as("frac_alpha_words"), nStop.as("n_stopwords"),
      symRatio.as("symbol_ratio"), keep.as("keep")) ++
      passThrough.map(col): _*)
  }

  // ---- C4 heuristic cleaning --------------------------------------------

  /** C4-style heuristic cleaning (Raffel et al. 2020, §2.2 of the T5
    * paper): keep only lines that end in a terminal punctuation mark
    * (`. ! ? "`) AND contain at least `minLineWords` words; kill the
    * whole document when fewer than `minSentences` lines survive, or
    * when it contains "lorem ipsum" (any case) or a curly brace (code
    * markers). Returns (id, n_lines, n_kept, keep, cleaned_text) with
    * kept lines rejoined in order; cleaned_text is NULL when nothing
    * survives.
    *
    * Scale shape: pure scan-stage higher-order functions (split /
    * filter / array_join) — NO shuffle, no state, no UDF; the whole
    * rule set runs inside WholeStageCodegen on the first pass over the
    * corpus, which is where a 100 TB pipeline wants its kill rules
    * (C4 drops ~80% of Common Crawl at this stage, so every byte
    * filtered here never reaches an exchange). */
  def c4Clean(df: DataFrame, idCol: String, textCol: String,
              minSentences: Int = 3, minLineWords: Int = 5): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val lines = split(t, "\n")
    val keptLines = filter(lines, l =>
      trim(l).rlike("[.!?\"]$") &&
        size(split(trim(l), " ")) >= minLineWords)
    val nKept = size(keptLines).cast("long")
    val bad = lower(t).contains("lorem ipsum") || t.contains("{")
    val keep = nKept >= minSentences && !bad
    df.select(col(idCol), size(lines).cast("long").as("n_lines"),
      nKept.as("n_kept"), keep.as("keep"),
      when(nKept === 0, lit(null).cast("string"))
        .otherwise(array_join(transform(keptLines, l => trim(l)), "\n"))
        .as("cleaned_text"))
  }

  // ---- sequence packing -------------------------------------------------

  /** GPT-style sequence packing: per shard, documents are concatenated
    * into one token stream and sliced into fixed-length context windows;
    * a document may straddle a window boundary. Returns each document's
    * token offset in its shard stream and the [first_chunk, last_chunk]
    * window range it occupies.
    *
    * Scale shape: the running sum is a window PARTITIONED BY the shard
    * column — one global ordering would funnel 100 TB through a single
    * window partition, while per-shard packing gives one independent
    * running sum per shard (the way training shards are actually
    * packed). Requires a unique idCol per shard for determinism. */
  def packChunks(df: DataFrame, idCol: String, textCol: String,
                 shardCol: String, contextLen: Int): DataFrame = {
    require(contextLen > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(idCol))
    df.select(col(shardCol), col(idCol),
        // NULL text counts like '' (one empty token) — a NULL n_tokens
        // would corrupt the running sum into inconsistent offsets
        graft.text.TextStats.wsTokens(coalesce(col(textCol), lit(""))).as("n_tokens"))
      .withColumn("tok_end", sum(col("n_tokens")).over(w))
      .select(col(shardCol), col(idCol), col("n_tokens"),
        (col("tok_end") - col("n_tokens")).as("tok_offset"),
        floor((col("tok_end") - col("n_tokens")) / contextLen).cast("long").as("first_chunk"),
        floor((col("tok_end") - 1) / contextLen).cast("long").as("last_chunk"))
  }

  // ---- contiguous global ids --------------------------------------------

  /** Contiguous 0-based global ids in a deterministic total order —
    * WITHOUT funnelling the corpus through one window partition (the
    * row_number-over-everything trap). Range-partition + sort on the
    * order keys, then `zipWithIndex` over that ONE RDD: Spark's
    * zipWithIndex is exactly the two-pass scheme (job 1 counts each
    * partition, job 2 adds the partition offset to a local counter),
    * and running it over a single RDD instance pins a single
    * RangePartitioner — two separately-planned DataFrame branches
    * would each re-sample range boundaries (the sample seed varies
    * per RDD) and could disagree on partition membership, corrupting
    * the ids. One of the few places per-partition imperative RDD code
    * beats the DataFrame algebra. `orderCols` must be a total order
    * (include a unique tiebreak) or ids among ties are
    * partition-dependent. Returns the input plus `idName`. */
  def assignIds(df: DataFrame, orderCols: Seq[String],
                idName: String = "gid"): DataFrame = {
    require(orderCols.nonEmpty, "assignIds: need at least one order column")
    require(!df.columns.contains(idName),
      s"assignIds: column $idName already exists")
    val keys = orderCols.map(col)
    val sorted = df.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        idName, org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ i)
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** CCNet-style quality bucketing (Wenzek et al. 2020): rank every row
    * by a quality score and cut the corpus into head/middle/tail
    * TERCILES BY RANK, not by interpolated score boundaries. Rank cuts
    * are integer-exact (`rank*3 < n`), so the assignment is portable
    * across engines — a value-interpolated tercile boundary is a double
    * whose last-ulp arithmetic differs between engines and silently
    * flips boundary docs. Ties on the score are broken by id, making
    * the order total and the buckets deterministic.
    *
    * Scale shape: rides [[assignIds]] (range-partition + per-partition
    * numbering — no single-partition window over the data); only the
    * 1-row count crosses as a literal broadcast. */
  def rankBuckets(df: DataFrame, scoreCol: String, idCol: String): DataFrame = {
    val ranked = assignIds(df, Seq(scoreCol, idCol), "__rk")
    val n = ranked.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .select(col(idCol), col(scoreCol),
        when(col("__rk") * 3 < col("__n"), "head")
          .when(col("__rk") * 3 < col("__n") * 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  // ---- domain mixing ----------------------------------------------------

  /** Deterministic uniform domain mix: every group (source/domain) is
    * downsampled toward the SMALLEST group's size by keeping rows whose
    * 32-bit content-hash fraction falls below min_count/group_count —
    * the Pile/Dolma-style mixing step, reproducible across runs and
    * re-partitionings (no rand()), stable under re-ingestion (content
    * hash, like [[splitLabel]]). Sizes land within sampling noise of
    * the target, not exactly on it. Returns the kept rows' (groupCol,
    * idCol).
    *
    * Scale shape: one partial-aggregated group-count shuffle; the
    * per-group rates fold back via an equi-join on the group — NO
    * explicit broadcast hint (the rate table is corpus-derived: one
    * row per domain, millions when mixing at host granularity — AQE
    * broadcasts it only while it truly fits); the keep test is a
    * scan-stage expression. Only the single-row min crosses as a
    * literal broadcast. */
  def domainMix(df: DataFrame, groupCol: String, idCol: String,
                contentCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val minN = counts.agg(min(col("__n")).as("__m"))
    val rates = counts.crossJoin(broadcast(minN))
      .select(col(groupCol).as("__g"), (col("__m").cast("double") / col("__n")).as("__rate"))
    val frac = kmvHash(col(contentCol)).cast("double") / lit(4294967296.0)
    // null-safe key: a NULL group is counted above (it can even be the
    // minimum that sets every other group's rate), so its rows must
    // flow through the sampler too — a plain equi-join drops them
    df.join(rates, col(groupCol) <=> col("__g"))
      .filter(frac < col("__rate"))
      .select(groupCol, idCol)
  }

  /** Token budget per domain — the planning table behind any mix
    * decision ("which domains dominate, where does the top-p cut
    * fall"): docs, token totals, corpus share, and the cumulative share
    * in largest-first order.
    *
    * Scale shape: one partial-aggregated shuffle reduces the corpus to
    * |domains| rows; only the single-row grand total is broadcast. The
    * cumulative share is a window over the ALREADY-AGGREGATED domain
    * table (rows = |domains|, not |corpus|) — the one place a
    * single-partition window is the honest answer, because "cumulative
    * in global rank order" is inherently sequential and its input is
    * the reduced table. */
  def tokenBudget(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val per = df.groupBy(col(groupCol)).agg(
      count(lit(1)).cast("long").as("docs"),
      sum(size(split(coalesce(col(textCol), lit("")), " ")).cast("long")).as("tokens"))
    val total = per.agg(sum(col("tokens")).cast("double").as("__t"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("tokens").desc, col(groupCol))
    per.crossJoin(broadcast(total))
      .select(col(groupCol), col("docs"), col("tokens"),
        graft.functions.Det.round(col("tokens") / col("__t"), 6).as("share"),
        graft.functions.Det.round(
          sum(col("tokens")).over(w).cast("double") / col("__t"), 6).as("cum_share"))
  }

  // ---- end-to-end curation pipeline ------------------------------------

  /** The standard curation gauntlet in one operator — exact dedup, C4
    * line rules, Gopher quality rules, then the CCNet perplexity-tail
    * cut — with PROVENANCE: every document gets the FIRST stage that
    * killed it as its `reason` (null = survived all four). This is the
    * shape a production corpus actually flows through (Dolma, RefinedWeb,
    * FineWeb pipelines), and per-stage attribution is what you tune mix
    * decisions against.
    *
    * Stage order (cheap→expensive is the scan order at scale; reasons
    * report the FIRST kill): duplicate (non-canonical copy of an exact
    * fingerprint group) → c4 → gopher → lm_tail (worst rank-tercile of
    * the in-engine char-bigram cross-entropy).
    *
    * Scale shape: each stage is itself scale-shaped ([[c4Clean]] and
    * [[gopherQuality]] pure scan-stage; the fingerprint group and LM
    * model keyed aggregates; [[rankBuckets]] rides assignIds); the
    * stages meet in id-keyed equi-joins. Returns (idCol, keep,
    * reason). */
  def curationPipeline(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    // coalesce BEFORE fingerprinting: normText propagates NULL, a NULL
    // __fp never matches in the equi-join below, and the doc would
    // silently vanish from the output (violating the every-doc-gets-a-
    // reason contract). NULL text clusters with '' here — both are
    // "no content" for dedup purposes.
    val fp = docs.select(col(idCol),
      md5(graft.dedup.Dedup.normText(coalesce(col(textCol), lit("")))).as("__fp"))
    val keep0 = fp.groupBy(col("__fp")).agg(min(col(idCol)).as("__keep"))
    val dup = fp.join(keep0, "__fp")
      .select(col(idCol), (col(idCol) =!= col("__keep")).as("__dup"))
    val c4 = c4Clean(docs, idCol, textCol)
      .select(col(idCol), col("keep").as("__c4"))
    val gq = gopherQuality(docs, idCol, textCol)
      .select(col(idCol), col("keep").as("__gq"))
    val lm = graft.text.TextStats.lmScore(docs, idCol, textCol)
    val tail = rankBuckets(lm.select(col(idCol), col("nats")), "nats", idCol)
      .select(col(idCol), (col("bucket") === "tail").as("__lmtail"))
    docs.select(col(idCol))
      .join(dup, idCol)
      .join(c4, idCol)
      .join(gq, idCol)
      // lmScore drops sub-2-char docs; they simply skip the LM stage
      .join(tail, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__dup"), "duplicate")
          .when(!col("__c4"), "c4")
          .when(!col("__gq"), "gopher")
          .when(coalesce(col("__lmtail"), lit(false)), "lm_tail")
          .as("reason"))
      .select(col(idCol), col("reason").isNull.as("keep"), col("reason"))
  }

  // ---- DSIR importance weights -----------------------------------------

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling",
    * arXiv:2302.03169): score every document by the log-likelihood
    * ratio of a TARGET-domain bag-of-features model over the SOURCE
    * model — log w(x) = Σ_f [ln P̂_tgt(f) − ln P̂_src(f)] over the
    * document's word unigram+bigram occurrences, add-one smoothed.
    * High-weight source docs "look like" the target domain and get
    * resampled into the training mix.
    *
    * Determinism: the two smoothed lls collapse into ONE ln of a ratio
    * of exact integer-derived products, truncated to decimal(30,15)
    * before the per-doc sum — the repo's standard decimal-exact-sum
    * discipline (see [[graft.text.TextStats.lmScore]]), so accumulation
    * is partition-order-independent and the oracle matches bit-for-bit.
    *
    * Scale shape (reworked after the r6 profile): features are keyed
    * by xxhash64 THROUGHOUT — unigrams as xxhash64(word), bigrams as
    * xxhash64(word_i, word_i+1), which hashes the PAIR directly and
    * never materializes the "w1 w2" string the r6 form concat_ws'd
    * once per occurrence per pass (the profiled per-row cost driver).
    * The exploded column, the model's group-by key, and the broadcast
    * probe key are all 8-byte longs. Feature IDENTITY rides on the
    * hash under the repo's standard collision-acceptance discipline
    * (same as the md5-fingerprint dedup operators): a 64-bit collision
    * merges two features' counts — P ≈ n²/2^65, i.e. 2.7·10^-8 at a
    * million-feature vocabulary (at billion-feature vocabularies,
    * where P reaches ~3%, use [[dsirWeightsHashed]], whose collisions
    * are the algorithm's own contract); the string-keyed oracle pins
    * the values exactly at test scales. Two corpus passes remain (training +
    * scoring) — measured CHEAPER than materializing the per-doc count
    * table, which collapses only 1.53× on this corpus (4.1M distinct
    * (doc, feat) pairs of 6.3M occurrences at sf1) while costing a
    * corpus-scale shuffle + checkpoint. A map-side partial aggregate
    * reduces the training shuffle to distinct-features-per-partition;
    * the scoring pass probes a broadcast and partially aggregates per
    * doc before its tiny doc-keyed shuffle.
    *
    * The per-feature log-ratio table is HINT-broadcast into the
    * Zipfian scoring join (see the inline comments for why the planner
    * cannot pick this side itself). In DSIR's own formulation features
    * are hashed into a FIXED bucket count precisely so the model stays
    * a bounded dim — [[dsirWeightsHashed]] is that form, oracle-pinned.
    *
    * EAGER + PINNED (by design): constructing this DataFrame runs the
    * model-training job immediately (graft.ops.Mat localCheckpoints the
    * vocabulary aggregate — the lazy form recomputed the exploded-
    * feature pass three times and mis-planned the build side), and the
    * checkpoint's MEMORY_AND_DISK blocks stay pinned until the session
    * ends or the caller runs the standard post-query hygiene
    * ([[graft.GraftSession.unpersistAll]]: clear the Dataset cache,
    * then unpersist every remaining persistent RDD) once the result is
    * consumed — what Bench and Verify do). A long-lived session calling
    * dsirWeights repeatedly WITHOUT that hygiene accumulates one
    * vocabulary-sized block set per call.
    *
    * Returns (idCol, is_target, n_feats, logw). */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column): DataFrame =
    dsirCore(docs, idCol, textCol, isTarget,
      graft.functions.GraftFunctions.wordNgramCounts)

  /** The shared DSIR engine: one tokenize pass through `featCounts`
    * (a kernel column mapping text → per-doc feature→count map),
    * model training as a typed-imperative map-fold, driver-resident
    * bounded model, and a no-explode no-join scoring fold. */
  private def dsirCore(docs: DataFrame, idCol: String, textCol: String,
                       isTarget: Column,
                       featCounts: Column => Column): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val parts = spark.sparkContext.defaultParallelism
    // ONE tokenize pass: the kernel (codegen'd; one tight loop over
    // the UTF-8 bytes) folds each document straight to its
    // (feature → count) map — 2n−1 occurrences never exist as rows.
    // Materialized ONCE (this per-doc hashed-count table is exactly
    // the artifact DSIR's reference implementation persists) and read
    // twice: model training and scoring. Raw text is repartitioned
    // BEFORE tokenization — the parquet is a handful of input splits
    // at test scale, and the shuffle carries the raw string once.
    //
    // A NULL target flag means "not in the target set": it must land
    // in the SOURCE model (a three-valued !NULL would count it in
    // neither model, silently shifting every weight).
    val counts = graft.ops.Mat(docs
      .select(col(idCol), coalesce(isTarget.cast("boolean"), lit(false)).as("__tgt"),
        coalesce(col(textCol), lit("")).as("__t"))
      .repartition(parts)
      .select(col(idCol), col("__tgt"), featCounts(col("__t")).as("__fc")))
    // Model training: dsir_model_agg folds the count maps straight
    // into the feature → [target_count, source_count] model with
    // hashmap arithmetic — NO occurrence (or even distinct-pair)
    // explode; each partition ships one vocabulary-bounded partial
    // map. The explode + groupBy row form was profiled 2× this cost
    // at sf1 purely on Generate machinery.
    val modelMap = counts
      .select(graft.functions.GraftFunctions.dsirModelAgg(col("__fc"), col("__tgt"))
        .as("m"))
      .head().getMap[Long, scala.collection.Seq[Long]](0)
    val modelRows = modelMap.iterator.map { case (f, cc) => (f, cc.head, cc(1)) }.toSeq
    // Per-feature log-likelihood ratio, truncated to decimal(30,15):
    // every occurrence of a feature contributes the identical decimal,
    // so the document sums (and the string-keyed oracle) match
    // bit-for-bit. The model is driver-resident — it is bounded
    // (vocabulary-sized; callers with unbounded free-text vocabularies
    // use dsirWeightsHashed, where it is ≤ the bucket count), the same
    // memory the r6 broadcast-join build held — but the lr arithmetic
    // must stay SPARK-evaluated: a hand-rolled driver Math.log +
    // BigDecimal rounding would have to re-implement Cast's
    // double→decimal semantics and silently drift if they ever change.
    // So the 1529-row model round-trips through a local DataFrame and
    // the engine computes lr exactly as the r6 plan did.
    import spark.implicits._
    val nt = modelRows.iterator.map(_._2).sum.toDouble
    val ns = modelRows.iterator.map(_._3).sum.toDouble
    val v = modelRows.size.toDouble
    val lrMap: Map[Long, String] = spark.createDataset(modelRows)
      .toDF("feat", "ct", "cs")
      .select(col("feat"),
        log(((col("ct") + 1) * (lit(ns) + lit(v))) /
            ((col("cs") + 1) * (lit(nt) + lit(v))))
          .cast("decimal(30,15)").cast("string").as("lr"))
      .collect().iterator.map(r => r.getLong(0) -> r.getString(1)).toMap
    // Scoring: fold each document's count map against the model in one
    // codegen-adjacent kernel pass — no explode, no join, no Zipfian
    // key anywhere (the r6 broadcast-join form probed the model once
    // per OCCURRENCE; this touches each doc once). Σ cnt·lr over exact
    // decimals ≡ the per-occurrence Σ lr, so the oracle matches
    // bit-for-bit. The trailing groupBy preserves the multi-row-per-id
    // contract (features of duplicate ids pool into one score) and is
    // doc-keyed — rows ≤ documents, not occurrences.
    counts
      .select(col(idCol), col("__tgt"),
        graft.functions.GraftFunctions.dsirScore(col("__fc"),
          typedLit(lrMap)).as("__sc"))
      .groupBy(col(idCol), col("__tgt"))
      .agg(sum(col("__sc.n_feats")).as("n_feats"), sum(col("__sc.s")).as("__s"))
      .select(col(idCol), col("__tgt").as("is_target"), col("n_feats"),
        round(col("__s"), 6).cast("double").as("logw"))
  }

  /** DSIR with features hashed into a FIXED bucket count — the form
    * the paper actually runs at scale (Xie et al. 2023 §3.1 hash the
    * n-grams into 10k buckets): bucket = md5(feat)-derived 60-bit int
    * mod `buckets`, counts summed per bucket, so the model is a
    * BOUNDED dim (≤ `buckets` rows) no matter how large the corpus
    * vocabulary grows — the broadcast in the scoring join can never
    * outgrow an executor. Collisions merge features by design; both
    * engines compute the identical md5-based bucket, so the oracle
    * pins the collided model bit-for-bit.
    *
    * Same engine as [[dsirWeights]] (dsirCore), different kernel:
    * word_ngram_md5_buckets digests CONTIGUOUS byte slices of the
    * text (a "w1 w2" bigram is literally the original bytes between
    * the two word boundaries) and takes the digest's first 60 bits
    * directly — no hex string, no conv(), no concat — so the
    * oracle-pinned md5 bucketing costs barely more than the FNV form
    * (the declarative md5→substring→conv pipeline was 3× slower at
    * sf1 on string machinery alone). */
  def dsirWeightsHashed(docs: DataFrame, idCol: String, textCol: String,
                        isTarget: Column, buckets: Int = 4096): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    dsirCore(docs, idCol, textCol, isTarget,
      t => graft.functions.GraftFunctions.wordNgramMd5Buckets(t, buckets))
  }

  // ---- KMV distinct-count sketch ---------------------------------------

  /** 32-bit content hash for the KMV sketch: both engines compute
    * md5 → first 8 hex chars → integer identically. */
  private def kmvHash(valueCol: Column): Column =
    conv(substring(md5(valueCol.cast("string")), 1, 8), 16, 10).cast("long")

  /** K-minimum-values distinct-count estimate (Bar-Yossef et al. 2002):
    * keep the k smallest DISTINCT 32-bit hashes of the value column;
    * the k-th smallest, as a fraction of the hash space, estimates
    * density → distinct ≈ (k-1) / (h_k / 2^32).
    *
    * Scale shape: the [[graft.functions.KmvSketch]] aggregate is a
    * bounded DEDUPLICATING heap, so the raw rows feed the partial
    * aggregate directly — no `distinct()` anywhere, each partition
    * ships at most k longs to the single final reducer. Unlike
    * HLL-style sketches this one is exactly reproducible in SQL
    * (ORDER BY hash LIMIT k over the distinct hashes), so an oracle
    * can pin it bit-for-bit.
    *
    * Returns one row: (estimate, n_kept). When FEWER than k distinct
    * values exist (n_kept < k) the sketch holds the whole set and the
    * estimate is the exact count; at exactly k the sketch cannot tell
    * the set is complete, so the density estimator is used (unlike
    * [[kmvDistinct]], which has the true count available and reports
    * exactly at n <= k). */
  def kmvEstimate(df: DataFrame, valueCol: Column, k: Int): DataFrame = {
    require(k >= 2, s"kmv needs k >= 2, got $k")
    df.agg(GraftFunctions.kmvSketch(kmvHash(valueCol), k).as("ks"))
      .select(
        when(size(col("ks")) < k, size(col("ks")).cast("double"))
          .otherwise(graft.functions.Det.round(lit((k - 1).toDouble) * lit(4294967296.0) /
            element_at(col("ks"), size(col("ks"))), 1))
          .cast("double").as("estimate"),
        size(col("ks")).cast("long").as("n_kept"))
  }

  /** Deterministic uniform sample WITHOUT replacement of up to k rows
    * per group: the rows whose content hash lands among the k smallest
    * distinct hashes of the group — the same bounded deduplicating heap
    * as the KMV sketch, applied per group. Unlike rand()-based sampling
    * this is reproducible across runs/partitionings, and unlike a
    * row_number window it never sorts whole groups: the partial
    * aggregate ships at most k hashes per group per partition.
    * Returns (groupCol, idCol) of the sampled rows. */
  def sampleKPerGroup(df: DataFrame, groupCol: String, idCol: String,
                      contentCol: String, k: Int): DataFrame = {
    val h = kmvHash(col(contentCol))
    val kept = df.groupBy(col(groupCol))
      .agg(GraftFunctions.kmvSketch(h, k).as("ks"))
      .select(col(groupCol), explode(col("ks")).as("h"))
    // one row per KEPT HASH (min id as the representative): duplicate
    // content — or a 32-bit collision — must not inflate the sample
    // past k rows per group
    df.select(col(groupCol), col(idCol), h.as("h"))
      .groupBy(col(groupCol), col("h")).agg(min(col(idCol)).as(idCol))
      .join(kept, Seq(groupCol, "h"))
      .select(groupCol, idCol)
  }

  /** Demo/verification form of [[kmvEstimate]]: computes the exact
    * cardinality alongside (a full distinct aggregation — fine for a
    * verification query, exactly what the sketch avoids in production)
    * and reports the estimation error. Returns (estimate, exact,
    * err_pct). */
  def kmvDistinct(df: DataFrame, valueCol: Column, k: Int): DataFrame = {
    require(k >= 2, s"kmv needs k >= 2, got $k")
    val h = kmvHash(valueCol)
    val est = when(col("n_distinct") <= k, col("n_distinct").cast("double"))
      .otherwise(graft.functions.Det.round(lit((k - 1).toDouble) * lit(4294967296.0) /
        element_at(col("ks"), size(col("ks"))), 1).cast("double"))
    df.agg(
        GraftFunctions.kmvSketch(h, k).as("ks"),
        countDistinct(h).as("n_distinct"))
      .select(
        est.as("estimate"),
        col("n_distinct").cast("long").as("exact"),
        graft.functions.Det.round(abs(est - col("n_distinct")) * lit(100.0) / col("n_distinct"), 1)
          .cast("double").as("err_pct"))
  }
}
