package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for LLM training-data pipelines: exact,
  * fingerprint, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale discipline (the 100 TB gate): candidate pairs are ALWAYS
  * generated through a bucketed equi-join — LSH band buckets, SimHash
  * band blocks, blocking keys, or IVF-style label cells — never an
  * unblocked cross join. Each bucket join shuffles on the bucket key
  * only; skew within hot buckets is handled by AQE skew-join splitting.
  */
object Dedup {

  /** Normalized text used by all textual dedup variants: lower, trim,
    * collapsed whitespace. */
  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Exact dedup: group by normalized text, keep the minimum id as the
    * canonical representative. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(normText(col(textCol)).as("norm_text"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Fingerprint dedup: md5 of the normalized text as the group key
    * (content-addressable id usable across datasets). */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(normText(col(textCol))).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental dedup: keep only the rows of a new `delta` batch whose
    * normalized-text fingerprint is not already present in the reference
    * `corpus` — the "dedup the nightly crawl against the existing
    * dataset" shape. The corpus side is reduced to DISTINCT fingerprints
    * first (partial agg map-side), then a left-anti equi-join keyed on
    * the 32-char fingerprint; both sides shuffle on the key and AQE
    * picks broadcast only if the distinct-fingerprint set truly fits.
    * No corpus-sized broadcast hint (the round-2 scale-killer). */
  def incremental(delta: DataFrame, corpus: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val known = corpus.select(md5(normText(col(textCol))).as("__known_fp")).distinct()
    // NULL-SAFE key: a null/absent-text doc has a null fingerprint, and
    // a plain equi-anti-join would pass every null-text delta row
    // through forever (null === null is never true) — inconsistent with
    // exact()/fingerprint(), whose GROUP BY puts all null-text docs in
    // one cluster. <=> keeps the key an equi-join (hashable), so the
    // join still shuffles/broadcasts normally.
    delta.select(col(idCol), md5(normText(col(textCol))).as("fingerprint"))
      .join(known, col("fingerprint") <=> col("__known_fp"), "left_anti")
  }

  /** Near-dup CLUSTERS from candidate pairs: connected components via
    * the ALTERNATING large-star/small-star algorithm (Kiveris et al.
    * 2014, "Connected Components in MapReduce and Beyond", §3) —
    * candidate pairs in, (id, component = min reachable id) out, one
    * row per node appearing in `pairs`. Rounds are O(log n) regardless
    * of diameter, and an already star-shaped graph takes zero.
    *
    * Round = large-star then small-star, each a keyed min-aggregation +
    * an equi-join on node id — never a neighbor-list collection, so a
    * high-degree hub costs a shuffle key, not executor memory. The edge
    * set is kept DIRECTED larger→smaller and distinct, one checkpoint
    * per round. Exact fixpoint test (one aggregate, also run before the
    * first round): converged iff the edges form a star forest — no node
    * is both a child and a parent, no child has two parents — whose
    * roots are then the component minima, so labels read off directly. */
  def componentsStars(pairs: DataFrame, idA: String = "id_a",
                      idB: String = "id_b", maxIter: Int = 50): DataFrame = {
    import graft.ops.Mat // fresh stats + superseded-round release
    def isStarForest(e: DataFrame): Boolean =
      e.select(inline(array(
          struct(col("u").as("n"), lit(1).as("child"), lit(0).as("parent")),
          struct(col("v").as("n"), lit(0).as("child"), lit(1).as("parent")))))
        .groupBy("n").agg(sum("child").as("c"), max("parent").as("p"))
        .filter(col("c") > 1 || (col("c") === 1 && col("p") === 1))
        .isEmpty
    // the label algebra runs on longs, and under non-ANSI SQL a silent
    // cast of a string/uuid id would null every edge: map non-integral
    // ids to dense longs first (xxhash64, or Curation.assignIds)
    for (c <- Seq(idA, idB)) {
      import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
      val dt = pairs.select(col(c)).schema.head.dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"componentsStars: id column '$c' must be an integral type, got $dt — map " +
        "string/uuid ids to longs first (xxhash64 or Curation.assignIds)")
    }
    val a = col(idA).cast("long")
    val b = col(idB).cast("long")
    val par = math.max(pairs.sparkSession.sparkContext.defaultParallelism,
      pairs.sparkSession.sessionState.conf.numShufflePartitions)
    // the deduplicated pair list is the one eager input: pair
    // generation is itself an expensive blocked similarity join. It
    // stays live — the node set (self-loop-only nodes included: a node
    // whose only pair is (x, x) has no edge but is owed an (x, x) row)
    // and the round-0 edges derive from it lazily.
    val (all0, releaseAll0) = Mat.releasable(pairs
      .select(greatest(a, b).as("u"), least(a, b).as("v")).distinct(),
      coalesceTo = par)
    var edges = all0.filter(col("u") =!= col("v"))
    var releaseEdges: () => Unit = () => ()
    var done = isStarForest(edges)
    var i = 0
    while (!done && i < maxIter) {
      // large-star: for every node u (symmetric view), connect each
      // strictly larger neighbor v to m = min(Γ(u) ∪ {u}). Result stays
      // larger→smaller since v > u >= m.
      val sym = edges.unionByName(
        edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val large = sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
      // small-star: per node u of the directed view (all neighbors are
      // smaller), connect N(u) ∪ {u} minus the min m to m.
      val sm = large.groupBy("u").agg(min("v").as("m"))
      val small = large.join(sm, "u")
        .select(col("v").as("n"), col("m"))
        .unionByName(sm.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
      val (next, releaseNext) = Mat.releasable(small, coalesceTo = par)
      releaseEdges() // superseded; the RETURNED final edges stay live
      edges = next
      releaseEdges = releaseNext
      done = isStarForest(edges)
      i += 1
    }
    if (!done) {
      releaseAll0(); releaseEdges() // don't pin checkpoints on failure
      throw new IllegalStateException(
        s"componentsStars: no fixpoint after $maxIter rounds — raise maxIter")
    }
    // in a star forest a child's one parent is its label; roots and
    // self-loop-only nodes label themselves
    all0.select(explode(array(col("u"), col("v"))).as("id")).distinct()
      .join(edges.select(col("u").as("id"), col("v").as("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  // ---- MinHash + LSH ---------------------------------------------------

  /** MinHash signature, declarative reference form (numPerms nested
    * array transforms — kept for documentation/tests; the pairs pipeline
    * uses the ~200x faster codegen Expression `minhash_sig`). */
  def minhashSignature(text: Column, k: Int, numPerms: Int): Column = {
    val t = normText(text)
    val shingles = array_distinct(transform(
      sequence(lit(1), greatest(length(t) - (k - 1), lit(1))),
      i => substring(t, i, lit(k))))
    val hashes = transform(shingles, s => xxhash64(s))
    transform(sequence(lit(0), lit(numPerms - 1)),
      j => array_min(transform(hashes, h => xxhash64(h, j))))
  }

  /** LSH banding: explode the signature into (band_id, band_hash) bucket
    * keys; docs sharing a bucket are candidate pairs. bands*rowsPerBand
    * must equal the signature length. */
  def lshBuckets(df: DataFrame, idCol: String, sigCol: String,
                 bands: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col(sigCol), b * rowsPerBand + 1, lit(rowsPerBand))
            .cast("string")))).as(Seq("band_id", "band_hash")))

  /** Estimated Jaccard from two signatures: fraction of agreeing
    * components. Declarative reference form — the pairs pipeline uses
    * the codegen `sig_agree` (identical value; the zip_with form
    * allocates two arrays per pair, which dominated candidate
    * estimation at tens of millions of LSH candidates). */
  def estJaccard(sigA: Column, sigB: Column, numPerms: Int): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x)).cast("double") / numPerms

  /** MinHash near-dup pairs: signature → banded buckets → bucket
    * self-join (id_a < id_b) → distinct candidates → estimated-Jaccard
    * filter. Never an all-pairs product: the join key is
    * (band_id, band_hash).
    *
    * TWO INTERMEDIATE SHAPES, one output (`carrySigs`), because the
    * dominant cost term is DATA-DEPENDENT:
    *
    * - `carrySigs = false` (default, sparse-dup corpora): bucket rows
    *   are 24 B; candidates are distinct()-ed and the signatures
    *   re-attach via two id-keyed equi-joins. Every intermediate is
    *   proportional to corpus + CANDIDATE volume — with the default
    *   S-curve (32×4 at t=0.5) candidates ≈ true near-dups, so this is
    *   the cheap path when dup clusters are thin (measured: the carry
    *   form's fat bucket exchange costs more than re-attach saves at
    *   sf0.1–sf1 on the base corpus).
    * - `carrySigs = true` (fat-cluster corpora): candidate volume is
    *   Σ cluster² and the re-attach joins must MOVE a 1 KB signature
    *   per candidate — measured at sf10 (≈100-member near-dup families
    *   from the scale generator): a ~100 GB sig-carrying shuffle that
    *   fills the local disk, after the band-multiplied distinct()
    *   shuffle already wrote 20+ GB. Carrying sig + the band-hash
    *   array ON the bucket rows makes every shuffle corpus-linear
    *   (bands × sig per doc, ~21 GB at sf10 — REGARDLESS of cluster
    *   shape): est_jaccard computes inside the join stage, and the
    *   pair is emitted exactly once, from its first agreeing band
    *   (earlier_band_agree kernel on the SAME xxhash64 values as the
    *   bucket key, so emission ≡ distinct() row for row), so neither
    *   the distinct() nor the re-attach exchanges exist at all.
    *
    * Same rows either way; pick by corpus shape. At 100 TB the carry
    * form is the safe default for web-scale text (boilerplate clusters
    * are the norm), which is why the e2e/verify pipelines use it. */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 5, numPerms: Int = 128, bands: Int = 32,
                   threshold: Double = 0.5,
                   carrySigs: Boolean = false): DataFrame = {
    // Fail loud on a broken (b, r) shape: bands > numPerms would make
    // rowsPerBand 0, every band slice empty, and ALL docs collide into
    // one bucket per band — the unblocked cross join this operator
    // exists to avoid; a non-divisible bands would silently ignore the
    // trailing numPerms % bands signature components, changing the
    // S-curve the caller computed.
    require(bands >= 1 && numPerms % bands == 0,
      s"minhashPairs: bands ($bands) must be >= 1 and divide numPerms ($numPerms)")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    // Repartition before the signature projection: the docs scan is one
    // parquet split, and the signature feeds three plan branches (bucket
    // explode + both join probes) — without the exchange the kernel
    // would run 3x on one core.
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    val sigs = docs.repartition(parts).select(col(idCol).as("id"),
      graft.functions.GraftFunctions.minhashSig(col(textCol), k, numPerms).as("sig"))
    if (carrySigs) return minhashPairsCarry(sigs, numPerms, bands, threshold)
    // Hash-partition the banded table on the bucket key. The self-join
    // then needs no further exchange, and because both sides are the
    // SAME repartitioned plan, ReuseExchange computes the signatures
    // once. No broadcast hint: the banded table is corpus-sized (bands
    // rows per doc) and an explicit broadcast() is a hard driver-side
    // collect with an 8 GB cap — a guaranteed failure at 100 TB. AQE may
    // still *choose* broadcast when the build side is genuinely small,
    // and splits skewed buckets on the shuffle path.
    val buckets = lshBuckets(sigs, "id", "sig", bands, numPerms / bands)
      .repartition(col("band_id"), col("band_hash"))
    val cands = buckets.as("l").join(buckets.as("r"),
        col("l.band_id") === col("r.band_id") &&
        col("l.band_hash") === col("r.band_hash") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b")).distinct()
    // Signature re-attach: plain equi-joins on id (shuffle on the id
    // key; AQE picks broadcast only if the side is actually small).
    // Re-joining beats carrying the 128-long signature through the
    // band explode on thin-cluster corpora (the default tradeoff —
    // carrySigs flips it, see the scaladoc).
    cands
      .join(sigs.withColumnRenamed("sig", "sig_a"), col("id_a") === col("id"))
      .drop("id")
      .join(sigs.withColumnRenamed("sig", "sig_b"), col("id_b") === col("id"))
      .drop("id")
      .select(col("id_a"), col("id_b"),
        graft.functions.Det.round4(graft.functions.GraftFunctions.sigAgree(
          col("sig_a"), col("sig_b"))).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** The carrySigs=true body: fat bucket rows (sig + band-hash array),
    * one corpus-linear exchange, est and emit-once computed inside the
    * join stage. See minhashPairs for when this wins.
    *
    * The signature table is Mat'd (eager localCheckpoint, like the
    * DSIR vocabulary — session-pinned; callers that loop call
    * Mat.releasable themselves): without the hard barrier the
    * optimizer sank the minhash kernel below the round-robin exchange
    * onto the SCAN partitioning — measured 10 s on 7 parquet-split
    * tasks at sf1 where the post-exchange form costs 1 s on 32 — and
    * the checkpoint also computes each signature once instead of once
    * per consumer branch. Size is numPerms longs per doc (~1 KB):
    * bounded, corpus-linear, spillable (MEMORY_AND_DISK). */
  private def minhashPairsCarry(sigs: DataFrame, numPerms: Int,
                                bands: Int, threshold: Double): DataFrame = {
    val rowsPerBand = numPerms / bands
    val buckets = graft.ops.Mat(sigs)
      .select(col("id"), col("sig"),
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))
            .cast("string"))).as("band_hashes"))
      .select(col("id"), col("sig"), col("band_hashes"),
        posexplode(col("band_hashes")).as(Seq("band_id", "band_hash")))
      .repartition(col("band_id"), col("band_hash"))
    buckets.as("l").join(buckets.as("r"),
        col("l.band_id") === col("r.band_id") &&
        col("l.band_hash") === col("r.band_hash") &&
        col("l.id") < col("r.id"))
      // first-agreeing-band emission: agreement is band_hash equality —
      // exactly the bucket key — so the kept rows ARE the distinct
      // candidate set; the band-duplicated rows die inside the stage.
      .filter(!graft.functions.GraftFunctions.earlierBandAgree(
        col("l.band_hashes"), col("r.band_hashes"), col("l.band_id")))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        graft.functions.Det.round4(graft.functions.GraftFunctions.sigAgree(
          col("l.sig"), col("r.sig"))).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  // ---- SimHash ---------------------------------------------------------

  /** 64-bit SimHash over word hashes: bit b of the result is 1 iff more
    * than half the word hashes have bit b set. Declarative reference
    * form; the pairs pipeline uses the codegen Expression `simhash64`. */
  def simhash64Decl(text: Column): Column = {
    val hashes = transform(split(normText(text), " "), w => xxhash64(w))
    val n = size(hashes)
    // Static unroll over the 64 bits (shift amounts must be literals for
    // the builtin); stays inside one codegen stage.
    val bits: Seq[Column] = (0 until 64).map { b =>
      when(size(filter(hashes, h => shiftright(h, b).bitwiseAND(lit(1L)) === 1)) * 2 > n,
        lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce((a, c) => a.bitwiseOR(c))
  }

  /** SimHash near-dup pairs: block on `bands` equal-width bit bands of
    * the 64-bit hash, then exact hamming filter via bit_count(xor).
    *
    * RECALL CONTRACT (pigeonhole): two hashes within hamming distance
    * ≤ bands−1 MUST agree on at least one band, so candidate
    * generation is complete up to that distance; pairs at distances in
    * (bands−1, maxHamming] are emitted only when the differing bits
    * happen to cluster (best-effort recall — with the 4×16-bit default
    * and maxHamming = 6, standard SimHash practice: near-dup bit flips
    * cluster heavily in practice). For a HARD guarantee at
    * maxHamming = h, pass bands ≥ h+1 and mind the tradeoff: narrower
    * bands have fewer distinct values (64/bands bits each), so buckets
    * fatten and the within-bucket self-join cost grows — at 8 bands
    * each band value is 8 bits (256 buckets/band), ~n²/256 candidate
    * pairs per band. The Manku et al. (WWW'07) table-of-permutations
    * construction is the scale answer beyond h ≈ 4. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 6, bands: Int = 4,
                   carry: Seq[(String, Column)] = Nil): DataFrame = {
    require(bands >= 1 && 64 % bands == 0,
      s"simhashPairs: bands ($bands) must divide the 64-bit hash width")
    // Carry names must stay clear of the operator's working columns and
    // the _a/_b output suffixes — a collision either trips an
    // ambiguous-reference analysis error deep in the plan or silently
    // shadows the internal column (same contract as tokenize's idCol
    // guard).
    locally {
      val internal = Set("id", "sim", "band_id", "band_val", "hamming")
      val outputs = Set("id_a", "id_b", "hamming")
      carry.foreach { case (n, _) =>
        require(!internal.contains(n),
          s"simhashPairs: carry column '$n' collides with an internal working column " +
            s"(reserved: ${internal.toSeq.sorted.mkString(", ")})")
        require(!outputs.contains(n + "_a") && !outputs.contains(n + "_b"),
          s"simhashPairs: carry column '$n' produces output '${n}_a'/'${n}_b' " +
            "colliding with the operator's pair columns")
      }
      val dup = carry.groupBy(_._1).collect { case (n, cs) if cs.size > 1 => n }
      require(dup.isEmpty, s"simhashPairs: duplicate carry names: ${dup.mkString(", ")}")
    }
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    // `carry`: per-doc columns riding the band rows into the pair
    // output as <name>_a/<name>_b — the carrySigs architecture
    // (minhashPairs): a consumer that would otherwise re-join the
    // corpus per pair to fetch per-doc data pays candidate-volume
    // exchanges (Σ cluster², ~1 GB at sf10 for the verify twin);
    // carrying costs bands × width bytes per DOC (corpus-linear) and
    // lets the consumer filter inside the join stage.
    val sims = docs.repartition(parts).select(
      col(idCol).as("id") +:
        graft.functions.GraftFunctions.simhash64(col(textCol)).as("sim") +:
        carry.map { case (n, c) => c.as(n) }: _*)
    val bandStructs = (0 until bands).map(b => struct(lit(b).as("band_id"),
      shiftright(col("sim"), b * width).bitwiseAND(lit(mask)).as("band_val")))
    // Hash-partition on the band key: the self-join reuses one exchange
    // (simhash computed once) and shuffles only on (band_id, band_val).
    // No broadcast hint — the banded table is corpus-sized (4 rows per
    // doc); see minhashPairs for the 100 TB rationale.
    val banded = sims.select(
        col("id") +: col("sim") +: carry.map(c => col(c._1)) :+
          inline(array(bandStructs: _*)): _*)
      .repartition(col("band_id"), col("band_val"))
    // Emit-once join instead of join→distinct (the minhashPairs move,
    // here for free: both full hashes already ride the join, so "did an
    // earlier band agree?" is pure bit arithmetic on l.sim/r.sim —
    // statically unrolled over the ≤ bands-1 earlier bands). A hamming-0
    // pair collides in ALL bands; distinct() would shuffle that
    // band-multiplied stream.
    val earlierAgree = (0 until bands - 1).map { b =>
      (col("l.band_id") > b) &&
        (shiftright(col("l.sim"), b * width).bitwiseAND(lit(mask)) ===
         shiftright(col("r.sim"), b * width).bitwiseAND(lit(mask)))
    }.reduceOption(_ || _).getOrElse(lit(false))
    banded.as("l").join(banded.as("r"),
        col("l.band_id") === col("r.band_id") &&
        col("l.band_val") === col("r.band_val") &&
        col("l.id") < col("r.id"))
      .filter(!earlierAgree)
      .select(col("l.id").as("id_a") +: col("r.id").as("id_b") +:
        bit_count(col("l.sim").bitwiseXOR(col("r.sim"))).as("hamming") +:
        carry.flatMap(c => Seq(col(s"l.${c._1}").as(s"${c._1}_a"),
          col(s"r.${c._1}").as(s"${c._1}_b"))): _*)
      // Hamming filter before anything shuffles: downstream consumers
      // only ever see true near-dup pairs, never raw band collisions.
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs with a HARD recall guarantee at any
    * `maxHamming` — the Manku et al. (WWW'07 §3) table-of-combinations
    * construction that [[simhashPairs]]'s scaladoc names as the scale
    * answer beyond h ≈ bands−1.
    *
    * Split the 64-bit hash into `blocks` equal blocks. A pair within
    * hamming distance h has its differing bits in at most h blocks, so
    * it AGREES on some (blocks−h)-subset of blocks (pigeonhole). One
    * candidate table per (blocks−h)-combination, keyed on the hash
    * MASKED to that combination's bits (block concatenation without
    * bit-shuffling — equality of the masked hashes ⇔ all key blocks
    * agree), makes candidate generation COMPLETE to h = maxHamming.
    *
    * Cost model vs widening [[simhashPairs]] bands: hard recall at h
    * via bands needs h+1 bands of 64/(h+1) bits — at h = 6 that is
    * 8-bit keys, 256 buckets/band, ~n²/256 candidates per band. This
    * construction pays replication C(blocks, blocks−h) rows/doc
    * (28 at the 8-block/h=6 default) but keys are (blocks−h)·64/blocks
    * bits wide (16 bits → ~n²/65536 candidates per table): ~23× fewer
    * raw candidates for 3.5× the band exchange — the right trade as
    * soon as the corpus outgrows the bucket width, measured in
    * SCALING.md round 10. Emission is once-per-pair from its first
    * agreeing table ((xor & tableMask) == 0 is pure bit arithmetic —
    * the [[simhashPairs]] emit-once move, statically unrolled over the
    * earlier combinations); `carry` columns ride the table exchange as
    * in [[simhashPairs]]. */
  def simhashPairsHard(docs: DataFrame, idCol: String, textCol: String,
                       maxHamming: Int = 6, blocks: Int = 8,
                       carry: Seq[(String, Column)] = Nil): DataFrame = {
    require(blocks >= 2 && 64 % blocks == 0,
      s"simhashPairsHard: blocks ($blocks) must divide the 64-bit hash width")
    require(maxHamming >= 1 && maxHamming < blocks,
      s"simhashPairsHard: maxHamming ($maxHamming) must be in [1, blocks-1] " +
        s"(the pigeonhole needs at least one agreeing block)")
    // THE combination-mask definition lives in MankuImpl.combos (the
    // kernel twin evaluates the same array; MankuSpec pins equality
    // with this spec construction)
    val combos: Seq[Long] =
      graft.functions.MankuImpl.combos(blocks, maxHamming).toSeq
    require(combos.size <= 256,
      s"simhashPairsHard: C($blocks, ${blocks - maxHamming}) = ${combos.size} " +
        "tables — replication past 256 rows/doc is a config error " +
        "(use fewer blocks or the banded simhashPairs)")
    locally {
      val internal = Set("id", "sim", "tbl", "mkey", "hamming")
      val outputs = Set("id_a", "id_b", "hamming")
      carry.foreach { case (n, _) =>
        require(!internal.contains(n),
          s"simhashPairsHard: carry column '$n' collides with an internal column " +
            s"(reserved: ${internal.toSeq.sorted.mkString(", ")})")
        require(!outputs.contains(n + "_a") && !outputs.contains(n + "_b"),
          s"simhashPairsHard: carry column '$n' collides with the pair outputs")
      }
      val dup = carry.groupBy(_._1).collect { case (n, cs) if cs.size > 1 => n }
      require(dup.isEmpty,
        s"simhashPairsHard: duplicate carry names: ${dup.mkString(", ")}")
    }
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    val sims = docs.repartition(parts).select(
      col(idCol).as("id") +:
        graft.functions.GraftFunctions.simhash64(col(textCol)).as("sim") +:
        carry.map { case (n, c) => c.as(n) }: _*)
    // Kernelized table expansion + emit-once reject (r11, guide §4 /
    // the lut_std playbook): the literal inline(array(struct(lit(t),
    // sim & lit(m)))) form re-planned C(blocks, blocks−h) struct
    // subtrees and a (C−1)-clause OR chain per execution — ~1 s of
    // driver-side plan/codegen cost per run at EVERY scale factor.
    // Both collapse to one expression node each, evaluating the same
    // MankuImpl.combos masks (MankuSpec pins kernel ≡ literal form).
    val banded = sims.select(
        col("id") +: col("sim") +: carry.map(c => col(c._1)) :+
          inline(graft.functions.GraftFunctions.simhashMankuTables(
            col("sim"), blocks, maxHamming)): _*)
      .repartition(col("tbl"), col("mkey"))
    val xor = col("l.sim").bitwiseXOR(col("r.sim"))
    val earlierAgree = graft.functions.GraftFunctions.earlierComboAgree(
      xor, col("l.tbl"), blocks, maxHamming)
    banded.as("l").join(banded.as("r"),
        col("l.tbl") === col("r.tbl") &&
        col("l.mkey") === col("r.mkey") &&
        col("l.id") < col("r.id"))
      .filter(!earlierAgree)
      .select(col("l.id").as("id_a") +: col("r.id").as("id_b") +:
        bit_count(xor).as("hamming") +:
        carry.flatMap(c => Seq(col(s"l.${c._1}").as(s"${c._1}_a"),
          col(s"r.${c._1}").as(s"${c._1}_b"))): _*)
      .filter(col("hamming") <= maxHamming)
  }

  // ---- N-gram Jaccard --------------------------------------------------

  /** Salted self-join scaffolding shared by the blocked pair
    * generators: the LEFT side is replicated across all `saltBuckets`
    * salts, the RIGHT side gets ONE deterministic salt per `id` row —
    * so each (l, r) pair meets exactly once (on r's salt) and
    * parallelism becomes |block| × salts instead of |block|. The
    * left-side replication multiplies its shuffle by `saltBuckets`, a
    * bounded, partition-parallel cost (vs. an unbounded driver
    * collect). Both frames must carry an `id` column. */
  private def saltPair(lhs: DataFrame, rhs: DataFrame,
                       saltBuckets: Int): (DataFrame, DataFrame) = {
    require(saltBuckets >= 1,
      s"saltBuckets must be >= 1, got $saltBuckets")
    (lhs.withColumn("salt", explode(sequence(lit(0L), lit(saltBuckets - 1L)))),
     rhs.withColumn("salt", pmod(xxhash64(col("id")), lit(saltBuckets.toLong))))
  }

  /** Distinct character n-grams of the normalized text. */
  def charNgrams(text: Column, n: Int): Column = {
    val t = normText(text)
    array_distinct(transform(
      sequence(lit(1), greatest(length(t) - (n - 1), lit(1))),
      i => substring(t, i, lit(n))))
  }

  /** Blocked n-gram Jaccard similarity join: candidates share a blocking
    * key (default: a coarse length bucket + first token), exact Jaccard
    * on distinct n-gram sets.
    *
    * SCALE SHAPE — two mechanisms bound the quadratic within-block pair
    * growth the caller's block key alone cannot (at fixed |blk|
    * cardinality, pairs grow with corpus²):
    *
    *  - LENGTH-BAND SUB-BLOCKING (always on): each doc's gram-set size
    *    is banded on a log scale with base 1/t; jaccard ≥ t implies
    *    min(|A|,|B|)/max(|A|,|B|) ≥ t, which implies the two bands
    *    differ by at most 1 — so the left side is replicated across
    *    {band-1, band, band+1}, the join key becomes (blk, band, salt),
    *    and every ratio-passing pair still meets exactly once (the
    *    right side holds one deterministic (band, salt)). This is the
    *    length-filter equi-join of Vernica et al. (SIGMOD'10) — a
    *    content-derived refinement that costs 3× left-side replication
    *    and prunes O(corpus²) same-block/different-length candidates
    *    BEFORE the join, not after.
    *
    *  - PAIR-BUDGET GUARD (`maxCandidatePairs > 0`): a 1-row broadcast
    *    precount of Σ candidate pairs rides the plan and fails the job
    *    loud — naming MinHash+LSH as the scale route — before the pair
    *    stage detonates. Off by default; production pipelines at
    *    unknown corpus scale should set it. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCol: String, n: Int = 3,
                        threshold: Double = 0.4,
                        saltBuckets: Int = 8,
                        maxCandidatePairs: Long = 0L): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    // Grams are hashed (xxhash64) and sorted ONCE per doc; the per-pair
    // Jaccard is then a single merge scan over two sorted long arrays
    // (codegen Expression) — ~50x cheaper than string-set intersection.
    // Set sizes are unchanged modulo 64-bit collisions (~1e-16/doc), so
    // the value equals the string-set Jaccard the oracle computes.
    // Repartition the RAW docs before the gram projection: the docs scan
    // is one parquet split, and computing the ngram+hash+sort arrays
    // there would serialize the most expensive per-row work onto one
    // core. After the round-robin exchange the projection runs on every
    // core, and (stream side) the exchange boundary also keeps
    // CollapseProject from inlining the gram pipeline twice (once for
    // grams, once for sz).
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    val grams = docs.repartition(parts)
      .select(col(idCol).as("id"), col(blockCol).as("blk"),
        graft.functions.GraftFunctions.gramHashes(col(textCol), n).as("grams"))
      .withColumn("sz", size(col("grams")).cast("double"))
    // Pair enumeration: shuffled equi-join on the block key — NEVER a
    // broadcast of the corpus-sized gram table (an explicit broadcast()
    // is a hard driver-side collect with an 8 GB cap; it is not demoted
    // by AQE and fails outright at scale). Because the block key can be
    // low-cardinality (e.g. a handful of sources), joining on blk alone
    // would cap parallelism at the key cardinality, so we salt (see
    // [[saltPair]] for the meet-exactly-once invariant).
    val jac = graft.functions.GraftFunctions.jaccardSorted(col("l.grams"), col("r.grams"))
    // Log-scale length band: floor(ln(sz)/ln(1/t')). Bands ≥ 2 apart
    // imply size ratio < t' (below even the margined prune), so banding
    // with ±1 left-replication is output-identical to blocking on blk
    // alone. t' ≥ ~1 would make the base ≤ 1 (degenerate); the band
    // then collapses to a constant and the code path reduces to the
    // plain (blk, salt) join.
    val tPrime = threshold - 0.00005
    val logBase = if (tPrime > 0 && tPrime < 1) math.log(1.0 / tPrime) else 0.0
    val bandOf =
      if (logBase > 0) floor(log(col("sz")) / lit(logBase)).cast("int")
      else lit(0)
    val banded = grams.withColumn("band", bandOf)
    // Degenerate threshold (logBase == 0): the band is the constant 0,
    // so the ±1 replication would triple the left shuffle for zero
    // extra candidates — skip it and the path truly reduces to the
    // plain (blk, salt) join the comment above promises.
    val lhsBanded =
      if (logBase > 0) banded.withColumn("band", explode(array(
        col("band") - 1, col("band"), col("band") + 1)))
      else banded
    val (lhsSalted, rhsSalted) = saltPair(lhsBanded, banded, saltBuckets)
    val lhs = lhsSalted.as("l")
    val rhs = rhsSalted.as("r")
    // Optional fail-loud candidate budget: count docs per (blk, band),
    // self-join the tiny count table on blk & |Δband| ≤ 1 to get the
    // exact candidate-pair total the join below would enumerate, and
    // ride the 1-row verdict through the plan as a broadcast cross
    // join (no eager driver job — it evaluates with the query).
    val guarded =
      if (maxCandidatePairs <= 0) lhs
      else {
        val bc = banded.groupBy("blk", "band")
          .agg(count(lit(1)).as("nb"))
        // Each unordered pair is counted twice by the ordered (x,y)
        // sweep (same-band: n(n-1); cross-band: n_x·n_y both ways), so
        // the bracket is even and the halving exact.
        val cand = bc.as("x").join(bc.as("y"),
            col("x.blk") === col("y.blk") &&
            (col("y.band") - col("x.band")).between(-1, 1))
          .agg(floor(coalesce(sum(
            when(col("x.band") === col("y.band"),
              col("x.nb") * (col("x.nb") - 1))
            .otherwise(col("x.nb") * col("y.nb"))), lit(0L)) / 2)
            .cast("long").as("cand"))
          .select(when(col("cand") <= lit(maxCandidatePairs), lit(true))
            .otherwise(raise_error(concat(
              lit("ngramJaccardPairs: candidate pair count "),
              col("cand").cast("string"),
              lit(s" exceeds maxCandidatePairs=$maxCandidatePairs; " +
                "at this corpus scale use MinHash+LSH " +
                "(Dedup.minhashPairs) instead of the exact " +
                "n-gram join, or refine the blocking key"))))
            .as("__budget_ok"))
        // where() (not drop()) keeps the verdict column live past
        // column pruning, so the raise_error cannot be optimized out.
        lhs.crossJoin(broadcast(cand))
          .where(col("__budget_ok"))
          .drop("__budget_ok").as("l")
      }
    guarded.join(rhs,
        col("l.blk") === col("r.blk") && col("l.salt") === col("r.salt") &&
        col("l.band") === col("r.band") &&
        col("l.id") < col("r.id") &&
        // Size-ratio prune: jaccard <= min(|A|,|B|)/max(|A|,|B|), so a
        // size mismatch can never clear the threshold — cheap compares
        // inside the join, before any merge scan runs. The margin keeps
        // the prune strictly weaker than the ROUNDED output filter
        // (a raw jaccard in [t-0.00005, t) rounds up to t and must
        // survive), so it stays a pure optimization.
        col("l.sz") >= col("r.sz") * (threshold - 0.00005) &&
        col("r.sz") >= col("l.sz") * (threshold - 0.00005))
      // Filter the ROUNDED value (the same value the oracle filters —
      // filtering raw here while the oracle filters rounded would drop
      // pairs whose raw jaccard sits in [t-0.00005, t)). Written as a
      // raw expression (not the projected alias) so predicate pushdown
      // can't duplicate the merge scan per pair.
      .where(graft.functions.Det.round4(jac) >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        graft.functions.Det.round4(jac).as("jaccard"))
  }

  // ---- Exact repeated-substring spans ----------------------------------

  /** Exact substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499): find every
    * MAXIMAL token span whose k-token windows each occur >= minCount
    * times corpus-wide — the spans a substring-level deduplicator would
    * cut. The reference implementation builds a suffix array; that is a
    * shared-memory design. The Spark-first equivalent: a span is
    * repeated iff all of its k-gram windows are repeated, so (1) explode
    * position-annotated k-grams, (2) one partial-aggregated count
    * shuffle keyed on the gram, (3) fold repeated positions back via an
    * equi-join on the gram, (4) merge consecutive repeated positions
    * into maximal spans per doc (gaps-and-islands over a PER-DOC window
    * — bounded by doc length, never a global sort), (5) re-join the doc
    * token array once on the id to emit each span's content hash.
    * k-grams shorter than k tokens never form (a sub-k doc contributes
    * no windows), matching the suffix-array method's minimum match
    * length. At 100 TB the gram join key would be xxhash64(gram); the
    * string is kept so the DuckDB oracle joins on the same key.
    *
    * Returns (idCol, span_pos [1-based token index], span_tokens,
    * n_grams, span_md5). */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    k: Int, minCount: Long = 2): DataFrame = {
    require(k >= 2, s"repeatedSpans: k must be >= 2, got $k")
    require(minCount >= 2, s"repeatedSpans: minCount must be >= 2, got $minCount")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    // Round-robin exchange before the gram kernel: spreads per-row
    // gram work off the single parquet split. Deliberately NOT
    // Mat'd despite three consumers (the gram-count pass, the
    // islands-join gram pass, the span-content join — column pruning
    // makes their exchanges non-identical, so ReuseExchange shares
    // nothing and the scan+shuffle runs three times, ~0.45 s at sf1):
    // the A/B showed Mat is WORSE here, because the stats reset turns
    // the grams ⋈ repeated join from an AQE broadcast into a static
    // sort-merge join that shuffles the full 50 MB gram stream —
    // costlier than the two extra 10 MB text scans it saved. Scan
    // amplification of the smallest corpus-shaped frame is the right
    // trade; keeping the planner's cardinalities is worth more.
    val words = docs
      .select(col(idCol).as("__id"),
        coalesce(col(textCol), lit("")).as("__t"))
      .repartition(parts)
    // Hashed k-word grams from the word_window_hashes kernel: one
    // tight pass over the text bytes (a k-word gram is a CONTIGUOUS
    // byte slice, so nothing is joined or sliced into strings), and
    // the count shuffle below keys on 8-byte longs instead of the
    // ~6·k-byte gram strings that dominated its shuffle volume (the
    // r6 sf1 profile's cost driver). Built fresh per consumer (the
    // kernel re-run is cheaper than checkpointing corpus-scale gram
    // rows — same measurement as dsirCore's counts table).
    def grams = words.select(col("__id"),
      posexplode(graft.functions.GraftFunctions.wordWindowHashes(col("__t"), k))
        .as(Seq("__p", "gh")))
      .select(col("__id"), (col("__p") + 1).as("pos"), col("gh"))
    val repeated = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= minCount)
      .select("gh")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("pos"))
    // Survivors of the repeated-gram join are the DUPLICATED tail of
    // the corpus (bounded by true duplication, not corpus size), so
    // the islands window shuffles only those.
    val spans = grams.join(repeated, "gh")
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col("__id"), col("__grp"))
      .agg(min(col("pos")).cast("long").as("span_pos"),
        (count(lit(1)) + (k - 1)).cast("long").as("span_tokens"),
        count(lit(1)).cast("long").as("n_grams"))
    // Span CONTENT stays md5-pinned (the 64-bit gram hash is a
    // counting key under the repo's collision discipline, never an
    // identity the caller sees).
    spans.join(words, "__id")
      .select(col("__id").as(idCol), col("span_pos"), col("span_tokens"),
        col("n_grams"),
        md5(array_join(slice(split(col("__t"), " "), col("span_pos").cast("int"),
          col("span_tokens").cast("int")), " ")).as("span_md5"))
  }

  /** The removal step of exact substring dedup (in the spirit of Lee
    * et al. 2022 §4's "remove all but one occurrence"): every repeated
    * span found by [[repeatedSpans]] is cut from the corpus EXCEPT its
    * corpus-global first occurrence — canonical = lowest (doc,
    * position) per span CONTENT hash. Token ranges are cut per doc and
    * the text reassembled in order. Returns (idCol, n_tokens,
    * n_removed, scrubbed).
    *
    * Semantics note (a deliberate difference from the suffix-array
    * algorithm): deduplication is keyed on the MAXIMAL span's content.
    * When the same passage occurs with different maximal extents
    * (e.g. doc A repeats passage P with extra repeated context around
    * it while doc B has only P), the spans hash differently and each
    * extent keeps its own first occurrence — overlapping-extent
    * duplicates are retained, where the paper's substring granularity
    * would cut them. Span-content keying is what makes the removal set
    * well-defined without iteration (cutting one occurrence never
    * changes another span's hash) and exactly SQL-checkable.
    *
    * Scale shape: rides [[repeatedSpans]] (gram-count shuffle + per-doc
    * islands); the first-occurrence choice is a window over the SPAN
    * LIST partitioned by content hash (bounded by the duplicate count,
    * not the corpus); removal ranges fold back via one id-keyed join
    * and the cut itself is a scan-stage higher-order filter. */
  def scrubRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                         k: Int, minCount: Long = 2): DataFrame = {
    val spans = repeatedSpans(docs, idCol, textCol, k, minCount)
    val wOcc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("span_md5")).orderBy(col(idCol), col("span_pos"))
    val rm = spans
      .withColumn("__occ", row_number().over(wOcc))
      .filter(col("__occ") > 1)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_pos").as("s"),
        (col("span_pos") + col("span_tokens") - 1).as("e"))).as("__rr"))
    // RANGE partition by the id ABOVE the removal-ranges join, BELOW
    // the per-token cut (r11; was: range-partition the docs below the
    // join). The r10 shape only produced id-ordered output because AQE
    // happened to convert the statically-planned sort-merge join to
    // broadcast with a LOCAL shuffle read, which preserved the range
    // layout by accident — the r10 ADVICE silent-misorder risk, now
    // confirmed in the static plan (EnsureRequirements hash-exchanges
    // the base side). With the range exchange above the join the
    // output is range-partitioned BY CONSTRUCTION whatever join
    // strategy the planner picks, a caller's orderBy(idCol) satisfies
    // OrderedDistribution and compiles to a partition-local sort, and
    // the O(tokens × removal-ranges) filter/transform — the most
    // expensive per-row stage of the operator — runs exactly once at
    // full cluster width (the range exchange's sample job sees only
    // the cheap join output below it, never the rebuild).
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    val base = docs.select(col(idCol),
      split(coalesce(col(textCol), lit("")), " ").as("__w"))
    val idx = sequence(lit(1), size(col("__w")))
    val kept = when(col("__rr").isNull, col("__w"))
      .otherwise(transform(
        filter(idx, i => size(filter(col("__rr"),
          r => i >= r.getField("s") && i <= r.getField("e"))) === 0),
        i => element_at(col("__w"), i.cast("int"))))
    base.join(rm, Seq(idCol), "left")
      .repartitionByRange(parts, col(idCol))
      .select(col(idCol), size(col("__w")).cast("long").as("n_tokens"),
        (size(col("__w")) - size(kept)).cast("long").as("n_removed"),
        // fully-scrubbed doc → NULL, matching lineDedup's convention
        // (and DuckDB's string_agg-over-nothing)
        when(size(kept) === 0, lit(null).cast("string"))
          .otherwise(array_join(kept, " ")).as("scrubbed"))
  }

  // ---- Embedding cosine ------------------------------------------------

  /** Embedding-cosine near-dup pairs within IVF-style cells (`cellCol`):
    * per-cell self-join + exact cosine ≥ threshold. At 100 TB the cell
    * assignment comes from a coarse quantizer; here cells are the
    * `label` column. */
  def embedCosinePairs(embs: DataFrame, idCol: String, vecCol: String,
                       cellCol: String, threshold: Double,
                       saltBuckets: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(embs.sparkSession)
    val parts = embs.sparkSession.sparkContext.defaultParallelism
    val v = embs.repartition(parts).select(col(idCol).as("id"), col(cellCol).as("cell"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
    // Shuffled equi-join on (cell, salt) — no broadcast of the corpus-
    // sized embedding table (hard 8 GB driver collect, not demoted by
    // AQE). Cells are low-cardinality, so the same salt-replication as
    // ngramJaccardPairs restores parallelism (see [[saltPair]]).
    val (lhsSalted, rhsSalted) = saltPair(v, v, saltBuckets)
    val lhs = lhsSalted.as("l")
    val rhs = rhsSalted.as("r")
    lhs.join(rhs,
        col("l.cell") === col("r.cell") && col("l.salt") === col("r.salt") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        graft.functions.Det.round4(graft.functions.GraftFunctions.cosineSim(col("l.vec"), col("r.vec"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): within each quantizer cell, a document is
    * REMOVED when any lower-id member of the same cell is a cosine
    * near-duplicate (>= threshold); the survivors are the keep-lowest-id
    * representative set. The dominance rule is "any earlier member",
    * not "any earlier survivor" — well-defined without iteration and
    * exactly expressible as the oracle's NOT EXISTS.
    *
    * Scale shape: candidate pairs come from [[embedCosinePairs]]
    * (cell-blocked salted equi-join — never all-pairs, no corpus-side
    * broadcast); the removal set folds back via a left-anti equi-join
    * on the id. At 100 TB the cells come from a learned coarse
    * quantizer (see [[graft.sim.Ann.ivfLearnedTopK]]); here cells are the
    * `label` column. */
  def semantic(embs: DataFrame, idCol: String, vecCol: String,
               cellCol: String, threshold: Double): DataFrame = {
    val removed = embedCosinePairs(embs, idCol, vecCol, cellCol, threshold)
      .select(col("id_b").as("__rm")).distinct()
    embs.join(removed, embs(idCol) === col("__rm"), "left_anti")
      .select(col(idCol), col(cellCol))
  }
}
