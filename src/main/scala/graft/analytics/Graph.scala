package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames — the link-analysis
  * shape (host ranking, citation weight) a crawl-curation pipeline
  * runs beside the text filters. Complements
  * [[graft.dedup.Dedup.componentsStars]] (large-star/small-star
  * labelling): same per-round join-shuffle pattern, but with NUMERIC state that must
  * stay bit-identical across engines.
  *
  * Determinism discipline (the repo's standard): each node's incoming
  * contributions are exact decimals (decimal(38,18) cast of a
  * deterministic double division), summed exactly (order-independent),
  * and the new score rounds through the one spelled-out formula
  * (graft.functions.Det) before feeding the next round — so a DuckDB
  * oracle replays every iteration bit-for-bit with unrolled CTEs.
  *
  * Scale shape per iteration: ONE hash-shuffled equi-join (edges ⋈
  * scores on the source node — AQE picks the strategy; scores are
  * node-sized) + one partial-aggregated sum keyed on the destination;
  * the node count crosses as a 1-row literal broadcast. The edge list
  * is never collected. The symmetrized edge list and the degree table
  * are materialized ONCE before the loop (the components-style mat():
  * localCheckpoint + fresh LogicalRDD, which also resets the inherited
  * sizeInBytes estimate), and each round's score table is materialized
  * before feeding the next round — so iteration n never re-runs the
  * upstream edge derivation (a fact-fact join at 100 TB) and the plan
  * stays one-round deep regardless of `iterations`.
  */
object Graph {

  /** Damped PageRank over an UNDIRECTED graph (edges are
    * symmetrized), `iterations` exact rounds from the uniform start.
    * Every node appearing in any edge gets a score; rounds use
    * PR' = (1-d)/N + d·Σ PR(u)/deg(u). Returns (node, deg, pr).
    *
    * CONTRACT — the `node` column's TYPE depends on the input id
    * types: when BOTH endpoint columns are integral it is LONG (the
    * iteration runs on narrow ids, guide §2.3), otherwise STRING.
    * Callers that sort or join on `node` get numeric vs lexicographic
    * semantics accordingly; cast explicitly if a fixed type is
    * needed. deg/pr values are representation-independent. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, damping: Double = 0.85,
               digits: Int = 9): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      s"pageRank: iterations must be in [1,20], got $iterations")
    // Materialize AND reset statistics, releasing superseded rounds —
    // see graft.ops.Mat for the sizeInBytes-estimate and pinned-blocks
    // traps this solves.
    import graft.ops.Mat
    // Edge list and degrees computed ONCE: the caller's `edges` is
    // typically itself a fact-fact join + distinct, and every round
    // joins against it — without materialization each round re-runs
    // that whole derivation.
    // State tables capped at cluster parallelism (zero-shuffle
    // coalesce of materialized blocks — see Mat.releasable): the
    // symmetrizing union doubles the shuffle partition count, and the
    // per-round joins would pay the doubled task launches every
    // iteration.
    // max with the shuffle-partition conf: defaultParallelism can be
    // tiny under dynamic allocation at job start, and coalesce never
    // re-expands (same guard as Dedup.componentsStars)
    val par = math.max(edges.sparkSession.sparkContext.defaultParallelism,
      edges.sparkSession.sessionState.conf.numShufflePartitions)
    // Node-id representation (guide §2.3, narrower types): when BOTH
    // endpoint columns are already integral, the whole iteration runs
    // on LONG ids — the per-round join state is ~1/3 the bytes of the
    // old unconditional string cast and hashes a word instead of a
    // varlen string (q_pagerank sf0.1: ~117 MB of cached string state
    // read per round became ~40 MB). Non-integral ids keep the string
    // unification; deg/pr are representation-independent either way,
    // only the `node` column's TYPE reflects the choice.
    val integralIds = {
      import org.apache.spark.sql.types._
      Seq(srcCol, dstCol).forall(c => edges.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
    }
    val idType = if (integralIds) "long" else "string"
    val (sym, releaseSym) = Mat.releasable(
      edges.select(col(srcCol).cast(idType).as("src"),
        col(dstCol).cast(idType).as("dst"))
      .unionByName(edges.select(col(dstCol).cast(idType).as("src"),
        col(srcCol).cast(idType).as("dst")))
      .distinct(), coalesceTo = par)
    val (deg, releaseDeg) = Mat.releasable(sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("deg")), coalesceTo = par)
    // deg is already materialized — count it ONCE on the driver; the
    // embedded 1-row aggregate re-ran as a separate job inside every
    // round's materialization
    val n = deg.count().toDouble
    var (pr, releasePr) = Mat.releasable(deg
      .select(col("node"), col("deg"),
        graft.functions.Det.round(lit(1.0) / lit(n), digits).as("pr")),
      coalesceTo = par)
    for (_ <- 1 to iterations) {
      val contrib = sym.join(pr, sym("src") === pr("node"))
        .select(col("dst").as("node"),
          (col("pr") / col("deg")).cast("decimal(38,18)").as("__c"))
      val (next, releaseNext) = Mat.releasable(contrib.groupBy("node")
        .agg(sum(col("__c")).as("__s"))
        .join(deg, "node")
        .select(col("node"), col("deg"),
          graft.functions.Det.round(
            // teleport constant folded in SCALA doubles (1.0-0.85 =
            // 0.15000000000000002); an oracle must use the same double,
            // not a decimal-exact 0.15 (DuckDB folds decimal literals
            // exactly — the round-trip string pins it)
            col("__s").cast("double") * damping +
              lit(1.0 - damping) / lit(n), digits).as("pr")),
        coalesceTo = par)
      releasePr() // superseded round
      pr = next
      releasePr = releaseNext
    }
    releaseSym(); releaseDeg() // final pr is materialized, stand-alone
    pr
  }

  /** Item-item similarity from co-occurrence in baskets (the
    * "customers who bought X also bought Y" / co-citation shape):
    * Jaccard between two items' basket sets, computed WITHOUT an
    * item-item cross join — pairs are generated map-side from each
    * basket's sorted distinct item set (one basket-keyed shuffle), so
    * the pair count is Σ_b |b|², not |items|².
    *
    * The quadratic-per-basket term is the real scale hazard: a single
    * degenerate mega-basket (a crawler account, a shared login)
    * contributes |b|² pairs. `maxBasket` drops baskets above the cap
    * BEFORE pairing — the co-occurrence analogue of a stopword list,
    * and the knob that bounds the worst key at 100 TB (AQE skew-join
    * splitting handles the survivors). Returns (item_a, item_b,
    * shared, jaccard) for pairs at or above `threshold`.
    *
    * PACKED-PAIR AGGREGATE: the dominant shuffle — the Σ|b|² pair rows
    * into the (item_a, item_b) count — is keyed on ONE long
    * (`item_a << 32 | item_b` lower-masked; a bijection for any two
    * 32-bit values) instead of a two-column key: half the hash cost and
    * row width of the hottest exchange. 32-bit-or-narrower item types
    * pack directly. Wider or non-numeric items are first remapped to
    * dense int ids through a BROADCAST dictionary (distinct items +
    * item-ordered row_number) — the item column is a vocabulary-sized
    * dimension (products, suppliers, hosts), so the dict rides the scan
    * stage as a broadcast hash join and no extra shuffle of the edge
    * table is added. Dense ids are assigned in item order, so packed
    * pair order ≡ the generic path's sort order and results are
    * identical. When the item vocabulary is too large to broadcast
    * (≳10M distinct), set `dictPack = false` to keep the two-column
    * aggregate — correctness is unaffected either way. */
  def coPurchaseSimilarity(edges: DataFrame, basketCol: String,
                           itemCol: String, threshold: Double,
                           maxBasket: Int = 100000,
                           dictPack: Boolean = true): DataFrame = {
    import org.apache.spark.sql.types._
    edges.schema(itemCol).dataType match {
      case ByteType | ShortType | IntegerType =>
        coPurchasePacked(edges, basketCol, itemCol, threshold, maxBasket)
      case _ if dictPack =>
        coPurchaseDictPacked(edges, basketCol, itemCol, threshold, maxBasket)
      case _ =>
        coPurchaseGeneric(edges, basketCol, itemCol, threshold, maxBasket)
    }
  }

  /** Shared packed core over pre-capped int-item baskets `(b, items:
    * array<int> sorted asc)`: generates the strictly-increasing pairs,
    * packs each into one long inside the same codegen stage as the
    * generates (the shuffle for the hottest aggregate carries a single
    * 8-byte key), counts, unpacks with pure shift arithmetic (ANSI-safe
    * — both halves held an int to begin with, so no narrowing cast can
    * overflow), and joins degrees for the Jaccard. Returns (item_a:int,
    * item_b:int, shared, jaccard) at or above `threshold`. */
  private def packedJaccard(baskets: DataFrame, threshold: Double): DataFrame = {
    val deg = baskets.select(explode(col("items")).as("item"))
      .groupBy("item").agg(count(lit(1)).cast("long").as("deg"))
    // Deterministic repartition of the baskets BEFORE the pair
    // generator: AQE sizes the basket-agg exchange's read by its INPUT
    // bytes and is blind to the quadratic per-basket fan-out below, so
    // it coalesced the explode stage to 2 tasks at sf0.1 (2.9 of the
    // query's 4.9 s on 2 MB of baskets). The key must NOT be the bare
    // basket column — that partitioning equals the upstream groupBy's,
    // EnsureRequirements elides the exchange, and AQE re-coalesces the
    // read; hashing the key through xxhash64 yields a distinct (still
    // deterministic) partitioning that survives, and REPARTITION_BY_NUM
    // is exempt from AQE coalescing. The extra exchange moves only
    // packed baskets (guide §2.5 — amplify AFTER the exchange; never
    // let a stage be sized by its pre-explode bytes).
    val par = baskets.sparkSession.sparkContext.defaultParallelism
    val pairs = baskets
      .repartition(par, xxhash64(col("b")))
      .select(posexplode(col("items")).as(Seq("p", "item_a")), col("items"))
      .select(col("item_a"),
        explode(slice(col("items"), col("p") + lit(2),
          size(col("items")) - col("p") - lit(1))).as("item_b"))
      .select(shiftleft(col("item_a").cast("long"), 32)
        .bitwiseOR(col("item_b").cast("long").bitwiseAND(lit(0xffffffffL)))
        .as("pk"))
      .groupBy("pk")
      .agg(count(lit(1)).cast("long").as("shared"))
      .select(shiftright(col("pk"), 32).cast("int").as("item_a"),
        shiftright(shiftleft(col("pk"), 32), 32).cast("int").as("item_b"),
        col("shared"))
    jaccardTail(pairs, deg, threshold)
  }

  /** Degree join + Jaccard + threshold — ONE definition shared by the
    * packed and generic pair paths (EngineSpec pins their exact
    * agreement; a second copy is how they'd silently diverge). */
  private def jaccardTail(pairs: DataFrame, deg: DataFrame,
                          threshold: Double): DataFrame =
    pairs
      .join(deg.select(col("item").as("item_a"), col("deg").as("deg_a")), "item_a")
      .join(deg.select(col("item").as("item_b"), col("deg").as("deg_b")), "item_b")
      .select(col("item_a"), col("item_b"), col("shared"),
        graft.functions.Det.round4(col("shared").cast("double") /
          (col("deg_a") + col("deg_b") - col("shared"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** 32-bit-item fast path: items widen losslessly to int, pack
    * directly (no dictionary); output item columns cast back to the
    * input type. */
  private def coPurchasePacked(edges: DataFrame, basketCol: String,
                               itemCol: String, threshold: Double,
                               maxBasket: Int): DataFrame = {
    val itemType = edges.schema(itemCol).dataType
    val baskets = edges
      .select(col(basketCol).as("b"), col(itemCol).cast("int").as("i"))
      .groupBy("b")
      .agg(sort_array(collect_set(col("i"))).as("items"))
      .filter(size(col("items")) <= maxBasket)
    packedJaccard(baskets, threshold)
      .select(col("item_a").cast(itemType).as("item_a"),
        col("item_b").cast(itemType).as("item_b"),
        col("shared"), col("jaccard"))
  }

  /** Dense-dictionary packed path for wide/non-numeric item types:
    * distinct items get item-ordered dense int ids (row_number — a
    * single-partition window, bounded by the same vocabulary size that
    * makes the dict broadcastable), the edge scan picks its id up via a
    * broadcast join (no added shuffle of the edge table), the packed
    * core runs on ids, and two more broadcast joins restore the item
    * values at pair-result cardinality. Null items drop out at the dict
    * join exactly as collect_set would drop them. */
  private def coPurchaseDictPacked(edges: DataFrame, basketCol: String,
                                   itemCol: String, threshold: Double,
                                   maxBasket: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__item"))
    // LAZY persist: the dict subplan (edge scan → distinct → window)
    // feeds THREE broadcasts (basket remap + two restores), each above
    // a different projection, so exchange reuse cannot share it — the
    // cache computes it once at first use.
    //
    // PINNED (by design, same contract as Curation.dsirWeights): the
    // vocabulary-sized MEMORY_AND_DISK blocks stay cached until the
    // session ends or the caller runs the standard post-query hygiene
    // (GraftSession.unpersistAll: spark.catalog.clearCache(), then
    // unpersist every remaining persistent RDD) once the result is
    // consumed — what Bench and Verify do). A long-lived session
    // calling this repeatedly WITHOUT that hygiene accumulates one dict
    // block set per call; there is no in-plan release point because
    // the blocks must outlive the (lazy) query that reads them.
    val dict = edges.select(col(itemCol).as("__item"))
      .where(col("__item").isNotNull)
      .distinct()
      .select(col("__item"), row_number().over(w).as("__did"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val baskets = edges
      .select(col(basketCol).as("b"), col(itemCol).as("__item"))
      .join(broadcast(dict), "__item")
      .groupBy("b")
      .agg(sort_array(collect_set(col("__did"))).as("items"))
      .filter(size(col("items")) <= maxBasket)
    packedJaccard(baskets, threshold)
      .join(broadcast(dict.select(col("__did").as("item_a"),
        col("__item").as("__va"))), "item_a")
      .join(broadcast(dict.select(col("__did").as("item_b"),
        col("__item").as("__vb"))), "item_b")
      .select(col("__va").as("item_a"), col("__vb").as("item_b"),
        col("shared"), col("jaccard"))
  }

  private def coPurchaseGeneric(edges: DataFrame, basketCol: String,
                                itemCol: String, threshold: Double,
                                maxBasket: Int): DataFrame = {
    // ONE basket-keyed shuffle: per-basket distinct item set via
    // collect_set (partial aggregation dedupes map-side), sorted so
    // pair order and the basket-size cap are deterministic. This
    // replaces the previous distinct + basket self-join — three
    // exchanges of the edge table and a shuffle-side join fan-out —
    // with map-side pair generation: the set stays ≤ maxBasket items
    // (cap applied BEFORE pairing), and a hot basket costs one task
    // either way (a join key can't be split by AQE any more than a
    // generate can).
    // Deliberately NO repartition before the pair expansion, although
    // AQE coalesces the small basket table (30 MB at sf1) to fewer
    // partitions than cores. Measured head-to-head at sf1, forcing
    // full parallelism (repartition(32)) LOST: 27.8 s vs 16.8 s min.
    // The expansion feeds a partial aggregate on (item_a, item_b), and
    // fewer, larger partitions collapse far more duplicate pairs
    // map-side (643 MB vs 878 MB shuffled) — for a quadratic expansion
    // that ends in an aggregate, partial-agg effectiveness beats core
    // count. At real scale the basket table is large, AQE's
    // input-sized coalesce never fires, and both concerns vanish.
    val baskets = edges
      .groupBy(col(basketCol).as("b"))
      .agg(sort_array(collect_set(col(itemCol))).as("items"))
      .filter(size(col("items")) <= maxBasket)
    // Basket counts per item, from the capped sets (≡ the old per-edge
    // count after the distinct).
    val deg = baskets.select(explode(col("items")).as("item"))
      .groupBy("item").agg(count(lit(1)).cast("long").as("deg"))
    // Σ_b |b|² pair rows stream through two generates inside one
    // codegen stage — (pos, item_a) from posexplode, the strictly
    // greater items from a slice of the sorted set — straight into the
    // partially-aggregated pair count. No join, and no intermediate
    // array ever exceeds |b|.
    val pairs = baskets
      .select(posexplode(col("items")).as(Seq("p", "item_a")), col("items"))
      .select(col("item_a"),
        explode(slice(col("items"), col("p") + lit(2),
          size(col("items")) - col("p") - lit(1))).as("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).cast("long").as("shared"))
    jaccardTail(pairs, deg, threshold)
  }
}
