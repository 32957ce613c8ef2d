package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.dedup.Dedup
import graft.functions.{JaccardImpl, MinHashImpl, SimHashImpl}
import org.apache.spark.unsafe.types.UTF8String

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "a"),
    (2L, "THE  quick   brown fox jumps over the lazy dog", "a"), // ws/case variant
    (3L, "the quick brown fox jumps over the lazy cat", "a"),    // near-dup
    (4L, "completely different content about spark engines", "a"),
    (5L, "unrelated text on query optimizers and joins", "b")
  ).toDF("doc_id", "text", "source")

  test("exact dedup groups whitespace/case variants") {
    val got = Dedup.exact(docs, "doc_id", "text").orderBy("keep_id")
      .as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("fingerprint is stable across whitespace/case variants") {
    val fps = Dedup.fingerprint(docs, "doc_id", "text")
      .filter(col("keep_id") === 1L).as[(String, Long, Long)].collect()
    assert(fps.length == 1 && fps.head._3 == 2L)
  }

  test("minhash pairs surface the exact and near duplicates, not the unrelated") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("minhash carrySigs emits exactly the re-attach form's rows") {
    // The carry form must be a pure intermediate-shape change: same
    // pairs, same est values, each pair exactly once (the emit-once
    // filter replaces distinct()). Checked on a corpus with an exact
    // dup (collides in ALL bands — the case distinct() existed for)
    // plus sub-threshold docs, across two bandings.
    for (bands <- Seq(16, 32)) {
      val d = Dedup.minhashPairs(docs, "doc_id", "text",
        bands = bands, threshold = 0.3, carrySigs = false)
        .as[(Long, Long, Double)].collect().sorted.toSeq
      val c = Dedup.minhashPairs(docs, "doc_id", "text",
        bands = bands, threshold = 0.3, carrySigs = true)
        .as[(Long, Long, Double)].collect().sorted.toSeq
      assert(c == d, s"bands=$bands carry=$c default=$d")
      assert(c.map(p => (p._1, p._2)).distinct.size == c.size,
        s"bands=$bands duplicate pair emitted: $c")
    }
  }

  test("simhash: identical normalized docs have hamming 0") {
    val got = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6)
      .filter(col("id_a") === 1 && col("id_b") === 2)
      .select("hamming").as[Int].collect()
    assert(got.toSeq == Seq(0))
  }

  test("ngram jaccard: identical docs score 1.0, near-dups high, blocks respected") {
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source", 3, 0.3)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(got((1L, 2L)) == 1.0)
    assert(got((1L, 3L)) > 0.7)
    // doc 5 is in block "b": never paired with block "a" docs
    assert(!got.keySet.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("ngram jaccard: length-band sub-blocking is output-invariant; budget guard fails loud") {
    // Wildly different lengths in one block: bands prune those
    // candidates pre-join, but every ratio-passing pair must survive —
    // compare against a band-degenerate run (threshold margin makes
    // logBase 0 path unreachable, so compare vs the same call at a
    // tiny threshold filtered up instead).
    val mixed = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "a"),
      (2L, "the quick brown fox jumps over the lazy dog!", "a"),
      (3L, "tiny", "a"),
      (4L, ("the quick brown fox jumps over the lazy dog " * 20).trim, "a")
    ).toDF("doc_id", "text", "source")
    val banded = Dedup.ngramJaccardPairs(mixed, "doc_id", "text", "source", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // exhaustive reference: threshold low enough that every pair is a
    // candidate (same band ±1 covers all sizes only at tiny thresholds
    // — at 0.01 the ratio prune keeps everything), filtered to 0.5
    val exhaustive = Dedup.ngramJaccardPairs(mixed, "doc_id", "text", "source", 3, 0.01)
      .filter(col("jaccard") >= 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(banded == exhaustive)
    // (1,2) near-identical; (1,4)/(2,4) pass too — doc 4 repeats one
    // sentence, so its DISTINCT gram set matches docs 1/2 (and its set
    // SIZE lands in the same band: bands key on distinct-gram count,
    // not raw length). doc 3 ("tiny") is band-pruned and sub-threshold.
    assert(banded.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    // budget guard: 4 docs (3 bands) → few candidates; cap below that
    // count fails loud naming the MinHash path, generous cap passes
    val ex = intercept[Exception] {
      Dedup.ngramJaccardPairs(mixed, "doc_id", "text", "source", 3, 0.5,
        maxCandidatePairs = 1L).collect()
    }
    def msg(t: Throwable): String =
      (Option(t.getMessage) ++ Option(t.getCause).map(msg)).mkString(" ")
    assert(msg(ex).contains("minhashPairs"))
    val guarded = Dedup.ngramJaccardPairs(mixed, "doc_id", "text", "source", 3, 0.5,
      maxCandidatePairs = 1000000L).as[(Long, Long, Double)].collect().toSet
    assert(guarded == banded)
  }

  test("embedding cosine pairs stay within cells and above threshold") {
    val embs = Seq(
      (1L, Array(1f, 0f, 0f), 0), (2L, Array(0.9f, 0.1f, 0f), 0),
      (3L, Array(-1f, 0f, 0f), 0), (4L, Array(1f, 0f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Dedup.embedCosinePairs(embs, "vec_id", "embedding", "label", 0.9)
      .as[(Long, Long, Double)].collect()
    assert(got.map(t => (t._1, t._2)).toSet == Set((1L, 2L))) // 1⋈4 cross-cell excluded
    assert(got.head._3 > 0.99)
  }

  // ---- kernel-level checks of the codegen implementations --------------

  test("signature expressions fail fast at construction on invalid arguments") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    intercept[IllegalArgumentException](
      graft.functions.MinHashSig(Literal("x"), 5, 512)) // > MaxPerms
    intercept[IllegalArgumentException](
      graft.functions.MinHashSig(Literal("x"), 0, 128)) // k = 0
    intercept[IllegalArgumentException](
      graft.functions.LshSignature(Literal.create(Array(1.0)), 65)) // > 64 bits
  }

  test("incremental dedup drops known content, keeps novel, no broadcast hint") {
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "ALPHA  beta"),       // normalizes to known content → dropped
      (11L, "gamma delta"),       // exact known → dropped
      (12L, "epsilon zeta")       // novel → kept
    ).toDF("doc_id", "text")
    val kept = Dedup.incremental(delta, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(12L))
    // scale audit: with auto-broadcast off the anti-join must run on the
    // pure shuffle path (the corpus fingerprint set grows with the corpus)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Dedup.incremental(delta, corpus, "doc_id", "text")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Test-local reference for componentsStars: driver union-find over
    * the same pairs, labelling every node with its component's minimum
    * id (one row per node appearing in `pairs`, self-pairs included). */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def stars(pairs: Seq[(Long, Long)], maxIter: Int = 50): Map[Long, Long] =
    Dedup.componentsStars(pairs.toDF("id_a", "id_b"), maxIter = maxIter)
      .as[(Long, Long)].collect().toMap

  test("componentsStars finds transitive clusters") {
    // two clusters: a 5-node chain (needs several rounds) and a pair;
    // plus the chain joined out of order
    val pairs = Seq((2L, 3L), (4L, 5L), (1L, 2L), (3L, 4L), (10L, 11L))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L)
    assert(unionFind(pairs) == want)
    assert(stars(pairs) == want)
  }

  test("componentsStars agrees with a union-find oracle on a mixed random graph") {
    val rnd = new scala.util.Random(42)
    // several clusters of mixed shape: chains, a hub, random extra edges
    val pairs =
      (0 until 20).map(i => (i.toLong, (i + 1).toLong)) ++           // chain 0..20
      (30 until 40).map(i => (30L, i.toLong + 1)) ++                 // star at 30
      (0 until 15).map { _ =>                                        // random intra-50..70
        val x = 50 + rnd.nextInt(20)
        val y = 50 + (x - 50 + 1 + rnd.nextInt(19)) % 20 // never x itself
        (x.toLong, y.toLong) } ++
      Seq((100L, 101L))
    val expect = unionFind(pairs)
    val got = stars(pairs)
    assert(got == expect, s"stars=$got unionFind=$expect")
  }

  test("componentsStars: self-pair singletons labeled, string ids rejected loud") {
    // a node whose ONLY pair is (x, x) still owes a labeled row — the
    // star read-off alone would drop it (r6 review finding)
    val pairs = Seq((1L, 2L), (5L, 5L), (2L, 1L))
    val expect = Map(1L -> 1L, 2L -> 1L, 5L -> 5L)
    assert(unionFind(pairs) == expect)
    assert(stars(pairs) == expect)
    // non-integral ids: a silent long cast would null every edge and
    // return garbage under non-ANSI SQL — must fail at construction
    val uuidPairs = Seq(("a-1", "b-2")).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException](Dedup.componentsStars(uuidPairs))
    assert(e.getMessage.contains("integral"))
  }

  test("componentsStars: star-shaped input takes zero rounds; non-star input does not") {
    // already a star forest (every root is its component's minimum):
    // the fixpoint test holds before the first round, so maxIter = 0
    // succeeds — hub, two-node clusters, a reversed and a duplicated
    // pair, and a self-loop-only node
    val star = Seq((1L, 2L), (3L, 1L), (1L, 4L), (4L, 1L), (1L, 4L),
      (10L, 11L), (20L, 20L), (30L, 31L), (32L, 30L))
    assert(stars(star, maxIter = 0) == unionFind(star))
    // a path is not a star forest (2 is both a child and a parent), nor
    // is a node with two smaller neighbours (5 → 3 and 5 → 4): both
    // need a round, so maxIter = 0 must throw
    for (nonStar <- Seq(Seq((1L, 2L), (2L, 3L)), Seq((3L, 5L), (4L, 5L)))) {
      val e = intercept[IllegalStateException](stars(nonStar, maxIter = 0))
      assert(e.getMessage.contains("no fixpoint"), e.getMessage)
      assert(stars(nonStar) == unionFind(nonStar))
    }
  }

  test("componentsStars matches union-find on hub, self-loop-only, duplicate and reversed pairs") {
    val rnd = new scala.util.Random(7)
    val hub = (1 to 30).map(i => (100L, 100L + i))                  // hub at its minimum
    val offHub = (1 to 10).map(i => (200L + i, 205L))               // hub in the middle
    val loops = Seq((300L, 300L), (301L, 301L), (302L, 303L), (303L, 303L))
    val dupRev = Seq((400L, 401L), (401L, 400L), (400L, 401L), (402L, 401L), (401L, 402L))
    val randomPairs = (0 until 25).map(_ => (500L + rnd.nextInt(15), 500L + rnd.nextInt(15)))
    for (pairs <- Seq(hub, offHub, loops, dupRev, randomPairs,
                      hub ++ offHub ++ loops ++ dupRev ++ randomPairs))
      assert(stars(pairs) == unionFind(pairs), s"pairs=$pairs")
  }

  test("minhashPairs rejects a non-divisible or degenerate banding") {
    val docs = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    // bands > numPerms → rowsPerBand 0 → every doc in ONE bucket per
    // band: the unblocked cross join the operator exists to avoid
    intercept[IllegalArgumentException](
      Dedup.minhashPairs(docs, "doc_id", "text", numPerms = 128, bands = 256))
    intercept[IllegalArgumentException](
      Dedup.minhashPairs(docs, "doc_id", "text", numPerms = 128, bands = 24))
  }

  test("incremental dedup treats null text consistently with exact/fingerprint") {
    // null fingerprints must match null-safely: a null-text corpus doc
    // dedups null-text delta rows (exact()'s GROUP BY puts all
    // null-text docs in one cluster; the anti-join must agree)
    val corpus = Seq((1L, "alpha"), (2L, null)).toDF("doc_id", "text")
    val delta = Seq((10L, null: String), (11L, "beta"), (12L, null: String))
      .toDF("doc_id", "text")
    val kept = Dedup.incremental(delta, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(11L))
  }

  test("simhashPairs banding is parameterizable; wider banding keeps the defaults' pairs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "an entirely different document about physical plans")
    ).toDF("doc_id", "text")
    val p4 = Dedup.simhashPairs(docs, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSet
    // bands = 8 guarantees recall to hamming <= 7 > the default 6, so
    // it must find every pair the 4-band blocking found
    val p8 = Dedup.simhashPairs(docs, "doc_id", "text", bands = 8)
      .as[(Long, Long, Int)].collect().toSet
    assert(p4.subsetOf(p8), s"p4=$p4 p8=$p8")
    intercept[IllegalArgumentException](
      Dedup.simhashPairs(docs, "doc_id", "text", bands = 5))
  }

  test("simhashPairs(carry): carried columns equal the per-pair re-join derivation") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "quick the brown fox jumps over the lazy dog"),
      (4L, "an entirely different document about physical plans")
    ).toDF("doc_id", "text")
    val fp = xxhash64(concat_ws(" ", array_sort(split(col("text"), " "))))
    val carried = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 64,
        carry = Seq("wh" -> fp))
      .as[(Long, Long, Int, Long, Long)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4, t._5))).toMap
    // derive the same values the slow way: pairs without carry,
    // re-joined against the per-doc fingerprints
    val w = docs.select(col("doc_id"), fp.as("wh"))
      .as[(Long, Long)].collect().toMap
    val plain = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 64)
      .as[(Long, Long, Int)].collect()
      .map(t => (t._1, t._2) -> ((t._3, w(t._1), w(t._2)))).toMap
    assert(carried == plain, s"carried=$carried plain=$plain")
    assert(carried.nonEmpty)
    // docs 1/3 are word permutations: their carried fingerprints agree
    assert(carried.get((1L, 3L)).forall(v => v._2 == v._3))
  }

  test("simhashPairsHard (Manku): finds a pair that disagrees in EVERY band") {
    def sim(t: String): Long = SimHashImpl.compute(UTF8String.fromString(t))
    // a 40-word base makes a one-word append flip ~4 bits in
    // expectation (flips need a tied bit-majority), so a short search
    // finds a suffix whose xor has hamming in [4,6] WITH at least one
    // differing bit in each 16-bit band — the 4×16 banding's candidate
    // generation provably misses that pair; the 8-block hard tables
    // must catch it (≥ 2 blocks still agree).
    val base = (0 until 40).map(i => s"base$i").mkString(" ")
    val adv = (1 to 20000).view.map(i => s"$base extra$i").find { t =>
      val x = sim(base) ^ sim(t)
      val hm = java.lang.Long.bitCount(x)
      hm >= 4 && hm <= 6 &&
        (0 until 4).forall(b => ((x >>> (b * 16)) & 0xffffL) != 0L)
    }
    assert(adv.isDefined, "no all-band-disagreeing suffix in 20000 tries")
    val expectHm = java.lang.Long.bitCount(sim(base) ^ sim(adv.get))
    val docs = Seq((1L, base), (2L, adv.get)).toDF("doc_id", "text")
    val hard = Dedup.simhashPairsHard(docs, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSeq
    assert(hard == Seq((1L, 2L, expectHm)), s"hard=$hard expected hm=$expectHm")
    val banded = Dedup.simhashPairs(docs, "doc_id", "text").collect()
    assert(banded.isEmpty,
      "the 4-band form found a pair that disagrees in every band?!")
  }

  test("simhashPairsHard: equals all-pairs brute force on the corpus; emits once") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val h = 6
    val hardRows = Dedup.simhashPairsHard(docs, "doc_id", "text", maxHamming = h)
      .as[(Long, Long, Int)].collect()
    // emit-once: no pair appears twice across the 28 tables
    assert(hardRows.map(r => (r._1, r._2)).distinct.length == hardRows.length)
    val hard = hardRows.toSet
    val sims = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.simhash64(col("text")).as("sim"))
    val brute = sims.as("a").join(sims.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hm"))
      .filter(col("hm") <= h)
      .as[(Long, Long, Int)].collect().toSet
    assert(hard == brute,
      s"missed=${(brute -- hard).take(5)} extra=${(hard -- brute).take(5)}")
    assert(brute.nonEmpty, "corpus has no near-dup pairs at h=6 — test is vacuous")
    // the banded form's candidates are best-effort: must be a subset
    val banded = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = h)
      .as[(Long, Long, Int)].collect().toSet
    assert(banded.subsetOf(hard))
    // config guards
    intercept[IllegalArgumentException](
      Dedup.simhashPairsHard(docs, "doc_id", "text", maxHamming = 8, blocks = 8))
    intercept[IllegalArgumentException](
      Dedup.simhashPairsHard(docs, "doc_id", "text", maxHamming = 8, blocks = 16))
    intercept[IllegalArgumentException](
      Dedup.simhashPairsHard(docs, "doc_id", "text", carry = Seq("sim" -> lit(1))))
  }

  test("simhashPairs(carry): colliding carry names are rejected up front") {
    val docs = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    // internal working column, output pair column suffix, duplicate
    for (bad <- Seq(Seq("sim" -> lit(1)), Seq("band_val" -> lit(1)),
                    Seq("id" -> lit(1)),
                    Seq("x" -> lit(1), "x" -> lit(2)))) {
      val e = intercept[IllegalArgumentException](
        Dedup.simhashPairs(docs, "doc_id", "text", carry = bad))
      assert(e.getMessage.contains("carry"), e.getMessage)
    }
  }

  test("componentsStars: depth-10k path converges within O(log n) rounds") {
    // r4 verdict item 7: the property the stars variant buys — a path
    // graph of depth 10^4 (diameter 10^4) must converge in O(log n)
    // alternations. maxIter=25 IS the assertion (~2·log2(10^4)=27;
    // min-label would need thousands of rounds without jumping, and
    // pointer jumping alone still takes ~log2(diameter) label hops on
    // a chain). All 10^4+1 nodes must land in component 0.
    val n = 10000
    val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val labels = Dedup.componentsStars(pairs, maxIter = 25)
    assert(labels.filter(col("component") =!= 0L).isEmpty)
    assert(labels.count() == n + 1)
    // the union-find oracle agrees: one component rooted at 0
    assert(unionFind((0 until n).map(i => (i.toLong, (i + 1).toLong))).values.toSet == Set(0L))
  }

  test("JaccardImpl merge scan equals set-based jaccard") {
    val a = new GenericArrayData(Array[Long](1, 3, 5, 7))
    val b = new GenericArrayData(Array[Long](3, 5, 9))
    assert(JaccardImpl.jaccard(a, b) == 2.0 / 5.0)
    assert(JaccardImpl.jaccard(a, a) == 1.0)
    assert(JaccardImpl.jaccard(new GenericArrayData(Array[Long]()),
      new GenericArrayData(Array[Long]())) == 0.0)
  }

  test("MinHashImpl: identical text → identical signature; similar text agrees more") {
    def sig(s: String) = MinHashImpl.compute(UTF8String.fromString(s), 5, 128)
      .toLongArray().toSeq
    val s1 = sig("the quick brown fox jumps over the lazy dog")
    val s2 = sig("THE  quick brown fox jumps over the lazy dog")
    val s3 = sig("the quick brown fox jumps over the lazy cat")
    val s4 = sig("completely different content about spark engines")
    assert(s1 == s2)
    def agree(a: Seq[Long], b: Seq[Long]) = a.zip(b).count(p => p._1 == p._2)
    assert(agree(s1, s3) > agree(s1, s4))
  }

  test("SimHashImpl: identical normalized text → same hash; word order ignored") {
    def h(s: String) = SimHashImpl.compute(UTF8String.fromString(s))
    assert(h("alpha beta gamma") == h("ALPHA  beta   GAMMA"))
    assert(h("alpha beta gamma") == h("gamma alpha beta")) // bag-of-words model
    assert(java.lang.Long.bitCount(h("alpha beta gamma") ^ h("x y z w")) > 6)
  }

  test("semantic dedup: survivors have no lower-id near-dup in their cell") {
    import org.apache.spark.sql.functions._
    val embs = graft.sources.Tables(spark, sfDir, "embeddings")
    val survivors = graft.dedup.Dedup.semantic(embs, "vec_id", "embedding",
      "label", threshold = 0.3)
    val pairs = graft.dedup.Dedup.embedCosinePairs(embs, "vec_id", "embedding",
      "label", threshold = 0.3)
    val n = embs.count()
    val nSurv = survivors.count()
    val nRemoved = pairs.select("id_b").distinct().count()
    assert(nSurv === n - nRemoved)
    assert(nRemoved > 0, "fixture has no near-dups; threshold too high")
    // no survivor appears as the dominated side of any pair
    assert(survivors.join(pairs,
      survivors("vec_id") === pairs("id_b"), "inner").count() === 0)
  }

  test("repeatedSpans finds maximal cross-doc spans, merges islands, skips short docs") {
    def toks(n: Int, tag: String): String = (1 to n).map(i => s"$tag$i").mkString(" ")
    // docs 10/11 share an exact 12-token run at different offsets;
    // doc 12 repeats a 10-token run INSIDE itself (within-doc repeat);
    // doc 13 is shorter than k (never forms a window); doc 14 is null.
    val shared = toks(12, "s")
    val inner = toks(10, "r")
    val d = Seq(
      (10L, s"${toks(3, "a")} $shared ${toks(4, "b")}"),
      (11L, s"$shared ${toks(7, "c")}"),
      (12L, s"$inner ${toks(5, "d")} $inner"),
      (13L, toks(6, "e")),
      (14L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(d, "doc_id", "text", k = 10, minCount = 2)
      .orderBy("doc_id", "span_pos")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    // doc 10: span at token 4 (1-based), 12 tokens, 3 windows
    // doc 11: same content at token 1 — md5s must agree
    // doc 12: two 10-token spans (pos 1 and pos 16), 1 window each
    assert(got.map(r => (r._1, r._2, r._3, r._4)) ==
      Seq((10L, 4L, 12L, 3L), (11L, 1L, 12L, 3L),
        (12L, 1L, 10L, 1L), (12L, 16L, 10L, 1L)))
    assert(got(0)._5 == got(1)._5, "shared span content hash must match")
    assert(got(2)._5 == got(3)._5, "within-doc repeat content hash must match")
  }

  test("scrubRepeatedSpans keeps exactly the corpus-global first occurrence") {
    def toks(n: Int, tag: String): String = (1 to n).map(i => s"$tag$i").mkString(" ")
    val shared = toks(12, "s")
    val d = Seq(
      (10L, s"${toks(3, "a")} $shared ${toks(4, "b")}"), // first occurrence -> kept
      (11L, s"$shared ${toks(7, "c")}"),                 // later occurrence -> cut
      (12L, shared),                                     // whole doc is the span -> NULL
      (13L, toks(6, "e"))                                // untouched
    ).toDF("doc_id", "text")
    val got = Dedup.scrubRepeatedSpans(d, "doc_id", "text", k = 10, minCount = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got(0) == (10L, 19L, 0L, s"${toks(3, "a")} $shared ${toks(4, "b")}"))
    assert(got(1) == (11L, 19L, 12L, toks(7, "c")))
    assert(got(2)._3 == 12L && got(2)._4 == null)
    assert(got(3) == (13L, 6L, 0L, toks(6, "e")))
  }
}
