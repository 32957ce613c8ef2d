package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{GramHashImpl, JaccardImpl, MinHashImpl, SigAgreeImpl, SimHashImpl}

/** Property-style tests for the codegen kernels over seeded random
  * samples — no Spark session needed, these hit the static
  * implementations the generated code calls. */
class KernelPropertySpec extends AnyFunSuite {

  private val rng = new scala.util.Random(42)
  private val Trials = 200

  private def randomSet(): Set[Long] =
    Seq.fill(rng.nextInt(60))(rng.nextLong() % 1000).toSet

  private def arr(s: Set[Long]) = new GenericArrayData(s.toArray.sorted)

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta")
  private def randomText(): String =
    Seq.fill(1 + rng.nextInt(30))(vocab(rng.nextInt(vocab.size))).mkString(" ")

  test("JaccardImpl equals set-definition jaccard for any sorted distinct input") {
    (1 to Trials).foreach { _ =>
      val (a, b) = (randomSet(), randomSet())
      val want =
        if (a.isEmpty && b.isEmpty) 0.0
        else a.intersect(b).size.toDouble / a.union(b).size.toDouble
      assert(JaccardImpl.jaccard(arr(a), arr(b)) == want, s"a=$a b=$b")
    }
  }

  test("SigAgreeImpl equals the positional-agreement definition; foreign shapes -> 0") {
    (1 to Trials).foreach { _ =>
      val n = 1 + rng.nextInt(128)
      val a = Array.fill(n)(rng.nextLong() % 8)
      val b = Array.fill(n)(rng.nextLong() % 8)
      val want = a.zip(b).count { case (x, y) => x == y }.toDouble / n
      val got = SigAgreeImpl.agree(new GenericArrayData(a), new GenericArrayData(b))
      assert(got == want, s"n=$n")
      assert(SigAgreeImpl.agree(new GenericArrayData(a), new GenericArrayData(a)) == 1.0)
    }
    val a = new GenericArrayData(Array(1L, 2L, 3L))
    assert(SigAgreeImpl.agree(a, new GenericArrayData(Array(1L, 2L))) == 0.0)
    assert(SigAgreeImpl.agree(new GenericArrayData(Array.empty[Long]),
      new GenericArrayData(Array.empty[Long])) == 0.0)
  }

  test("GramHashes: sorted, distinct, one hash per distinct shingle; jaccard equals string-set jaccard") {
    def naiveGrams(s: String): Set[String] = {
      val t = s.replaceAll("\\s+", " ").trim.toLowerCase
      if (t.length <= 5) Set(t.take(5))
      else (0 to t.length - 5).map(i => t.substring(i, i + 5)).toSet
    }
    (1 to Trials).foreach { _ =>
      val (ta, tb) = (randomText(), randomText())
      val ga = GramHashImpl.compute(UTF8String.fromString(ta), 5).toLongArray()
      val gb = GramHashImpl.compute(UTF8String.fromString(tb), 5).toLongArray()
      assert(ga.toSeq == ga.toSeq.sorted && ga.toSet.size == ga.length, "sorted+distinct")
      assert(ga.length == naiveGrams(ta).size, s"gram count for '$ta'")
      val want =
        if (naiveGrams(ta).isEmpty && naiveGrams(tb).isEmpty) 0.0
        else naiveGrams(ta).intersect(naiveGrams(tb)).size.toDouble /
          naiveGrams(ta).union(naiveGrams(tb)).size
      val got = JaccardImpl.jaccard(new GenericArrayData(ga), new GenericArrayData(gb))
      assert(got == want, s"jaccard for '$ta' vs '$tb'")
    }
  }

  test("BigramCounts equals the substr-window multiset for any input, incl. surrogates") {
    def naive(s: String): Map[String, Long] = {
      // code-point bigrams, the substr(t, i, 2) definition
      val cps = s.codePoints().toArray
      (0 until cps.length - 1).map { i =>
        new String(cps, i, 2)
      }.groupBy(identity).map { case (g, occ) => g -> occ.size.toLong }
    }
    val texts = Seq("", "a", "ab", "aaa", "ab ab ab", "día año",
      "a😀b😀", // non-BMP: emoji as single code points
      randomText(), randomText(), randomText())
    (texts ++ (1 to Trials).map(_ => randomText())).foreach { t =>
      val m = graft.functions.BigramCountsImpl.compute(UTF8String.fromString(t))
      // keys are cp1 << 21 | cp2: decode back to the two code points
      val got = (0 until m.numElements()).map { i =>
        val k = m.keyArray().getLong(i)
        new String(Array((k >>> 21).toInt, (k & 0x1FFFFF).toInt), 0, 2) ->
          m.valueArray().getLong(i)
      }.toMap
      assert(got.size == m.numElements(), s"distinct keys for '$t'")
      assert(got == naive(t), s"bigram counts for '$t'")
    }
  }

  test("JaccardImpl is symmetric and bounded") {
    (1 to Trials).foreach { _ =>
      val (a, b) = (randomSet(), randomSet())
      val j1 = JaccardImpl.jaccard(arr(a), arr(b))
      val j2 = JaccardImpl.jaccard(arr(b), arr(a))
      assert(j1 == j2 && j1 >= 0.0 && j1 <= 1.0)
    }
  }

  test("MinHash signature is deterministic and whitespace/case invariant") {
    def sig(s: String) = MinHashImpl.compute(UTF8String.fromString(s), 5, 64).toLongArray().toSeq
    (1 to Trials).foreach { _ =>
      val t = randomText()
      assert(sig(t) == sig("  " + t.toUpperCase.replace(" ", "   ") + " "), t)
    }
  }

  test("MinHash agreement is total for identical docs, partial for disjoint vocab") {
    def sig(s: String) = MinHashImpl.compute(UTF8String.fromString(s), 5, 64).toLongArray()
    (1 to Trials).foreach { _ =>
      val t = randomText()
      val same = sig(t).zip(sig(t)).count(p => p._1 == p._2)
      val other = sig(t).zip(sig("qqqq wwww xxxx yyyy zzzz")).count(p => p._1 == p._2)
      assert(same == 64 && other < 64, t)
    }
  }

  test("MinHash estimated jaccard tracks true shingle jaccard") {
    def shingles(s: String): Set[String] = {
      val n = MinHashImpl.normalize(s)
      (0 to math.max(n.length - 5, 0)).map(i => n.substring(i, math.min(i + 5, n.length))).toSet
    }
    def sig(s: String) = MinHashImpl.compute(UTF8String.fromString(s), 5, 128).toLongArray()
    var totalErr = 0.0
    val pairs = 100
    (1 to pairs).foreach { _ =>
      val (a, b) = (randomText(), randomText())
      val sa = shingles(a); val sb = shingles(b)
      val trueJ = sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
      val estJ = sig(a).zip(sig(b)).count(p => p._1 == p._2).toDouble / 128
      totalErr += math.abs(trueJ - estJ)
    }
    // 128 perms → stderr ~ sqrt(j(1-j)/128) ≈ 0.04; mean abs error well under 0.1
    assert(totalErr / pairs < 0.1, s"mean abs error ${totalErr / pairs}")
  }

  test("SimHash is a bag-of-words model: order invariant") {
    (1 to Trials).foreach { _ =>
      val t = randomText()
      val shuffled = t.split(" ").reverse.mkString(" ")
      assert(SimHashImpl.compute(UTF8String.fromString(t)) ==
        SimHashImpl.compute(UTF8String.fromString(shuffled)), t)
    }
  }

  test("WinnowImpl equals a naive per-window recompute for any input") {
    def naive(text: String, k: Int, w: Int): Seq[Long] = {
      val s = MinHashImpl.normalize(text)
      val n = s.length
      val m = math.max(n - (k - 1), 1)
      val hs = (0 until m).map { i =>
        (0 until k).foldLeft(0L)((h, j) =>
          h * 31L + (if (i + j < n) s.charAt(i + j).toLong else 0L)) % 1000000007L
      }
      val wm = math.max(m - (w - 1), 1)
      (0 until wm).map(j => hs.slice(j, j + w).min).distinct.sorted
    }
    (1 to Trials).foreach { _ =>
      val t = randomText()
      val (k, w) = (2 + rng.nextInt(5), 1 + rng.nextInt(8))
      val got = graft.functions.WinnowImpl
        .compute(UTF8String.fromString(t), k, w).toLongArray().toSeq
      assert(got == naive(t, k, w), s"t='$t' k=$k w=$w")
    }
    // degenerate inputs: shorter than k, shorter than w
    Seq("", "a", "ab").foreach { t =>
      val got = graft.functions.WinnowImpl
        .compute(UTF8String.fromString(t), 4, 5).toLongArray().toSeq
      assert(got == naive(t, 4, 5), s"t='$t'")
    }
  }

  test("cosine: zero-norm vectors score 0.0 (never NaN), ragged lengths fail loud") {
    import graft.functions.VecOps
    def v(xs: Double*) = new GenericArrayData(xs.toArray)
    // NaN would sort above every double and pass every >= threshold —
    // a zero/padding embedding must match NOTHING, not everything
    assert(VecOps.cosine(v(0.0, 0.0), v(1.0, 2.0)) == 0.0)
    assert(VecOps.cosine(v(0.0, 0.0), v(0.0, 0.0)) == 0.0)
    assert(math.abs(VecOps.cosine(v(1.0, 0.0), v(1.0, 0.0)) - 1.0) < 1e-12)
    intercept[IllegalArgumentException](VecOps.cosine(v(1.0), v(1.0, 2.0)))
  }

  test("normalize mirrors Catalyst trim/lower, kernels index code points") {
    // Spark's trim strips ONLY spaces: a control char at the edge (not
    // regex \s) must survive, where Java String.trim would eat it
    assert(MinHashImpl.normalize("Hello  WORLD ") == "hello world")
    // tab/newline are \s: collapsed into single spaces before trim
    assert(MinHashImpl.normalize("\ta B\nc ") == "a b c")
    // non-BMP text: gram kernels count CODE POINTS like substr(), so a
    // k=2 gram set over "<emoji>ab" has 2 grams, not the 3 a UTF-16
    // charAt walk would produce by splitting the surrogate pair
    val t = UTF8String.fromString("😀ab") // U+1F600 + "ab"
    assert(GramHashImpl.compute(t, 2).numElements() == 2)
    // and identical text yields identical hashes through every kernel
    assert(SimHashImpl.compute(t) == SimHashImpl.compute(
      UTF8String.fromString("😀ab")))
  }

  test("TopKLargest heap semantics equal sort-and-take for any stream split") {
    val agg = graft.functions.TopKLargest(
      org.apache.spark.sql.catalyst.expressions.Literal(0L), k = 5)
    (1 to Trials).foreach { _ =>
      val values = Seq.fill(1 + rng.nextInt(40))(rng.nextLong() % 1000)
      // split the stream arbitrarily into partial buffers, then merge
      val cut = rng.nextInt(values.size + 1)
      val (p1, p2) = values.splitAt(cut)
      def fill(vs: Seq[Long]) = {
        val b = agg.createAggregationBuffer()
        vs.foreach { v =>
          b.add(v)
          if (b.size > 5) b.poll()
        }
        b
      }
      // round-trip one side through serialize/deserialize (the shuffle path)
      val merged = agg.merge(fill(p1), agg.deserialize(agg.serialize(fill(p2))))
      val got = agg.eval(merged)
        .asInstanceOf[GenericArrayData].toLongArray().toSeq
      assert(got == values.sorted.reverse.take(5), s"values=$values cut=$cut")
    }
  }

  test("WordNgramHashImpl: 2n-1 features, count-map equals hash multiset, split mirrors string_split") {
    import graft.functions.WordNgramHashImpl
    def words(t: String): Array[String] = {
      // string_split semantics: every single space delimits, empties kept
      var out = List.empty[String]; var start = 0
      (0 to t.length).foreach { i =>
        if (i == t.length || t.charAt(i) == ' ') { out = t.substring(start, i) :: out; start = i + 1 }
      }
      out.reverse.toArray
    }
    val texts = Seq("", "a", "a b", "a  b", " a b ", "alpha beta alpha beta") ++
      (1 to 50).map(_ => randomText())
    texts.foreach { t =>
      val hs = WordNgramHashImpl.hashes(UTF8String.fromString(t))
      val w = words(t)
      assert(hs.length == 2 * w.length - 1, s"t='$t'")
      // identity property: equal word strings -> equal unigram hashes,
      // equal adjacent pairs -> equal bigram hashes
      val uni = hs.take(w.length)
      w.zipWithIndex.groupBy(_._1).values.foreach { grp =>
        assert(grp.map(x => uni(x._2)).toSet.size == 1, s"t='$t'")
      }
      // count map equals the multiset of hashes
      val md = WordNgramHashImpl.counts(UTF8String.fromString(t))
      val got = md.keyArray().toLongArray().zip(md.valueArray().toLongArray()).toMap
      val want = hs.groupBy(identity).view.mapValues(_.length.toLong).toMap
      assert(got == want, s"t='$t'")
    }
  }

  test("WordNgramHashImpl: distinct words get distinct hashes on the test vocab") {
    import graft.functions.WordNgramHashImpl
    val hs = vocab.map(v => WordNgramHashImpl.hashes(UTF8String.fromString(v))(0))
    assert(hs.toSet.size == vocab.size)
  }

  test("WordNgramMd5Impl bucket equals the declarative md5-hex definition") {
    import graft.functions.WordNgramMd5Impl
    // declarative twin: first 15 hex chars of md5(feat) as int, mod B
    def sqlBucket(feat: String, b: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(feat.getBytes("UTF-8"))
      val hex = d.map(x => f"$x%02x").mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % b
    }
    val texts = Seq("", "a", "a b", "a  b", "alpha beta gamma") ++
      (1 to 30).map(_ => randomText())
    for (t <- texts; b <- Seq(7L, 4096L)) {
      val md = WordNgramMd5Impl.buckets(UTF8String.fromString(t), b)
      val got = md.keyArray().toLongArray().zip(md.valueArray().toLongArray()).toMap
      // build expected from string features
      var w = List.empty[String]; var start = 0
      (0 to t.length).foreach { i =>
        if (i == t.length || t.charAt(i) == ' ') { w = t.substring(start, i) :: w; start = i + 1 }
      }
      val ws = w.reverse.toArray
      val feats = ws ++ ws.sliding(2).filter(_.length == 2).map(_.mkString(" "))
      val want = feats.groupBy(f => sqlBucket(f, b)).view.mapValues(_.length.toLong).toMap
      assert(got == want, s"t='$t' b=$b")
    }
  }

  test("WordWindowHashImpl: one hash per k-window, identity tracks the joined string windows") {
    import graft.functions.WordWindowHashImpl
    def words(t: String): Array[String] = {
      var out = List.empty[String]; var start = 0
      (0 to t.length).foreach { i =>
        if (i == t.length || t.charAt(i) == ' ') { out = t.substring(start, i) :: out; start = i + 1 }
      }
      out.reverse.toArray
    }
    val texts = Seq("", "a", "a b", "a  b c", "x y x y x y") ++
      (1 to 50).map(_ => randomText())
    for (t <- texts; k <- Seq(2, 3, 10)) {
      val hs = WordWindowHashImpl.compute(UTF8String.fromString(t), k)
        .asInstanceOf[GenericArrayData].toLongArray()
      val w = words(t)
      val wins = if (w.length < k) Array.empty[String]
                 else w.sliding(k).map(_.mkString(" ")).toArray
      assert(hs.length == wins.length, s"t='$t' k=$k")
      // equal string windows -> equal hashes; distinct windows -> distinct
      // hashes on these samples (collision would be a test-data miracle)
      wins.zipWithIndex.groupBy(_._1).values.foreach { grp =>
        assert(grp.map(x => hs(x._2)).toSet.size == 1, s"t='$t' k=$k")
      }
      assert(hs.toSet.size == wins.toSet.size, s"t='$t' k=$k")
    }
  }

  test("BandEmitOnceImpl.earlierAgree equals the prefix-scan definition") {
    (1 to Trials).foreach { _ =>
      val n = 1 + rng.nextInt(32)
      // small value domain so prefix agreements actually occur
      val a = Array.fill(n)((rng.nextLong() % 4).abs)
      val b = Array.fill(n)((rng.nextLong() % 4).abs)
      (0 to n).foreach { bandId =>
        val want = (0 until bandId).exists(i => a(i) == b(i))
        assert(graft.functions.BandEmitOnceImpl.earlierAgree(
          new GenericArrayData(a), new GenericArrayData(b), bandId) == want,
          s"a=${a.toSeq} b=${b.toSeq} bandId=$bandId")
      }
    }
  }

  test("emit-once over all agreeing bands keeps each pair exactly once") {
    (1 to Trials).foreach { _ =>
      val n = 1 + rng.nextInt(32)
      val a = Array.fill(n)((rng.nextLong() % 3).abs)
      val b = Array.fill(n)((rng.nextLong() % 3).abs)
      val agreeing = (0 until n).filter(i => a(i) == b(i))
      val emitted = agreeing.filterNot(i =>
        graft.functions.BandEmitOnceImpl.earlierAgree(
          new GenericArrayData(a), new GenericArrayData(b), i))
      assert(emitted.size == (if (agreeing.isEmpty) 0 else 1),
        s"a=${a.toSeq} b=${b.toSeq}")
      if (agreeing.nonEmpty) assert(emitted.head == agreeing.head)
    }
  }

  test("CappedCollectLongs: complete iff the group fits the cap, across any partial split") {
    import graft.functions.CappedCollectLongs
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.LongType
    val cap = 5L
    val agg = CappedCollectLongs(BoundReference(0, LongType, nullable = true), cap)
    def run(partitions: Seq[Seq[Long]]): Any = {
      // partial buffers, serialize/deserialize round-trip, then merge —
      // the real ObjectHashAggregate path shape
      val partials = partitions.map { vs =>
        val b = agg.createAggregationBuffer()
        vs.foreach(v => agg.update(b, InternalRow(v)))
        agg.deserialize(agg.serialize(b))
      }
      val merged = partials.reduceLeft(agg.merge)
      agg.eval(merged)
    }
    // fits: any split of 5 values yields the complete (unordered) list
    val vals = Seq(10L, 20L, 30L, 40L, 50L)
    for (splitAt <- 0 to vals.length) {
      val got = run(Seq(vals.take(splitAt), vals.drop(splitAt)))
      assert(got != null)
      val arr = got.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      assert((0 until arr.numElements()).map(arr.getLong).sorted == vals,
        s"splitAt=$splitAt")
    }
    // exceeds: NULL regardless of which side overflowed
    assert(run(Seq(Seq.fill(6)(1L), Seq.empty)) == null)
    assert(run(Seq(Seq.fill(3)(1L), Seq.fill(3)(2L))) == null)
    // an overflowed partial poisons the merge even into an empty buffer
    assert(run(Seq(Seq.empty, Seq.fill(7)(9L))) == null)
    // nulls don't count toward the cap
    val b = agg.createAggregationBuffer()
    (1 to 10).foreach(_ => agg.update(b, InternalRow(null)))
    agg.update(b, InternalRow(42L))
    val r = agg.eval(b).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(r.numElements() == 1 && r.getLong(0) == 42L)
  }

  test("CleanBigramImpl equals split+adjacent-join+distinct+regex on adversarial whitespace") {
    import graft.functions.CleanBigramImpl
    def naive(t: String): Seq[String] = {
      val w = t.split(" ", -1) // keep empty tokens, like split(col, " ")
      if (w.length < 2) Seq.empty
      else w.sliding(2).map(_.mkString(" ")).toSeq.distinct
        .filter(_.matches("^\\S+ \\S+$"))
    }
    val chars = "ab \t\n\f\r " // incl. double-space chances + NBSP (\S!)
    (1 to Trials).foreach { _ =>
      val t = Seq.fill(rng.nextInt(40))(chars(rng.nextInt(chars.length))).mkString
      val got = CleanBigramImpl.compute(UTF8String.fromString(t))
      val gotSeq = (0 until got.numElements())
        .map(i => got.getUTF8String(i).toString)
      assert(gotSeq == naive(t), s"text=${t.map(c => f"\\u${c.toInt}%04x")}")
      assert(gotSeq.distinct == gotSeq)
    }
    // pinned cases: empty, single word, clean pair, empty token, tab token
    assert(CleanBigramImpl.compute(UTF8String.fromString("")).numElements() == 0)
    assert(CleanBigramImpl.compute(UTF8String.fromString("solo")).numElements() == 0)
    val ab = CleanBigramImpl.compute(UTF8String.fromString("a b"))
    assert(ab.numElements() == 1 && ab.getUTF8String(0).toString == "a b")
    assert(CleanBigramImpl.compute(UTF8String.fromString("a  b")).numElements() == 0)
    assert(CleanBigramImpl.compute(UTF8String.fromString("a\tx b")).numElements() == 0)
    // repeated bigram dedupes; NBSP is \S so it binds
    assert(CleanBigramImpl.compute(UTF8String.fromString("x y x y")).numElements() == 2)
    assert(CleanBigramImpl.compute(UTF8String.fromString("a b c")).numElements() == 1)
  }
}
