package graft

import org.apache.spark.sql.functions._
import graft.sim.Ann
import graft.text.TextStats

class AnnTextSpec extends SparkSpec {
  import spark.implicits._

  private val embs = Seq(
    (0L, Array(1f, 0f, 0f, 0f), 0), (1L, Array(0.95f, 0.05f, 0f, 0f), 0),
    (2L, Array(0.9f, 0.1f, 0f, 0f), 0), (3L, Array(0f, 1f, 0f, 0f), 1),
    (4L, Array(0f, 0.9f, 0.1f, 0f), 1), (5L, Array(0f, 0f, 1f, 0f), 2),
    (6L, Array(0f, 0f, 0.9f, 0.1f), 2), (7L, Array(0.5f, 0.5f, 0f, 0f), 0)
  ).toDF("vec_id", "embedding", "label")

  test("bruteForceTopK: self is rank 1 with cos 1.0; ranks dense and ordered") {
    val got = Ann.bruteForceTopK(embs.filter(col("vec_id") === 0), embs,
      "vec_id", "embedding", 3).orderBy("rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(got.length == 3)
    assert(got.head == ((0L, 0L, 1.0, 1)))
    assert(got.map(_._4).toSeq == Seq(1, 2, 3))
    assert(got.map(_._3).toSeq == got.map(_._3).sorted.reverse.toSeq)
  }

  test("ivfTopK finds the same top neighbor as brute force for clustered vectors") {
    val bf = Ann.bruteForceTopK(embs.filter(col("vec_id") === 0), embs,
      "vec_id", "embedding", 2).filter(col("rank") === 1)
      .select("neighbor_id").as[Long].head()
    val ivf = Ann.ivfTopK(embs.filter(col("vec_id") === 0), embs,
      "vec_id", "embedding", "label", 2).filter(col("rank") === 1)
      .select("neighbor_id").as[Long].head()
    assert(ivf == bf)
  }

  test("ivfLearnedTopK: full probe equals brute force; pruned probe finds top-1") {
    val q = embs.filter(col("vec_id") === 0)
    val bf = Ann.bruteForceTopK(q, embs, "vec_id", "embedding", 5)
      .select("neighbor_id", "cos", "rank").as[(Long, Double, Int)].collect().toSeq
    // probing every learned cell must reproduce brute force exactly
    val full = Ann.ivfLearnedTopK(q, embs, "vec_id", "embedding", 5,
        nCells = 4, nprobe = 4)
      .select("neighbor_id", "cos", "rank").as[(Long, Double, Int)].collect().toSeq
    assert(full == bf)
    // the pruned scale path still finds the true nearest neighbor
    val pruned = Ann.ivfLearnedTopK(q, embs, "vec_id", "embedding", 1,
        nCells = 4, nprobe = 1).select("neighbor_id").as[Long].head()
    assert(pruned == bf.head._1)
  }

  test("lshTopK returns ranked candidates including the query itself") {
    val got = Ann.lshTopK(embs.filter(col("vec_id") === 0), embs,
      "vec_id", "embedding", 3)
    val rows = got.orderBy("rank").as[(Long, Long, Double, Int)].collect()
    assert(rows.nonEmpty && rows.head._2 == 0L && rows.head._3 == 1.0)
  }

  test("l2Normalize yields unit vectors; zero vector unchanged") {
    val df = Seq(Array(3f, 4f, 0f, 0f), Array(0f, 0f, 0f, 0f)).toDF("v")
    val norms = df.select(
      sqrt(aggregate(graft.sim.Vectors.l2Normalize(col("v")),
        lit(0.0), (s, x) => s + x * x)).as("n")).as[Double].collect()
    assert(math.abs(norms(0) - 1.0) < 1e-12 && norms(1) == 0.0)
  }

  test("int8 quantization round-trips within scale/254 per component") {
    val df = Seq(Array(0.5f, -1.0f, 0.25f, 0.75f)).toDF("v")
    val got = df.select(
        graft.sim.Vectors.dequantize(graft.sim.Vectors.quantizeInt8(col("v"))).as("d"),
        col("v"))
      .as[(Seq[Double], Seq[Float])].head()
    val scale = 1.0 / 127.0
    got._1.zip(got._2).foreach { case (d, f) =>
      assert(math.abs(d - f) <= scale / 2 + 1e-9, s"$d vs $f")
    }
  }

  test("quantize_int8 kernel equals the declarative HOF form on the embeddings table") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val vecs = graft.sources.Tables(spark, sfDir, "embeddings")
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select("vec_id", "embedding")
      .union(Seq(Array(0f, 0f), Array(1f, -127f), Array(0.005f, -0.005f))
        .toDF("embedding")
        .select(lit(-1L).as("vec_id"), col("embedding")))
    def render(q: org.apache.spark.sql.Column) = vecs.select(
        q.getField("scale").as("s"),
        concat_ws(",", transform(q.getField("q"), x => x.cast("string"))).as("qc"))
      .collect().map(r => (r.getDouble(0), r.getString(1))).toSeq
    val kernel = render(graft.sim.Vectors.quantizeInt8(col("embedding")))
    val decl = render(graft.sim.Vectors.quantizeInt8Decl(col("embedding")))
    assert(kernel == decl)
    assert(kernel.nonEmpty)
  }

  test("text_quality_stats kernel equals the declarative counters on adversarial text") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val stops = graft.text.TextStats.stopwords.flatMap(_._2).distinct
    val probes = Seq(
      "the quick brown fox", "THE THE the", "", " ", "  ", "a  b",
      "trailing space ", " leading", "punct!!! and, more.",
      "café naïve 中文 😀 mix",
      "1984 2x4 a1b2", "el gato y the dog", "word",
      "that that that that that that that that that") ++
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("text").limit(200).collect().map(_.getString(0)).toSeq
    val df = probes.toDF("t")
    val decl = df.select(
        size(split(col("t"), " ")).cast("long"),
        size(regexp_extract_all(col("t"), lit("[^A-Za-z0-9 ]"), lit(0))).cast("long"),
        size(filter(split(lower(col("t")), " "), w => w.isin(stops: _*))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val kern = df.select(graft.functions.GraftFunctions
        .textQualityStats(col("t"), stops).as("s"))
      .select(col("s.n_words"), col("s.punct"), col("s.stops"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    probes.indices.foreach { i =>
      assert(decl(i) == kern(i),
        s"diverges on '${probes(i).take(60)}': decl=${decl(i)} kernel=${kern(i)}")
    }
  }

  test("repetitionRatio2 kernel equals the words-array HOF form") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val probes = Seq(
      "", " ", "  ", "one", "a a a a a", "a b a b a b", "x y z",
      "dup dup", "a  b a  b", "trail ", " lead", "a b c a b c a b",
      "solo  ") ++
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("text").limit(200).collect().map(_.getString(0)).toSeq
    val df = probes.toDF("t")
    val hof = df.select(graft.text.TextStats
        .repetitionRatio(split(col("t"), " "), 2)).collect().map(_.getDouble(0))
    val kern = df.select(graft.text.TextStats
        .repetitionRatio2(col("t"))).collect().map(_.getDouble(0))
    probes.indices.foreach { i =>
      assert(hof(i) == kern(i),
        s"diverges on '${probes(i).take(50)}': hof=${hof(i)} kernel=${kern(i)}")
    }
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq("the cat is in the hat", "el gato es un gato", "zzz qqq").toDF("text")
    val got = df.select(TextStats.langId(col("text"))).as[String].collect()
    assert(got.toSeq == Seq("en", "es", "und"))
  }

  test("token counts: whitespace vs BPE-ish") {
    val df = Seq("hello world 42!").toDF("text")
    val got = df.select(TextStats.wsTokens(col("text")),
      TextStats.bpeTokens(col("text"))).as[(Long, Long)].head()
    assert(got == ((3L, 4L))) // hello|world|42|!
  }

  test("quality score is in [0,1] and favors prose over symbols") {
    val df = Seq(("a", "the quick brown fox is a good dog and that is that"),
                 ("b", "@#$% ^&*! ~~~~")).toDF("id", "text")
    val got = df.orderBy("id").select(TextStats.qualityScore(col("text"))).as[Double].collect()
    assert(got.forall(q => q >= 0.0 && q <= 1.0))
    assert(got(0) > got(1))
  }

  test("fingerprint is whitespace/case invariant") {
    val df = Seq(("A b  C", "a b c")).toDF("x", "y")
    val got = df.select(TextStats.fingerprint(col("x")) === TextStats.fingerprint(col("y")))
      .as[Boolean].head()
    assert(got)
  }

  test("winnowing fingerprints: deterministic, shared-substring guarantee, normalization") {
    val a = "the quick brown fox jumps over the lazy dog tonight"
    val b = "a cat sat here but the quick brown fox jumps over the lazy dog indeed"
    val c = "completely different words without any overlap whatsoever present"
    val df = Seq((a, a.toUpperCase.replace(" ", "  "), b, c)).toDF("a", "a2", "b", "c")
    val row = df.select(
      TextStats.winnowFingerprints(col("a")), TextStats.winnowFingerprints(col("a2")),
      TextStats.winnowFingerprints(col("b")), TextStats.winnowFingerprints(col("c"))).head()
    val (fa, fa2, fb, fc) = (row.getSeq[Long](0), row.getSeq[Long](1),
      row.getSeq[Long](2), row.getSeq[Long](3))
    assert(fa == fa2) // case/whitespace normalization
    // codegen kernel equals the declarative reference form
    val decl = df.select(TextStats.winnowFingerprintsDecl(col("a"))).head().getSeq[Long](0)
    assert(fa == decl, s"kernel $fa != declarative $decl")
    assert(fa == fa.sorted && fa.distinct == fa) // sorted, distinct
    // winnowing guarantee: docs sharing a substring >= k+w-1 chars share
    // at least one fingerprint; a and b share a long clause
    assert(fa.toSet.intersect(fb.toSet).nonEmpty)
    // unrelated docs overlap far less than near-dups
    val simAB = fa.toSet.intersect(fb.toSet).size.toDouble / fa.toSet.union(fb.toSet).size
    val simAC = fa.toSet.intersect(fc.toSet).size.toDouble / fa.toSet.union(fc.toSet).size
    assert(simAB > simAC)
  }

  test("bm25 ranks term-dense short docs above diluted and term-free docs") {
    import graft.text.Rank
    val docs = Seq(
      (1L, "spark spark query fast engine"),          // both terms, short
      (2L, "spark and many other words here making this document quite long indeed"),
      (3L, "nothing relevant at all"),
      (4L, "query")                                   // one term, minimal length
    ).toDF("doc_id", "text")
    val got = Rank.bm25(docs, "doc_id", "text", Seq("spark", "query"), limit = 10)
      .as[(Long, Double)].collect()
    val ranked = got.map(_._1).toSeq
    assert(!ranked.contains(3L))          // no query terms → no row
    assert(ranked.head == 1L, ranked)     // dense short doc wins
    assert(got.forall(_._2 > 0))
    // idf: rarer terms weigh more — a doc with only the rare term beats
    // a doc with only the common term at equal tf/length
    val docs2 = Seq(
      (1L, "common rare"), (2L, "common x"), (3L, "common y"), (4L, "common z"),
      (10L, "rare pad"), (11L, "common pad")
    ).toDF("doc_id", "text")
    val s = Rank.bm25(docs2, "doc_id", "text", Seq("rare", "common"), limit = 10)
      .as[(Long, Double)].collect().toMap
    assert(s(10L) > s(11L))
  }

  test("repetitionRatio: repeats raise it, unique text scores 0, short docs 0") {
    import graft.text.TextStats
    val df = Seq(
      (1L, "a b a b a b"),   // 2-grams: ab ba ab ba ab → 5 total, 2 distinct
      (2L, "u v w x y z"),   // all distinct
      (3L, "solo")           // shorter than n
    ).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .repartition(2)
      .select(col("doc_id"), TextStats.repetitionRatio(col("w"), 2).as("rep"))
      .orderBy("doc_id").as[(Long, Double)].collect().toSeq
    assert(df == Seq((1L, 0.6), (2L, 0.0), (3L, 0.0)))
  }

  test("buildVocab: df cutoff, rank by (df desc, term)") {
    import graft.text.Rank
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta"), (3L, "alpha zeta zeta")
    ).toDF("doc_id", "text")
    // zeta appears twice in doc 3 but df counts DOCUMENTS, not tokens
    val v = Rank.buildVocab(docs, "doc_id", "text", minDf = 2L)
      .as[(String, Long, Long)].collect().toSeq
    assert(v == Seq(("alpha", 3L, 1L), ("beta", 2L, 2L)))
  }

  test("tokenize: in-order ids under the trained vocab, OOV -> 0, every doc kept") {
    import graft.text.Rank
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "beta alpha"), (3L, "alpha zeta zeta"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    // vocab at minDf=2: alpha=1, beta=2 (df desc, term asc); rest OOV
    val got = Rank.tokenize(docs, "doc_id", "text", minDf = 2L)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 1L, "1,2,0"),
      (2L, 2L, 0L, "2,1"),
      (3L, 3L, 2L, "1,0,0"),
      (4L, 1L, 1L, "0"))) // null text -> one empty token, UNK
  }

  test("keywords: rare repeated terms outrank corpus-universal ones") {
    import graft.text.Rank
    val docs = Seq(
      (1L, "common rare rare rare common"),
      (2L, "common other"),
      (3L, "common third")
    ).toDF("doc_id", "text")
    val kw = Rank.keywords(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rnk")
      .as[(Long, String, Double, Int)].collect().toSeq
    // doc 1: 'rare' (tf=3, df=1 → 3*ln(2)=2.0794) beats 'common'
    // (tf=2 but df=N → idf = ln(1) = 0: universal terms NEVER rank)
    assert(kw.filter(_._1 == 1L).map(_._2) == Seq("rare", "common"))
    assert(kw.find(r => r._1 == 1L && r._2 == "rare").get._3 === 2.0794)
    assert(kw.filter(_._1 == 1L).map(_._3).last === 0.0)
    assert(kw.groupBy(_._1).forall(_._2.length <= 2))
  }

  test("lmScore: atypical docs score higher cross-entropy than fluent ones") {
    import graft.text.TextStats
    val fluent = "the quick brown fox jumps over the lazy dog and the quick cat"
    val docs = Seq(
      (1L, fluent), (2L, fluent + " again and again"), (3L, fluent),
      (4L, "zq xj qz jx zx qj zzz xxx qqq jjj") // bigrams rare in this corpus
    ).toDF("doc_id", "text")
    val got = TextStats.lmScore(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L))
    val byId = got.map(r => r._1 -> r._3).toMap
    // self-trained on 4 docs the margin is modest but the ORDER is the
    // contract: noise above every fluent doc by a clear gap
    assert(byId(4L) > byId(1L) + 0.3 && byId(4L) > byId(2L) + 0.3,
      s"noise doc must stand out: $byId")
    assert(byId(1L) == byId(3L)) // identical docs, identical score
    // determinism under physical re-partitioning (decimal-exact sums)
    val again = TextStats.lmScore(docs.repartition(7), "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(again == got)
  }

  // ---- exact long-sum kernels: equal to the declarative forms they replaced

  /** The pre-kernel lmScore: one row per bigram INSTANCE (substr
    * windows), model/context/vocab aggregates joined back, and the
    * per-instance nll cast to decimal(20,15) before the per-doc sum. */
  private def lmScoreDecl(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val grams = docs.select(col("doc_id"), lower(col("text")).as("t"))
      .filter(length(col("t")) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(1), length(col("t")) - 1),
        i => col("t").substr(i, lit(2)))).as("g"))
    val model = grams.groupBy("g").agg(count(lit(1)).cast("double").as("c"))
    val ctx = model.groupBy(substring(col("g"), 1, 1).as("a")).agg(sum(col("c")).as("ca"))
    val vocab = model.agg(count_distinct(substring(col("g"), 2, 1)).cast("double").as("nv"))
    grams.join(model, "g")
      .join(ctx, substring(col("g"), 1, 1) === col("a"))
      .crossJoin(vocab)
      .select(col("doc_id"),
        (-log((col("c") + 1) / (col("ca") + col("nv")))).cast("decimal(20,15)").as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("__s"))
      .select(col("doc_id"), col("n_bigrams"),
        graft.functions.Det.round4(round(col("__s"), 6).cast("double") / col("n_bigrams")).as("nats"))
  }

  test("lmScore equals its declarative form on non-ASCII, 1-char and 2-char docs") {
    val docs = Seq(
      (1L, "the quick brown fox"), (2L, "Día año, ÑANDÚ über straße"),
      (3L, "日本語のテキスト日本"), (4L, "a😀b😀 emoji 😀😀"), (5L, "x"), (6L, "xy"),
      (7L, "Ω"), (8L, "ωΩ"), (9L, null), (10L, ""), (2L, "día again"), (11L, "  "))
      .toDF("doc_id", "text")
    val want = lmScoreDecl(docs).as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val got = TextStats.lmScore(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == want)
    // sub-bigram docs (1 char, empty, NULL) drop; id 2 pools both rows
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L, 6L, 8L, 11L))
  }

  private val vecRows: Seq[(Int, Array[java.lang.Double])] = {
    val rnd = new scala.util.Random(11)
    def v(xs: Double*): Array[java.lang.Double] = xs.map(java.lang.Double.valueOf).toArray
    Seq.tabulate(24)(i => (i % 3, v(Seq.fill(4)(rnd.nextGaussian() * 10): _*))) ++
      Seq((0, v(-1e3, 1e3, 1e-17, -3e-16)), (1, v(999.9999999999999, -1e3, 5e-16, 0.0)),
        (3, v(0.1, 0.2, 0.3)),                                   // single-row cell
        (4, Array[java.lang.Double](null, 1.5, null)),           // null elements
        (4, v(2.5, 2.5, 1e-15)), (4, v(7.0)),                    // ragged
        (8, Array[java.lang.Double](null, 2.0)),                 // an all-NULL dimension
        (5, v()), (5, null), (6, null)) ++                       // empty cells
      Seq.fill(12)((7, v(999.0, -999.0, 999.0))) ++              // sums past the long range
      Seq.fill(40)((9, v(Seq.fill(5)(                            // magnitudes 1e-20 .. 1e9
        (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(30) - 20)): _*)))
  }

  /** The declarative twin: one row per element, decimal(30,15) sums. */
  private def vecSumDecl(df: org.apache.spark.sql.DataFrame) =
    df.select(col("g"), posexplode(transform(col("v"), x => x.cast("double"))).as(Seq("pos", "x")))
      .groupBy("g", "pos")
      .agg(count(lit(1)).as("n"), sum(col("x").cast("decimal(30,15)")).as("s"))
      .as[(Int, Int, Long, java.math.BigDecimal)].collect().sortBy(r => (r._1, r._2)).toSeq

  private def vecSumKernel(df: org.apache.spark.sql.DataFrame) =
    df.repartition(3).groupBy("g")
      .agg(graft.functions.GraftFunctions.vecSumAgg(col("v")).as("vs"))
      .select(col("g"), posexplode(col("vs")).as(Seq("pos", "e")))
      .select(col("g"), col("pos"), col("e.n"), col("e.s"))
      .as[(Int, Int, Long, java.math.BigDecimal)].collect().sortBy(r => (r._1, r._2)).toSeq

  test("vec_sum_agg equals the posexplode decimal(30,15) sums, in both codegen modes") {
    val dbl = vecRows.toDF("g", "v")
    val flt = dbl.select(col("g"), col("v").cast("array<float>").as("v"))
    for (df <- Seq(dbl, flt)) {
      val want = vecSumDecl(df)
      assert(want.exists(_._4 == null) && want.exists(r => r._4 != null &&
        r._4.abs.compareTo(java.math.BigDecimal.valueOf(9223)) > 0)) // null and >long sums covered
      for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
        spark.conf.set("spark.sql.codegen.factoryMode", mode)
        spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
        try assert(vecSumKernel(df) == want, s"mode $mode")
        finally {
          spark.conf.unset("spark.sql.codegen.factoryMode")
          spark.conf.unset("spark.sql.codegen.wholeStage")
        }
      }
    }
    // no rows at all: one empty sum, not a NULL
    val none = dbl.filter(lit(false)).agg(graft.functions.GraftFunctions.vecSumAgg(col("v")))
      .head().getSeq[Any](0)
    assert(none.isEmpty)
  }

  test("centroids equal their declarative decimal form") {
    val df = vecRows.toDF("cell", "v")
    val want = df.select(col("cell"), posexplode(transform(col("v"), x => x.cast("double")))
        .as(Seq("dim", "x")))
      .groupBy("cell", "dim").agg(graft.functions.Det.round(
        (sum(col("x").cast("decimal(30,15)")) / count(lit(1))).cast("double"), 6).as("x"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("dim"), col("x")))).getField("x").as("centroid"))
      .as[(Int, Seq[java.lang.Double])].collect().sortBy(_._1).toSeq
    val got = Ann.centroids(df, "cell", "v")
      .as[(Int, Seq[java.lang.Double])].collect().sortBy(_._1).toSeq
    assert(got == want)
    assert(!got.exists(r => r._1 == 5 || r._1 == 6)) // empty-only cells have no centroid
  }

  test("vec_sum_agg fails loud on out-of-range elements and on decimal(38,15) overflow") {
    val bad = Seq((0, Array(1.0, 1e15))).toDF("g", "v")
    val e = intercept[Exception](vecSumKernel(bad))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("vec_sum_agg")), e.toString)
    // a sum past decimal(38,15) (|s| >= 1e23) takes ~1e8 rows of the
    // largest element; doubling one buffer through merge reaches it
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
    val agg = graft.functions.VecSumAgg(BoundReference(0,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, false), false))
    var buf = agg.update(agg.createAggregationBuffer(),
      InternalRow(UnsafeArrayData.fromPrimitiveArray(Array(9.99e14))))
    for (_ <- 1 to 26) buf = agg.merge(buf, agg.deserialize(agg.serialize(buf)))
    agg.eval(buf) // 9.99e14 * 2^26 < 1e23: still representable
    buf = agg.merge(buf, agg.deserialize(agg.serialize(buf)))
    val o = intercept[ArithmeticException](agg.eval(buf))
    assert(o.getMessage.contains("vec_sum_agg") && o.getMessage.contains("overflows"), o.getMessage)
  }
}
