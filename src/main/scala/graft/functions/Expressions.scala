package graft.functions

import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DecimalType, DoubleType, LongType, MapType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot per-row kernels — each one
  * implements `doGenCode` as a static-method call so it stays inside
  * WholeStageCodegen (SURVEY §3): one tight JVM loop per row instead of
  * the nested `transform(...)` array materializations of the declarative
  * forms (which made the 128-perm MinHash ~200× slower).
  *
  * Registered through `SparkSessionExtensions` (GraftExtensions) and
  * defensively at runtime via `GraftFunctions.ensureRegistered`.
  */
/** FNV-1a 64-bit constants, shared by the three gram/word kernels so a
  * hash-family change cannot desynchronize them. */
object Fnv {
  final val Offset = 0xcbf29ce484222325L
  final val Prime = 0x100000001b3L
}

object MinHashImpl {
  /** Deterministic multiply-shift permutation family (seeded, no RNG
    * state at eval time). */
  val MaxPerms = 256
  val A: Array[Long] = {
    val r = new java.util.SplittableRandom(42L)
    Array.fill(MaxPerms)(r.nextLong() | 1L) // odd multipliers
  }
  val B: Array[Long] = {
    val r = new java.util.SplittableRandom(43L)
    Array.fill(MaxPerms)(r.nextLong())
  }

  // hoisted: replaceAll(String) would recompile this regex on EVERY row
  // of the four hot kernels
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** Normalization identical to Dedup.normText =
    * lower(trim(regexp_replace(s, "\\s+", " "))) — each step mirrors
    * the CATALYST builtin, not the closest Java method:
    *  - trim strips ONLY ' ' (U+0020); Java String.trim also strips
    *    control chars <= U+0020 and would diverge on e.g. "x";
    *  - lower mirrors UTF8String.toLowerCase: a locale-independent
    *    ASCII fast path, with the JVM-default-locale slow path only
    *    for non-ASCII strings (the exact branch structure Spark has —
    *    matching "Locale.ROOT always" would diverge from the engine
    *    on the same JVM). */
  def normalize(s: String): String = {
    val collapsed = Ws.matcher(s).replaceAll(" ")
    var b = 0
    var e = collapsed.length
    while (b < e && collapsed.charAt(b) == ' ') b += 1
    while (e > b && collapsed.charAt(e - 1) == ' ') e -= 1
    val t = collapsed.substring(b, e)
    var ascii = true
    var i = 0
    while (ascii && i < t.length) { if (t.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) {
      val cs = t.toCharArray
      var j = 0
      while (j < cs.length) {
        val c = cs(j)
        if (c >= 'A' && c <= 'Z') cs(j) = (c + 32).toChar
        j += 1
      }
      new String(cs)
    } else t.toLowerCase
  }

  /** Code points of the normalized text — gram kernels index CODE
    * POINTS, matching the declarative twins' substr() semantics
    * (UTF8String counts code points); charAt over UTF-16 units would
    * split surrogate pairs and change gram counts on non-BMP text. */
  def normCodePoints(text: UTF8String): Array[Int] =
    normalize(text.toString).codePoints().toArray

  /** One pass over the k-char shingles; duplicates need no dedup (min is
    * idempotent under repeats). */
  def compute(text: UTF8String, k: Int, numPerms: Int): ArrayData = {
    val cp = normCodePoints(text)
    val mins = new Array[Long](numPerms)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = cp.length
    val last = if (n <= k) 0 else n - k
    var i = 0
    while (i <= last) {
      var h = Fnv.Offset
      val end = math.min(i + k, n)
      var j = i
      while (j < end) { h = (h ^ cp(j)) * Fnv.Prime; j += 1 }
      var p = 0
      while (p < numPerms) {
        val v = A(p) * h + B(p)
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

object GramHashImpl {
  /** Sorted DISTINCT 64-bit FNV-1a hashes of the k-char shingles of the
    * normalized text — the hashed-gram-set form the exact-Jaccard
    * confirm joins and the n-gram similarity join consume. One pass +
    * one primitive sort; the declarative twin
    * (array_sort(transform(charNgrams(t,k), xxhash64))) materializes a
    * corpus-sized STRING array first, ~5x this kernel's cost. The hash
    * family differs from xxhash64 deliberately: downstream consumers
    * compare JACCARD VALUES (set sizes are preserved modulo ~1e-13
    * 64-bit collisions), so any well-distributed hash is value-equal —
    * same argument the declarative form already relies on vs the
    * string-gram oracle. */
  def compute(text: UTF8String, k: Int): ArrayData = {
    val cp = MinHashImpl.normCodePoints(text)
    val n = cp.length
    val last = if (n <= k) 0 else n - k
    val hs = new Array[Long](last + 1)
    var i = 0
    while (i <= last) {
      var h = Fnv.Offset
      val end = math.min(i + k, n)
      var j = i
      while (j < end) { h = (h ^ cp(j)) * Fnv.Prime; j += 1 }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 0
    var r = 0
    while (r < hs.length) {
      if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, w))
  }
}

object WordNgramHashImpl {
  /** 64-bit hashes of every word UNIGRAM and adjacent-pair BIGRAM of
    * the space-split text, in one pass over the UTF-8 bytes — the
    * hashed-feature form DSIR consumes (Curation.dsirWeights). Split
    * semantics mirror `split(text, " ")` / DuckDB `string_split`:
    * every single 0x20 byte delimits (safe on UTF-8 — multi-byte
    * sequences never contain 0x20), empty tokens are kept, and ""
    * yields the single empty word. Output length is exactly
    * 2·n_words − 1, so a per-doc feature COUNT over the explode is
    * value-identical to the string-feature form's.
    *
    * Hash family: FNV-1a over word bytes for unigrams; bigrams combine
    * the two word hashes with the boost-style 64-bit mix (golden-gamma
    * constant) rather than re-hashing the concatenated bytes — word
    * hashes are computed once per token. Like GramHashImpl, the family
    * differs from xxhash64 deliberately: downstream consumers group
    * and join on IDENTITY, so any well-distributed 64-bit hash is
    * value-equal to string keys modulo ~1e-13 collisions (the repo's
    * standard md5-fingerprint discipline). */
  def hashes(text: UTF8String): Array[Long] = {
    val b = text.getBytes
    val n = b.length
    // count words = spaces + 1
    var words = 1
    var i = 0
    while (i < n) { if (b(i) == 0x20) words += 1; i += 1 }
    val out = new Array[Long](2 * words - 1)
    var prev = 0L
    var w = 0
    var start = 0
    i = 0
    while (i <= n) {
      if (i == n || b(i) == 0x20) {
        var h = Fnv.Offset
        var j = start
        while (j < i) { h = (h ^ (b(j) & 0xff)) * Fnv.Prime; j += 1 }
        out(w) = h
        if (w > 0) {
          // bigram of words (w-1, w): boost hash_combine, 64-bit gamma
          var c = prev
          c ^= h + 0x9e3779b97f4a7c15L + (c << 6) + (c >>> 2)
          out(words + w - 1) = c
        }
        prev = h
        w += 1
        start = i + 1
      }
      i += 1
    }
    out
  }

  def compute(text: UTF8String): ArrayData =
    new GenericArrayData(hashes(text))

  /** Per-document feature-count map: the same 2n−1 hashes collapsed to
    * (feature → occurrence count). The compressed form of
    * `explode(word_ngram_hashes(t))` — per-doc row count drops from
    * 2n−1 to |distinct features| (~1.5× fewer on this corpus, more on
    * natural prose), and any per-occurrence DECIMAL cost downstream
    * multiplies by the count exactly instead of being paid per
    * occurrence. Map iteration order is unspecified; consumers
    * aggregate or fold, so order never reaches a result. */
  def counts(text: UTF8String): MapData = {
    val hs = hashes(text)
    val m = new java.util.HashMap[Long, Long](hs.length * 2)
    var i = 0
    while (i < hs.length) {
      m.merge(hs(i), 1L, (a, b) => a + b)
      i += 1
    }
    val keys = new Array[Any](m.size)
    val vals = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var w = 0
    while (it.hasNext) {
      val e = it.next()
      keys(w) = e.getKey.longValue()
      vals(w) = e.getValue.longValue()
      w += 1
    }
    ArrayBasedMapData(keys, vals)
  }
}

object CleanBigramImpl {
  /** Distinct adjacent-word bigram STRINGS of the space-split text,
    * keeping only bigrams whose two tokens both match `\S+` — the fused
    * form of `array_distinct(rawWordNgrams(split(t," "),2))` followed
    * by `rlike("^\S+ \S+$")`, which ran as interpreted CodegenFallback
    * HOFs plus a per-gram Java regex (the dominant cost of the postings
    * stages at sf1). One byte scan: token boundaries are single 0x20
    * bytes (safe on UTF-8 — multi-byte sequences never contain 0x20),
    * and because the join delimiter equals the split delimiter, every
    * emitted bigram is a CONTIGUOUS slice [start of w_i, end of
    * w_{i+1}) of the input — no intermediate token array or string
    * concat exists. The `\S+` check matches Java's ASCII `\s` class
    * exactly: a token is clean iff non-empty with no 0x09–0x0D byte
    * (0x20 cannot occur inside a token); non-ASCII whitespace
    * (U+00A0…) is `\S` in both engines. Known engine divergence: the
    * DuckDB oracle's RE2 `\s` is [\t\n\f\r ] — it EXCLUDES vertical
    * tab 0x0B, so a token containing 0x0B is kept by the oracle and
    * dropped here (Java semantics). Benign on the test corpora (no
    * 0x0B bytes); if it ever bites, normalize 0x0B out in both
    * engines rather than widening this kernel. Per-token cleanliness is
    * computed once, not once per gram. Distinctness keeps first
    * occurrence (consumers aggregate, so order never reaches a
    * result). <2 tokens → empty array (the truncated single-word gram
    * always fails `\S+ \S+`). */
  def compute(text: UTF8String): ArrayData = {
    val b = text.getBytes
    val n = b.length
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var prevStart = 0
    var prevEnd = -1
    var prevClean = false
    var start = 0
    var clean = true
    var i = 0
    while (i <= n) {
      val c: Byte = if (i == n) 0x20 else b(i)
      if (c == 0x20) {
        val curClean = clean && i > start
        if (prevEnd >= 0 && prevClean && curClean)
          seen.add(UTF8String.fromBytes(b, prevStart, i - prevStart))
        prevStart = start; prevEnd = i; prevClean = curClean
        start = i + 1; clean = true
      } else if (c >= 0x09 && c <= 0x0D) clean = false
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var w = 0
    while (it.hasNext) { out(w) = it.next(); w += 1 }
    new GenericArrayData(out)
  }
}

/** clean_word_bigrams(text) → array<string>: distinct adjacent-word
  * bigrams whose tokens both match \S+ — see [[CleanBigramImpl]].
  * NULL text → NULL (callers coalesce or explode-drop). */
case class CleanWordBigrams(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "clean_word_bigrams"
  override protected def nullSafeEval(input: Any): Any =
    CleanBigramImpl.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CleanBigramImpl.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): CleanWordBigrams =
    copy(child = newChild)
}

/** word_ngram_hashes(text) → array<bigint>: unigram then bigram word
  * feature hashes (2n−1 entries). NULL text → NULL (callers coalesce). */
case class WordNgramHashes(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_ngram_hashes"
  override protected def nullSafeEval(input: Any): Any =
    WordNgramHashImpl.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordNgramHashImpl.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): WordNgramHashes =
    copy(child = newChild)
}

object WordNgramMd5Impl {
  /** Per-document (md5-bucket → count) map for the oracle-pinned
    * hashed-DSIR form: bucket = (first 15 hex chars of md5(feature))
    * as a 60-bit integer, mod `buckets` — BIT-IDENTICAL to the SQL
    * `conv(substring(md5(feat), 1, 15), 16, 10) % B` / DuckDB
    * `('0x' || substr(md5(feat), 1, 15))::BIGINT % B`, but with none
    * of the per-occurrence machinery that made the declarative form
    * 3× slower at sf1: no hex STRING is rendered (the first 15 hex
    * chars are just the digest's first 60 bits, big-endian), no
    * bigram string is concatenated (a "w1 w2" feature is a CONTIGUOUS
    * slice of the original text bytes, because the split delimiter is
    * the single space the bigram re-inserts), and the digest runs
    * over byte slices with one reused MessageDigest per thread. */
  private val Md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def bucketOf(md: java.security.MessageDigest,
      bytes: Array[Byte], off: Int, len: Int, b: Long): Long = {
    md.reset()
    md.update(bytes, off, len)
    val d = md.digest()
    val be =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    (be >>> 4) % b // first 60 bits: nonnegative, so % matches SQL
  }

  def buckets(text: UTF8String, b: Long): MapData = {
    val bytes = text.getBytes
    val n = bytes.length
    val md = Md.get()
    val m = new java.util.HashMap[Long, Long]()
    var prevStart = -1 // start of previous word, for the bigram slice
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        m.merge(bucketOf(md, bytes, start, i - start, b), 1L, (x, y) => x + y)
        if (prevStart >= 0)
          m.merge(bucketOf(md, bytes, prevStart, i - prevStart, b), 1L, (x, y) => x + y)
        prevStart = start
        start = i + 1
      }
      i += 1
    }
    val keys = new Array[Any](m.size)
    val vals = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var w = 0
    while (it.hasNext) {
      val e = it.next()
      keys(w) = e.getKey.longValue()
      vals(w) = e.getValue.longValue()
      w += 1
    }
    ArrayBasedMapData(keys, vals)
  }
}

/** word_ngram_md5_buckets(text, buckets) → map<bigint,bigint>: distinct
  * md5-derived feature buckets to occurrence counts (Σ values =
  * 2·n_words − 1). NULL text → NULL (callers coalesce). */
case class WordNgramMd5Buckets(child: Expression, buckets: Long)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(buckets > 0, s"word_ngram_md5_buckets: buckets must be > 0, got $buckets")
  override def inputTypes = Seq(StringType)
  override def dataType: DataType =
    MapType(LongType, LongType, valueContainsNull = false)
  override def prettyName: String = "word_ngram_md5_buckets"
  override protected def nullSafeEval(input: Any): Any =
    WordNgramMd5Impl.buckets(input.asInstanceOf[UTF8String], buckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordNgramMd5Impl.buckets($c, ${buckets}L)")
  override protected def withNewChildInternal(newChild: Expression): WordNgramMd5Buckets =
    copy(child = newChild)
}

object WordWindowHashImpl {
  /** 64-bit FNV-1a hashes of every k-word sliding window of the
    * space-split text, in document order — the hashed-gram form the
    * exact substring-dedup count shuffle keys on
    * (Dedup.repeatedSpans). A k-word gram joined with single spaces
    * is a CONTIGUOUS slice of the original bytes (the join delimiter
    * IS the split delimiter), so the hash runs straight over
    * [start(word_i), end(word_{i+k−1})) — no slice/array_join string
    * is ever materialized. n_words < k → empty array (matches the
    * declarative sequence() guard). Hash-identity discipline as
    * elsewhere: counting keys on a 64-bit hash accepts ~n²/2^65
    * collisions (3·10⁻⁷ at 3M grams); span CONTENT stays md5-pinned
    * downstream. */
  def compute(text: UTF8String, k: Int): ArrayData = {
    val b = text.getBytes
    val n = b.length
    var words = 1
    var i = 0
    while (i < n) { if (b(i) == 0x20) words += 1; i += 1 }
    if (words < k) return new GenericArrayData(Array.emptyLongArray)
    // word start offsets (end(w_j) = start(w_j+1) - 1; end(last) = n)
    val starts = new Array[Int](words + 1)
    starts(0) = 0
    var w = 1
    i = 0
    while (i < n) {
      if (b(i) == 0x20) { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(words) = n + 1 // sentinel: end of word j is starts(j+1) - 1
    val out = new Array[Long](words - k + 1)
    var g = 0
    while (g <= words - k) {
      val from = starts(g)
      val until = starts(g + k) - 1 // end of word g+k-1
      var h = Fnv.Offset
      var j = from
      while (j < until) { h = (h ^ (b(j) & 0xff)) * Fnv.Prime; j += 1 }
      out(g) = h
      g += 1
    }
    new GenericArrayData(out)
  }
}

/** word_window_hashes(text, k) → array<bigint>: hash per k-word
  * sliding window, document order. NULL text → NULL (callers
  * coalesce). */
case class WordWindowHashes(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(k >= 1, s"word_window_hashes: window k must be >= 1, got $k")
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_window_hashes"
  override protected def nullSafeEval(input: Any): Any =
    WordWindowHashImpl.compute(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordWindowHashImpl.compute($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): WordWindowHashes =
    copy(child = newChild)
}

object BandEmitOnceImpl {
  /** True iff any band BEFORE `bandId` has equal hashes on both sides —
    * the reject condition of the emit-once LSH bucket join
    * (Dedup.minhashPairs): a candidate pair is kept only in its FIRST
    * agreeing band, making the join output the distinct candidate set
    * without a distinct() shuffle. Allocation-free prefix scan (the
    * declarative exists(zip_with(slice...)) form ran interpreted and
    * allocated 3 arrays per joined row — measured 8× the whole e2e
    * pipeline's cost at sf1). */
  def earlierAgree(a: ArrayData, b: ArrayData, bandId: Int): Boolean = {
    var i = 0
    while (i < bandId) {
      if (a.getLong(i) == b.getLong(i)) return true
      i += 1
    }
    false
  }
}

/** earlier_band_agree(l_hashes, r_hashes, band_id) → boolean. */
case class EarlierBandAgree(lh: Expression, rh: Expression, bid: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def first: Expression = lh
  override def second: Expression = rh
  override def third: Expression = bid
  override def inputTypes = Seq(ArrayType(LongType, containsNull = false),
    ArrayType(LongType, containsNull = false),
    org.apache.spark.sql.types.IntegerType)
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "earlier_band_agree"
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    BandEmitOnceImpl.earlierAgree(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.functions.BandEmitOnceImpl.earlierAgree($a, $b, $c)")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): EarlierBandAgree =
    copy(lh = newFirst, rh = newSecond, bid = newThird)
}

object MankuImpl {
  /** Combination masks for the Manku table-of-combinations
    * construction (Dedup.simhashPairsHard): one 64-bit mask per
    * (blocks − maxHamming)-subset of equal blocks, in
    * `(0 until blocks).combinations(blocks - maxHamming)` order — THE
    * definition all renderers share (the operator's requires validate
    * against it, the kernels evaluate it). Cached per (blocks,
    * maxHamming); the per-row entry points below pay one map probe.
    * The require guards the SQL-exposed kernels: blocks = 0 divides by
    * zero, and other bad configs give masks under which all pairs agree. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()
  def combos(blocks: Int, maxHamming: Int): Array[Long] =
    cache.computeIfAbsent((blocks, maxHamming), _ => {
      require(blocks >= 1 && 64 % blocks == 0 && maxHamming >= 1 && maxHamming < blocks, "simhash " +
        s"Manku tables: blocks ($blocks) must divide 64, maxHamming ($maxHamming) lie in 1 until blocks")
      val w = 64 / blocks
      val blockMask = if (w == 64) -1L else (1L << w) - 1L
      (0 until blocks).combinations(blocks - maxHamming)
        .map(_.map(i => blockMask << (i * w)).reduce(_ | _)).toArray
    })

  /** (tbl, sim & mask(tbl)) rows for every combination table — the
    * kernel twin of the literal inline(array(struct(lit(t), sim &
    * lit(m)))) expansion, which re-planned C(blocks, blocks−h) struct
    * subtrees per execution. */
  def tables(sim: Long, blocks: Int, maxHamming: Int): ArrayData = {
    val ms = combos(blocks, maxHamming)
    val rows = new Array[Any](ms.length)
    var i = 0
    while (i < ms.length) {
      rows(i) = InternalRow(i, sim & ms(i))
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** True iff any combination table BEFORE `tbl` also agrees on the
    * pair (xor masked to that table's bits is zero) — the emit-once
    * reject condition, twin of the statically unrolled OR chain. */
  def earlierAgree(xor: Long, tbl: Int, blocks: Int, maxHamming: Int): Boolean = {
    val ms = combos(blocks, maxHamming)
    var j = 0
    while (j < tbl) {
      if ((xor & ms(j)) == 0L) return true
      j += 1
    }
    false
  }
}

/** simhash_manku_tables(sim, blocks, maxHamming) →
  * array<struct<tbl:int, mkey:bigint>> (see MankuImpl.tables). */
case class SimhashMankuTables(child: Expression, blocks: Int, maxHamming: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(LongType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("tbl", org.apache.spark.sql.types.IntegerType, nullable = false),
    StructField("mkey", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "simhash_manku_tables"
  override protected def nullSafeEval(input: Any): Any =
    MankuImpl.tables(input.asInstanceOf[Long], blocks, maxHamming)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MankuImpl.tables($c, $blocks, $maxHamming)")
  override protected def withNewChildInternal(newChild: Expression): SimhashMankuTables =
    copy(child = newChild)
}

/** earlier_combo_agree(xor, tbl, blocks, maxHamming) → boolean
  * (see MankuImpl.earlierAgree). */
case class EarlierComboAgree(xor: Expression, tbl: Expression,
                             blocks: Int, maxHamming: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def left: Expression = xor
  override def right: Expression = tbl
  override def inputTypes = Seq(LongType, org.apache.spark.sql.types.IntegerType)
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "earlier_combo_agree"
  override protected def nullSafeEval(x: Any, t: Any): Any =
    MankuImpl.earlierAgree(x.asInstanceOf[Long], t.asInstanceOf[Int],
      blocks, maxHamming)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, t) =>
      s"graft.functions.MankuImpl.earlierAgree($x, $t, $blocks, $maxHamming)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EarlierComboAgree =
    copy(xor = newLeft, tbl = newRight)
}

/** word_ngram_counts(text) → map<bigint,bigint>: distinct word
  * unigram+bigram feature hashes to occurrence counts (Σ values =
  * 2·n_words − 1). NULL text → NULL (callers coalesce). */
case class WordNgramCounts(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType =
    MapType(LongType, LongType, valueContainsNull = false)
  override def prettyName: String = "word_ngram_counts"
  override protected def nullSafeEval(input: Any): Any =
    WordNgramHashImpl.counts(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordNgramHashImpl.counts($c)")
  override protected def withNewChildInternal(newChild: Expression): WordNgramCounts =
    copy(child = newChild)
}

/** dsir_model_agg(counts_map, is_target) → map<bigint, array<bigint>>:
  * global aggregate folding per-document (feature → count) maps into
  * the DSIR model — feature → [target_count, source_count] — without
  * ever exploding occurrences into rows: each partition's partial
  * state is a vocabulary-bounded hashmap (bucket-bounded in the hashed
  * form), updates are pure hashmap arithmetic, and the merge shuffles
  * one small map per partition. The row-machinery alternative
  * (explode + groupBy) was profiled 2× this aggregate's cost at sf1
  * purely on Generate overhead. */
case class DsirModelAgg(fc: Expression, tgt: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[java.util.HashMap[Long, Array[Long]]] {

  override def children: Seq[Expression] = fc :: tgt :: Nil
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DsirModelAgg =
    copy(fc = newChildren(0), tgt = newChildren(1))
  override def dataType: DataType =
    MapType(LongType, ArrayType(LongType, containsNull = false), valueContainsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "dsir_model_agg"
  override def withNewMutableAggBufferOffset(newOffset: Int): DsirModelAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DsirModelAgg =
    copy(inputAggBufferOffset = newOffset)

  override def createAggregationBuffer(): java.util.HashMap[Long, Array[Long]] =
    new java.util.HashMap[Long, Array[Long]]()

  override def update(buf: java.util.HashMap[Long, Array[Long]],
      input: InternalRow): java.util.HashMap[Long, Array[Long]] = {
    val m = fc.eval(input)
    val t = tgt.eval(input)
    // NULL count-map or NULL flag: contract matches the caller's
    // coalesce discipline (callers pass coalesced columns; a null here
    // means "no features"/"source")
    if (m != null) {
      val md = m.asInstanceOf[MapData]
      val ks = md.keyArray()
      val vs = md.valueArray()
      val slot = if (t != null && t.asInstanceOf[Boolean]) 0 else 1
      var i = 0
      val n = md.numElements()
      while (i < n) {
        val cell = buf.computeIfAbsent(ks.getLong(i), _ => new Array[Long](2))
        cell(slot) += vs.getLong(i)
        i += 1
      }
    }
    buf
  }

  override def merge(b1: java.util.HashMap[Long, Array[Long]],
      b2: java.util.HashMap[Long, Array[Long]]): java.util.HashMap[Long, Array[Long]] = {
    val it = b2.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cell = b1.computeIfAbsent(e.getKey, _ => new Array[Long](2))
      cell(0) += e.getValue()(0)
      cell(1) += e.getValue()(1)
    }
    b1
  }

  override def eval(buf: java.util.HashMap[Long, Array[Long]]): Any = {
    val keys = new Array[Any](buf.size)
    val vals = new Array[Any](buf.size)
    val it = buf.entrySet().iterator()
    var w = 0
    while (it.hasNext) {
      val e = it.next()
      keys(w) = e.getKey.longValue()
      vals(w) = new GenericArrayData(e.getValue)
      w += 1
    }
    ArrayBasedMapData(keys, vals)
  }

  override def serialize(buf: java.util.HashMap[Long, Array[Long]]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 24 * buf.size)
    bb.putInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putLong(e.getKey)
      bb.putLong(e.getValue()(0))
      bb.putLong(e.getValue()(1))
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[Long, Array[Long]] = {
    val buf = createAggregationBuffer()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var n = bb.getInt
    while (n > 0) {
      val k = bb.getLong
      buf.put(k, Array(bb.getLong, bb.getLong))
      n -= 1
    }
    buf
  }
}

/** dsir_score(counts_map, lr_map) → struct<n_feats:bigint, s:decimal(38,15)>:
  * fold a document's (feature → count) map against a FOLDABLE
  * (feature → log-ratio) model map in one pass — the no-explode,
  * no-join form of `explode(counts) ⋈ broadcast(lr) → groupBy(doc)`.
  * The model map is a literal (the trained model is bounded:
  * vocabulary-sized, or bucket-bounded in the hashed form). The plan
  * deserializes one expression instance PER TASK, so the parsed lookup
  * table is hosted in a JVM-wide companion cache keyed by a 128-bit
  * content fingerprint — the BigDecimal parse runs once per executor;
  * each task pays only a cheap fingerprint pass. (Unbounded
  * vocabularies should use dsirWeightsHashed regardless: the unhashed
  * literal map itself grows task binaries with the vocabulary.)
  * Log-ratios
  * travel as STRINGS and are parsed to exact BigDecimals — a decimal
  * literal map would ride Spark's default (38,18) encoding and invite
  * silent rescaling; strings make exactness unconditional. The
  * `setScale(15, UNNECESSARY)` guard below fails loud if a model value
  * ever carries more than 15 decimals (the lr table is cast to
  * decimal(*,15) upstream, so this is an invariant check, not a
  * rounding site). Missing feature → error: the model was trained on
  * the same corpus, so every document feature must be present. */
case class DsirScore(counts: Expression, lrMap: Expression)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = counts
  override def right: Expression = lrMap
  override def dataType: DataType = StructType(Seq(
    StructField("n_feats", LongType, nullable = false),
    StructField("s", DecimalType(38, 15), nullable = false)))
  override def prettyName: String = "dsir_score"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = counts.dataType.isInstanceOf[MapType] &&
      lrMap.dataType.isInstanceOf[MapType] && lrMap.foldable
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "dsir_score expects (map<bigint,bigint> column, foldable map<bigint,string> literal)")
  }
  // Log-ratios live as UNSCALED scale-15 longs (an lr would overflow
  // a long only past |lr| ≈ 9200 — ln of a probability ratio cannot
  // get near that, and the build fails loud if it ever did), so the
  // per-feature multiply-accumulate is exact integer arithmetic. The
  // BigDecimal slow path exists only for a document whose SUM
  // overflows 64 bits (≳ 10^5 features of extreme lr) — exactness is
  // unconditional either way.
  @transient private lazy val lut: java.util.HashMap[Long, java.lang.Long] = {
    val md = lrMap.eval(InternalRow.empty).asInstanceOf[MapData]
    val ks = md.keyArray().toLongArray()
    val vs = md.valueArray()
    // 128-bit order-dependent content fingerprint (two independent
    // multiplier streams over keys + the value strings' BYTES) — the
    // companion cache key. The value bytes feed both streams byte-wise
    // (a single 32-bit hashCode fed into both streams would cap
    // value discrimination at 2^-32 — a colliding pair would silently
    // reuse the wrong parsed model). Collision odds ~2^-128-ish per
    // model pair: the repo's standard fingerprint discipline.
    var f1 = 0x9E3779B97F4A7C15L; var f2 = 0xC2B2AE3D27D4EB4FL
    var i = 0
    while (i < ks.length) {
      f1 = f1 * 0x100000001B3L ^ ks(i)
      f2 = (f2 ^ ks(i)) * 0xFF51AFD7ED558CCDL
      val vb = vs.getUTF8String(i).getBytes
      var b = 0
      while (b < vb.length) {
        f1 = (f1 ^ (vb(b) & 0xffL)) * 0x100000001B3L
        f2 = (f2 + (vb(b) & 0xffL)) * 0xC2B2AE3D27D4EB4FL
        b += 1
      }
      i += 1
    }
    DsirScore.lutCache.computeIfAbsent((f1, f2, ks.length), _ => {
      val m = new java.util.HashMap[Long, java.lang.Long](ks.length * 2)
      var j = 0
      while (j < ks.length) {
        m.put(ks(j),
          new java.math.BigDecimal(vs.getUTF8String(j).toString)
            .setScale(15, java.math.RoundingMode.UNNECESSARY)
            .unscaledValue().longValueExact())
        j += 1
      }
      m
    })
  }
  override def nullSafeEval(c: Any, ignoredLr: Any): Any = {
    val md = c.asInstanceOf[MapData]
    val ks = md.keyArray().toLongArray()
    val vs = md.valueArray().toLongArray()
    var n = 0L
    var i = 0
    try {
      var s = 0L
      while (i < ks.length) {
        val lr = lut.get(ks(i))
        if (lr == null) throw new IllegalStateException(
          s"dsir_score: feature ${ks(i)} absent from the model map — " +
            "the model must be trained on the same corpus being scored")
        n += vs(i)
        s = Math.addExact(s, Math.multiplyExact(lr.longValue(), vs(i)))
        i += 1
      }
      InternalRow(n, org.apache.spark.sql.types.Decimal(s, 38, 15))
    } catch {
      case _: ArithmeticException =>
        // rare exact-overflow fallback: redo the whole document in
        // arbitrary precision
        n = 0L
        var s = java.math.BigInteger.ZERO
        i = 0
        while (i < ks.length) {
          val lr = lut.get(ks(i))
          if (lr == null) throw new IllegalStateException(
            s"dsir_score: feature ${ks(i)} absent from the model map")
          n += vs(i)
          s = s.add(java.math.BigInteger.valueOf(lr.longValue())
            .multiply(java.math.BigInteger.valueOf(vs(i))))
          i += 1
        }
        InternalRow(n, org.apache.spark.sql.types.Decimal(
          new java.math.BigDecimal(s, 15), 38, 15))
    }
  }
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DsirScore = copy(counts = newLeft, lrMap = newRight)
}

object DsirScore {
  /** Parsed model LUTs, shared across the per-task expression
    * instances (bounded: one entry per distinct model literal in the
    * JVM — a handful in any real run). */
  private[functions] val lutCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Long, Int),
      java.util.HashMap[Long, java.lang.Long]]()
}

object BigramCountsImpl {
  /** Distinct character bigrams of the input with their occurrence
    * counts, keyed by the code-point pair as one long: `cp1 << 21 |
    * cp2` (a code point fits in 21 bits, so keys never collide; the
    * context is `key >>> 21`, the second character `key & 0x1FFFFF`).
    * Per-document rows drop from len−1 instances to |distinct bigrams|,
    * and the model and scoring folds (dsir_model_agg, dsir_score) work
    * on long keys with no string per bigram.
    *
    * Bigrams are consecutive CODE-POINT pairs, matching Spark's
    * `substr(t, i, 2)` (UTF8String counts code points, not UTF-16
    * units). Caller lowercases first — case mapping is left to
    * Catalyst's `lower` so engine semantics stay pinned there. Keys come
    * out sorted (one primitive sort + run-length pass, no boxing). */
  def compute(text: UTF8String): MapData = {
    val cps = text.toString.codePoints().toArray
    val ks = new Array[Long](math.max(cps.length - 1, 0))
    var i = 0
    while (i < ks.length) { ks(i) = (cps(i).toLong << 21) | cps(i + 1); i += 1 }
    java.util.Arrays.sort(ks)
    val cs = new Array[Long](ks.length)
    var m = 0
    i = 0
    while (i < ks.length) {
      if (m > 0 && ks(m - 1) == ks(i)) cs(m - 1) += 1
      else { ks(m) = ks(i); cs(m) = 1; m += 1 }
      i += 1
    }
    new ArrayBasedMapData(
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(ks, m)),
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(cs, m)))
  }
}

/** bigram_counts(text) → map<bigint, bigint> of distinct code-point
  * bigram keys (see BigramCountsImpl) to occurrence counts. */
case class BigramCounts(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType =
    MapType(LongType, LongType, valueContainsNull = false)
  override def prettyName: String = "bigram_counts"
  override protected def nullSafeEval(input: Any): Any =
    BigramCountsImpl.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BigramCountsImpl.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): BigramCounts =
    copy(child = newChild)
}

/** gram_hashes(text, k) → sorted distinct array<bigint> shingle hashes. */
case class GramHashes(child: Expression, k: Int) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  require(k > 0, s"gram_hashes: shingle size k must be > 0, got $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_hashes"
  override protected def nullSafeEval(input: Any): Any =
    GramHashImpl.compute(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramHashImpl.compute($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)
}

/** minhash_sig(text, k, numPerms) → array<bigint> signature. */
case class MinHashSig(child: Expression, k: Int, numPerms: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  // Fail at plan time, not deep inside codegen eval: the permutation
  // family is fixed-size (MaxPerms).
  require(k > 0, s"minhash_sig: shingle size k must be > 0, got $k")
  require(numPerms > 0 && numPerms <= MinHashImpl.MaxPerms,
    s"minhash_sig: numPerms must be in [1, ${MinHashImpl.MaxPerms}], got $numPerms")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override protected def nullSafeEval(input: Any): Any =
    MinHashImpl.compute(input.asInstanceOf[UTF8String], k, numPerms)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashImpl.compute($c, $k, $numPerms)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object SimHashImpl {
  /** 64-bit SimHash over whitespace tokens of the normalized text. */
  def compute(text: UTF8String): Long = {
    val cp = MinHashImpl.normCodePoints(text)
    val counts = new Array[Int](64)
    var nWords = 0
    var start = 0
    val n = cp.length
    var i = 0
    while (i <= n) {
      if (i == n || cp(i) == ' ') {
        if (i > start) {
          var h = Fnv.Offset
          var j = start
          while (j < i) { h = (h ^ cp(j)) * Fnv.Prime; j += 1 }
          nWords += 1
          var b = 0
          while (b < 64) { if (((h >>> b) & 1L) == 1L) counts(b) += 1; b += 1 }
        }
        start = i + 1
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < 64) { if (counts(b) * 2 > nWords) sim |= (1L << b); b += 1 }
    sim
  }
}

/** simhash64(text) → bigint. */
case class SimHash64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(input: Any): Any =
    SimHashImpl.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashImpl.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object VecOps {
  /** Cosine over double arrays; sequential fold order matches the
    * declarative zip_with/aggregate form (and the DuckDB oracle) so the
    * doubles are bit-identical.
    *
    * A ZERO-NORM side returns 0.0, never NaN: under Spark's ordering
    * NaN sorts above every double and passes every >= filter, so a
    * zero/padding embedding would otherwise match EVERYTHING — every
    * threshold pair in the dedup pipelines and the top neighbor of
    * every ANN query. Mismatched lengths fail loud (a silent truncation
    * to min(n, m) masks ragged embedding data). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"cosine_sim: vector lengths differ ($n vs ${b.numElements()})")
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
}

/** cosine_sim(array<double>, array<double>) → double. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.cosine($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object JaccardImpl {
  /** Jaccard over two SORTED, DISTINCT long arrays: single merge scan,
    * no hash set, no allocation. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = n + m - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

/** jaccard_sorted(array<bigint>, array<bigint>) → double. Inputs must be
  * sorted + distinct (e.g. array_sort(array_distinct(...))). */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaccardImpl.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.JaccardImpl.jaccard($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): JaccardSorted =
    copy(left = newLeft, right = newRight)
}

object SigAgreeImpl {
  /** Fraction of positions where two equal-length long arrays agree —
    * the MinHash Jaccard estimate between two signatures. Single
    * positional scan, zero allocation: the declarative
    * zip_with+filter+size form allocates two intermediate arrays per
    * pair, which at tens of millions of LSH candidate pairs was the
    * single largest cost in the MinHash pipeline. Mismatched lengths
    * (foreign inputs, never produced by minhash_sig) estimate 0. */
  def agree(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n == 0 || n != b.numElements()) return 0.0
    var i = 0
    var eq = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) eq += 1; i += 1 }
    eq.toDouble / n
  }
}

/** sig_agree(array<bigint>, array<bigint>) → double fraction of agreeing
  * positions (MinHash signature Jaccard estimate). */
case class SigAgree(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sig_agree"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SigAgreeImpl.agree(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SigAgreeImpl.agree($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): SigAgree =
    copy(left = newLeft, right = newRight)
}

object LshImpl {
  /** Deterministic random-hyperplane components, cached per
    * (numPlanes, dim); seeded SplittableRandom, uniform in [-1, 1]. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def planes(numPlanes: Int, dim: Int): Array[Array[Double]] =
    cache.computeIfAbsent((numPlanes, dim), { _ =>
      Array.tabulate(numPlanes) { j =>
        val r = new java.util.SplittableRandom(1234L + j)
        Array.fill(dim)(r.nextDouble() * 2 - 1)
      }
    })

  def compute(vec: ArrayData, numPlanes: Int): Long = {
    val dim = vec.numElements()
    val ps = planes(numPlanes, dim)
    var sig = 0L
    var j = 0
    while (j < numPlanes) {
      val p = ps(j)
      var s = 0.0
      var d = 0
      while (d < dim) { s += vec.getDouble(d) * p(d); d += 1 }
      if (s >= 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

/** lsh_sig(array<double>, numPlanes) → bigint sign-bit signature. */
case class LshSignature(child: Expression, numPlanes: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType))
  require(numPlanes > 0 && numPlanes <= 64,
    s"lsh_sig: numPlanes must be in [1, 64] (sign bits pack into a long), got $numPlanes")
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_sig"
  override protected def nullSafeEval(input: Any): Any =
    LshImpl.compute(input.asInstanceOf[ArrayData], numPlanes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LshImpl.compute($c, $numPlanes)")
  override protected def withNewChildInternal(newChild: Expression): LshSignature =
    copy(child = newChild)
}

object WinnowImpl {
  private final val Mod = 1000000007L

  /** Winnowing fingerprints in one O(n) pass: polynomial k-gram hash
    * (base 31 mod 1e9+7 — small fixed modulus so the SQL oracle can
    * reproduce values exactly), monotonic-deque sliding-window minima,
    * then sort + dedupe. The declarative form
    * (TextStats.winnowFingerprintsDecl) re-inlines the hash array into
    * every window slice — O(n²·k) per row — which is why this kernel
    * exists (same lesson as the MinHash signature). */
  def compute(text: UTF8String, k: Int, w: Int): ArrayData = {
    val cp = MinHashImpl.normCodePoints(text)
    val n = cp.length
    val m = math.max(n - (k - 1), 1)
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0L
      var j = 0
      while (j < k) {
        // out-of-range chars contribute 0 (mirrors substr-past-end in
        // the SQL rendering, guarded to 0 on both sides). Mod at every
        // Horner step — a ring homomorphism, so identical to the
        // unrolled no-intermediate-mod SQL form for small k, but safe
        // from long overflow up to the k=64 arity bound.
        val c: Long = if (i + j < n) cp(i + j).toLong else 0L
        h = (h * 31L + c) % Mod
        j += 1
      }
      hs(i) = h
      i += 1
    }
    val wm = math.max(m - (w - 1), 1)
    val mins = new Array[Long](wm)
    val deque = new Array[Int](m)
    var head = 0
    var tail = 0
    i = 0
    while (i < m) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) mins(i - (w - 1)) = hs(deque(head))
      i += 1
    }
    if (m < w) mins(0) = hs(deque(head))
    java.util.Arrays.sort(mins)
    var distinct = if (wm > 0) 1 else 0
    i = 1
    while (i < wm) { if (mins(i) != mins(i - 1)) distinct += 1; i += 1 }
    val out = new Array[Long](distinct)
    var o = 0
    i = 0
    while (i < wm) {
      if (i == 0 || mins(i) != mins(i - 1)) { out(o) = mins(i); o += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** winnow_fp(text, k, w) → sorted distinct array<bigint> of winnowing
  * fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03). */
case class WinnowFp(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  require(k >= 2 && k <= 64 && w >= 1 && w <= 4096,
    s"winnow_fp: bad k=$k / w=$w")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fp"
  override protected def nullSafeEval(input: Any): Any =
    WinnowImpl.compute(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowImpl.compute($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowFp =
    copy(child = newChild)
}

/** topk_largest(expr, k) → array of the k LARGEST values of `expr`
  * (any orderable type — typically a struct whose lexicographic order
  * encodes the ranking), sorted descending.
  *
  * A bounded-heap TypedImperativeAggregate: each partition keeps at
  * most k values (min-heap, evict-smallest), partial states merge
  * heap-into-heap, so the shuffle carries ≤ k rows per group per
  * partition — the scale-safe replacement for the
  * row_number-over-window top-N pattern, which must shuffle and SORT
  * every row of every group. Serialization mirrors Spark's own Collect
  * aggregate (UnsafeProjection row framing). */
case class TopKLargest(child: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[java.util.PriorityQueue[Any]] {

  require(k > 0 && k <= (1 << 20), s"topk_largest: k must be in [1, 2^20], got $k")

  // analysis-time orderability check: a map-typed child would otherwise
  // throw from getInterpretedOrdering deep inside execution
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    org.apache.spark.sql.catalyst.util.TypeUtils
      .checkForOrderingExpr(child.dataType, prettyName)

  @transient private lazy val ord: Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(child.dataType)
  @transient private lazy val projection =
    UnsafeProjection.create(Array[DataType](child.dataType))

  override def children: Seq[Expression] = child :: Nil
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKLargest = copy(child = newChildren.head)
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_largest"
  override def withNewMutableAggBufferOffset(newOffset: Int): TopKLargest =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKLargest =
    copy(inputAggBufferOffset = newOffset)

  override def createAggregationBuffer(): java.util.PriorityQueue[Any] =
    new java.util.PriorityQueue[Any](math.min(k + 1, 64), ord)

  private def add(buf: java.util.PriorityQueue[Any], v: Any): Unit =
    if (buf.size < k) buf.add(v)
    else if (ord.compare(v, buf.peek) > 0) { buf.poll(); buf.add(v) }

  override def update(buf: java.util.PriorityQueue[Any], input: InternalRow): java.util.PriorityQueue[Any] = {
    val v = child.eval(input)
    if (v != null &&
        (buf.size < k || ord.compare(v, buf.peek) > 0))
      add(buf, InternalRow.copyValue(v)) // copy only when it will be kept
    buf
  }

  override def merge(b1: java.util.PriorityQueue[Any], b2: java.util.PriorityQueue[Any]): java.util.PriorityQueue[Any] = {
    val it = b2.iterator()
    while (it.hasNext) add(b1, it.next())
    b1
  }

  override def eval(buf: java.util.PriorityQueue[Any]): Any = {
    val arr = buf.toArray
    java.util.Arrays.sort(arr, ord.reverse.asInstanceOf[java.util.Comparator[AnyRef]])
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.PriorityQueue[Any]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    val it = buf.iterator()
    while (it.hasNext) {
      val row = projection.apply(InternalRow(it.next()))
      dos.writeInt(row.getSizeInBytes)
      row.writeToStream(dos, null)
    }
    dos.writeInt(-1)
    dos.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[Any] = {
    val buf = createAggregationBuffer()
    val dis = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    var sz = dis.readInt()
    while (sz >= 0) {
      val arr = new Array[Byte](sz)
      dis.readFully(arr)
      val row = new UnsafeRow(1)
      row.pointTo(arr, sz)
      buf.add(InternalRow.copyValue(row.get(0, child.dataType)))
      sz = dis.readInt()
    }
    buf
  }
}

/** kmv_sketch(hash, k) → array<bigint>: the k SMALLEST DISTINCT values
  * of a long hash column, ascending — the KMV distinct-count sketch
  * state (Bar-Yossef et al. 2002). A bounded DEDUPLICATING heap
  * (TreeSet capped at k) per partition: unlike `distinct()` + top-k,
  * the full distinct hash set is never shuffled — every partition ships
  * at most k longs regardless of input cardinality, which is the whole
  * point of the sketch at 100 TB. */
case class KmvSketch(child: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  require(k >= 2 && k <= (1 << 20), s"kmv_sketch: k must be in [2, 2^20], got $k")

  override def children: Seq[Expression] = child :: Nil
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvSketch = copy(child = newChildren.head)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_sketch"
  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketch =
    copy(inputAggBufferOffset = newOffset)

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def add(buf: java.util.TreeSet[java.lang.Long], v: Long): Unit =
    if (buf.size < k) { buf.add(v); () }
    else if (v < buf.last) { if (buf.add(v) && buf.size > k) { buf.pollLast(); () } }

  override def update(buf: java.util.TreeSet[java.lang.Long], input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: java.util.TreeSet[java.lang.Long], b2: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b2.iterator()
    while (it.hasNext) add(b1, it.next())
    b1
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val buf = createAggregationBuffer()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var n = bb.getInt
    while (n > 0) { buf.add(bb.getLong); n -= 1 }
    buf
  }
}

/** capped_collect_longs(expr, cap) → array<bigint> of the collected
  * values (unsorted), or NULL if the group exceeded `cap` values.
  *
  * The single-aggregate postings shape: pairing this with a plain
  * `count(1)` lets one keyed aggregate produce BOTH the exact df and
  * the posting list while keeping every aggregation buffer bounded by
  * `cap` — a hot-head term (df > cap) stops appending at cap+… nothing:
  * its list is abandoned (NULL) rather than materialized, so no group
  * ever builds a corpus-sized buffer the consumer will discard anyway.
  * Consumers MUST filter on the paired exact count (kept iff df ≤ cap);
  * the NULL emission makes a forgotten filter loud instead of silently
  * truncated. Completeness under partial aggregation: if the final df
  * ≤ cap then every partial saw ≤ df ≤ cap values, so no partial ever
  * overflowed and the merged concatenation is the complete list. */
case class CappedCollectLongs(child: Expression, cap: Long,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[CappedCollectLongs.Buf]
  with ImplicitCastInputTypes {

  require(cap >= 1, s"capped_collect_longs: cap must be >= 1, got $cap")
  // one JVM array is the hard ceiling for a single list — beyond this
  // the row-per-term posting-list SEMANTICS are unmaterializable (the
  // sharded-blocks form in the postings scaladoc is the scale answer)
  private val capInt: Int = math.min(cap, (Int.MaxValue - 8).toLong).toInt

  override def inputTypes = Seq(LongType)
  override def children: Seq[Expression] = child :: Nil
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CappedCollectLongs = copy(child = newChildren.head)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "capped_collect_longs"
  override def withNewMutableAggBufferOffset(newOffset: Int): CappedCollectLongs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CappedCollectLongs =
    copy(inputAggBufferOffset = newOffset)

  override def createAggregationBuffer(): CappedCollectLongs.Buf =
    new CappedCollectLongs.Buf(new Array[Long](8), 0, false)

  private def add(buf: CappedCollectLongs.Buf, v: Long): Unit =
    if (buf.overflowed || buf.size >= capInt) buf.overflowed = true
    else {
      if (buf.size == buf.arr.length)
        buf.arr = java.util.Arrays.copyOf(buf.arr,
          math.min(capInt.toLong, buf.arr.length * 2L).toInt)
      buf.arr(buf.size) = v
      buf.size += 1
    }

  override def update(buf: CappedCollectLongs.Buf, input: InternalRow): CappedCollectLongs.Buf = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: CappedCollectLongs.Buf, b2: CappedCollectLongs.Buf): CappedCollectLongs.Buf = {
    if (b2.overflowed) b1.overflowed = true
    else {
      var i = 0
      while (i < b2.size && !b1.overflowed) { add(b1, b2.arr(i)); i += 1 }
    }
    b1
  }

  override def eval(buf: CappedCollectLongs.Buf): Any =
    if (buf.overflowed) null
    else new GenericArrayData(java.util.Arrays.copyOf(buf.arr, buf.size))

  override def serialize(buf: CappedCollectLongs.Buf): Array[Byte] = {
    // an overflowed buffer ships ONLY its flag — the list is dead
    val n = if (buf.overflowed) 0 else buf.size
    val bb = java.nio.ByteBuffer.allocate(5 + 8 * n)
    bb.put(if (buf.overflowed) 1.toByte else 0.toByte)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putLong(buf.arr(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CappedCollectLongs.Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val overflowed = bb.get() == 1.toByte
    val n = bb.getInt
    val arr = new Array[Long](math.max(n, 8))
    var i = 0
    while (i < n) { arr(i) = bb.getLong; i += 1 }
    new CappedCollectLongs.Buf(arr, n, overflowed)
  }
}

object CappedCollectLongs {
  /** Growable long buffer; `overflowed` latches once size would pass cap. */
  final class Buf(var arr: Array[Long], var size: Int, var overflowed: Boolean)
}

/** quantize_int8(array<double>) → struct(scale double, q array<byte>):
  * symmetric int8 quantization, scale = max|x|/127 (0-vector → scale 1),
  * q = floor(x/scale + 0.5) — exactly-specified IEEE ops so the SQL
  * oracle agrees on every boundary. Kernel because the declarative form
  * (aggregate + transform HOFs) runs interpreted AND re-inlines the
  * whole maxAbs aggregate into every element's lambda (CollapseProject)
  * — O(dim²) interpreted work per row, 4.9 s for 50k×64 vectors at sf1
  * where this kernel is a scan-stage pass (SCALING.md round 10).
  * Null elements: skipped for the scale, null in q (the HOF form's
  * semantics). */
case class QuantizeInt8(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("q", ArrayType(org.apache.spark.sql.types.ByteType,
      containsNull = true), nullable = false)))
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "quantize_int8"
  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8 =
    copy(child = newChild)
  override protected def nullSafeEval(input: Any): Any =
    QuantizeInt8Impl.compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.QuantizeInt8Impl.compute($c)")
}

object QuantizeInt8Impl {
  def compute(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val a = math.abs(arr.getDouble(i))
        if (a > maxAbs) maxAbs = a
      }
      i += 1
    }
    val scale = if (maxAbs == 0.0) 1.0 else maxAbs / 127.0
    val q = new Array[Any](n)
    i = 0
    while (i < n) {
      if (!arr.isNullAt(i))
        q(i) = math.floor(arr.getDouble(i) / scale + 0.5).toByte
      i += 1
    }
    InternalRow(scale, new GenericArrayData(q))
  }
}

/** text_quality_stats(text, stopsCsv) → struct(n_words, punct, stops):
  * one pass over the bytes replacing three interpreted constructs in
  * the quality score — size(split) for the word count,
  * regexp_extract_all("[^A-Za-z0-9 ]") materializing a match ARRAY
  * just to count it, and the HOF filter+isin stopword counter that ran
  * O(words × |list|) interpreted (6.6 s for 50k docs at sf1; kernel is
  * a scan-stage pass). Semantics mirrored from the declarative form
  * (spec-pinned in AnnTextSpec): n_words = split(t," ") segment count
  * (spaces+1, trailing empties kept); punct counts CODE POINTS outside
  * [A-Za-z0-9 ] (every non-ASCII code point counts once, like the
  * regex); stops counts space-tokens of lower(t) equal to a stopword,
  * with multiplicity — ASCII case-fold only. KNOWN DIVERGENCE from the
  * declarative lower()+isin twin (like the 0x0B note above): a few
  * non-ASCII code points case-fold INTO ASCII under Unicode rules
  * (U+212A KELVIN SIGN → 'k'), so a token containing one can equal an
  * ASCII stopword under lower() but not here. No shipped stopword list
  * has single-letter entries, so the spec pin holds; a corpus where
  * this matters should pre-normalize (NFKC) before scoring. */
case class TextQualityStats(child: Expression, stopsCsv: String)
  extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("punct", LongType, nullable = false),
    StructField("stops", LongType, nullable = false)))
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "text_quality_stats"
  override protected def withNewChildInternal(newChild: Expression): TextQualityStats =
    copy(child = newChild)
  @transient private lazy val impl = new TextQualityStatsImpl(stopsCsv)
  override protected def nullSafeEval(input: Any): Any =
    impl.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("qualityStatsImpl", impl,
      classOf[TextQualityStatsImpl].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }
}

final class TextQualityStatsImpl(stopsCsv: String) extends Serializable {
  // stopwords as ASCII byte arrays, bucketed by length (lists are tiny)
  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopsCsv.split(',').foreach(w => if (w.nonEmpty) s.add(w))
    s
  }
  @transient private lazy val maxStopLen: Int =
    stopsCsv.split(',').map(_.length).foldLeft(0)(math.max)
  def compute(text: UTF8String): InternalRow = {
    val b = text.getBytes
    val n = b.length
    var words = 1L
    var punct = 0L
    var stops = 0L
    var i = 0
    var tokStart = 0
    while (i <= n) {
      val c: Int = if (i == n) 0x20 else b(i) & 0xff
      if (c == 0x20) {
        if (i < n) words += 1
        if (i > tokStart && i - tokStart <= maxStopLen) {
          // candidate token: ASCII-lowercase fold in place
          val sb = new java.lang.StringBuilder(i - tokStart)
          var j = tokStart
          var ascii = true
          while (j < i && ascii) {
            val t = b(j) & 0xff
            if (t >= 0x80) ascii = false
            else sb.append((if (t >= 'A' && t <= 'Z') t + 32 else t).toChar)
            j += 1
          }
          if (ascii && stopSet.contains(sb.toString)) stops += 1
        }
        tokStart = i + 1
        i += 1
      } else if (c < 0x80) {
        val isWordChar = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
          (c >= '0' && c <= '9')
        if (!isWordChar) punct += 1
        i += 1
      } else {
        // one non-ASCII code point = one punct match; skip its bytes
        punct += 1
        i += (if (c >= 0xf0) 4 else if (c >= 0xe0) 3 else 2)
        if (i > n) i = n
      }
    }
    InternalRow(words, punct, stops)
  }
}

/** word_bigram_rep_stats(text) → struct(n_words, dist): space-token
  * count plus the number of DISTINCT adjacent-word bigrams — the
  * inputs of the Gopher-style repetition ratio
  * (1 − dist/(n_words−1)). The declarative form
  * (transform∘sequence∘slice∘array_join, then array_distinct) ran
  * interpreted building every gram string per row (4.5 s / 50k docs
  * at sf1). Token semantics mirror split(text, " ") exactly — empty
  * tokens included — and because the join delimiter equals the split
  * delimiter every bigram is a CONTIGUOUS byte slice [start(wᵢ),
  * end(wᵢ₊₁)); total grams = n_words − 1 for n_words ≥ 2 (callers
  * emit 0.0 below that, like the chain). */
case class WordBigramRepStats(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("dist", LongType, nullable = false)))
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "word_bigram_rep_stats"
  override protected def withNewChildInternal(newChild: Expression): WordBigramRepStats =
    copy(child = newChild)
  override protected def nullSafeEval(input: Any): Any =
    WordBigramRepImpl.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordBigramRepImpl.compute($c)")
}

object WordBigramRepImpl {
  def compute(text: UTF8String): InternalRow = {
    val b = text.getBytes
    val n = b.length
    var words = 1L
    val seen = new java.util.HashSet[UTF8String]()
    var prevStart = 0  // start of the previous token
    var start = 0      // start of the current token
    var tok = 0L       // index of the current token
    var i = 0
    while (i <= n) {
      val c: Int = if (i == n) 0x20 else b(i) & 0xff
      if (c == 0x20) {
        if (i < n) words += 1
        if (tok >= 1)
          seen.add(UTF8String.fromBytes(b, prevStart, i - prevStart))
        prevStart = start
        start = i + 1
        tok += 1
      }
      i += 1
    }
    InternalRow(words, seen.size.toLong)
  }
}

/** pii_scrub_stats(text) → struct(scrubbed, n_email, n_ssn, n_phone):
  * the progressive email→SSN→phone redaction chain
  * ([[graft.text.Curation.scrubPii]]/[[graft.text.Curation.piiCount]],
  * reference sources in Curation.scala) as ONE kernel. The declarative
  * form ran SIX regex passes per document — three regexp_replace plus
  * three regexp_extract_all materializing match ARRAYS just to count
  * them (2.5 s vs the 0.15 s DuckDB proxy at sf1). Here each stage is
  * a linear byte scan with java.util.regex find/replaceAll semantics
  * reproduced exactly (PiiKernelSpec pins kernel ≡ java.util.regex on
  * adversarial inputs):
  *  - emails are '@'-anchored: the maximal local-class run before the
  *    '@' (clamped at the previous match end, like find()'s region),
  *    the maximal domain-class run after it, and the RIGHTMOST dot
  *    with ≥2 letters following — exactly the backtracking order of
  *    [A-Za-z0-9.-]+\.[A-Za-z]{2,}.
  *  - SSN/phone are digit-anchored with \b checked against default
  *    (ASCII) word-char semantics; UTF-8 continuation bytes are
  *    non-word, matching java's treatment of the non-ASCII chars.
  * The three stages still rewrite PROGRESSIVELY (counts are taken on
  * the same intermediate text the replacement chain sees, so an
  * SSN-shaped span inside a replaced email counts once — and a
  * boundary CREATED by a replacement, e.g. '>' before digits where a
  * word char stood, matches exactly like the chained regex form). */
case class PiiScrubStats(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("scrubbed", StringType, nullable = false),
    StructField("n_email", LongType, nullable = false),
    StructField("n_ssn", LongType, nullable = false),
    StructField("n_phone", LongType, nullable = false)))
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "pii_scrub_stats"
  override protected def withNewChildInternal(newChild: Expression): PiiScrubStats =
    copy(child = newChild)
  override protected def nullSafeEval(input: Any): Any =
    PiiScrubImpl.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PiiScrubImpl.compute($c)")
}

object PiiScrubImpl {
  private val EMAIL = "<EMAIL>".getBytes("UTF-8")
  private val SSN = "<SSN>".getBytes("UTF-8")
  private val PHONE = "<PHONE>".getBytes("UTF-8")

  @inline private def isDigit(c: Int): Boolean = c >= '0' && c <= '9'
  @inline private def isAlpha(c: Int): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  // java \b quirk: even WITHOUT UNICODE_CHARACTER_CLASS, Pattern's
  // boundary node tests `ch == '_' || Character.isLetterOrDigit(ch)` —
  // Unicode-aware, unlike the ASCII-only \w — so 'é' IS a word char at
  // a boundary ("é123-45-6789é" does NOT match \b\d{3}-…). The RE2
  // oracle's \b is ASCII-only; the engine keeps java semantics (it
  // replaces Spark's regexp_replace) and the oracle corpora are ASCII
  // at the affected positions.
  @inline private def isWordCp(cp: Int): Boolean =
    cp == '_' || Character.isLetterOrDigit(cp)

  /** Code point ENDING at byte index `i` (exclusive); -1 at the start. */
  private def cpBefore(b: Array[Byte], i: Int): Int = {
    if (i <= 0) return -1
    var k = i - 1
    while (k > 0 && (b(k) & 0xc0) == 0x80) k -= 1
    cpAt(b, k, i)
  }

  /** Code point STARTING at byte index `i`; -1 at the end or on a
    * malformed sequence (treated as non-word, like U+FFFD). */
  private def cpAt(b: Array[Byte], i: Int, n: Int): Int = {
    if (i >= n) return -1
    val c = b(i) & 0xff
    if (c < 0x80) c
    else if (c < 0xc0) -1 // stray continuation byte
    else if (c < 0xe0) {
      if (i + 1 < n) ((c & 0x1f) << 6) | (b(i + 1) & 0x3f) else -1
    } else if (c < 0xf0) {
      if (i + 2 < n) ((c & 0x0f) << 12) | ((b(i + 1) & 0x3f) << 6) |
        (b(i + 2) & 0x3f) else -1
    } else {
      if (i + 3 < n) ((c & 0x07) << 18) | ((b(i + 1) & 0x3f) << 12) |
        ((b(i + 2) & 0x3f) << 6) | (b(i + 3) & 0x3f) else -1
    }
  }

  @inline private def wordBefore(b: Array[Byte], i: Int): Boolean = {
    if (i <= 0) false
    else {
      val c = b(i - 1) & 0xff
      if (c < 0x80) isAlpha(c) || isDigit(c) || c == '_'
      else { val cp = cpBefore(b, i); cp >= 0 && isWordCp(cp) }
    }
  }

  @inline private def wordAt(b: Array[Byte], i: Int, n: Int): Boolean = {
    if (i >= n) false
    else {
      val c = b(i) & 0xff
      if (c < 0x80) isAlpha(c) || isDigit(c) || c == '_'
      else { val cp = cpAt(b, i, n); cp >= 0 && isWordCp(cp) }
    }
  }
  @inline private def isLocal(c: Int): Boolean =
    isAlpha(c) || isDigit(c) || c == '.' || c == '_' || c == '%' ||
      c == '+' || c == '-'
  @inline private def isDomain(c: Int): Boolean =
    isAlpha(c) || isDigit(c) || c == '.' || c == '-'

  /** Minimal growable byte sink (ByteArrayOutputStream without the
    * synchronization — this runs once per row on the scan stage). */
  private final class Buf(cap: Int) {
    var a = new Array[Byte](math.max(cap, 16))
    var len = 0
    def append(src: Array[Byte], off: Int, n: Int): Unit = {
      if (n > 0) {
        if (len + n > a.length)
          a = java.util.Arrays.copyOf(a, math.max(a.length * 2, len + n))
        System.arraycopy(src, off, a, len, n)
        len += n
      }
    }
    def append(src: Array[Byte]): Unit = append(src, 0, src.length)
  }

  /** Email pass: returns the match count, appends the rewritten text.
    * Leftmost-first like find(): every match's local run ends at the
    * first '@' whose local+domain validate, so iterating '@'s in order
    * and clamping the local run at the previous match end is exact. */
  private def scrubEmails(b: Array[Byte], n: Int, out: Buf): Long = {
    var count = 0L
    var from = 0    // region start: end of the previous match
    var copied = 0  // input bytes already emitted
    var a = 0
    while (a < n) {
      if (b(a) == '@' && a > from) {
        var ls = a // local-part start: maximal run of local chars
        while (ls > from && isLocal(b(ls - 1) & 0xff)) ls -= 1
        var mEnd = -1
        if (ls < a) {
          var de = a + 1 // domain run [a+1, de)
          while (de < n && isDomain(b(de) & 0xff)) de += 1
          // rightmost dot with ≥1 domain char before it and ≥2 letters
          // after — the first split [A-Za-z0-9.-]+ backtracking reaches
          var d = de - 1
          while (mEnd < 0 && d >= a + 2) {
            if (b(d) == '.') {
              var le = d + 1 // greedy letter run (stops ≤ de: alpha ⊂ domain)
              while (le < n && isAlpha(b(le) & 0xff)) le += 1
              if (le - (d + 1) >= 2) mEnd = le
            }
            d -= 1
          }
        }
        if (mEnd > 0) {
          out.append(b, copied, ls - copied)
          out.append(EMAIL)
          count += 1
          copied = mEnd
          from = mEnd
          a = mEnd - 1 // resume the '@' scan at mEnd (++ below)
        }
      }
      a += 1
    }
    out.append(b, copied, n - copied)
    count
  }

  /** SSN / phone pass: ddd SEP dd(d) SEP dddd with \b on both sides.
    * `dot` admits '.' as a separator (phone); mid is the middle group
    * width (2 for SSN, 3 for phone). */
  private def scrubNumeric(b: Array[Byte], n: Int, out: Buf,
                           mid: Int, dot: Boolean, repl: Array[Byte]): Long = {
    @inline def sep(c: Int): Boolean = c == '-' || (dot && c == '.')
    val w = 3 + 1 + mid + 1 + 4 // total match width
    var count = 0L
    var copied = 0
    var i = 0
    while (i + w <= n) {
      var ok = isDigit(b(i) & 0xff) && !wordBefore(b, i)
      if (ok) {
        var j = i
        var g = 0
        while (ok && g < 3) { ok = isDigit(b(j) & 0xff); j += 1; g += 1 }
        ok = ok && sep(b(j) & 0xff); j += 1
        g = 0
        while (ok && g < mid) { ok = ok && isDigit(b(j) & 0xff); j += 1; g += 1 }
        ok = ok && sep(b(j) & 0xff); j += 1
        g = 0
        while (ok && g < 4) { ok = ok && isDigit(b(j) & 0xff); j += 1; g += 1 }
        ok = ok && !wordAt(b, i + w, n)
      }
      if (ok) {
        out.append(b, copied, i - copied)
        out.append(repl)
        count += 1
        copied = i + w
        i += w
      } else i += 1
    }
    out.append(b, copied, n - copied)
    count
  }

  def compute(text: UTF8String): InternalRow = {
    val b0 = text.getBytes
    val n0 = b0.length
    val buf1 = new Buf(n0 + 16)
    val nEmail = scrubEmails(b0, n0, buf1)
    val buf2 = new Buf(buf1.len)
    val nSsn = scrubNumeric(buf1.a, buf1.len, buf2, mid = 2, dot = false, SSN)
    val buf3 = new Buf(buf2.len)
    val nPhone = scrubNumeric(buf2.a, buf2.len, buf3, mid = 3, dot = true, PHONE)
    InternalRow(
      UTF8String.fromBytes(buf3.a, 0, buf3.len), nEmail, nSsn, nPhone)
  }
}

/** parse_date_flexible(str, formatsNl — newline-joined; formats may contain commas) → timestamp: the
  * [[graft.ops.Dates.parseDateFlexible]] chain as ONE expression node.
  * Exists for PLAN size, not semantics — the chain is a ~150-node tree
  * the Standardizer instantiates per candidate column; see
  * [[DateParseImpl]] for the fidelity contract (format parsing
  * delegates to Spark's own TimestampFormatter; DatesKernelSpec pins
  * kernel ≡ chain). Session-zone aware like try_to_timestamp. */
case class ParseDateFlexibleExpr(child: Expression, formatsNl: String,
    timeZoneId: Option[String] = None)
  extends UnaryExpression with TimeZoneAwareExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.TimestampType
  override def nullable: Boolean = true
  override def prettyName: String = "parse_date_flexible"
  override def withTimeZone(timeZoneId: String): ParseDateFlexibleExpr =
    copy(timeZoneId = Some(timeZoneId))
  override protected def withNewChildInternal(newChild: Expression): ParseDateFlexibleExpr =
    copy(child = newChild)
  @transient private lazy val impl =
    new DateParseImpl(formatsNl.split('\n').toSeq, zoneId)
  override protected def nullSafeEval(input: Any): Any =
    impl.parse(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("dateParseImpl", impl,
      classOf[DateParseImpl].getName)
    val childGen = child.genCode(ctx)
    val r = ctx.freshName("parsed")
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = true;
      long ${ev.value} = 0L;
      if (!${childGen.isNull}) {
        java.lang.Long $r = $ref.parse(${childGen.value});
        if ($r != null) { ${ev.isNull} = false; ${ev.value} = $r.longValue(); }
      }""")
  }
}

/** parse_time_std(str) → "HH:mm:ss" string or null: the
  * [[graft.ops.Dates.parseTime]] chain as one node — see
  * [[TimeParseImpl]] and [[ParseDateFlexibleExpr]] for why. */
/** Categorical LUT standardization as ONE expression node — the fourth
  * renderer of graft.ops.Luts' rule tables (declarative Column chain,
  * oracle SQL, Scala rulesEval, and this kernel). Exists for PLAN cost,
  * not row cost: the declarative tree (vocabulary map literal + regex
  * residue over a regex cleaning subtree) is thousands of Catalyst
  * nodes that the optimizer re-walks on every execution — measured as
  * ~3.5 s of driver time per run on a 10-row input. Row semantics are
  * delegated to Luts.kernelEval (clean twin + rulesEval), which
  * LutKernelSpec pins ≡ the declarative chain per LUT. Null input maps
  * to UNSPECIFIED (hence nullable=false, null-handling inline). */
case class LutStd(child: Expression, lut: String, noId: String)
  extends UnaryExpression with ImplicitCastInputTypes {
  require(graft.ops.Luts.kernelLuts.contains(lut),
    s"lut_std: unknown lut '$lut' (have ${graft.ops.Luts.kernelLuts.keys.toSeq.sorted.mkString(",")})")
  require(Seq("keep", "null", "error").contains(noId),
    s"lut_std: noId must be keep|null|error, got $noId")
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "lut_std"
  override protected def withNewChildInternal(newChild: Expression): LutStd =
    copy(child = newChild)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    graft.ops.Luts.kernelEval(lut,
      child.eval(input).asInstanceOf[UTF8String], noId)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    // lut/noId are validated identifiers ([a-z]+), safe as Java literals
    ev.copy(code = code"""
      ${childGen.code}
      UTF8String ${ev.value} = graft.ops.Luts.kernelEval(
        "$lut", ${childGen.isNull} ? null : ${childGen.value}, "$noId");""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
}

case class ParseTimeStd(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "parse_time_std"
  override protected def withNewChildInternal(newChild: Expression): ParseTimeStd =
    copy(child = newChild)
  override protected def nullSafeEval(input: Any): Any =
    TimeParseImpl.parse(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val r = ctx.freshName("parsedTime")
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = true;
      UTF8String ${ev.value} = null;
      if (!${childGen.isNull}) {
        UTF8String $r = graft.functions.TimeParseImpl.parse(${childGen.value});
        if ($r != null) { ${ev.isNull} = false; ${ev.value} = $r; }
      }""")
  }
}

/** Bloom filter kernel for runtime-filter (semi-join reduction) plans.
  * Bit placement uses Kirsch–Mitzenmacher double hashing: probe i sets
  * bit (h + i·mix(h)) & (m-1), so one 64-bit input hash drives all k
  * probes with no per-probe rehash. Serialized layout (big-endian):
  * int numHashes, then the bit words — `might_contain` needs no other
  * side channel. */
object BloomImpl {

  /** splitmix64 finalizer — derives the probe stride from the input hash. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Set the k probe bits of `hash` in a word array whose bit count is a
    * power of two. */
  def add(words: Array[Long], hash: Long, numHashes: Int): Unit = {
    val mask = (words.length.toLong << 6) - 1
    val h2 = mix(hash)
    var h = hash
    var i = 0
    while (i < numHashes) {
      val bit = h & mask
      words((bit >>> 6).toInt) |= 1L << (bit & 63L).toInt
      h += h2
      i += 1
    }
  }

  private def word(bytes: Array[Byte], w: Int): Long = {
    val o = 4 + (w << 3)
    ((bytes(o) & 255L) << 56) | ((bytes(o + 1) & 255L) << 48) |
      ((bytes(o + 2) & 255L) << 40) | ((bytes(o + 3) & 255L) << 32) |
      ((bytes(o + 4) & 255L) << 24) | ((bytes(o + 5) & 255L) << 16) |
      ((bytes(o + 6) & 255L) << 8) | (bytes(o + 7) & 255L)
  }

  /** Probe the serialized filter. No false negatives by construction. */
  def mightContain(bytes: Array[Byte], hash: Long): Boolean = {
    val numHashes = ((bytes(0) & 255) << 24) | ((bytes(1) & 255) << 16) |
      ((bytes(2) & 255) << 8) | (bytes(3) & 255)
    val numWords = (bytes.length - 4) >>> 3
    val mask = (numWords.toLong << 6) - 1
    val h2 = mix(hash)
    var h = hash
    var i = 0
    while (i < numHashes) {
      val bit = h & mask
      if ((word(bytes, (bit >>> 6).toInt) & (1L << (bit & 63L).toInt)) == 0L) return false
      h += h2
      i += 1
    }
    true
  }

  def serialize(words: Array[Long], numHashes: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * words.length)
    bb.putInt(numHashes)
    var i = 0
    while (i < words.length) { bb.putLong(words(i)); i += 1 }
    bb.array()
  }
}

/** bloom_agg(hash, numBits, numHashes) → binary: a Bloom filter over a
  * long hash column (callers feed `xxhash64(key)`). The build side of a
  * runtime filter: the aggregate ships one fixed-size bit array per
  * partition (numBits/8 bytes — BOUNDED, unlike a collected key set),
  * merged by OR into a single 1-row result that broadcasts as a
  * literal-sized payload no matter how many rows it summarizes. */
case class BloomAgg(child: Expression, numBits: Int, numHashes: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]] {

  require(numBits >= 64 && numBits <= (1 << 27) && Integer.bitCount(numBits) == 1,
    s"bloom_agg: numBits must be a power of two in [64, 2^27], got $numBits")
  require(numHashes >= 1 && numHashes <= 16,
    s"bloom_agg: numHashes must be in [1, 16], got $numHashes")

  override def children: Seq[Expression] = child :: Nil
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomAgg = copy(child = newChildren.head)
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_agg"
  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numBits >>> 6)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) BloomImpl.add(buf, v.asInstanceOf[Long], numHashes)
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) |= b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = BloomImpl.serialize(buf, numHashes)

  override def serialize(buf: Array[Long]): Array[Byte] =
    BloomImpl.serialize(buf, numHashes)

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long]((bytes.length - 4) >>> 3)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.getInt // numHashes — fixed by the expression instance
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong; i += 1 }
    buf
  }
}

/** Per-dimension partial state of [[VecSumAgg]]: for each dimension d,
  * `n(d)` counts the vectors long enough to reach d, `nn(d)` the
  * non-null elements among them, and their exact scale-15 sum is the
  * unscaled long `s(d)` plus `big(d)`, a BigInteger spill that exists
  * only once a long add would overflow. */
final class VecSumBuf {
  import org.apache.spark.sql.types.Decimal
  var n, nn, s = new Array[Long](0)
  var big: Array[java.math.BigInteger] = null

  def grow(d: Int): Unit = if (d > n.length) {
    n = java.util.Arrays.copyOf(n, d); nn = java.util.Arrays.copyOf(nn, d); s = java.util.Arrays.copyOf(s, d)
    if (big != null) big = java.util.Arrays.copyOf(big, d)
  }

  def add(d: Int, u: java.math.BigInteger): Unit =
    try s(d) = Math.addExact(s(d), u.longValueExact())
    catch { case _: ArithmeticException =>
      if (big == null) big = new Array[java.math.BigInteger](n.length)
      big(d) = if (big(d) == null) u else big(d).add(u)
    }

  /** Adds one element rounded exactly as Spark casts a double to
    * decimal(30,15): the decimal digits of Double.toString(x), rounded
    * HALF_UP to scale 15. Non-finite and out-of-range elements fail
    * loud, where that cast would null them (or raise under ANSI). */
  def addElement(d: Int, x: Double): Unit = {
    val v = if (x.isNaN || x.isInfinite) null
      else java.math.BigDecimal.valueOf(x).setScale(15, java.math.RoundingMode.HALF_UP)
    if (v == null || v.precision > 30) throw new ArithmeticException(
      s"vec_sum_agg: element $x is not a finite number in the decimal(30,15) range")
    add(d, v.unscaledValue())
  }

  def total(d: Int): java.math.BigInteger = {
    val l = java.math.BigInteger.valueOf(s(d))
    if (big == null || big(d) == null) l else big(d).add(l)
  }

  /** Dimension d's exact sum as decimal(38,15), failing loud past that
    * range as the decimal sum it replaces does under ANSI. */
  def sum(d: Int): Decimal = {
    val v = Decimal(new java.math.BigDecimal(total(d), 15))
    if (!v.changePrecision(38, 15)) throw new ArithmeticException(
      s"vec_sum_agg: the sum of dimension $d overflows decimal(38,15)")
    v
  }
}

/** vec_sum_agg(vec) → array<struct<n:bigint, s:decimal(38,15)>>, one
  * element per dimension of an array<double> column: the value of
  * `posexplode(vec)` → `groupBy(pos)` → `count(1)`,
  * `sum(cast(x as decimal(30,15)))` with no row per element and no
  * per-row Decimal arithmetic (see [[VecSumBuf]]). Callers apply their
  * own mean formula to (s, n), so results stay bit-identical to that
  * decimal form. Callers cast float embeddings in a codegen'd
  * projection first. */
case class VecSumAgg(child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[VecSumBuf]
  with ImplicitCastInputTypes {

  override def children: Seq[Expression] = child :: Nil
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecSumAgg = copy(child = newChildren.head)
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("s", DecimalType(38, 15), nullable = true))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "vec_sum_agg"
  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(inputAggBufferOffset = newOffset)

  override def createAggregationBuffer(): VecSumBuf = new VecSumBuf

  override def update(buf: VecSumBuf, input: InternalRow): VecSumBuf = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      buf.grow(a.numElements())
      var d = 0
      while (d < a.numElements()) {
        buf.n(d) += 1
        if (!a.isNullAt(d)) {
          buf.nn(d) += 1
          buf.addElement(d, a.getDouble(d))
        }
        d += 1
      }
    }
    buf
  }

  override def merge(b1: VecSumBuf, b2: VecSumBuf): VecSumBuf = {
    b1.grow(b2.n.length)
    for (d <- b2.n.indices) {
      b1.n(d) += b2.n(d); b1.nn(d) += b2.nn(d); b1.add(d, b2.total(d))
    }
    b1
  }

  override def eval(buf: VecSumBuf): Any = new GenericArrayData(Array.tabulate[Any](buf.n.length) {
    d => InternalRow(buf.n(d), if (buf.nn(d) == 0) null else buf.sum(d))
  })

  // per dimension: n, nn, and the exact total as length-prefixed
  // BigInteger bytes
  override def serialize(buf: VecSumBuf): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.n.length)
    for (d <- buf.n.indices) {
      val t = buf.total(d).toByteArray
      out.writeLong(buf.n(d)); out.writeLong(buf.nn(d)); out.writeInt(t.length); out.write(t)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): VecSumBuf = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = new VecSumBuf
    buf.grow(in.readInt())
    for (d <- buf.n.indices) {
      buf.n(d) = in.readLong(); buf.nn(d) = in.readLong()
      val t = new Array[Byte](in.readInt()); in.readFully(t)
      buf.add(d, new java.math.BigInteger(t))
    }
    buf
  }
}

/** bloom_might_contain(bloom, hash) → boolean. The probe side of the
  * runtime filter: a scan-stage codegen predicate (static-method call,
  * stays inside WholeStageCodegen), so fact rows whose key cannot be in
  * the build side die before the join exchange. */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(BinaryType, LongType)
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "bloom_might_contain"
  override protected def nullSafeEval(bloom: Any, hash: Any): Any =
    BloomImpl.mightContain(bloom.asInstanceOf[Array[Byte]], hash.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, h) => s"graft.functions.BloomImpl.mightContain($b, $h)")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): BloomMightContain = copy(left = newLeft, right = newRight)
}

/** Registration: via SparkSessionExtensions (config
  * `spark.sql.extensions=graft.functions.GraftExtensions`) or at runtime
  * with `ensureRegistered(spark)`. */
object GraftFunctions {

  /** Builder preamble: SQL callers reach these raw (no analyzer arity
    * check stands in front of an injected function), so a wrong arity
    * or a non-literal scalar argument must produce a named error, not
    * an IndexOutOfBoundsException / "Cannot evaluate expression" from
    * deep inside the builder. */
  private def nargs(name: String, n: Int, es: Seq[Expression]): Unit =
    require(es.length == n,
      s"$name: expected $n arguments, got ${es.length}")

  private def intLit(name: String, es: Seq[Expression], pos: Int): Int = {
    val e = es(pos)
    require(e.foldable,
      s"$name: argument ${pos + 1} must be an integer literal, got ${e.sql}")
    e.eval() match {
      case x: Number => x.intValue()
      case other => throw new IllegalArgumentException(
        s"$name: argument ${pos + 1} must be an integer literal, got $other")
    }
  }

  val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("minhash_sig", classOf[MinHashSig], (es: Seq[Expression]) => {
      nargs("minhash_sig", 3, es)
      MinHashSig(es.head, intLit("minhash_sig", es, 1), intLit("minhash_sig", es, 2)) }),
    ("simhash64", classOf[SimHash64], (es: Seq[Expression]) => {
      nargs("simhash64", 1, es); SimHash64(es.head) }),
    ("cosine_sim", classOf[CosineSim], (es: Seq[Expression]) => {
      nargs("cosine_sim", 2, es); CosineSim(es(0), es(1)) }),
    ("jaccard_sorted", classOf[JaccardSorted], (es: Seq[Expression]) => {
      nargs("jaccard_sorted", 2, es); JaccardSorted(es(0), es(1)) }),
    ("sig_agree", classOf[SigAgree], (es: Seq[Expression]) => {
      nargs("sig_agree", 2, es); SigAgree(es(0), es(1)) }),
    ("gram_hashes", classOf[GramHashes], (es: Seq[Expression]) => {
      nargs("gram_hashes", 2, es)
      GramHashes(es.head, intLit("gram_hashes", es, 1)) }),
    ("bigram_counts", classOf[BigramCounts], (es: Seq[Expression]) => {
      nargs("bigram_counts", 1, es); BigramCounts(es.head) }),
    ("word_ngram_hashes", classOf[WordNgramHashes], (es: Seq[Expression]) => {
      nargs("word_ngram_hashes", 1, es); WordNgramHashes(es.head) }),
    ("word_ngram_counts", classOf[WordNgramCounts], (es: Seq[Expression]) => {
      nargs("word_ngram_counts", 1, es); WordNgramCounts(es.head) }),
    ("clean_word_bigrams", classOf[CleanWordBigrams], (es: Seq[Expression]) => {
      nargs("clean_word_bigrams", 1, es); CleanWordBigrams(es.head) }),
    ("word_window_hashes", classOf[WordWindowHashes], (es: Seq[Expression]) => {
      nargs("word_window_hashes", 2, es)
      WordWindowHashes(es.head, intLit("word_window_hashes", es, 1)) }),
    ("earlier_band_agree", classOf[EarlierBandAgree], (es: Seq[Expression]) => {
      nargs("earlier_band_agree", 3, es)
      EarlierBandAgree(es(0), es(1), es(2)) }),
    ("simhash_manku_tables", classOf[SimhashMankuTables], (es: Seq[Expression]) => {
      nargs("simhash_manku_tables", 3, es)
      SimhashMankuTables(es.head, intLit("simhash_manku_tables", es, 1),
        intLit("simhash_manku_tables", es, 2)) }),
    ("earlier_combo_agree", classOf[EarlierComboAgree], (es: Seq[Expression]) => {
      nargs("earlier_combo_agree", 4, es)
      EarlierComboAgree(es(0), es(1), intLit("earlier_combo_agree", es, 2),
        intLit("earlier_combo_agree", es, 3)) }),
    ("word_ngram_md5_buckets", classOf[WordNgramMd5Buckets], (es: Seq[Expression]) => {
      nargs("word_ngram_md5_buckets", 2, es)
      WordNgramMd5Buckets(es.head, intLit("word_ngram_md5_buckets", es, 1).toLong) }),
    ("dsir_score", classOf[DsirScore], (es: Seq[Expression]) => {
      nargs("dsir_score", 2, es); DsirScore(es(0), es(1)) }),
    ("dsir_model_agg", classOf[DsirModelAgg], (es: Seq[Expression]) => {
      nargs("dsir_model_agg", 2, es); DsirModelAgg(es(0), es(1)) }),
    ("lsh_sig", classOf[LshSignature], (es: Seq[Expression]) => {
      nargs("lsh_sig", 2, es)
      LshSignature(es.head, intLit("lsh_sig", es, 1)) }),
    ("topk_largest", classOf[TopKLargest], (es: Seq[Expression]) => {
      nargs("topk_largest", 2, es)
      TopKLargest(es.head, intLit("topk_largest", es, 1)) }),
    ("winnow_fp", classOf[WinnowFp], (es: Seq[Expression]) => {
      nargs("winnow_fp", 3, es)
      WinnowFp(es.head, intLit("winnow_fp", es, 1), intLit("winnow_fp", es, 2)) }),
    ("parse_date_flexible", classOf[ParseDateFlexibleExpr], (es: Seq[Expression]) => {
      nargs("parse_date_flexible", 2, es)
      val f = es(1)
      require(f.foldable && f.dataType == StringType,
        s"parse_date_flexible: formats must be a string literal, got ${f.sql}")
      ParseDateFlexibleExpr(es.head, f.eval().toString) }),
    ("parse_time_std", classOf[ParseTimeStd], (es: Seq[Expression]) => {
      nargs("parse_time_std", 1, es); ParseTimeStd(es.head) }),
    ("lut_std", classOf[LutStd], (es: Seq[Expression]) => {
      nargs("lut_std", 3, es)
      def strLit(pos: Int, what: String): String = {
        val e = es(pos)
        require(e.foldable && e.dataType == StringType,
          s"lut_std: $what must be a string literal, got ${e.sql}")
        e.eval().toString
      }
      LutStd(es.head, strLit(1, "lut name"), strLit(2, "noId mode")) }),
    ("quantize_int8", classOf[QuantizeInt8], (es: Seq[Expression]) => {
      nargs("quantize_int8", 1, es); QuantizeInt8(es.head) }),
    ("word_bigram_rep_stats", classOf[WordBigramRepStats], (es: Seq[Expression]) => {
      nargs("word_bigram_rep_stats", 1, es); WordBigramRepStats(es.head) }),
    ("pii_scrub_stats", classOf[PiiScrubStats], (es: Seq[Expression]) => {
      nargs("pii_scrub_stats", 1, es); PiiScrubStats(es.head) }),
    ("text_quality_stats", classOf[TextQualityStats], (es: Seq[Expression]) => {
      nargs("text_quality_stats", 2, es)
      val w = es(1)
      require(w.foldable && w.dataType == StringType,
        s"text_quality_stats: stopword list must be a string literal, got ${w.sql}")
      TextQualityStats(es.head, w.eval().toString) }),
    ("capped_collect_longs", classOf[CappedCollectLongs], (es: Seq[Expression]) => {
      nargs("capped_collect_longs", 2, es)
      val e = es(1)
      require(e.foldable,
        s"capped_collect_longs: cap must be a literal, got ${e.sql}")
      val cap = e.eval() match {
        case x: Number => x.longValue()
        case other => throw new IllegalArgumentException(
          s"capped_collect_longs: cap must be numeric, got $other")
      }
      CappedCollectLongs(es.head, cap) }),
    ("kmv_sketch", classOf[KmvSketch], (es: Seq[Expression]) => {
      nargs("kmv_sketch", 2, es)
      KmvSketch(es.head, intLit("kmv_sketch", es, 1)) }),
    ("bloom_agg", classOf[BloomAgg], (es: Seq[Expression]) => {
      nargs("bloom_agg", 3, es)
      BloomAgg(es.head, intLit("bloom_agg", es, 1), intLit("bloom_agg", es, 2)) }),
    ("vec_sum_agg", classOf[VecSumAgg], (es: Seq[Expression]) => {
      nargs("vec_sum_agg", 1, es); VecSumAgg(es.head) }),
    ("bloom_might_contain", classOf[BloomMightContain], (es: Seq[Expression]) => {
      nargs("bloom_might_contain", 2, es); BloomMightContain(es(0), es(1)) }),
    // Thin handles on Spark's own decimal plumbing (the pair Catalyst's
    // DecimalAggregates rule uses, which only fires for precision ≤ 8):
    // sum a decimal's unscaled LONG through a hot aggregate (fast-hash-map
    // eligible, no per-row BigDecimal), then rebuild the decimal once per
    // GROUP with make_decimal. Exact as long as every input fits the
    // narrow decimal and the group's unscaled sum fits a signed long.
    ("unscaled_long",
      classOf[org.apache.spark.sql.catalyst.expressions.UnscaledValue],
      (es: Seq[Expression]) => {
        nargs("unscaled_long", 1, es)
        org.apache.spark.sql.catalyst.expressions.UnscaledValue(es.head) }),
    ("make_decimal",
      classOf[org.apache.spark.sql.catalyst.expressions.MakeDecimal],
      (es: Seq[Expression]) => {
        nargs("make_decimal", 3, es)
        org.apache.spark.sql.catalyst.expressions.MakeDecimal(es.head,
          intLit("make_decimal", es, 1), intLit("make_decimal", es, 2)) })
  )

  def register(ext: SparkSessionExtensions): Unit =
    builders.foreach { case (name, clazz, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), b))
    }

  def ensureRegistered(spark: SparkSession): Unit = {
    builders.foreach { case (name, _, b) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, b, "built-in")
    }
    // Runtime twin of injectOptimizerRule (extraOptimizations runs in a
    // late batch, after InferWindowGroupLimit — TopKRewrite handles both
    // positions; see its WindowGroupLimit unwrap).
    if (!spark.experimental.extraOptimizations.contains(graft.plans.TopKRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.TopKRewrite
  }

  // Column-API wrappers (functions are resolved from the registry).
  def minhashSig(c: Column, k: Int, numPerms: Int): Column =
    call_function("minhash_sig", c,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(numPerms))
  def simhash64(c: Column): Column = call_function("simhash64", c)
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def jaccardSorted(a: Column, b: Column): Column = call_function("jaccard_sorted", a, b)
  def sigAgree(a: Column, b: Column): Column = call_function("sig_agree", a, b)
  def gramHashes(c: Column, k: Int): Column =
    call_function("gram_hashes", c, org.apache.spark.sql.functions.lit(k))
  def bigramCounts(c: Column): Column = call_function("bigram_counts", c)
  def wordNgramHashes(c: Column): Column = call_function("word_ngram_hashes", c)
  def wordNgramCounts(c: Column): Column = call_function("word_ngram_counts", c)
  def cleanWordBigrams(c: Column): Column = call_function("clean_word_bigrams", c)
  def earlierBandAgree(lh: Column, rh: Column, bandId: Column): Column =
    call_function("earlier_band_agree", lh, rh, bandId)
  def simhashMankuTables(sim: Column, blocks: Int, maxHamming: Int): Column =
    call_function("simhash_manku_tables", sim,
      org.apache.spark.sql.functions.lit(blocks),
      org.apache.spark.sql.functions.lit(maxHamming))
  def earlierComboAgree(xor: Column, tbl: Column, blocks: Int, maxHamming: Int): Column =
    call_function("earlier_combo_agree", xor, tbl,
      org.apache.spark.sql.functions.lit(blocks),
      org.apache.spark.sql.functions.lit(maxHamming))
  def wordWindowHashes(c: Column, k: Int): Column =
    call_function("word_window_hashes", c, org.apache.spark.sql.functions.lit(k))
  def wordNgramMd5Buckets(c: Column, buckets: Int): Column =
    call_function("word_ngram_md5_buckets", c, org.apache.spark.sql.functions.lit(buckets))
  def dsirScore(counts: Column, lrMap: Column): Column =
    call_function("dsir_score", counts, lrMap)
  def dsirModelAgg(counts: Column, isTarget: Column): Column =
    call_function("dsir_model_agg", counts, isTarget)
  def lshSig(c: Column, numPlanes: Int): Column =
    call_function("lsh_sig", c, org.apache.spark.sql.functions.lit(numPlanes))
  def topKLargest(c: Column, k: Int): Column =
    call_function("topk_largest", c, org.apache.spark.sql.functions.lit(k))
  def winnowFp(c: Column, k: Int, w: Int): Column =
    call_function("winnow_fp", c,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(w))
  def parseDateFlexible(c: Column, formats: Seq[String]): Column =
    call_function("parse_date_flexible", c,
      org.apache.spark.sql.functions.lit(formats.mkString("\n")))
  def parseTimeStd(c: Column): Column = call_function("parse_time_std", c)
  def lutStd(c: Column, lut: String, noId: String): Column =
    call_function("lut_std", c,
      org.apache.spark.sql.functions.lit(lut), org.apache.spark.sql.functions.lit(noId))
  def quantizeInt8(c: Column): Column = call_function("quantize_int8", c)
  def wordBigramRepStats(c: Column): Column =
    call_function("word_bigram_rep_stats", c)
  def piiScrubStats(c: Column): Column = call_function("pii_scrub_stats", c)
  def textQualityStats(c: Column, stops: Seq[String]): Column =
    call_function("text_quality_stats", c,
      org.apache.spark.sql.functions.lit(stops.mkString(",")))
  def cappedCollectLongs(c: Column, cap: Long): Column =
    call_function("capped_collect_longs", c, org.apache.spark.sql.functions.lit(cap))
  def kmvSketch(c: Column, k: Int): Column =
    call_function("kmv_sketch", c, org.apache.spark.sql.functions.lit(k))
  def bloomAgg(c: Column, numBits: Int, numHashes: Int): Column =
    call_function("bloom_agg", c,
      org.apache.spark.sql.functions.lit(numBits), org.apache.spark.sql.functions.lit(numHashes))
  def vecSumAgg(vec: Column): Column = call_function("vec_sum_agg", vec)
  def bloomMightContain(bloom: Column, hash: Column): Column =
    call_function("bloom_might_contain", bloom, hash)
  def unscaledLong(c: Column): Column = call_function("unscaled_long", c)
  def makeDecimal(c: Column, precision: Int, scale: Int): Column =
    call_function("make_decimal", c,
      org.apache.spark.sql.functions.lit(precision),
      org.apache.spark.sql.functions.lit(scale))
}

/** Entry point for spark.sql.extensions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.register(ext)
    // Operator-optimization-batch rule: row_number top-N → bounded-heap
    // aggregate (graft.plans.TopKRewrite).
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
  }
}
