package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, MankuImpl}

/** The simhash_manku kernel pair (r11): SimhashMankuTables /
  * EarlierComboAgree must evaluate exactly the literal Catalyst forms
  * they replaced (inline(array(struct(lit(t), sim & lit(m)))) and the
  * statically unrolled OR chain), over the same combination masks. */
class MankuSpec extends SparkSpec {
  import spark.implicits._

  private val blocks = 8
  private val h = 6

  // independent spec construction of the masks (the pre-r11 literal)
  private def specCombos(blocks: Int, maxHamming: Int): Seq[Long] =
    (0 until blocks).combinations(blocks - maxHamming).map { c =>
      val w = 64 / blocks
      val blockMask = if (w == 64) -1L else (1L << w) - 1L
      c.map(i => blockMask << (i * w)).reduce(_ | _)
    }.toSeq

  private val rnd = new scala.util.Random(41)
  private val sims: Seq[Long] =
    Seq(0L, -1L, Long.MinValue, Long.MaxValue, 0xff00ff00ff00ff00L) ++
      Seq.fill(200)(rnd.nextLong())

  test("MankuImpl.combos matches the spec construction (several configs)") {
    for ((b, mh) <- Seq((8, 6), (8, 4), (4, 2), (2, 1), (16, 3)))
      assert(MankuImpl.combos(b, mh).toSeq == specCombos(b, mh),
        s"combos($b, $mh) diverged")
  }

  test("MankuImpl.combos rejects degenerate configs by name; cache keys on the pair") {
    // blocks = 0 divides by zero, non-divisors of 64 and maxHamming
    // outside 1 until blocks give degenerate masks: all fail loud
    for ((b, mh) <- Seq((0, 1), (3, 1), (128, 1), (8, 0), (8, 8), (-4, 1))) {
      val e = intercept[IllegalArgumentException](MankuImpl.combos(b, mh))
      assert(e.getMessage.contains("blocks") && e.getMessage.contains("maxHamming"),
        e.getMessage)
    }
    // the SQL-exposed kernel inherits the check at evaluation
    val e = intercept[Exception](Seq(1L).toDF("sim")
      .select(GraftFunctions.simhashMankuTables(col("sim"), 0, 1)).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.isInstanceOf[IllegalArgumentException] &&
        t.getMessage.contains("blocks")), e.toString)
    // every valid (blocks, maxHamming) pair is its own cache entry:
    // the old `blocks << 8 | maxHamming` key collapsed distinct pairs
    // once maxHamming reached the blocks bits
    val all = for (b <- Seq(1, 2, 4, 8, 16, 32, 64); mh <- 1 until b
                   if b - mh <= 2 || mh <= 2) yield (b, mh)
    all.foreach { case (b, mh) => MankuImpl.combos(b, mh) } // warm the cache
    all.foreach { case (b, mh) =>
      assert(MankuImpl.combos(b, mh).toSeq == specCombos(b, mh), s"combos($b, $mh)")
    }
  }

  test("simhash_manku_tables ≡ literal inline struct expansion") {
    val combos = specCombos(blocks, h)
    val df = sims.toDF("sim")
    val literal = df.select(col("sim"), inline(array(
        combos.zipWithIndex.map { case (m, t) =>
          struct(lit(t).as("tbl"), col("sim").bitwiseAND(lit(m)).as("mkey"))
        }: _*)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val kernel = df.select(col("sim"),
        inline(GraftFunctions.simhashMankuTables(col("sim"), blocks, h)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(kernel == literal)
  }

  test("earlier_combo_agree ≡ the unrolled OR chain") {
    val combos = specCombos(blocks, h)
    val xors = sims
    val tbls = 0 until combos.size
    val df = (for (x <- xors; t <- tbls) yield (x, t)).toDF("xor", "tbl")
    val chain = combos.indices.init.map { j =>
      (col("tbl") > j) && (col("xor").bitwiseAND(lit(combos(j))) === 0L)
    }.reduceOption(_ || _).getOrElse(lit(false))
    val rows = df.select(col("xor"), col("tbl"),
        chain.as("want"),
        GraftFunctions.earlierComboAgree(col("xor"), col("tbl"), blocks, h).as("got"))
      .collect()
    rows.foreach { r =>
      assert(r.getBoolean(2) == r.getBoolean(3),
        s"xor=${r.getLong(0)} tbl=${r.getInt(1)}: chain=${r.getBoolean(2)} kernel=${r.getBoolean(3)}")
    }
  }

  test("pigeonhole recall: any pair within maxHamming agrees on some table, emitted once") {
    // plant bit-flip pairs at every hamming distance 0..maxHamming and
    // check: exactly ONE (first) agreeing table accepts each pair
    val combos = MankuImpl.combos(blocks, h)
    for (d <- 0 to h) {
      val a = rnd.nextLong()
      val flips = rnd.shuffle((0 until 64).toList).take(d)
      val b = flips.foldLeft(a)((v, i) => v ^ (1L << i))
      val xor = a ^ b
      val agreeing = combos.indices.filter(j => (xor & combos(j)) == 0L)
      assert(agreeing.nonEmpty, s"hamming $d pair missed by every table")
      // emit-once: only the FIRST agreeing table passes !earlierAgree
      val emitted = agreeing.filter(t => !MankuImpl.earlierAgree(xor, t, blocks, h))
      assert(emitted == Seq(agreeing.head))
    }
  }
}
