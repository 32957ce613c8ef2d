package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.QuerySpec
import graft.queries.QuerySpec.{RowsOnly, Sql}

/** The query registry is the contract Bench times and Verify checks:
  * one spec per name, an oracle for every query except the rows-only
  * ones, and each of those names a SQL-verified twin. */
class QueryRegistrySpec extends AnyFunSuite {
  private val all = QuerySpec.all

  test("121 registered queries, names unique") {
    assert(all.size == 121)
    assert(all.map(_.name).distinct.size == all.size,
      all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n })
  }

  test("exactly 115 queries carry a SQL oracle") {
    assert(all.count(_.oracle.isInstanceOf[Sql]) == 115)
  }

  test("every rows-only query names a registered twin with a SQL oracle") {
    val rowsOnly = all.collect { case QuerySpec(n, _, RowsOnly(twin, why), _, _) => (n, twin, why) }
    assert(rowsOnly.size == 6)
    rowsOnly.foreach { case (n, twin, why) =>
      assert(all.exists(q => q.name == twin && q.oracle.isInstanceOf[Sql]),
        s"$n: twin $twin is not a SQL-verified registered query")
      assert(why.nonEmpty, s"$n: rows-only without a reason")
    }
  }

  test("every conf override is a spark.* key") {
    for (q <- all; k <- q.confs.keys)
      assert(k.startsWith("spark."), s"${q.name}: $k")
  }

  test("unknown query names are rejected, naming each one") {
    val e = intercept[IllegalArgumentException](
      QuerySpec.select(Seq("q1_agg", "q_nope", "q_typo")))
    assert(e.getMessage.contains("q_nope") && e.getMessage.contains("q_typo") &&
      !e.getMessage.contains("q1_agg"), e.getMessage)
    assert(intercept[IllegalArgumentException](QuerySpec.named("q_nope"))
      .getMessage.contains("q_nope"))
    assert(QuerySpec.select(Seq("q3_join", "q1_agg")).map(_.name).toSet == Set("q1_agg", "q3_join"))
    // the harness mains reject before starting a session
    intercept[IllegalArgumentException](
      Verify.main(Array("/nonexistent", "/nonexistent", "--only=q_nope")))
    intercept[IllegalArgumentException](Profile.main(Array("/nonexistent", "q_nope")))
  }
}
