package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide instance; forked
  * test JVM exits at the end, so it is never stopped explicitly). */
object SparkSpec {
  lazy val session: SparkSession = GraftSession.harness(cpus = 4)
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = SparkSpec.sfDir

  // Whole-stage codegen compile failures are SILENT (Spark interprets
  // the stage and the query still passes) but are a 10-20x CPU
  // multiplier at scale — fail the suite that triggered one. Suites in
  // the forked test JVM run sequentially, so the delta is attributable.
  private var codegenFailuresAtStart = 0L
  override protected def beforeAll(): Unit = {
    super.beforeAll()
    spark // force session + guard install before counting
    codegenFailuresAtStart = CodegenGuard.failures
  }
  override protected def afterAll(): Unit = {
    val delta = CodegenGuard.failures - codegenFailuresAtStart
    try assert(delta == 0L,
      s"$delta whole-stage codegen compile failure(s) during this " +
        s"suite (stage ran interpreted). Last: ${CodegenGuard.lastFailure}")
    finally super.afterAll()
  }
}
