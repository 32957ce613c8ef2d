package graft
import java.nio.file.{Files, Paths}
import graft.queries.QuerySpec
import graft.queries.QuerySpec.Sql
/** Driver-run correctness dump: each registered query's result →
  * parquet, plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [--only=q1,q2] (dev-only filter; the
    // driver always runs the full dump)
    val (sfDir, outDir) = (args(0), args(1))
    val selected = args.drop(2).collectFirst {
      case a if a.startsWith("--only=") => QuerySpec.select(a.stripPrefix("--only=").split(","))
    }.getOrElse(QuerySpec.all)
    val spark = GraftSession.harness()
    new java.io.File(outDir).mkdirs()
    selected.foreach { q =>
      try q.run(spark, sfDir)(_.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
      GraftSession.unpersistAll(spark)
    }
    val json = QuerySpec.all.collect { case QuerySpec(name, _, Sql(text), _, _) =>
      s"${Json.str(name)}: ${Json.str(text)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
