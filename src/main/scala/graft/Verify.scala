package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [--only=q1,q2] (dev-only filter; the
    // driver always runs the full dump)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] = args.drop(2).collectFirst {
      case a if a.startsWith("--only=") => a.stripPrefix("--only=").split(",").toSet
    }
    val spark = GraftSession.harness()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try SparkEntry.withQueryConfs(spark, name) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Post-query hygiene (see Bench): iterative operators checkpoint
      // their result; once written it has no further reader.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
