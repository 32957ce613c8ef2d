package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Parquet table loading over a scale-factor directory.
  *
  * Plays the role of the reference's data-loader registry
  * (reference: openpolicedata/data_loaders/data_loader.py:297 `Data_Loader`
  * and data.py:1819 `__get_loader`): each named dataset resolves to a lazy
  * Spark scan, so downstream filters/projections are pushed by Catalyst
  * into the parquet reader (the Spark-native equivalent of the reference's
  * server-side WHERE / select pushdown on Socrata/ArcGIS/CKAN backends).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Spark 4 rejects parquet TIMESTAMP(NANOS) outright; with the legacy
    * conf it reads as a raw nanosecond long, which we normalize to a
    * microsecond TimestampType column (`ts DIV 1000` — integer division,
    * no double round-trip that would lose precision above 2^53). */
  def normalizeEventTs(df: DataFrame): DataFrame =
    if (df.schema.fields.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else df

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeEventTs(raw(spark, dir, name))

  /** The same table as a micro-batch file stream: the batch file's
    * schema and the same `ts` normalization as [[apply]]. The file-stream
    * source reads a directory, so the glob filter selects this table's
    * file out of the shared scale-factor directory. */
  def stream(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeEventTs(spark.readStream.schema(raw(spark, dir, name).schema)
      .option("pathGlobFilter", s"$name.parquet")
      .parquet(dir))

  private def raw(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/$name.parquet")
  }
}
