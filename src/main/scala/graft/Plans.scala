package graft

import org.apache.spark.sql.execution.FormattedMode
import graft.queries.{AnalyticsQueries, QuerySpec}

/** PLANS.md generator (dev tool): prints the formatted physical plan of
  * each registered query that carries a plan note. Usage:
  *   SPARK_GRAFT_SF_DIR=... java ... graft.Plans > PLANS.md */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness()
    println("# PLANS - formatted physical plans of the headline queries (sf0.1)")
    println()
    println("Generated by `graft.Plans` (SPARK_GRAFT_SF_DIR=... java ... graft.Plans).")
    println("The properties asserted programmatically live in PlanSpec.scala.")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val dflt = spark.conf.get(key)
    for (q <- QuerySpec.all; note <- q.plan) {
      spark.conf.set(key, if (note.atScale) "-1" else dflt)
      // q_bloom_join: render the REAL registered query, just with a
      // small bitmap (2^22 bits would print a ~1 MB hex literal twice;
      // the plan SHAPE is identical at any size)
      // q_dsir_*: same idea — the driver-bounded model applies as a
      // literal map, so render over a ~1% doc subset to keep the
      // literal readable; the plan SHAPE is identical at any model size
      val df = q.name match {
        case "q_bloom_join" => AnalyticsQueries.bloomJoinQuery(spark, sfDir, 1 << 10)
        case "q_dsir_weights" | "q_dsir_hashed" =>
          import org.apache.spark.sql.functions.{col, lit, pmod}
          val docs = graft.sources.Tables(spark, sfDir, "documents")
            .filter(pmod(col("doc_id"), lit(97)) === 0)
          if (q.name == "q_dsir_weights")
            graft.text.Curation.dsirWeights(docs, "doc_id", "text",
              isTarget = col("lang") === "fr")
          else
            graft.text.Curation.dsirWeightsHashed(docs, "doc_id", "text",
              isTarget = col("lang") === "fr", buckets = 64)
        case _ => q.build(spark, sfDir)
      }
      println(s"\n## ${q.name}\n")
      println(note.text)
      println()
      println("```")
      // Literal-heavy plans (the DSIR model map, bloom bitmaps) can put
      // tens of KB on one line; elide the tail — the SHAPE is the point.
      println(df.queryExecution.explainString(FormattedMode).trim
        .split('\n')
        .map(l => if (l.length > 800)
          l.take(800) + s"... (literal elided, ${l.length} chars)" else l)
        .mkString("\n"))
      println("```")
    }
    spark.stop()
  }
}
