package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode

import scala.collection.mutable.ArrayBuffer

/** Dev profiling main: run ONE registered query and print its formatted
  * physical plan plus per-stage wall time / task counts / shuffle and
  * input volumes, so a slow bench number can be attributed to a stage
  * rather than guessed at. Usage:
  *   Profile <sfDir> <queryName> [reps]
  * (same java -cp recipe as tools/bench.sh).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.harness()

    case class St(id: Int, nm: String, ms: Long, tasks: Int,
                  inMb: Double, shRead: Double, shWrite: Double)
    val stages = ArrayBuffer.empty[St]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val dur = (for {a <- i.completionTime; b <- i.submissionTime} yield a - b).getOrElse(-1L)
        stages += St(i.stageId, i.name.takeWhile(_ != '\n').take(80), dur,
          i.numTasks,
          i.taskMetrics.inputMetrics.bytesRead / 1e6,
          i.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6,
          i.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6)
      }
    })

    val fn = SparkEntry.queries(name)
    var last: org.apache.spark.sql.DataFrame = null
    var r = 0
    while (r < reps) {
      stages.clear()
      val t0 = System.nanoTime()
      // materialize, not count(): count() re-optimizes and prunes the
      // expensive output expressions (see SparkEntry.materialize) —
      // this tool exists to attribute REAL cost
      val n = SparkEntry.withQueryConfs(spark, name) {
        last = fn(spark, sfDir); SparkEntry.materialize(last)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"== rep $r: $dt%.3f s, $n rows")
      // Same post-query hygiene as Bench/Verify: eager+pinned Mat
      // checkpoints (dsir, pagerank, components…) otherwise accumulate
      // one block set PER REP and the later reps measure GC thrash,
      // not the query.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      if (r == reps - 1) {
        println(f"${"stage"}%8s ${"ms"}%8s ${"tasks"}%6s ${"inMB"}%8s ${"shRdMB"}%8s ${"shWrMB"}%8s  name")
        stages.sortBy(_.id).foreach { s =>
          println(f"${s.id}%8d ${s.ms}%8d ${s.tasks}%6d ${s.inMb}%8.1f ${s.shRead}%8.1f ${s.shWrite}%8.1f  ${s.nm}")
        }
      }
      r += 1
    }
    // `last` was driven through its own QueryExecution (materialize),
    // so its AdaptiveSparkPlan prints the FINAL runtime plan — AQE's
    // actual join strategies and stage reuse, not the static guess a
    // fresh fn() would show
    println(last.queryExecution.explainString(FormattedMode))
    spark.stop()
  }
}
