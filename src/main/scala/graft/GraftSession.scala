package graft

import org.apache.spark.sql.SparkSession

/** Recommended session builder for the graft engine: UTC, AQE on,
  * right-sized shuffle parallelism, custom expressions registered via
  * SparkSessionExtensions, and the nanosecond-parquet legacy read conf.
  *
  * Library code never requires this — every operator also registers its
  * expressions defensively — but it is the one-liner a user switching
  * from the reference starts with.
  */
object GraftSession {

  /** `maxPartitionBytes` sizes scan splits: at 100 TB the default 128m
    * yields ~800k input tasks — fine for a 1000-executor cluster, but
    * raise it (e.g. "512m") when per-row work is light so task-launch
    * overhead doesn't dominate, and lower it when wide rows or heavy
    * per-row kernels (decode, minhash) would blow executor memory.
    * Shuffle partitions should track total cores (AQE coalesces the
    * small ones back down). */
  def builder(master: String = "local[*]",
              shufflePartitions: Int = 32,
              maxPartitionBytes: String = "128m"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Align Spark's whole-stage-codegen fallback with HotSpot's
      // -XX:DontCompileHugeMethods limit (8000 bytecodes): the default
      // (65535) lets Spark emit one giant consume() method the JIT then
      // REFUSES to compile, and the stage silently runs interpreted —
      // measured as a 10-20x slowdown on a wide probe pipeline
      // (scan + struct build + filter + join + trig residual). At 8000
      // Spark falls back to per-expression codegen units, each of
      // which the JIT compiles. (Clusters that run with
      // -XX:-DontCompileHugeMethods can raise this back.)
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  def getOrCreate(master: String = "local[*]",
                  shufflePartitions: Int = 32,
                  maxPartitionBytes: String = "128m"): SparkSession = {
    val s = builder(master, shufflePartitions, maxPartitionBytes).getOrCreate()
    graft.functions.GraftFunctions.ensureRegistered(s)
    s
  }

  /** The one session every graft main (Bench, Verify, Profile, Plans,
    * Scaling) and the test suite run on, so Verify checks the same
    * plans Bench times. `cpus` sets both the local thread count and the
    * shuffle partitions. Scan splits are 8m with a 1m open cost: the
    * bench tables are one file each, and the 128m default would
    * collapse a multi-row-group fact scan to 1-2 tasks. Installs the
    * codegen-fallback guard. Every step is idempotent: a second call
    * returns the same session with these SQL confs re-applied. */
  def harness(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession = {
    val s = builder(s"local[$cpus]", cpus, "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // before re-registering: each replaced function logs a WARN
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensureRegistered(s)
    CodegenGuard.install()
    s
  }
}
