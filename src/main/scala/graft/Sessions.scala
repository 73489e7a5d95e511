package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: Bench, Verify, the tools, the pipeline
  * benchmark and the test suites all build their session here.
  *
  * Defaults tuned for the harness's local[32] / 128 GiB box, but every
  * knob here is the same one you'd set on a 1000-executor cluster:
  * AQE on (runtime re-plan, skew-join splitting, partition coalescing),
  * shuffle partitions sized to the parallelism actually available, and a
  * UTC session so timestamp semantics don't depend on where the driver
  * runs (the reference forces `Asia/Ho_Chi_Minh` per session —
  * /root/reference/src/bronze/ohlcv_1m.py:30 — so the TZ is a parameter
  * here, not a constant).
  */
object Sessions {
  def local(
      cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      timeZone: String = "UTC",
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      // engine extensions (optimizer rules, MERGE parser, compiled SQL
      // functions); on a cluster the same thing ships as
      // spark.sql.extensions=graft.plans.GraftExtensions
      .withExtensions(new graft.plans.GraftExtensions)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", timeZone)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Resolve a testdata table path under a scale-factor directory. */
  def tablePath(sfDir: String, name: String): String =
    s"$sfDir/$name.parquet"
}
