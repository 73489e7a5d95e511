package graft

import org.apache.hadoop.fs.Path
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
  *
  * The first call in a JVM builds the session; a later call reuses the
  * live one and sets only its runtime SQL settings (shuffle partitions,
  * AQE, time zone, the two runtime codegen settings below). Static
  * settings — the extensions, the codegen cache size, the two
  * `spark.hadoop.*` settings — act only at that first build.
  *
  * Three fixed settings let a generated class be compiled once per JVM
  * and then reused by every later query, stream trigger and cloned
  * session. Spark caches compiled classes by (context class loader, Java
  * source text) in an LRU of 100 entries by default; each setting removes
  * one measured cause of misses:
  *
  *   - `spark.sql.codegen.cache.maxEntries` = 2000: one warm pass of the
  *     pipeline benchmark's query mix needs 144 entries (most sources are
  *     compiled once by the driver and once by a task), so at 100 the LRU
  *     evicted every entry before its reuse and hit 0 %. One driver-bench
  *     run of the seven graph, ANN and stream queries needs 210. The
  *     cache is JVM-wide; its size is read once, at the JVM's first
  *     code generation.
  *   - `spark.sql.artifact.isolation.enabled` = false: every streaming
  *     query runs in a cloned session, and with isolation each session
  *     gets its own executor class loader, so each stream start missed
  *     the whole cache. Isolation only separates per-session jars and
  *     classes (`addArtifact`, Spark Connect), and this library adds none.
  *   - `spark.sql.codegen.useIdInClassName` = false: the whole-stage
  *     codegen id (`*(n)` in `explain`) is otherwise part of the class
  *     name, so the same stage body at another position in another plan
  *     compiled a second class.
  *
  * Two fixed settings give every `file:` read and write in the JVM a
  * filesystem that starts no process ([[graft.io.LocalFs]]). Without
  * Hadoop's native library, Hadoop's local filesystem forks `chmod` for
  * each file or directory it creates with a permission and `readlink`
  * for each link-status lookup, about 10 ms each: a census of one
  * pipeline-benchmark run counted about 2,100 forks for the stream
  * workload (816 `readlink` and 240 `chmod` under one state-store
  * checkpoint alone), 161 for the batch DAG and 117 for the query mix.
  *
  *   - `spark.hadoop.fs.file.impl` = [[graft.io.LocalFileSystem]]: the
  *     `FileSystem` of the parquet output committer, the file sink's
  *     `_spark_metadata` log and every scan.
  *   - `spark.hadoop.fs.AbstractFileSystem.file.impl` =
  *     [[graft.io.LocalFs]]: the `FileContext` of the stream offset,
  *     commit and source logs and of the state-store deltas.
  *
  * Hadoop caches one `FileSystem` per scheme for the whole JVM, whatever
  * configuration asked first, so the first build creates it at once
  * from the session's configuration; a later lookup through a bare
  * `new Configuration()` then gets the same instance.
  *
  * The first build also sets one named logger to ERROR:
  * `ResolveWriteToStream`, which warns at every stream start with AQE
  * on that AQE "is not supported in streaming DataFrames/Datasets and
  * will be disabled". The warning is wrong for a stateless stream,
  * whose micro-batches keep AQE on in Spark 4.1, and Spark turns AQE
  * off in a stateful stream itself (logging its own line from
  * `MicroBatchExecution`), so each such line is noise: one unit-test run logged it 39 times. The class's
  * only other WARN, "Temporary checkpoint location created", cannot
  * fire here, because every stream start sets `checkpointLocation`.
  * Every other logger keeps the root level.
  */
object Sessions {
  def local(
      cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      timeZone: String = "UTC",
      appName: String = "graft"): SparkSession = synchronized {
    val runtime = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.session.timeZone" -> timeZone,
      "spark.sql.artifact.isolation.enabled" -> "false",
      "spark.sql.codegen.useIdInClassName" -> "false")
    (SparkSession.getActiveSession ++ SparkSession.getDefaultSession)
      .find(!_.sparkContext.isStopped) match {
      case Some(spark) =>
        runtime.foreach { case (k, v) => spark.conf.set(k, v) }
        spark
      case None =>
        val builder = SparkSession
          .builder()
          .master(s"local[$cores]")
          // engine extensions (optimizer rules, MERGE parser, compiled SQL
          // functions); on a cluster the same thing ships as
          // spark.sql.extensions=graft.plans.GraftExtensions
          .withExtensions(new graft.plans.GraftExtensions)
          .appName(appName)
          .config("spark.sql.codegen.cache.maxEntries", "2000")
          .config("spark.hadoop.fs.file.impl", classOf[graft.io.LocalFileSystem].getName)
          .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.LocalFs].getName)
          .config("spark.ui.enabled", "false")
        runtime.foreach { case (k, v) => builder.config(k, v) }
        val spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        org.apache.logging.log4j.core.config.Configurator.setLevel(
          "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
          org.apache.logging.log4j.Level.ERROR)
        // the JVM's cached `file:` FileSystem, made from these settings
        new Path("file:///").getFileSystem(spark.sparkContext.hadoopConfiguration)
        spark
    }
  }

  /** Resolve a testdata table path under a scale-factor directory. */
  def tablePath(sfDir: String, name: String): String =
    s"$sfDir/$name.parquet"
}
