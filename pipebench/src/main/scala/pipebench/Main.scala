package pipebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Benchmark entry point. One JVM runs one workload:
  *
  * {{{
  *   pipebench.Main --workload <batch_elt|stream_candles|query_mix> --seed <n>
  *     --seconds <s> --trace <0|1> --cores <n> --work <dir> --result <file>
  *     [--sf-dir <dir> --warmup-dir <dir> --expected <dir>] [--tiny] [--corrupt]
  * }}}
  *
  * The result file holds the end-to-end metrics (`setup_s`, `cycle_s`,
  * `step_p50_s`, the same names on every workload), the per-layer
  * metrics and the workload's own layer metrics (traced runs only),
  * operation counts, failed checks and run details;
  * a traced run also writes `trace.json` (spans with the engine counters
  * attributed to them, and the streaming progress log) into `--work`.
  *
  * `--workload archive` runs the batch and stream workloads at tiny size
  * and the query workload over `--warmup-dir` when it exists, and writes no
  * result: the build runs it once to record the classes a run loads into
  * a class-data-sharing archive, which halves JVM and session start.
  */
object Main {

  val workloads: Seq[String] = Seq("batch_elt", "stream_candles", "query_mix")

  def parse(args: Array[String]): Map[String, String] = {
    val flags = Set("--tiny", "--corrupt")
    val out = Map.newBuilder[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i)
      require(k.startsWith("--"), s"unexpected argument $k")
      if (flags.contains(k)) { out += k.drop(2) -> "1"; i += 1 }
      else {
        require(i + 1 < args.length, s"missing value for $k")
        out += k.drop(2) -> args(i + 1)
        i += 2
      }
    }
    out.result()
  }

  def main(argv: Array[String]): Unit = {
    val jvmToMainS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val a = parse(argv)
    val workload = a("workload")
    require(workloads.contains(workload) || workload == "archive", s"unknown workload $workload")
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val traced = a.getOrElse("trace", "0") == "1"

    val (spark, sessionS) = Stats.seconds(graft.Sessions.local(cores = a("cores").toInt, appName = "pipebench"))
    val spans = new Spans
    val tracer = if (traced) Some(new Tracer(spark, spans)) else None
    tracer.foreach(_.install())
    val ctx = Ctx(spark, spans, work, a("seed").toLong, a("seconds").toDouble, tracer,
      tiny = a.contains("tiny"), corrupt = a.contains("corrupt"))

    if (workload == "archive") {
      BatchWorkload.run(ctx)
      StreamWorkload.run(ctx)
      a.get("warmup-dir").filter(d => Files.isDirectory(Paths.get(d)))
        .foreach(d => QueryWorkload.run(ctx, d, d, Paths.get(a("expected"))))
      spark.stop()
      return
    }

    val out =
      try spans("run")(workload match {
        case "batch_elt" => BatchWorkload.run(ctx)
        case "stream_candles" => StreamWorkload.run(ctx)
        case "query_mix" =>
          QueryWorkload.run(ctx, a("sf-dir"), a("warmup-dir"), Paths.get(a("expected")))
      })
      catch {
        case e: Throwable =>
          e.printStackTrace()
          val o = new Outcome
          o.check(ok = false, s"$workload threw ${e.getClass.getName}: ${e.getMessage}")
          o
      }

    tracer.foreach { t =>
      t.drain()
      // engine work of the timed parts of the cycles, per cycle
      val timed = spans.named(Outcome.Timed)
      val c = t.within(timed.map(_.id).toSet, Set.empty)
      val n = out.cycles.toDouble
      val busyMs = t.jobBusyMs(timed).toDouble
      out.layers ++= Seq(
        Metric("spark.jobs", c.jobs / n, "count"),
        Metric("spark.stages", c.stages / n, "count"),
        Metric("spark.tasks", c.tasks / n, "count"),
        Metric("spark.max_stage_tasks", c.maxStageTasks.toDouble, "count"),
        Metric("spark.planning_ms", c.planningMs / n, "ms"),
        Metric("spark.job_busy_ms", busyMs / n, "ms"),
        Metric("spark.driver_only_ms", (timed.map(_.durationMs).sum - busyMs) / n, "ms"),
        Metric("spark.executor_run_ms", c.runMs / n, "ms"),
        Metric("spark.executor_cpu_ms", c.cpuNs / 1e6 / n, "ms"),
        Metric("spark.shuffle_write_bytes", c.shuffleWrite / n, "bytes"),
        Metric("spark.shuffle_read_bytes", c.shuffleRead / n, "bytes"),
        Metric("spark.input_bytes", c.input / n, "bytes"),
        Metric("spark.gc_ms", c.gcMs / n, "ms"),
        Metric("jvm.peak_heap_mb", t.peakHeapMb, "MB"))
      out.detail += Metric("spark.spill_bytes", c.spill / n, "bytes")
      Files.write(work.resolve("trace.json"), t.toJson.getBytes(StandardCharsets.UTF_8))
      t.uninstall()
    }

    val setupS = jvmToMainS + sessionS + out.setupS
    val result = Json.obj(
      "workload" -> workload,
      "attempted" -> math.max(1L, out.attempted),
      "failed" -> out.failures.size.toLong,
      "failures" -> out.failures.toSeq,
      "e2e" -> Json.Raw(metricsJson(Metric("setup_s", setupS, "s") +: out.e2e.toSeq)),
      "layers" -> Json.Raw(metricsJson(out.layers.toSeq)),
      "detail" -> Json.Raw(metricsJson(out.detail.toSeq)),
      "info" -> Json.Raw(Json.obj(
        (Seq("jvm_to_main_s" -> jvmToMainS, "session_s" -> sessionS, "workload_setup_s" -> out.setupS) ++
          out.info.toSeq): _*)))
    Files.write(Paths.get(a("result")), result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def metricsJson(ms: Seq[Metric]): String =
    ms.map(m => graft.Bench.jsonStr(m.name) + ":" + Json.obj("value" -> m.value, "unit" -> m.unit)).mkString("{", ",", "}")
}
