package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.streaming.runtime.IncrementalExecution
import org.apache.spark.sql.execution.streaming.operators.stateful.StatefulOperator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.types._

import graft.SparkSpec

class StreamJobsSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("ts", TimestampType),
    StructField("sym", StringType),
    StructField("v", DoubleType)))

  private def mk(s: String) = Timestamp.valueOf(s)

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with `key` set to `value` on the session, then restore it. */
  private def withSessionConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try body
    finally spark.conf.set(key, prev)
  }

  test("two-hop streaming candles equal batch candles") {
    val wd = scratchDir("twohop")
    val input = Seq(
      (1L, mk("2024-01-01 10:00:10"), "A", 5.0),
      (2L, mk("2024-01-01 10:05:00"), "A", 9.0),
      (3L, mk("2024-01-01 10:14:59"), "A", 7.0),
      (4L, mk("2024-01-01 10:20:00"), "A", 3.0),
      (5L, mk("2024-01-01 10:01:00"), "B", 2.0)).toDF("id", "ts", "sym", "v")

    val streamed = StreamJobs
      .runTwoHopCandles(spark, input, schema, "ts", "id", "sym", "v", wd)
      .orderBy("sym", "start_window")
      .collect()
    val batch = Candles
      .candles(input, "ts", "id", "sym", "v")
      .orderBy("sym", "start_window")
      .collect()
    assert(streamed.toSeq == batch.toSeq)
    // candle math: A's 10:00 window opens at v=5 (earliest), closes at v=7
    val a0 = streamed(0)
    assert(a0.getAs[Double]("open") == 5.0 && a0.getAs[Double]("close") == 7.0)
    assert(a0.getAs[Double]("high") == 9.0 && a0.getAs[Double]("low") == 5.0)
  }

  test("RocksDB state store runs the windowed agg to identical results") {
    val input = Seq(
      (1L, mk("2024-01-01 10:00:10"), "A", 5.0),
      (2L, mk("2024-01-01 10:05:00"), "A", 9.0),
      (3L, mk("2024-01-01 10:14:59"), "A", 7.0),
      (4L, mk("2024-01-01 10:20:00"), "A", 3.0),
      (5L, mk("2024-01-01 10:01:00"), "B", 2.0)).toDF("id", "ts", "sym", "v")
    val rocks = withSessionConf(providerKey, rocksDb) {
      StreamJobs
        .runTwoHopCandles(spark, input, schema, "ts", "id", "sym", "v", scratchDir("rocks"))
        .orderBy("sym", "start_window")
        .collect()
    }
    val default = StreamJobs
      .runTwoHopCandles(spark, input, schema, "ts", "id", "sym", "v", scratchDir("hdfsb"))
      .orderBy("sym", "start_window")
      .collect()
    assert(rocks.toSeq == default.toSeq)
    assert(rocks.nonEmpty)
    // the provider override must not leak into the session after the run
    assert(spark.conf
      .get("spark.sql.streaming.stateStore.providerClass")
      .contains("HDFSBackedStateStoreProvider"))
  }

  test("state store provider conf is genuinely applied (bogus provider fails the query)") {
    val input = Seq((1L, mk("2024-01-01 10:00:10"), "A", 5.0)).toDF("id", "ts", "sym", "v")
    intercept[Exception] {
      withSessionConf(providerKey, "com.example.NoSuchProvider") {
        StreamJobs.runTwoHopCandles(
          spark, input, schema, "ts", "id", "sym", "v", scratchDir("bogus"))
      }
    }
  }

  test("rate-bounded ingest drains staged waves in multiple checkpointed micro-batches") {
    val wd = scratchDir("rated")
    def wave(ids: Range) =
      ids.map(i => (i.toLong, mk(f"2024-01-01 10:${i % 60}%02d:00"), "A", i.toDouble)).toSeq
        .toDF("id", "ts", "sym", "v")
    // three separately staged waves -> at least 3 stage files
    StreamJobs.stageEnvelope(wave(0 until 5).coalesce(1), Seq("sym", "id"), s"$wd/stage")
    StreamJobs.stageEnvelope(wave(5 until 10).coalesce(1), Seq("sym", "id"), s"$wd/stage")
    StreamJobs.stageEnvelope(wave(10 until 15).coalesce(1), Seq("sym", "id"), s"$wd/stage")

    val bronze = StreamJobs.runIngest(spark, schema, "ts", wd, maxFilesPerTrigger = Some(1))
    assert(spark.read.parquet(bronze).count() == 15)

    // one offsets entry per committed micro-batch: bounded batches, not one gulp
    val offsets = new java.io.File(s"$wd/checkpoint-ingest/offsets").list()
    assert(offsets != null && offsets.count(!_.startsWith(".")) >= 3, offsets.mkString(","))

    // restart with more data staged: resumes from the checkpoint, appends only the new wave
    StreamJobs.stageEnvelope(wave(15 until 20).coalesce(1), Seq("sym", "id"), s"$wd/stage")
    StreamJobs.runIngest(spark, schema, "ts", wd, maxFilesPerTrigger = Some(1))
    val ids = spark.read.parquet(bronze).select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 20L), s"got ${ids.length} rows")
  }

  test("ingest hop runs identically through the file and memory EnvelopeSource impls") {
    val input = Seq(
      (1L, mk("2024-01-01 10:00:10"), "A", 5.0),
      (2L, mk("2024-01-01 10:05:00"), "B", 9.0),
      (3L, mk("2024-01-01 10:14:59"), "A", 7.0)).toDF("id", "ts", "sym", "v")

    // file impl (the default seam binding)
    val wdF = scratchDir("seam-file")
    StreamJobs.stageEnvelope(input, Seq("sym", "id"), s"$wdF/stage")
    val bronzeF = StreamJobs.runIngest(spark, schema, "ts", wdF)

    // memory impl through the same decode+stamp+sink path
    val wdM = scratchDir("seam-mem")
    val mem = new StreamJobs.MemoryEnvelopeSource(spark)
    mem.add(input, Seq("sym", "id"))
    val bronzeM = StreamJobs.runIngest(spark, schema, "ts", wdM, source = Some(mem))

    val cols = Seq("id", "ts", "sym", "v", "event_year", "event_month", "event_day")
    val f = spark.read.parquet(bronzeF).select(cols.map(col): _*).orderBy("id").collect().toSeq
    val m = spark.read.parquet(bronzeM).select(cols.map(col): _*).orderBy("id").collect().toSeq
    assert(f == m && f.length == 3, s"file=${f.length} mem=${m.length}")
  }

  test("arrival-order candles equal deterministic candles on ordered single-partition input") {
    val input = Seq(
      (1L, mk("2024-01-01 10:00:10"), "A", 5.0),
      (2L, mk("2024-01-01 10:05:00"), "A", 9.0),
      (3L, mk("2024-01-01 10:14:59"), "A", 7.0)).toDF("id", "ts", "sym", "v").coalesce(1)
    val det = Candles.candles(input, "ts", "id", "sym", "v")
      .select("sym", "start_window", "open", "close").collect().toSeq
    val arr = Candles.candlesArrivalOrder(input, "ts", "sym", "v")
      .select("sym", "start_window", "open", "close").collect().toSeq
    // with event-time-ordered single-partition arrival, first/last picks
    // coincide with the deterministic event-time picks (the reference's
    // Kafka-per-key-ordering assumption made explicit)
    assert(det == arr)
  }

  test("append mode + watermark drops rows later than the watermark") {
    val wd = scratchDir("late")
    val stage = s"$wd/stage"
    val batch1 = Seq(
      (1L, mk("2024-01-01 10:00:00"), "A", 5.0),
      (2L, mk("2024-01-01 11:00:00"), "A", 9.0)).toDF("id", "ts", "sym", "v")
    StreamJobs.stageEnvelope(batch1, Seq("sym", "id"), stage)
    val bronze = StreamJobs.runIngest(spark, schema, "ts", wd)
    val bronzeSchema = spark.read.parquet(bronze).schema

    // the 10:00 row arrives again (duplicate id, different value) AFTER the
    // watermark has advanced to 10:59 — it must be silently dropped, so the
    // 10:00 window still aggregates only the original row
    var pushedLate = false
    val pushSentinel = () => {
      if (!pushedLate) {
        pushedLate = true
        val late = Seq((3L, mk("2024-01-01 10:00:30"), "A", 1000.0)).toDF("id", "ts", "sym", "v")
        StreamJobs.stageEnvelope(late, Seq("sym", "id"), stage)
        StreamJobs.runIngest(spark, schema, "ts", wd)
      }
      val sentinel = Seq((99L, mk("2024-03-01 00:00:00"), "__sentinel__", 0.0)).toDF("id", "ts", "sym", "v")
      StreamJobs.stageEnvelope(sentinel, Seq("sym", "id"), stage)
      StreamJobs.runIngest(spark, schema, "ts", wd)
      ()
    }

    val out = StreamJobs.runWindowedAgg(
      spark, bronze, bronzeSchema, "ts", "id", "sym", "v", wd, pushSentinel)
    // run pushSentinel twice via two processAllAvailable passes: late row then sentinel
    val w1000 = out.filter(col("start_window") === mk("2024-01-01 10:00:00")).collect()
    assert(w1000.length == 1)
    assert(w1000(0).getAs[Double]("high") == 5.0, "late row must not land in the finalized window")
    assert(w1000(0).getAs[Long]("n_rows") == 1L)
  }

  test("kafka envelope source wires through to provider resolution (jar-free pin)") {
    // No kafka connector ships in this environment, so the seam cannot
    // execute — but its failure mode pins the wiring: load() must reach
    // DataSource provider lookup and fail on the MISSING JAR, not earlier
    // (a typo'd option name, a bad select, or API rot would surface as a
    // different error). On a cluster with spark-sql-kafka-0-10 the same
    // call resolves and yields the (key, value) envelope contract.
    val src = StreamJobs.KafkaEnvelopeSource("broker:9092", "ohlcv", Some(150L))
    val e = intercept[Exception] { src.load(spark) }
    val msg = Option(e.getMessage).getOrElse("") + e.getClass.getName
    assert(msg.toLowerCase.contains("kafka"),
      s"expected a missing-kafka-provider failure, got: ${e.getClass.getName}: $msg")
    assert(
      msg.contains("Failed to find") || msg.contains("DATA_SOURCE_NOT_FOUND") ||
        msg.toLowerCase.contains("provider"),
      s"failure should be provider lookup, got: ${e.getClass.getName}: $msg")
  }

  test("a session-set state store provider reaches the windowed agg") {
    val wd = scratchDir("provider")
    val input = Seq(
      (1L, mk("2024-01-01 10:00:10"), "A", 5.0),
      (2L, mk("2024-03-01 00:00:00"), "__sentinel__", 0.0)).toDF("id", "ts", "sym", "v")
    StreamJobs.stageEnvelope(input, Seq("sym", "id"), s"$wd/stage")
    val bronze = StreamJobs.runIngest(spark, schema, "ts", wd)
    val bronzeSchema = spark.read.parquet(bronze).schema
    val rows = withSessionConf(providerKey, rocksDb) {
      StreamJobs.runWindowedAgg(
        spark, bronze, bronzeSchema, "ts", "id", "sym", "v", wd, () => ()).collect()
    }
    assert(rows.map(_.getAs[String]("sym")).toSeq == Seq("A"))
    // every offset-log entry records the confs the query runs under
    val aggCheckpoint = new java.io.File(wd).listFiles().filter(_.getName.startsWith("checkpoint-agg-"))
    assert(aggCheckpoint.length == 1)
    val firstBatch = scala.io.Source.fromFile(new java.io.File(aggCheckpoint.head, "offsets/0"))
    val logged = try firstBatch.mkString finally firstBatch.close()
    assert(logged.contains(s""""$providerKey":"$rocksDb""""), logged)
  }

  test("a windowed aggregation's memory query is named agg_<uuid>, fresh per run") {
    // progress readers tell the aggregation hop's batches from the
    // ingest hop's by this name
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = names.add(e.name)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val src = s"${scratchDir("agg-name")}/src"
    Seq((1L, mk("2024-01-01 10:00:10"), "A", 5.0), (2L, mk("2024-03-01 00:00:00"), "__sentinel__", 0.0))
      .toDF("id", "ts", "sym", "v").write.parquet(src)
    spark.streams.addListener(listener)
    try (1 to 2).foreach { _ =>
      StreamJobs.runWindowedAgg(
        spark, src, schema, "ts", "id", "sym", "v", scratchDir("agg-name"), () => ()).collect()
    } finally spark.streams.removeListener(listener)
    val seen = names.toArray(Array.empty[String]).toSeq
    assert(seen.size == 2 && seen.forall(_.startsWith("agg_")) && seen.distinct.size == 2, seen)
  }

  test("stateful streams run without AQE and leave the session's AQE setting alone") {
    val rows = Seq(
      (1L, mk("2024-01-01 10:00:10"), "A", 5.0),
      (2L, mk("2024-01-01 10:05:00"), "B", 9.0),
      (3L, mk("2024-01-01 10:06:00"), "A", 7.0),
      (4L, mk("2024-03-01 00:00:00"), "__sentinel__", 0.0)).toDF("id", "ts", "sym", "v")
    def source(wd: String): String = {
      rows.write.parquet(s"$wd/src")
      s"$wd/src"
    }
    val stateful: Seq[(String, String => Unit)] = Seq(
      "windowed agg" -> (wd => StreamJobs.runWindowedAgg(
        spark, source(wd), schema, "ts", "id", "sym", "v", wd, () => ()).collect()),
      "stream-stream inner join" -> (wd => StreamJobs.runStreamStreamJoin(
        spark, source(wd), schema, "ts", col("v") > 6.0, col("v") <= 6.0, "sym",
        (_, _) => col("l.ts") >= col("r.ts") && col("l.ts") <= col("r.ts") + expr("INTERVAL 1 HOUR"),
        _.select(col("l.id").as("l_id"), col("r.id").as("r_id")), wd).collect()),
      "dedup" -> (wd => StreamJobs.runStreamingDedup(
        spark, source(wd), schema, "ts", Seq("id"), wd).collect()),
      "transformWithState" -> { wd =>
        rows.select(col("sym").as("k"), col("ts"), col("v")).write.parquet(s"$wd/src")
        StreamJobs.runRunningMaxTransformWithState(spark, s"$wd/src", wd).collect()
      })
    val aqe = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(aqe)
    try {
      for (session <- Seq("true", "false"); (kind, run) <- stateful) {
        spark.conf.set(aqe, session)
        val batches = executionsRunBy(run(scratchDir("stateful-aqe"))).collect {
          case (_, i: IncrementalExecution) => i.executedPlan
        }
        assert(batches.nonEmpty, s"$kind: no micro-batch seen")
        val last = batches.last
        assert(last.exists(_.isInstanceOf[StatefulOperator]), s"$kind: not stateful\n$last")
        assert(!last.exists(_.isInstanceOf[AdaptiveSparkPlanExec]), s"$kind: AQE on\n$last")
        assert(spark.conf.get(aqe) == session, s"$kind: session AQE changed")
      }
    } finally spark.conf.set(aqe, saved)
  }

  test("every sink kind restores the session's stream confs, after a run and after a failed start") {
    val rows = Seq(
      (1L, mk("2024-01-01 10:00:10"), "A", 5.0),
      (2L, mk("2024-01-01 10:05:00"), "B", 9.0)).toDF("id", "ts", "sym", "v")
    val ewmaSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("ts", TimestampType),
      StructField("event_id", LongType),
      StructField("value", DoubleType)))
    def source(wd: String): String = {
      rows.write.mode("append").parquet(s"$wd/src")
      s"$wd/src"
    }
    // a checkpoint whose metadata cannot be read fails the query's start
    def corrupt(checkpoint: String): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(checkpoint))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(checkpoint, "metadata"), "not json")
    }
    // (sink kind, a run, a run whose start throws)
    val cases: Seq[(String, String => Unit, String => Unit)] = Seq(
      ("memory, stateless",
        wd => StreamJobs.runStatelessTransform(spark, source(wd), schema, identity, wd).collect(),
        // a streaming aggregation without a watermark cannot start in append mode
        wd => StreamJobs.runStatelessTransform(
          spark, source(wd), schema, _.groupBy("sym").count(), wd)),
      ("memory, stateful",
        wd => StreamJobs.runStreamingDedup(spark, source(wd), schema, "ts", Seq("id"), wd).collect(),
        // an aggregation whose keys miss the watermark column cannot start in append mode
        wd => StreamJobs.runStatefulAgg(
          spark, source(wd), schema, "ts", wd, () => (), _.groupBy("sym").count(), "sym")),
      ("foreachBatch, transformWithState",
        wd => {
          rows.select(col("id").as("user_id"), col("ts"), col("id").as("event_id"), col("v").as("value"))
            .write.parquet(s"$wd/src")
          StreamJobs.runStreamingEwma(spark, s"$wd/src", ewmaSchema, s"$wd/ckpt", s"$wd/out")
        },
        wd => {
          corrupt(s"$wd/ckpt")
          StreamJobs.runStreamingEwma(spark, source(wd), ewmaSchema, s"$wd/ckpt", s"$wd/out")
        }),
      ("foreachBatch, AvailableNow",
        wd => StreamJobs.runStreamingUpsert(
          spark, source(wd), schema, Seq("id"), graft.tables.LakeTable(spark, s"$wd/t"), wd),
        wd => {
          corrupt(s"$wd/checkpoint-upsert")
          StreamJobs.runStreamingUpsert(
            spark, source(wd), schema, Seq("id"), graft.tables.LakeTable(spark, s"$wd/t"), wd)
        }),
      ("AvailableNow file sink",
        wd => {
          StreamJobs.stageEnvelope(rows, Seq("sym", "id"), s"$wd/stage")
          StreamJobs.runIngest(spark, schema, "ts", wd)
        },
        wd => {
          corrupt(s"$wd/checkpoint-ingest")
          StreamJobs.runIngest(spark, schema, "ts", wd)
        }))

    val keys = Seq(
      "spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.adaptive.enabled",
      providerKey)
    val saved = keys.map(k => k -> spark.conf.get(k))
    // values that differ from every value a stream start scopes
    val session = Seq("3", "false", "true", saved.last._2)
    try {
      keys.zip(session).foreach { case (k, v) => spark.conf.set(k, v) }
      for ((kind, run, failingStart) <- cases) {
        run(scratchDir("scoped-run"))
        assert(keys.map(spark.conf.get) == session, s"$kind: after a run")
        val e = intercept[Exception](failingStart(scratchDir("scoped-fail")))
        assert(e.getStackTrace.exists(_.getMethodName == "start"), s"$kind: $e did not fail the start")
        assert(keys.map(spark.conf.get) == session, s"$kind: after a failed start")
      }
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
