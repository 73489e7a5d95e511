package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Testdata
import graft.streaming.{Candles, StreamJobs}

/** Streaming surface (SURVEY §2.9) exercised end-to-end: the candle
  * aggregation in batch and as a real two-hop Structured Streaming
  * pipeline, both checked against the same DuckDB oracle — which is the
  * point: watermark + append-mode streaming must converge to the batch
  * answer.
  */
object StreamQueries {

  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private def workDir(tag: String): String = graft.util.TempDirs.scratch(tag)

  /** events sans the json props column — the payload every streaming
    * query stages (one definition; four queries stage it).
    */
  private val eventsSchemaNoProps: StructType =
    StructType(eventsSchema.fields.filterNot(_.name == "props"))

  /** Stage the events payload as the streaming source input. */
  /** Stage the narrowed events frame to `src` and return it with its
    * max event time — the sentinel anchor rides the staging write via
    * observe, so callers needing it don't re-scan the input.
    */
  private def stageEvents(
      spark: SparkSession,
      sfDir: String,
      src: String): (DataFrame, java.sql.Timestamp) = {
    val events = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val obs = new org.apache.spark.sql.Observation(
      s"stage-events-${java.util.UUID.randomUUID()}")
    events.observe(obs, max(col("ts")).as("maxTs")).write.mode("append").parquet(src)
    val maxTs = scala.concurrent.Await
      .result(obs.future, scala.concurrent.duration.Duration(60, "seconds"))
      .getAs[java.sql.Timestamp]("maxTs")
    (events, maxTs)
  }

  /** Deterministic OHLCV candles, batch mode (A1+A2 with the
    * deterministic min_by/max_by-by-event-time variant, SURVEY §7.5.2).
    */
  def batchCandles(spark: SparkSession, sfDir: String): DataFrame =
    Candles.present(
      Candles.candles(Testdata.events(spark, sfDir), "ts", "event_id", "event_type", "value"),
      "event_type")

  val candlesOracleSql: String =
    """SELECT event_type,
      |  strftime(make_timestamp(bucket * 900 * 1000000), '%Y-%m-%d %H:%M:%S') AS start_window,
      |  strftime(make_timestamp((bucket + 1) * 900 * 1000000), '%Y-%m-%d %H:%M:%S') AS end_window,
      |  struct_extract(min((ts, event_id, value)), 3) AS open,
      |  max(value) AS high,
      |  min(value) AS low,
      |  struct_extract(max((ts, event_id, value)), 3) AS close,
      |  round(sum(value), 4) AS volume,
      |  count(*) AS n_rows
      |FROM (SELECT *, CAST(floor(epoch(ts) / 900) AS BIGINT) AS bucket FROM events)
      |GROUP BY event_type, bucket""".stripMargin

  /** Hop 1 alone: envelope → streaming decode → checkpointed
    * partitioned parquet sink; output must be the identity on the
    * payload (effectively-once ingest).
    */
  def streamIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val wd = workDir("ingest")
    val input = Testdata.events(spark, sfDir)
    StreamJobs.stageEnvelope(input, Seq("event_type", "event_id"), s"$wd/stage")
    val bronze = StreamJobs.runIngest(spark, eventsSchema, "ts", wd, partitioned = true)
    spark.read
      .schema(StreamJobs.ingestedSchema(spark, eventsSchema, "ts"))
      .parquet(bronze)
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        col("value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
  }

  val streamIngestSql: String =
    """SELECT event_id, user_id, event_type, value,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
      |FROM events""".stripMargin

  /** The full two-hop streaming pipeline: stage → ingest → bronze →
    * watermarked windowed agg (append mode) → finalized candles. Must
    * equal the batch candle oracle exactly.
    */
  def streamCandles(spark: SparkSession, sfDir: String): DataFrame = {
    val wd = workDir("twohop")
    val input = Testdata.events(spark, sfDir)
    Candles.present(
      StreamJobs.runTwoHopCandles(
        spark, input, eventsSchema, "ts", "event_id", "event_type", "value", wd),
      "event_type")
  }

  /** SKETCHES IN STREAMING: per-type hourly approximate distinct users
    * via the KMV aggregate ([[graft.functions.Sketches.KMinValues]])
    * inside a watermarked streaming window — the unique-visitors-per-
    * window shape every event pipeline runs. The sketch's bounded
    * buffer IS the streaming state (≤ k longs per open window instead
    * of one state row per distinct user — the same reason the shuffle
    * stays bounded in batch), and because the k-min set is a
    * deterministic function of the hashes, the streamed estimate
    * hash-matches the batch DuckDB replay exactly — an oracle-checked
    * approximate aggregate under micro-batch replay.
    */
  def streamApproxUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val wd = workDir("kmvusers")
    val input = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"), col("user_id"))
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("event_type", StringType),
      StructField("user_id", LongType)))
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10).cast("long")
    StreamJobs
      .runTwoHopStateful(
        spark, input, schema, "ts", "event_id", "event_type", wd,
        stream =>
          stream
            .withColumn("uh", h)
            .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
            .agg(
              round(graft.functions.Sketches.kmvDistinct(col("uh"), 64), 4)
                .as("kmv_users"),
              count(lit(1)).as("n_events")))
      .select(
        col("event_type"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("start_window"),
        col("kmv_users"),
        col("n_events"))
  }

  val streamApproxUsersSql: String =
    """WITH b AS (
      |  SELECT event_type, value, user_id,
      |         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket
      |  FROM events),
      |h AS (
      |  SELECT DISTINCT event_type, bucket,
      |         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      |  FROM b WHERE user_id IS NOT NULL),
      |r AS (SELECT event_type, bucket, hv,
      |        row_number() OVER (PARTITION BY event_type, bucket ORDER BY hv) AS rn
      |      FROM h),
      |s AS (SELECT event_type, bucket, count(*) AS n, max(hv) AS kth
      |      FROM r WHERE rn <= 64 GROUP BY event_type, bucket),
      |c AS (SELECT event_type, bucket, count(*) AS n_events FROM b GROUP BY 1, 2)
      |SELECT s.event_type,
      |       strftime(make_timestamp(s.bucket * 3600 * 1000000), '%Y-%m-%d %H:%M:%S') AS start_window,
      |       round(CASE WHEN s.n < 64 THEN CAST(s.n AS DOUBLE)
      |             ELSE 63.0 / (CAST(s.kth AS DOUBLE) / 1152921504606846976.0)
      |             END, 4) AS kmv_users,
      |       c.n_events
      |FROM s JOIN c USING (event_type, bucket)""".stripMargin

  /** Streaming session windows: per-user sessions (10-minute gap) over
    * the two-hop pipeline, flushed to the fixpoint — must equal the
    * batch session-window oracle exactly. The session key is the user
    * id cast to string (the sentinel key shares the column).
    */
  def streamSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val wd = workDir("sessions")
    val input = Testdata.events(spark, sfDir)
      .select(
        col("event_id"),
        col("ts"),
        col("user_id").cast(StringType).as("uid"),
        col("value"))
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("uid", StringType),
      StructField("value", DoubleType)))
    StreamJobs
      .runTwoHopStateful(
        spark, input, schema, "ts", "event_id", "uid", wd,
        stream =>
          stream
            .groupBy(col("uid"), session_window(col("ts"), "10 minutes").as("w"))
            .agg(count(lit(1)).as("n_rows"), round(sum(col("value")), 4).as("sum_value")))
      .select(
        col("uid"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_rows"),
        col("sum_value"))
  }

  val streamSessionsSql: String =
    """SELECT CAST(user_id AS VARCHAR) AS uid,
      |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       strftime(max(ts) + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
      |       count(*) AS n_rows, round(sum(value), 4) AS sum_value
      |FROM (
      |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                   ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM (
      |    SELECT *, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                        <= INTERVAL 10 MINUTE THEN 0 ELSE 1 END AS new_session
      |    FROM events))
      |GROUP BY user_id, session_id""".stripMargin

  /** Stream-stream join: every purchase joined to the same user's
    * signup events within the preceding 24 hours — run as a real
    * watermarked streaming join, checked against the equivalent batch
    * range join in DuckDB.
    */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val wd = workDir("ssjoin")
    val src = s"$wd/src"
    stageEvents(spark, sfDir, src)
    val schema = eventsSchemaNoProps
    StreamJobs
      .runStreamStreamJoin(
        spark, src, schema, "ts",
        col("event_type") === "purchase",
        col("event_type") === "signup",
        "user_id",
        (_, _) =>
          col("l.ts") >= col("r.ts") &&
            col("l.ts") <= col("r.ts") + expr("INTERVAL 24 HOURS"),
        joined => joined.select(
          col("l.event_id").as("purchase_id"),
          col("r.event_id").as("signup_id"),
          col("l.user_id").as("user_id"),
          round(col("l.value"), 4).as("purchase_value")),
        wd)
  }

  val streamStreamJoinSql: String =
    """SELECT p.event_id AS purchase_id, s.event_id AS signup_id,
      |       p.user_id, round(p.value, 4) AS purchase_value
      |FROM events p JOIN events s
      |  ON p.user_id = s.user_id
      | AND p.event_type = 'purchase' AND s.event_type = 'signup'
      | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 24 HOURS""".stripMargin

  /** LEFT OUTER stream-stream join: each purchase paired with every
    * signup of the same user in the prior 24 hours; purchases with no
    * such signup emit with a NULL signup once the watermark proves none
    * can arrive (sentinel rows on both sides flush the outer results).
    */
  def streamStreamJoinOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val wd = workDir("ssouter")
    val src = s"$wd/src"
    val (_, maxTs) = stageEvents(spark, sfDir, src)
    val schema = eventsSchemaNoProps
    val far = new java.sql.Timestamp(maxTs.getTime + 40L * 24 * 3600 * 1000)
    // sentinels staged upfront (same argument as runTwoHopStateful): both
    // watermarks derive from batch 1's max event time, so the NULL-padded
    // outer rows emit in batch 2 — no second staging pass needed
    locally {
      import org.apache.spark.sql.Row
      spark
        .createDataFrame(
          java.util.Arrays.asList(
            Row(-1L, far, -1L, "purchase", 0.0),
            Row(-2L, far, -1L, "signup", 0.0)),
          schema)
        .write.mode("append").parquet(src)
    }
    StreamJobs
      .runStreamStreamJoinOuter(
        spark, src, schema, "ts",
        col("event_type") === "purchase",
        col("event_type") === "signup",
        "user_id",
        (_, _) =>
          col("l.ts") >= col("r.ts") &&
            col("l.ts") <= col("r.ts") + expr("INTERVAL 24 HOURS"),
        joined => joined.select(
          col("l.event_id").as("purchase_id"),
          col("r.event_id").as("signup_id"),
          col("l.user_id").as("user_id"),
          round(col("l.value"), 4).as("purchase_value")),
        col("user_id") === -1L,
        wd)
  }

  val streamStreamJoinOuterSql: String =
    """SELECT p.event_id AS purchase_id, s.event_id AS signup_id,
      |       p.user_id, round(p.value, 4) AS purchase_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      |  ON p.user_id = s.user_id
      | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 24 HOURS""".stripMargin

  /** Streaming CDC upsert: two event waves (before/after Jan 15) stream
    * through `foreachBatch` → SCD1 merge into a lake table keyed by
    * user. Waves are time-ordered, so last-writer-wins equals the
    * global latest event per user — the oracle. This is the
    * foreachBatch-merge pattern every lakehouse CDC sink uses.
    */
  def streamUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val wd = workDir("supsert")
    val src = s"$wd/src"
    val table = graft.tables.LakeTable(spark, s"$wd/target")
    val schema = eventsSchemaNoProps
    val events = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val cut = lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
    def latestPerUser(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    }
    latestPerUser(events.filter(col("ts") < cut)).write.mode("append").parquet(src)
    StreamJobs.runStreamingUpsert(spark, src, schema, Seq("user_id"), table, wd)
    latestPerUser(events.filter(col("ts") >= cut)).write.mode("append").parquet(src)
    StreamJobs.runStreamingUpsert(spark, src, schema, Seq("user_id"), table, wd)
    table.read().select(
      col("user_id"),
      col("event_id"),
      col("event_type"),
      col("value"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
  }

  val streamUpsertSql: String =
    """SELECT user_id, event_id, event_type, value,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |                                   ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1""".stripMargin

  /** Streaming funnel ([[StreamJobs.runStreamingFunnel]]): the batch
    * funnel's stage chain as per-user RocksDB value state across two
    * event-time waves; the final stage counts + median signup→purchase
    * lag must hash-match the BATCH `q_funnel` oracle exactly (see the
    * job scaladoc for the second-truncation argument that rules out
    * sub-second divergence).
    */
  def streamFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val wd = workDir("sfunnel")
    val src = s"$wd/src"
    val checkpoint = s"$wd/checkpoint"
    val out = s"$wd/out"
    val events = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    events.filter(col("ts") < cut).write.mode("append").parquet(src)
    StreamJobs.runStreamingFunnel(spark, src, eventsSchemaNoProps, checkpoint, out)
    events.filter(col("ts") >= cut).write.mode("append").parquet(src)
    StreamJobs.runStreamingFunnel(spark, src, eventsSchemaNoProps, checkpoint, out)
    val sent = 4102444800L
    val finalStates = spark.read.schema(Encoders.product[StreamJobs.FunnelState].schema).parquet(out)
      .groupBy(col("user_id"))
      .agg(max(struct(col("n"), col("s"), col("c"), col("p"))).as("f"))
    finalStates.agg(
      count(lit(1)).as("n_users"),
      count(when(col("f.s") < sent, lit(1))).as("n_signup"),
      count(when(col("f.c") < sent, lit(1))).as("n_click"),
      count(when(col("f.p") < sent, lit(1))).as("n_purchase"),
      round(expr(s"percentile(CASE WHEN f.p < ${sent}L THEN f.p - f.s END, 0.5)"), 4)
        .as("median_lag_sec"))
  }

  /** CONTINUOUS MV MAINTENANCE: a file stream drains into the source
    * lake table via foreachBatch, and the SAME batch commit refreshes
    * the incremental aggregate view ([[graft.tables.IncrementalAggView]])
    * — the gold layer keeps pace with ingest, each refresh reading ONLY
    * the new commit dirs. Additive integer-scaled state makes the
    * N-refresh result bit-identical to one batch aggregation, so the
    * streamed view hash-matches the plain-SQL oracle.
    */
  def streamMvRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val wd = workDir("smv")
    val src = s"$wd/src"
    val table = graft.tables.LakeTable(spark, s"$wd/source_table")
    val view = graft.tables.IncrementalAggView(
      table, s"$wd/view", Seq("event_type"), Seq("value"), minMaxCols = Seq("value"))
    val events = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    events.filter(col("ts") < cut).write.mode("append").parquet(src)
    events.filter(col("ts") >= cut).write.mode("append").parquet(src)
    StreamJobs.runStream(
      StreamJobs.fileStream(spark, eventsSchemaNoProps, src, Some(4)),
      s"$wd/checkpoint",
      StreamJobs.Sink.ForeachBatch { (batch, _) =>
        table.append(batch)
        view.refresh()
      })
    view.read()
      .select(
        col("event_type"),
        col("n_rows"),
        col("sum_value"),
        round(col("min_value"), 4).as("min_value"),
        round(col("max_value"), 4).as("max_value"))
  }

  val streamMvRefreshSql: String =
    """SELECT event_type, count(*) AS n_rows,
      |       round(sum(CAST(round(value * 10000) AS BIGINT)) / 10000.0, 4) AS sum_value,
      |       round(min(value), 4) AS min_value, round(max(value), 4) AS max_value
      |FROM events GROUP BY event_type""".stripMargin

  /** Streaming QUANTILES via the bottom-k sample sketch
    * ([[graft.functions.Sketches.BottomKSample]]) inside watermarked
    * hourly windows — the per-window latency-percentile shape. The ≤
    * k-pair buffer is the streaming state (bounded per open window, not
    * per event), and because the hash-ordered survivor set is
    * deterministic, the streamed p50 hash-matches the batch DuckDB
    * replay (`ORDER BY hv, val LIMIT k` + quantile_cont) exactly — the
    * third sketch family proven under micro-batch replay, after KMV
    * distinct and the EWMA fold.
    */
  def streamQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val wd = workDir("bksq")
    val input = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val h = conv(substring(md5(col("event_id").cast("string")), 1, 15), 16, 10).cast("long")
    StreamJobs
      .runTwoHopStateful(
        spark, input, schema, "ts", "event_id", "event_type", wd,
        stream =>
          stream
            .withColumn("hv", h)
            .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
            .agg(
              graft.functions.Sketches
                .bottomKSample(col("hv"), col("value"), 32)
                .as("sample"),
              count(lit(1)).as("n_events")))
      .select(
        col("event_type"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("start_window"),
        col("sample"),
        col("n_events"))
      .select(
        col("event_type"), col("start_window"), col("n_events"),
        explode(col("sample")).as("v"))
      .groupBy(col("event_type"), col("start_window"), col("n_events"))
      .agg(
        round(expr("percentile(v, 0.5)"), 4).as("p50_sketch"),
        count(lit(1)).as("sample_n"))
  }

  val streamQuantilesSql: String =
    """WITH b AS (
      |  SELECT event_type, value, event_id,
      |         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket
      |  FROM events),
      |p AS (
      |  SELECT DISTINCT event_type, bucket,
      |         CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv,
      |         value AS val
      |  FROM b WHERE event_id IS NOT NULL AND value IS NOT NULL),
      |r AS (SELECT event_type, bucket, val,
      |        row_number() OVER (PARTITION BY event_type, bucket ORDER BY hv, val) AS rn
      |      FROM p),
      |s AS (SELECT event_type, bucket,
      |        round(quantile_cont(val, 0.5), 4) AS p50_sketch,
      |        count(*) AS sample_n
      |      FROM r WHERE rn <= 32 GROUP BY event_type, bucket),
      |c AS (SELECT event_type, bucket, count(*) AS n_events FROM b GROUP BY 1, 2)
      |SELECT s.event_type,
      |       strftime(make_timestamp(s.bucket * 3600 * 1000000), '%Y-%m-%d %H:%M:%S') AS start_window,
      |       c.n_events, s.p50_sketch, s.sample_n
      |FROM s JOIN c USING (event_type, bucket)""".stripMargin

  /** Streaming per-user EWMA on `transformWithState`
    * ([[StreamJobs.runStreamingEwma]]): two event-time waves drain
    * through the SAME checkpoint, the RocksDB value state carries the
    * (n, ewma) fold across runs, and the final pick (max n per user)
    * must hash-match the BATCH `q_ewma_decay` oracle exactly — the
    * order-sensitive stateful-feature parity the running-max query
    * can't test.
    */
  def streamEwma(spark: SparkSession, sfDir: String): DataFrame = {
    val wd = workDir("sewma")
    val src = s"$wd/src"
    val checkpoint = s"$wd/checkpoint"
    val events = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val out = s"$wd/out"
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    events.filter(col("ts") < cut).write.mode("append").parquet(src)
    StreamJobs.runStreamingEwma(spark, src, eventsSchemaNoProps, checkpoint, out)
    events.filter(col("ts") >= cut).write.mode("append").parquet(src)
    StreamJobs.runStreamingEwma(spark, src, eventsSchemaNoProps, checkpoint, out)
    spark.read.schema(Encoders.product[StreamJobs.EwmaState].schema).parquet(out)
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("ewma"))).as("s"))
      .select(
        col("user_id"),
        col("s.n_events").as("n_events"),
        round(col("s.ewma"), 4).as("ewma"))
  }

  val streamEwmaSql: String =
    """SELECT user_id, count(*) AS n_events,
      |       round(list_reduce(list(value ORDER BY ts, event_id),
      |                         (acc, x) -> 0.5 * x + 0.5 * acc), 4) AS ewma
      |FROM events GROUP BY user_id""".stripMargin

  /** Streaming corpus ingest with dedup against the lake corpus: two
    * waves of documents (each with planted copies) stream through
    * `foreachBatch`, where every batch is fingerprinted and
    * left-anti-joined against the corpus table before appending. Wave-1
    * internal copies PASS (within-batch passthrough); wave-2 copies of
    * wave-1 docs are DROPPED (first arrival wins). The oracle replays
    * exactly that arrival-order semantics.
    */
  def streamDedupIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val wd = workDir("sdedupin")
    val src = s"$wd/src"
    val table = graft.tables.LakeTable(spark, s"$wd/corpus")
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val d = Testdata.read(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val wave1 = d.filter(col("doc_id") % 3 =!= 2)
      .unionByName(d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 3000000))
    val wave2 = d.filter(col("doc_id") % 3 === 2)
      .unionByName(d.filter(col("doc_id") % 5 === 1)
        .withColumn("doc_id", col("doc_id") + 4000000))
    wave1.write.mode("append").parquet(src)
    StreamJobs.runStreamingDedupIngest(spark, src, schema, "text", table, wd)
    wave2.write.mode("append").parquet(src)
    StreamJobs.runStreamingDedupIngest(spark, src, schema, "text", table, wd)
    table.read().select(col("doc_id"), col("fp"))
  }

  val streamDedupIngestSql: String =
    """WITH w1 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 3 != 2
      |  UNION ALL
      |  SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 10 = 0),
      |w2 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
      |  UNION ALL
      |  SELECT doc_id + 4000000, text FROM documents WHERE doc_id % 5 = 1),
      |f1 AS (SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp FROM w1),
      |f2 AS (SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp FROM w2)
      |SELECT doc_id, fp FROM f1
      |UNION ALL
      |SELECT doc_id, fp FROM f2 WHERE fp NOT IN (SELECT fp FROM f1)""".stripMargin

  /** Exactly-once lake-table ingest under crash-replay
    * ([[StreamJobs.runStreamingTxnAppend]], the Delta
    * txnAppId/txnVersion protocol over graft manifests): wave 1 streams
    * in, then the batch's checkpoint COMMIT MARKER is deleted —
    * simulating a crash after the table commit but before the
    * checkpoint recorded it — so the wave-2 run first re-delivers the
    * whole wave-1 batch under its original batch id. The idempotent
    * writer watermark drops the replay; the oracle is simply "all
    * events exactly once", which an at-least-once foreachBatch sink
    * (no txn) would fail with wave 1 doubled.
    */
  def streamTxnAppend(spark: SparkSession, sfDir: String): DataFrame = {
    val wd = workDir("stxnapp")
    val src = s"$wd/src"
    val table = graft.tables.LakeTable(spark, s"$wd/tbl")
    val events = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    events.filter(col("event_id") % 2 === 0).write.mode("append").parquet(src)
    StreamJobs.runStreamingTxnAppend(
      spark, src, eventsSchemaNoProps, table, wd, Some("txn-ingest"))
    // crash window: the lake commit survived, the checkpoint marker didn't
    val commits = new java.io.File(s"$wd/checkpoint-txn-append/commits")
    commits.listFiles().filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt).lastOption
      .foreach { marker =>
        marker.delete()
        new java.io.File(commits, s".${marker.getName}.crc").delete()
      }
    events.filter(col("event_id") % 2 =!= 0).write.mode("append").parquet(src)
    StreamJobs.runStreamingTxnAppend(
      spark, src, eventsSchemaNoProps, table, wd, Some("txn-ingest"))
    table.read().select(
      col("event_id"),
      col("user_id"),
      col("event_type"),
      col("value"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
  }

  val streamTxnAppendSql: String =
    """SELECT event_id, user_id, event_type, value,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
      |FROM events""".stripMargin

  /** CHANGE-DATA-FEED STREAM → SCD1 REPLICA
    * ([[graft.streaming.ChangeFeed]]): the lake table's change feed
    * replayed as checkpointed micro-batches (offsets = manifest
    * versions) into a by-key mirror table. Four micro-batches exercise
    * every tag path:
    *
    *   1. bootstrap — full snapshot as inserts (evens);
    *   2. additive commit — pure insert tags (odds), read as the added
    *      commit dirs only, no diff;
    *   3. DV delete — pure delete tags via the exact multiset diff;
    *   4. SCD1 rewrite upstream — update = delete+insert PAIR, which
    *      the apply nets to the new row.
    *
    * The replica must equal the source's final snapshot — deletes
    * visible by absence, updates by changed values — which is exactly
    * what the oracle recomputes from the raw events.
    */
  def streamChanges(spark: SparkSession, sfDir: String): DataFrame = {
    val wd = workDir("scdc")
    val src = graft.tables.LakeTable(spark, s"$wd/src")
    val tgt = graft.tables.LakeTable(spark, s"$wd/tgt")
    val feed = graft.streaming.ChangeFeed(src, s"$wd/checkpoint-cdc")
    val apply = graft.streaming.ChangeFeed.applyScd1(tgt, Seq("event_id")) _
    val ev = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("user_id"))
    src.append(ev.filter(col("event_id") % 2 === 0))
    feed.processAvailable(apply) // bootstrap: snapshot as inserts
    src.append(ev.filter(col("event_id") % 2 =!= 0))
    feed.processAvailable(apply) // additive: insert tags only
    src.deleteWhereDV(col("event_id") % 10 === 3)
    feed.processAvailable(apply) // delete tags via multiset diff
    graft.tables.Merge.mergeScd1(
      src,
      ev.filter(col("event_id") % 100 === 0)
        .withColumn("user_id", col("user_id") + 1000000L),
      Seq("event_id"))
    feed.processAvailable(apply) // update = delete+insert pair
    tgt.read()
  }

  val streamChangesSql: String =
    """SELECT event_id, event_type,
      |       CASE WHEN event_id % 100 = 0 THEN user_id + 1000000
      |            ELSE user_id END AS user_id
      |FROM events WHERE event_id % 10 <> 3""".stripMargin

  /** Stream-static enrichment: the event stream joined to a broadcast
    * in-memory dimension (type → code/weight); stateless append, no
    * watermark. Oracle = the equivalent batch join.
    */
  def streamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wd = workDir("sstatic")
    val src = s"$wd/src"
    val schema = eventsSchemaNoProps
    stageEvents(spark, sfDir, src)
    val dim = Seq(
      ("click", 1, 0.5), ("view", 2, 0.25), ("purchase", 3, 2.0),
      ("signup", 4, 1.5), ("error", 5, 0.0))
      .toDF("event_type", "type_code", "weight")
    StreamJobs.runStreamStaticJoin(
      spark, src, schema, dim, Seq("event_type"),
      df => df.select(
        col("event_id"),
        col("event_type"),
        col("type_code"),
        round(col("value") * col("weight"), 4).as("weighted_value")),
      wd)
  }

  val streamStaticJoinSql: String =
    """SELECT event_id, e.event_type, type_code,
      |       round(value * weight, 4) AS weighted_value
      |FROM events e
      |LEFT JOIN (VALUES ('click', 1, 0.5), ('view', 2, 0.25), ('purchase', 3, 2.0),
      |                  ('signup', 4, 1.5), ('error', 5, 0.0))
      |  AS dim(event_type, type_code, weight)
      |  ON e.event_type = dim.event_type""".stripMargin

  /** STREAMING AS-OF enrichment: events stream through `foreachBatch`
    * and each micro-batch as-of joins (backward, per event type) a
    * static candle dimension — the late-arriving-dimension pattern
    * (enrich a stream against a slowly-changing reference table where
    * only the latest-at-or-before version applies). The as-of is
    * per-row independent of batching, so the streamed result equals
    * the batch [[AnalyticsQueries.asofJoin]] run exactly — the two
    * queries SHARE the DuckDB native-ASOF oracle. Scale: per batch,
    * one shuffle of the batch against the (cached, broadcastable) dim;
    * zero streaming state.
    */
  def streamAsof(spark: SparkSession, sfDir: String): DataFrame = {
    val wd = workDir("sasof")
    val src = s"$wd/src"
    stageEvents(spark, sfDir, src)
    val events = Testdata.events(spark, sfDir)
    val candles = graft.streaming.Candles
      .candles(events, "ts", "event_id", "event_type", "value")
      .select(col("event_type"), col("start_window"), col("close").as("candle_close"))
      .persist()
    candles.count() // materialize once; every micro-batch reuses the cache
    try {
      StreamJobs
        .runForeachBatchTransform(
          spark, src, eventsSchemaNoProps,
          batch =>
            graft.operators.Ops.asofJoinDirected(
              batch.select(col("event_id"), col("event_type"), col("ts"), col("value")),
              candles, "event_type", "ts", "start_window", Seq("candle_close")),
          wd)
        .select(col("event_id"), col("event_type"), col("value"), col("candle_close"))
    } finally candles.unpersist(blocking = false)
  }

  /** Streaming quality gate: the ext quality scorer applied at INGEST
    * time — documents stream through `qualityFeatures` and only rows at
    * or above the score threshold pass. Stateless, so the streaming
    * result must equal the batch run of the same filter, which is
    * exactly what the shared oracle checks (ext × streaming
    * composition, not a new operator).
    */
  def streamQualityGate(spark: SparkSession, sfDir: String): DataFrame = {
    val wd = workDir("squality")
    val src = s"$wd/src"
    val d = Testdata.read(spark, sfDir, "documents")
    d.write.mode("overwrite").parquet(src)
    StreamJobs.runStatelessTransform(
      spark, src, d.schema,
      df =>
        graft.ext.TextAnalysis
          .qualityFeatures(df, "text")
          .filter(col("quality_score") >= 0.5)
          .select(col("doc_id"), col("n_tokens_q"), col("quality_score")),
      wd)
  }

  val streamQualityGateSql: String = {
    val sw = graft.ext.Stopwords.en.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id, n_tokens AS n_tokens_q, quality_score FROM (
       |  SELECT doc_id, n_tokens,
       |    floor((least(1.0, n_tokens / 100.0) * 0.3
       |          + (1.0 - least(1.0, punct_ratio * 5)) * 0.2
       |          + least(1.0, stopword_ratio * 4) * 0.2
       |          + uniq_ratio * 0.3) * 10000 + 0.5) / 10000.0 AS quality_score
       |  FROM (
       |    SELECT doc_id, n_tokens,
       |      CASE WHEN length(text) = 0 THEN 0.0
       |           ELSE CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
       |      CASE WHEN n_tokens = 0 THEN 0.0
       |           ELSE CAST(len(list_filter(toks, t -> list_contains($sw, t))) AS DOUBLE) / n_tokens END AS stopword_ratio,
       |      CASE WHEN n_tokens = 0 THEN 0.0
       |           ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens END AS uniq_ratio
       |    FROM (
       |      SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks,
       |        CASE WHEN length(trim(text)) = 0 THEN 0
       |             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
       |      FROM documents)))
       |WHERE quality_score >= 0.5""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_quality_gate" -> (streamQualityGate _),
    "q_stream_asof" -> (streamAsof _),
    "q_stream_static_join" -> (streamStaticJoin _),
    "q_stream_upsert" -> (streamUpsert _),
    "q_stream_ewma" -> (streamEwma _),
    "q_stream_quantiles" -> (streamQuantiles _),
    "q_stream_funnel" -> (streamFunnel _),
    "q_stream_mv_refresh" -> (streamMvRefresh _),
    "q_stream_txn_append" -> (streamTxnAppend _),
    "q_stream_changes" -> (streamChanges _),
    "q_stream_dedup_ingest" -> (streamDedupIngest _),
    "q_stream_join_outer" -> (streamStreamJoinOuter _),
    "q_stream_stream_join" -> (streamStreamJoin _),
    "q_batch_candles" -> (batchCandles _),
    "q_stream_ingest" -> (streamIngest _),
    "q_stream_candles" -> (streamCandles _),
    "q_stream_sessions" -> (streamSessions _),
    "q_stream_approx_users" -> (streamApproxUsers _))

  val oracleSql: Map[String, String] = Map(
    "q_stream_quality_gate" -> streamQualityGateSql,
    // streamed as-of must converge to the batch as-of: same oracle
    "q_stream_asof" -> AnalyticsQueries.asofJoinSql,
    "q_stream_static_join" -> streamStaticJoinSql,
    "q_stream_upsert" -> streamUpsertSql,
    "q_stream_ewma" -> streamEwmaSql,
    "q_stream_quantiles" -> streamQuantilesSql,
    "q_stream_funnel" -> AnalyticsQueries.funnelSql,
    "q_stream_mv_refresh" -> streamMvRefreshSql,
    "q_stream_txn_append" -> streamTxnAppendSql,
    "q_stream_changes" -> streamChangesSql,
    "q_stream_dedup_ingest" -> streamDedupIngestSql,
    "q_stream_join_outer" -> streamStreamJoinOuterSql,
    "q_stream_stream_join" -> streamStreamJoinSql,
    "q_batch_candles" -> candlesOracleSql,
    "q_stream_ingest" -> streamIngestSql,
    "q_stream_candles" -> candlesOracleSql,
    "q_stream_sessions" -> streamSessionsSql,
    "q_stream_approx_users" -> streamApproxUsersSql)
}
