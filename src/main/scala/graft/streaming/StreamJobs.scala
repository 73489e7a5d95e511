package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Structured Streaming jobs reproducing the reference's two-hop stream
  * topology (SURVEY §2.9): a checkpointed ingest hop (Kafka→bronze,
  * /root/reference/src/bronze/ohlcv_1m.py) and a stateful
  * watermark+window aggregation hop (bronze→silver,
  * /root/reference/src/silver/ohlcv_agg.py), decoupled through the
  * table directory exactly like the reference's two separate Spark
  * applications.
  *
  * With no Kafka jar in the environment (SURVEY §7.1), the replayable
  * source is Spark's file stream source over a staging directory with
  * the same (key, value) JSON envelope; its offsets-by-file log gives
  * the same at-least-once replay contract, and the file sink's
  * `_spark_metadata` commit log makes the micro-batch append
  * effectively-once — the reference's Kafka+Iceberg guarantees.
  */
object StreamJobs {

  /** Timestamps inside the JSON envelope carry full microseconds —
    * Spark's to_json default truncates to millis, which would break
    * event-time ordering fidelity through the ingest hop.
    */
  val envelopeTsFormat: Map[String, String] =
    Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")

  private val envelopeSchema = StructType(
    Seq(StructField("key", StringType), StructField("value", StringType)))

  /** Pluggable replayable source for the ingest hop (SURVEY §7.1): the
    * production impl is Kafka (`format("kafka")` yields the same
    * (key, value) envelope columns; a cluster with the kafka jar slots a
    * one-line impl in here — reference
    * /root/reference/src/bronze/_bronze_utils.py:31-38). This
    * environment ships no kafka jar, so the provided impls are the
    * file stream (offsets-by-file replay log — the durable stand-in)
    * and an in-memory stream (tests). The contract: a STREAMING
    * DataFrame with columns (key string, value string) whose source is
    * replayable from checkpointed offsets.
    */
  trait EnvelopeSource {
    def load(spark: SparkSession): DataFrame
  }

  /** Save the given session confs, set the overrides, run `body`
    * (typically a stream `.start()`, which pins them into the query),
    * and restore — the ONE definition of the scoped-conf contract every
    * stream start in this file shares, so the restore can never drift
    * between call sites.
    */
  private def withScopedConf[T](spark: SparkSession, overrides: Seq[(String, String)])(
      body: => T): T = {
    val prev = overrides.map { case (k, _) => k -> spark.conf.get(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Scoped at the start of a stateful stream: Spark turns AQE off in
    * such a stream's cloned session anyway, and AQE on at the start only
    * makes `ResolveWriteToStream` warn that it is unsupported. A
    * stateless stream keeps AQE on in its micro-batches (Spark 4.1), so
    * its start keeps the session's setting.
    */
  private val statefulStart = "spark.sql.adaptive.enabled" -> "false"

  private val rocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** File-stream envelope source over a staging directory; its
    * offsets-by-file log gives Kafka's at-least-once replay contract.
    */
  final case class FileEnvelopeSource(
      stageDir: String,
      maxFilesPerTrigger: Option[Int] = None) extends EnvelopeSource {
    override def load(spark: SparkSession): DataFrame = {
      val reader = spark.readStream.schema(envelopeSchema)
      // bounded micro-batches — the file-source analog of the reference's
      // rate-limited Kafka cadence (~150 rows per 5 s trigger);
      // AvailableNow then drains in several checkpointed batches
      maxFilesPerTrigger
        .map(n => reader.option("maxFilesPerTrigger", n))
        .getOrElse(reader)
        .parquet(stageDir)
    }
  }

  /** Kafka envelope source — the production binding (reference
    * topology: /root/reference/src/bronze/_bronze_utils.py:31-38).
    * Resolves `format("kafka")` by name, so this compiles without the
    * connector and runs on any cluster with `spark-sql-kafka-0-10` on
    * the classpath (this environment ships no kafka jar, so it is
    * compile-checked only — the file impl is the tested stand-in with
    * the same replay contract). `startingOffsets=earliest` mirrors the
    * reference's from-beginning bootstrap; offsets are tracked by the
    * query checkpoint thereafter.
    */
  final case class KafkaEnvelopeSource(
      bootstrapServers: String,
      topic: String,
      maxOffsetsPerTrigger: Option[Long] = None) extends EnvelopeSource {
    override def load(spark: SparkSession): DataFrame = {
      val reader = spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
      maxOffsetsPerTrigger
        .map(n => reader.option("maxOffsetsPerTrigger", n.toString))
        .getOrElse(reader)
        .load()
        .select(
          col("key").cast(StringType).as("key"),
          col("value").cast(StringType).as("value"))
    }
  }

  /** In-memory envelope source (tests / notebooks): push batches with
    * [[add]]; supports `Trigger.AvailableNow` like the file source.
    */
  final class MemoryEnvelopeSource(spark: SparkSession) extends EnvelopeSource {
    private implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    private val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    /** Stage rows as the same (key, value-json) envelope the file
      * producer writes ([[stageEnvelope]]).
      */
    def add(input: DataFrame, keyCols: Seq[String]): Unit = {
      val rows = input
        .select(
          concat_ws("_", keyCols.map(col): _*).as("key"),
          to_json(struct(input.columns.map(col): _*), envelopeTsFormat).as("value"))
        .as[(String, String)]
        .collect()
      stream.addData(rows.toIndexedSeq)
    }
    override def load(spark: SparkSession): DataFrame =
      stream.toDF().toDF("key", "value")
  }

  private def dir(base: String, name: String): String = {
    val p = Paths.get(base, name)
    Files.createDirectories(p)
    p.toString
  }

  /** Append a batch of rows to the staging directory as the
    * (key, value-json) envelope — the test-harness stand-in for the
    * reference's rate-limited Kafka producer (K8,
    * /root/reference/src/producer/ohlcv_producer.py:42-61).
    */
  def stageEnvelope(input: DataFrame, keyCols: Seq[String], stageDir: String): Unit =
    input
      .select(
        concat_ws("_", keyCols.map(col): _*).as("key"),
        to_json(struct(input.columns.map(col): _*), envelopeTsFormat).as("value"))
      .write
      .mode("append")
      .parquet(stageDir)

  /** Hop 1 — streaming ingest (S3+P1+P2+P5+K2): stream the envelope
    * staging dir, decode JSON against the declared schema, stamp
    * date-part columns, and append to a parquet bronze table through a
    * checkpointed streaming file sink. `Trigger.AvailableNow` drains
    * everything currently staged and terminates; calling it again after
    * more data is staged processes only the new files (same checkpoint),
    * which is exactly the micro-batch replay contract.
    */
  def runIngest(
      spark: SparkSession,
      payloadSchema: StructType,
      tsCol: String,
      workDir: String,
      partitioned: Boolean = false,
      maxFilesPerTrigger: Option[Int] = None,
      source: Option[EnvelopeSource] = None): String = {
    val stage = dir(workDir, "stage")
    val bronze = dir(workDir, "bronze")
    val checkpoint = dir(workDir, "checkpoint-ingest")

    val envelope = source
      .getOrElse(FileEnvelopeSource(stage, maxFilesPerTrigger))
      .load(spark)
    val decoded = envelope
      .select(from_json(col("value").cast(StringType), payloadSchema, envelopeTsFormat).as("data"))
      .select(col("data.*"))
    val withParts = graft.operators.Ops.datePartCols(decoded, tsCol)

    val writer = withParts.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", bronze)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
    val q = (if (partitioned) writer.partitionBy("event_year", "event_month", "event_day")
             else writer).start()
    q.awaitTermination()
    bronze
  }

  /** Start a memory-sink append query with the state-store partition
    * override scoped to the start (see [[runStatefulAgg]] for why state
    * partitions track key cardinality, not core count).
    */
  private def startMemorySink(
      spark: SparkSession,
      out: DataFrame,
      queryName: String,
      checkpoint: String,
      statePartitions: Int,
      stateful: Boolean): org.apache.spark.sql.streaming.StreamingQuery =
    // Sentinel-driven flushes emit final windows in a NO-DATA micro-batch
    // (the watermark advances after the sentinel batch commits). That
    // batch only runs when noDataMicroBatches is enabled — pin it, don't
    // assume the session default survived caller config.
    withScopedConf(
      spark,
      Seq(
        "spark.sql.shuffle.partitions" -> statePartitions.toString,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "true") ++
        Option.when(stateful)(statefulStart)) {
      out.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint)
        .start()
    }

  /** Stream-static join: enrich a stream against a static (batch)
    * dimension — stateless, no watermark needed; the static side is
    * broadcast per micro-batch, so the stream never shuffles. The
    * lakehouse pattern for dimension enrichment on the ingest path.
    */
  def runStreamStaticJoin(
      spark: SparkSession,
      sourceDir: String,
      sourceSchema: StructType,
      staticDim: DataFrame,
      joinCols: Seq[String],
      project: DataFrame => DataFrame,
      workDir: String): DataFrame = {
    val checkpoint = dir(workDir, s"checkpoint-sstatic-${java.util.UUID.randomUUID()}")
    val queryName = s"sstatic_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val stream = spark.readStream.schema(sourceSchema).parquet(sourceDir)
    val joined = project(
      stream.join(org.apache.spark.sql.functions.broadcast(staticDim), joinCols, "left"))
    val q = startMemorySink(spark, joined, queryName, checkpoint, statePartitions = 8, stateful = false)
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
  }

  /** foreachBatch transform sink: apply an arbitrary BATCH transform —
    * window functions, as-of joins, anything a streaming plan cannot
    * host — to each micro-batch and append the result to a parquet
    * sink. The standard late-arriving-dimension enrichment shape: per
    * micro-batch the transform shuffles the BATCH (never the stream's
    * history) against its (static or slowly-changing) right side, so
    * state is zero and cost scales with batch size. A transform that is
    * per-row independent of batching (as-of against a static dim is:
    * each left row's match depends only on that row and the dim)
    * converges to the batch run of the same transform — which is what
    * the shared oracle checks.
    */
  def runForeachBatchTransform(
      spark: SparkSession,
      sourceDir: String,
      sourceSchema: StructType,
      transform: DataFrame => DataFrame,
      workDir: String): DataFrame = {
    val checkpoint = dir(workDir, s"checkpoint-febt-${java.util.UUID.randomUUID()}")
    val out = dir(workDir, s"febt-out-${java.util.UUID.randomUUID()}")
    val stream = spark.readStream.schema(sourceSchema).parquet(sourceDir)
    // foreachBatch is AT-LEAST-ONCE: a micro-batch that fails after a
    // partial write is re-delivered on restart, and a plain append sink
    // would duplicate its rows. Each batch therefore lands in its own
    // batchId-named subdir — overwrite replaces a partial earlier
    // attempt, and a batch whose _SUCCESS marker already exists is a
    // committed replay and is skipped (the same idempotence the memory-
    // sink runners get from the sink itself).
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val dest = new java.io.File(out, s"b$batchId")
        if (!new java.io.File(dest, "_SUCCESS").exists()) {
          transform(batch).write.mode("overwrite").parquet(dest.toString)
        }
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    // empty source → foreachBatch never fired → no committed batch dirs
    // and schema inference would throw; derive the result schema by
    // applying the transform to an empty batch instead (the sibling
    // memory-sink runners return empty tables the same way). Reading the
    // committed leaf dirs as explicit roots keeps the batch dir name out
    // of the schema (no partition-column inference).
    val batchDirs = Option(new java.io.File(out).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && new java.io.File(f, "_SUCCESS").exists())
    if (batchDirs.nonEmpty) spark.read.parquet(batchDirs.map(_.toString): _*)
    else transform(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sourceSchema)).limit(0)
  }

  /** Stateless streaming transform: stream the source, apply a pure
    * row-level `transform` (filters/projections/scoring — anything
    * shuffle-free), collect through a memory sink. The streaming analog
    * of a curation map stage: because the transform is stateless, the
    * result is exactly the batch run of the same transform, which is
    * what the oracle checks. At scale this is the shape of an
    * ingest-time quality gate — per-micro-batch, no state store, no
    * watermark, back-pressure from the source's trigger bounds.
    */
  def runStatelessTransform(
      spark: SparkSession,
      sourceDir: String,
      sourceSchema: StructType,
      transform: DataFrame => DataFrame,
      workDir: String): DataFrame = {
    val checkpoint = dir(workDir, s"checkpoint-stateless-${java.util.UUID.randomUUID()}")
    val queryName = s"stateless_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val stream = spark.readStream.schema(sourceSchema).parquet(sourceDir)
    val q = startMemorySink(
      spark, transform(stream), queryName, checkpoint, statePartitions = 8, stateful = false)
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
  }

  /** Hop 2 — stateful streaming aggregation (S4+A1+P12+K3) driven to a
    * deterministic fixpoint.
    *
    * Streams the bronze table, applies watermark + tumbling-window
    * candle aggregation in *append* mode (only watermark-finalized
    * windows are emitted — the reference's exact semantics,
    * ohlcv_agg.py:20,47). Because append mode withholds trailing
    * windows forever once data is exhausted, the caller-provided
    * `pushSentinel` callback must stage one far-future row through the
    * SAME ingest hop (so it is visible in the bronze commit log); the
    * watermark then passes every real window and flushes them. The
    * sentinel's own never-finalized window is filtered from the result.
    */
  def runWindowedAgg(
      spark: SparkSession,
      bronzeDir: String,
      bronzeSchema: StructType,
      tsCol: String,
      idCol: String,
      keyCol: String,
      valueCol: String,
      workDir: String,
      pushSentinel: () => Unit,
      windowDuration: String = "15 minutes",
      watermarkDelay: String = "1 minutes",
      sentinelKey: String = "__sentinel__"): DataFrame =
    runStatefulAgg(
      spark, bronzeDir, bronzeSchema, tsCol, workDir, pushSentinel,
      stream => Candles.candles(stream, tsCol, idCol, keyCol, valueCol, windowDuration),
      keyCol, watermarkDelay, sentinelKey)

  /** Generic driver for watermarked stateful aggregations in append
    * mode: stream the table dir, apply `agg` to the watermarked stream,
    * collect through a memory sink, flush trailing state with the
    * caller's sentinel, and filter the sentinel's own key back out.
    */
  def runStatefulAgg(
      spark: SparkSession,
      bronzeDir: String,
      bronzeSchema: StructType,
      tsCol: String,
      workDir: String,
      pushSentinel: () => Unit,
      agg: DataFrame => DataFrame,
      sentinelFilterCol: String,
      watermarkDelay: String = "1 minutes",
      sentinelKey: String = "__sentinel__",
      statePartitions: Int = 8,
      stateStoreProvider: Option[String] = None): DataFrame = {
    val checkpoint = dir(workDir, s"checkpoint-agg-${java.util.UUID.randomUUID()}")
    val queryName = s"agg_${java.util.UUID.randomUUID().toString.replace("-", "")}"

    val stream = spark.readStream.schema(bronzeSchema).parquet(bronzeDir)
    val out = agg(stream.withWatermark(tsCol, watermarkDelay))

    // State-store count is pinned per query at first start from the
    // session's shuffle-partition conf. Unlike batch shuffles, it should
    // be sized to stateful-key cardinality, not core count: every
    // micro-batch pays per-store commit overhead. Scope the override to
    // the query start and restore the session conf after.
    // See startMemorySink: the final windows emit in a no-data batch.
    // All overrides are captured by the query at start and restored by
    // withScopedConf so they never leak to later caller code. RocksDB
    // (or any custom) state store: at real state cardinality the default
    // in-heap HDFSBackedStateStore is the executor-OOM ceiling; the
    // provider is pinned into the query's checkpoint at first start.
    val overrides = Seq(
      statefulStart,
      "spark.sql.shuffle.partitions" -> statePartitions.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "true") ++
      stateStoreProvider.map("spark.sql.streaming.stateStore.providerClass" -> _)
    val q = withScopedConf(spark, overrides) {
      out.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint)
        .start()
    }
    try {
      q.processAllAvailable() // all real micro-batches (incl. upfront-staged sentinel)
      pushSentinel() // optional second staging pass (legacy two-pass callers)
      // The flush batch is a no-data micro-batch that runs AFTER the last
      // data batch commits its watermark. A second processAllAvailable
      // observes it even if the first returned before the flush ran.
      q.processAllAvailable()
    } finally q.stop()

    // null-safe inequality: `=!=` is null-killing, so a NULL group key
    // would silently vanish from the result while the batch oracle
    // keeps the null-key group — only the literal sentinel row drops
    spark.table(queryName).filter(!(col(sentinelFilterCol) <=> lit(sentinelKey)))
  }

  /** Stream-stream inner join with event-time bounds: two streams over
    * the same bronze dir (filtered to different event classes) joined on
    * key with a time-range predicate. Watermarks on BOTH sides bound the
    * join state (Spark evicts buffered rows once the watermark passes
    * the range), which is what makes an unbounded stream-stream join
    * feasible at all. Inner-join matches emit as soon as both sides
    * arrive, so draining the source yields the complete (batch-equal)
    * result — no sentinel needed.
    */
  def runStreamStreamJoin(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsCol: String,
      leftFilter: org.apache.spark.sql.Column,
      rightFilter: org.apache.spark.sql.Column,
      keyCol: String,
      rangeCondition: (DataFrame, DataFrame) => org.apache.spark.sql.Column,
      project: DataFrame => DataFrame,
      workDir: String,
      watermarkDelay: String = "1 minutes"): DataFrame =
    runStreamStreamJoinImpl(
      spark, sourceDir, schema, tsCol, leftFilter, rightFilter, keyCol,
      rangeCondition, project, workDir, watermarkDelay,
      joinType = "inner", sentinel = None)

  /** The one stream-stream join driver both public shapes share: the
    * side builder, watermarking, qualifier-scoped projection and
    * memory-sink plumbing differ only in join type and the outer
    * variant's sentinel pass (watermark advancement so unmatched left
    * rows EMIT — see [[runStreamStreamJoinOuter]]).
    */
  private def runStreamStreamJoinImpl(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsCol: String,
      leftFilter: org.apache.spark.sql.Column,
      rightFilter: org.apache.spark.sql.Column,
      keyCol: String,
      rangeCondition: (DataFrame, DataFrame) => org.apache.spark.sql.Column,
      project: DataFrame => DataFrame,
      workDir: String,
      watermarkDelay: String,
      joinType: String,
      sentinel: Option[(() => Unit, org.apache.spark.sql.Column)]): DataFrame = {
    val tag = if (joinType == "inner") "ssjoin" else "ssouter"
    val checkpoint = dir(workDir, s"checkpoint-$tag-${java.util.UUID.randomUUID()}")
    val queryName = s"${tag}_${java.util.UUID.randomUUID().toString.replace("-", "")}"

    def side(f: org.apache.spark.sql.Column, alias: String): DataFrame =
      spark.readStream
        .schema(schema)
        .parquet(sourceDir)
        .filter(f)
        .withWatermark(tsCol, watermarkDelay)
        .alias(alias)

    val l = side(leftFilter, "l")
    val r = side(rightFilter, "r")
    // project while the l/r qualifiers are still resolvable — the memory
    // sink flattens the join output into positional duplicate columns
    val joined = project(
      l.join(r, col(s"l.$keyCol") === col(s"r.$keyCol") && rangeCondition(l, r), joinType))

    val q = startMemorySink(spark, joined, queryName, checkpoint, statePartitions = 8, stateful = true)
    try {
      q.processAllAvailable()
      sentinel.foreach { case (push, _) =>
        push() // advance both watermarks past every real row
        q.processAllAvailable()
      }
    } finally q.stop()
    sentinel.fold(spark.table(queryName)) { case (_, pred) =>
      spark.table(queryName).filter(!pred)
    }
  }

  /** Typed row for the custom-state demo pipeline. */
  final case class KeyedValue(k: String, ts: java.sql.Timestamp, v: Double)

  /** Read schema for [[KeyedValue]] source dirs — shared by both
    * custom-state runners so the shape can't drift between them.
    */
  private val keyedValueSchema = StructType(Seq(
    StructField("k", StringType),
    StructField("ts", org.apache.spark.sql.types.TimestampType),
    StructField("v", org.apache.spark.sql.types.DoubleType)))

  /** Output of [[runRunningMaxWithState]]: the running maximum per key,
    * one emission per key per micro-batch that touched it.
    */
  final case class RunningMax(k: String, running_max: Double, updates: Long)

  /** Custom keyed state via `flatMapGroupsWithState` (the API for
    * semantics the built-in window aggregations can't express —
    * SURVEY §2.9 notes the reference never needs it; provided as
    * engine surface): per key, carry the running maximum and an update
    * counter across micro-batches, emitting the refreshed state each
    * time the key appears. State lives in the state store and survives
    * restarts through the checkpoint.
    */
  def runRunningMaxWithState(
      spark: SparkSession,
      sourceDir: String,
      workDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val checkpoint = dir(workDir, s"checkpoint-fmgws-${java.util.UUID.randomUUID()}")
    val queryName = s"fmgws_${java.util.UUID.randomUUID().toString.replace("-", "")}"

    def update(
        key: String,
        rows: Iterator[KeyedValue],
        state: GroupState[RunningMax]): Iterator[RunningMax] = {
      val batchMax = rows.map(_.v).foldLeft(Double.MinValue)(math.max)
      val prev = state.getOption.getOrElse(RunningMax(key, Double.MinValue, 0L))
      val next = RunningMax(key, math.max(prev.running_max, batchMax), prev.updates + 1)
      state.update(next)
      Iterator.single(next)
    }

    val stream = spark.readStream
      .schema(keyedValueSchema)
      .parquet(sourceDir)
      .as[KeyedValue]
      .groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)

    // state-partition policy (see runStatefulAgg): stateful shuffles
    // size to key cardinality, not core count — 200 default stores per
    // micro-batch is pure commit overhead for a handful of keys
    val q = withScopedConf(spark, Seq(statefulStart, "spark.sql.shuffle.partitions" -> "8")) {
      stream.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint)
        .start()
    }
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
  }

  /** [[runRunningMaxWithState]]'s semantics on Spark 4's
    * `transformWithState` arbitrary-state API — the successor to
    * `flatMapGroupsWithState`: explicit named state variables on a
    * [[org.apache.spark.sql.streaming.StatefulProcessorHandle]] (here
    * one `ValueState[RunningMax]`), per-variable TTL, timers, and
    * independent state evolution. The API requires the RocksDB state
    * store provider, which is also the right store for state at scale
    * — pinned here for the query's lifetime via the same scoped-conf
    * pattern as [[runStatefulAgg]]. StreamingStateSpec pins output
    * parity with the flatMapGroupsWithState form.
    */
  def runRunningMaxTransformWithState(
      spark: SparkSession,
      sourceDir: String,
      workDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    import spark.implicits._
    val checkpoint = dir(workDir, s"checkpoint-tws-${java.util.UUID.randomUUID()}")
    val queryName = s"tws_${java.util.UUID.randomUUID().toString.replace("-", "")}"

    class RunningMaxProcessor extends StatefulProcessor[String, KeyedValue, RunningMax] {
      @transient private var state: ValueState[RunningMax] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[RunningMax](
          "runningMax", Encoders.product[RunningMax], TTLConfig.NONE)
      override def handleInputRows(
          key: String,
          rows: Iterator[KeyedValue],
          timerValues: TimerValues): Iterator[RunningMax] = {
        val batchMax = rows.map(_.v).foldLeft(Double.MinValue)(math.max)
        val prev = Option(state.get()).getOrElse(RunningMax(key, Double.MinValue, 0L))
        val next = RunningMax(key, math.max(prev.running_max, batchMax), prev.updates + 1)
        state.update(next)
        Iterator.single(next)
      }
    }

    val stream = spark.readStream
      .schema(keyedValueSchema)
      .parquet(sourceDir)
      .as[KeyedValue]
      .groupByKey(_.k)
      .transformWithState(new RunningMaxProcessor, TimeMode.None(), OutputMode.Append())

    val q = withScopedConf(
      spark,
      Seq(
        statefulStart,
        // state-partition policy (see runStatefulAgg): 8 stores, not 200
        "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.streaming.stateStore.providerClass" -> rocksDbProvider)) {
      stream.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint)
        .start()
    }
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
  }

  final case class EwmaEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long, value: Double)
  final case class EwmaState(user_id: Long, n_events: Long, ewma: Double)

  /** Streaming per-user EWMA (α = 0.5) on `transformWithState` — the
    * ORDER-SENSITIVE stateful feature the running-max example dodges:
    * a fold's result depends on event order, so correctness needs (a)
    * event-time-sorted processing WITHIN each micro-batch (the iterator
    * is sorted before folding; Spark guarantees no cross-row order) and
    * (b) time-ordered arrival ACROSS batches, which the caller provides
    * by staging event-time-ordered waves and running this job to drain
    * AFTER each wave against the SAME checkpoint (the dedup-ingest
    * contract — run boundaries order the waves, so no reliance on file
    * mtime ordering). The incremental fold over wave concatenation then
    * executes the IDENTICAL IEEE operation sequence as the batch fold
    * over the whole sorted stream — so the streaming result
    * hash-matches the batch `q_ewma_decay` oracle, not just
    * approximates it.
    *
    * Each batch APPENDS the updated running state per touched user;
    * the caller unions the runs' outputs and keeps the last emission
    * per user (max `n_events` — strictly increasing, so the pick is
    * deterministic).
    */
  def runStreamingEwma(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      checkpoint: String,
      outDir: String): Unit = {
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    import spark.implicits._

    class EwmaProcessor extends StatefulProcessor[Long, EwmaEvent, EwmaState] {
      @transient private var state: ValueState[EwmaState] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[EwmaState](
          "ewma", Encoders.product[EwmaState], TTLConfig.NONE)
      override def handleInputRows(
          key: Long,
          rows: Iterator[EwmaEvent],
          timerValues: TimerValues): Iterator[EwmaState] = {
        // FULL-precision time order: getTime truncates to milliseconds,
        // but the batch oracles sort struct(ts, …) at microsecond
        // precision (Testdata events carry micros) — same-millisecond
        // events must fold in the same order or order-sensitive state
        // (EWMA) diverges from the batch hash. getNanos carries the
        // full sub-second fraction, so (getTime, getNanos, id) is total
        // and consistent with Spark's timestamp ordering.
        val sorted = rows.toVector
          .sortBy(e => (e.ts.getTime, e.ts.getNanos.toLong, e.event_id))
        val prev = Option(state.get())
        val next = sorted.foldLeft(
          prev.getOrElse(EwmaState(key, 0L, 0.0))) { (acc, e) =>
          val ewma = if (acc.n_events == 0L) e.value else 0.5d * e.value + 0.5d * acc.ewma
          EwmaState(key, acc.n_events + 1, ewma)
        }
        state.update(next)
        Iterator.single(next)
      }
    }

    val stream = spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[EwmaEvent]
      .groupByKey(_.user_id)
      .transformWithState(new EwmaProcessor, TimeMode.None(), OutputMode.Append())

    val q = withScopedConf(
      spark,
      Seq(
        statefulStart,
        // state-partition policy (see runStatefulAgg): 8 stores, not 200
        "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.streaming.stateStore.providerClass" -> rocksDbProvider)) {
      // foreachBatch, not a memory sink: the second wave's run RESUMES
      // from the checkpoint, which the memory sink refuses to do
      stream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[EwmaState], _: Long) =>
          batch.write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", checkpoint)
        .start()
    }
    try q.processAllAvailable()
    finally q.stop()
  }

  final case class FunnelEvent(
      user_id: Long, ts: java.sql.Timestamp, event_id: Long, event_type: String)
  final case class FunnelState(user_id: Long, n: Long, s: Long, c: Long, p: Long)

  /** Streaming conversion FUNNEL (signup → click → purchase) on
    * `transformWithState` — the stage chain of
    * [[graft.queries.AnalyticsQueries.funnel]] held as per-user value
    * state across micro-batches, under the same ordering contract as
    * [[runStreamingEwma]] (in-batch event-time sort + waves drained
    * through one checkpoint). Stage times compare SECOND-truncated, the
    * batch fold's granularity, so sub-second arrival order inside one
    * second can never diverge from the batch result: with strict `>`
    * chaining, equal-second processing order is provably outcome-free.
    * Emits the running (n, s, c, p) per touched user each batch; the
    * caller keeps the max-n emission.
    */
  def runStreamingFunnel(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      checkpoint: String,
      outDir: String): Unit = {
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    import spark.implicits._
    val sent = 4102444800L

    class FunnelProcessor extends StatefulProcessor[Long, FunnelEvent, FunnelState] {
      @transient private var state: ValueState[FunnelState] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[FunnelState](
          "funnel", Encoders.product[FunnelState], TTLConfig.NONE)
      override def handleInputRows(
          key: Long,
          rows: Iterator[FunnelEvent],
          timerValues: TimerValues): Iterator[FunnelState] = {
        // FULL-precision time order: getTime truncates to milliseconds,
        // but the batch oracles sort struct(ts, …) at microsecond
        // precision (Testdata events carry micros) — same-millisecond
        // events must fold in the same order or order-sensitive state
        // (EWMA) diverges from the batch hash. getNanos carries the
        // full sub-second fraction, so (getTime, getNanos, id) is total
        // and consistent with Spark's timestamp ordering.
        val sorted = rows.toVector
          .sortBy(e => (e.ts.getTime, e.ts.getNanos.toLong, e.event_id))
        val prev = Option(state.get()).getOrElse(FunnelState(key, 0L, sent, sent, sent))
        val next = sorted.foldLeft(prev) { (acc, e) =>
          val t = e.ts.getTime / 1000L // second truncation = the batch fold's unix_timestamp
          val upd = e.event_type match {
            case "signup" if acc.s == sent => acc.copy(s = t)
            case "click" if acc.s < sent && acc.c == sent && t > acc.s => acc.copy(c = t)
            case "purchase" if acc.c < sent && acc.p == sent && t > acc.c => acc.copy(p = t)
            case _ => acc
          }
          upd.copy(n = acc.n + 1)
        }
        state.update(next)
        Iterator.single(next)
      }
    }

    val stream = spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .filter(col("event_type").isin("signup", "click", "purchase"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor, TimeMode.None(), OutputMode.Append())

    val q = withScopedConf(
      spark,
      Seq(
        statefulStart,
        // state-partition policy (see runStatefulAgg): 8 stores, not 200
        "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.streaming.stateStore.providerClass" -> rocksDbProvider)) {
      stream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[FunnelState], _: Long) =>
          batch.write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", checkpoint)
        .start()
    }
    try q.processAllAvailable()
    finally q.stop()
  }

  /** Stream-stream LEFT OUTER join: like [[runStreamStreamJoin]] but
    * unmatched left rows must also emit — which can only happen once
    * the watermark proves no future right row can match, so the caller
    * appends far-future sentinel rows (passing BOTH side filters, so
    * both per-stream watermarks advance) after the real data drains.
    * Sentinel-keyed output is filtered back out via `sentinelPred`.
    */
  def runStreamStreamJoinOuter(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsCol: String,
      leftFilter: org.apache.spark.sql.Column,
      rightFilter: org.apache.spark.sql.Column,
      keyCol: String,
      rangeCondition: (DataFrame, DataFrame) => org.apache.spark.sql.Column,
      project: DataFrame => DataFrame,
      pushSentinels: () => Unit,
      sentinelPred: org.apache.spark.sql.Column,
      workDir: String,
      watermarkDelay: String = "1 minutes"): DataFrame =
    runStreamStreamJoinImpl(
      spark, sourceDir, schema, tsCol, leftFilter, rightFilter, keyCol,
      rangeCondition, project, workDir, watermarkDelay,
      joinType = "left_outer", sentinel = Some((pushSentinels, sentinelPred)))

  /** Streaming exact dedup (training-data pipeline on a stream): drop
    * duplicate keys arriving within the watermark horizon —
    * `dropDuplicatesWithinWatermark` keys state by `keyCols` and evicts
    * it once the watermark passes, so state stays bounded (the
    * unbounded-state trap of plain dropDuplicates on streams). Returns
    * the deduplicated rows collected through a memory sink.
    */
  def runStreamingDedup(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsCol: String,
      keyCols: Seq[String],
      workDir: String,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    // checkpoint UUID'd like every other memory-sink helper here: the
    // sink table is fresh per call, so resuming offsets from a previous
    // call's checkpoint would silently omit already-processed rows
    val checkpoint = dir(workDir, s"checkpoint-dedup-${java.util.UUID.randomUUID()}")
    val queryName = s"dedup_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val stream = spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
    val q = startMemorySink(spark, stream, queryName, checkpoint, statePartitions = 8, stateful = true)
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
  }

  /** Streaming corpus ingest with dedup against the lake: each
    * micro-batch fingerprints its documents
    * ([[graft.ext.TextAnalysis.fingerprintMd5]]) and LEFT-ANTI-joins
    * the corpus table's fingerprint column before appending — the
    * arrival-order dedup gate of a continuously-fed training corpus.
    * First arrival wins; rows WITHIN one batch always pass (the
    * within-batch-passthrough semantics of
    * [[graft.ext.Dedup.dedupAgainstCorpus]], which this composes with).
    *
    * Scale shape: the anti-join probe reads ONLY the corpus `fp`
    * column (parquet column pruning); at 100 TB you'd maintain the
    * fingerprint index as its own compacted table — or front it with
    * the bloom pre-probe — but the per-batch cost shape is already
    * O(batch + index), never O(corpus²).
    *
    * SEMANTIC PIN — one source wave per micro-batch: within-batch
    * passthrough matches [[graft.ext.Dedup.dedupAgainstCorpus]] only if
    * each wave of files (everything present at one invocation) lands in
    * a SINGLE micro-batch. `maxFilesPerTrigger` is therefore pinned to
    * Int.MaxValue explicitly — an inherited or future-default file cap
    * would split a wave and silently drop wave-internal duplicates that
    * the arrival-order oracle keeps. Callers that want per-file batches
    * must use a different gate (keying on a wave id, not
    * corpus-at-batch-start).
    */
  def runStreamingDedupIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      textCol: String,
      table: graft.tables.LakeTable,
      workDir: String): Unit = {
    val checkpoint = dir(workDir, "checkpoint-dedup-ingest")
    val q = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", Int.MaxValue)
      .parquet(sourceDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val withFp = batch.withColumn(
          "fp", graft.ext.TextAnalysis.fingerprintMd5(col(textCol)))
        val fresh =
          if (table.exists)
            withFp.join(table.read().select(col("fp")), Seq("fp"), "left_anti")
          else withFp
        // an all-duplicate batch publishes no version; the row count rides
        // the write job, so the anti-join runs once per micro-batch
        table.append(fresh, skipIfEmpty = true)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming append into a lake table with EXACTLY-ONCE table state
    * under crash-replay: `foreachBatch` commits each micro-batch through
    * [[graft.tables.LakeTable.append]] with an idempotent-writer
    * transaction `(writerId, batchId)` — the Delta
    * `txnAppId`/`txnVersion` protocol. `foreachBatch` alone is
    * AT-LEAST-ONCE: if the process dies after the table commit but
    * before the checkpoint records the batch as complete, restart
    * re-delivers the same batch under the same id — without the txn the
    * rows land twice; with it the manifest's writer watermark makes the
    * replay a no-op (checked both before the data write and under the
    * commit CAS). The reference's ingest gets this from the streaming
    * FILE sink's `_spark_metadata` log; this is the equivalent guarantee
    * for manifest-committed lake tables, where the file-sink log does
    * not apply.
    *
    * `writerId` must be stable across restarts and unique per
    * (stream, target) pair — the query checkpoint plays that role
    * upstream, so defaulting it to the checkpoint path is the natural
    * contract at scale (concurrent DIFFERENT streams into one table
    * keep independent watermarks).
    */
  def runStreamingTxnAppend(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      table: graft.tables.LakeTable,
      workDir: String,
      writerId: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    val checkpoint = dir(workDir, "checkpoint-txn-append")
    val id = writerId.getOrElse(checkpoint)
    val reader = spark.readStream.schema(schema)
    val withCap = maxFilesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val q = withCap
      .parquet(sourceDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        table.append(batch, txn = Some((id, batchId)))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming upsert into a lakehouse table: each micro-batch is
    * SCD1-merged into the target through `foreachBatch` — the
    * stream-to-MERGE bridge Iceberg/Delta users rely on, expressed over
    * [[graft.tables.LakeTable]]. Idempotence note: replayed batches
    * re-merge the same rows, and SCD1 upsert is idempotent, so
    * at-least-once delivery still yields exactly-once table state.
    */
  def runStreamingUpsert(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      keyCols: Seq[String],
      table: graft.tables.LakeTable,
      workDir: String): Unit = {
    val checkpoint = dir(workDir, "checkpoint-upsert")
    val q = spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // mergeScd1 would publish nothing for an empty batch on its own,
        // but only after rewriting the whole target and dropping the
        // result; probing one micro-batch is the cheaper way to skip
        if (!batch.isEmpty) {
          graft.tables.Merge.mergeScd1(table, batch, keyCols)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The full two-hop pipeline on a batch input, end to end: stage →
    * ingest hop → bronze → windowed-agg hop → finalized candles.
    * Deterministic: equivalent to the batch [[Candles.candles]] over
    * `input` (the oracle), which is the whole point of the
    * watermark+append design.
    */
  def runTwoHopCandles(
      spark: SparkSession,
      input: DataFrame,
      payloadSchema: StructType,
      tsCol: String,
      idCol: String,
      keyCol: String,
      valueCol: String,
      workDir: String,
      windowDuration: String = "15 minutes",
      watermarkDelay: String = "1 minutes",
      stateStoreProvider: Option[String] = None): DataFrame =
    runTwoHopStateful(
      spark, input, payloadSchema, tsCol, idCol, keyCol, workDir,
      stream => Candles.candles(stream, tsCol, idCol, keyCol, valueCol, windowDuration),
      watermarkDelay, stateStoreProvider)

  /** Generic two-hop pipeline: stage → ingest hop → bronze → any
    * watermarked stateful aggregation, flushed to a fixpoint with a
    * sentinel pushed through the ingest hop. `keyCol` must be a string
    * column (the sentinel key lands there and is filtered back out).
    */
  def runTwoHopStateful(
      spark: SparkSession,
      input: DataFrame,
      payloadSchema: StructType,
      tsCol: String,
      idCol: String,
      keyCol: String,
      workDir: String,
      agg: DataFrame => DataFrame,
      watermarkDelay: String = "1 minutes",
      stateStoreProvider: Option[String] = None): DataFrame = {
    val stage = dir(workDir, "stage")
    val sentinelKey = "__sentinel__"

    // Stage the real rows AND the far-future sentinel before the single
    // ingest pass: the watermark is computed from the max event time of
    // the PREVIOUS micro-batch, so a sentinel present in batch 1 still
    // flushes every real window in batch 2 (processAllAvailable runs
    // both) — no second ingest hop per query. The sentinel needs
    // max(ts); ride it on the staging write job via observe — one pass
    // over the input, not a separate full-scan aggregation first (at
    // corpus scale the second scan is the dominant cost of this hop).
    val obs = new org.apache.spark.sql.Observation(
      s"stage-max-${java.util.UUID.randomUUID()}")
    stageEnvelope(input.observe(obs, max(col(tsCol)).as("maxTs")), Seq(keyCol, idCol), stage)
    val maxTs = scala.concurrent.Await
      .result(obs.future, scala.concurrent.duration.Duration(60, "seconds"))
      .getAs[java.sql.Timestamp]("maxTs")
    val sentinel = input
      .limit(1)
      .withColumn(tsCol, lit(maxTs) + expr("INTERVAL 30 DAYS"))
      .withColumn(keyCol, lit(sentinelKey))
    stageEnvelope(sentinel, Seq(keyCol, idCol), stage)
    val bronze = runIngest(spark, payloadSchema, tsCol, workDir)
    val bronzeSchema = spark.read.parquet(bronze).schema

    runStatefulAgg(
      spark, bronze, bronzeSchema, tsCol, workDir, () => (),
      agg, keyCol, watermarkDelay, sentinelKey,
      stateStoreProvider = stateStoreProvider)
  }
}
