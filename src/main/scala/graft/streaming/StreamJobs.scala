package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.UUID

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
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
  *
  * Every job reads its parquet dir through [[fileStream]] and starts,
  * drains and stops its query through [[runStream]], so the
  * source-offset / checkpoint / sink triple that carries the
  * exactly-once contract is set up in one place.
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

  /** Shuffle partitions of every stream, and so the state-store count of
    * every stateful one. The count is pinned per query at first start
    * from the session's shuffle-partition conf. Unlike batch shuffles,
    * it should be sized to stateful-key cardinality, not core count:
    * every micro-batch pays a per-store commit, and the 200 default
    * stores are pure commit overhead for a handful of keys.
    */
  private val StatePartitions = 8

  private val stateStoreProvider = "spark.sql.streaming.stateStore.providerClass"

  private val rocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The one file-stream reader: a parquet dir as a stream of `schema`
    * rows, at most `maxFilesPerTrigger` new files per micro-batch.
    */
  private[graft] def fileStream(
      spark: SparkSession,
      schema: StructType,
      dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toLong))
      .parquet(dir)
  }

  /** Where [[runStream]] sends a stream's rows. */
  private[graft] sealed trait Sink
  private[graft] object Sink {
    /** An in-memory table named by the runner: the stopped query's
      * `name`. The name comes from the checkpoint dir, which every
      * memory-sink job makes fresh per call: its tag and UUID, as in
      * `agg_<uuid>`.
      */
    case object Memory extends Sink
    /** A function over each micro-batch and its id. */
    final case class ForeachBatch(f: (DataFrame, Long) => Unit) extends Sink
    /** The ingest hop's parquet file sink; its `_spark_metadata` log
      * makes each micro-batch's append effectively-once.
      */
    final case class ParquetFiles(dir: String, partitionCols: Seq[String]) extends Sink
  }

  /** The one start-and-drain path of every stream here: make the
    * checkpoint dir (and, for a memory sink, the query name), start the
    * query with its confs scoped to the start, drain it, and stop it if
    * it still runs.
    *
    * The query captures the scoped confs at start; the session gets its
    * own values back right after, whether or not the start threw, so
    * none leaks to later caller code:
    *   - [[StatePartitions]] shuffle partitions;
    *   - no-data micro-batches on: a sentinel-driven flush emits the
    *     final windows in a no-data micro-batch (the watermark advances
    *     after the sentinel batch commits), which runs only when this is
    *     on, so it is pinned rather than assumed to survive caller
    *     config;
    *   - the RocksDB state store for `transformWithState`, which
    *     requires it. Every other stream keeps the session's
    *     `spark.sql.streaming.stateStore.providerClass`: at real state
    *     cardinality the in-heap default is the executor-OOM ceiling, so
    *     a caller sets RocksDB there. The provider is pinned into the
    *     checkpoint at first start.
    *
    * `availableNow` runs the query to termination under
    * `Trigger.AvailableNow`: everything the source holds, in as many
    * checkpointed micro-batches as its per-trigger cap makes; a rerun
    * against the same checkpoint processes only what arrived since.
    * Otherwise the default trigger drains through `processAllAvailable`,
    * and a `flush` runs after that pass and before a second one. The
    * second pass also observes a no-data flush batch that runs only
    * after the last data batch commits its watermark.
    */
  private[graft] def runStream(
      out: DataFrame,
      checkpoint: String,
      sink: Sink,
      transformWithState: Boolean = false,
      availableNow: Boolean = false,
      flush: Option[() => Unit] = None): StreamingQuery = {
    // the job's tag leads the name (`agg_<uuid>`): progress readers split
    // a run's batches by query on it
    val name = Files.createDirectories(Paths.get(checkpoint)).getFileName.toString
      .stripPrefix("checkpoint-").replace('-', '_')
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> StatePartitions.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "true") ++
      Option.when(transformWithState)(stateStoreProvider -> rocksDbProvider)
    val writer = out.writeStream.outputMode("append").option("checkpointLocation", checkpoint)
    val sunk = sink match {
      case Sink.Memory => writer.format("memory").queryName(name)
      case Sink.ForeachBatch(f) => writer.foreachBatch(f)
      case Sink.ParquetFiles(dir, partitionCols) =>
        writer.format("parquet").option("path", dir).partitionBy(partitionCols: _*)
    }
    val conf = out.sparkSession.conf
    val prev = confs.map { case (k, _) => k -> conf.get(k) }
    val q =
      try {
        confs.foreach { case (k, v) => conf.set(k, v) }
        (if (availableNow) sunk.trigger(Trigger.AvailableNow()) else sunk).start()
      } finally prev.foreach { case (k, v) => conf.set(k, v) }
    try {
      if (availableNow) q.awaitTermination()
      else {
        q.processAllAvailable()
        flush.foreach { f => f(); q.processAllAvailable() }
      }
    } finally if (q.isActive) q.stop() // a terminated query has nothing left to stop
    q
  }

  /** A checkpoint path under `workDir`: `checkpoint-<tag>`, which a
    * rerun resumes, or with a fresh UUID appended. A memory-sink job
    * needs a fresh one: its sink table is fresh per call, so resuming a
    * previous call's offsets would silently omit already-processed rows.
    */
  private def checkpointIn(workDir: String, tag: String, fresh: Boolean = true): String =
    Paths.get(workDir, if (fresh) s"checkpoint-$tag-${UUID.randomUUID()}" else s"checkpoint-$tag")
      .toString

  /** File-stream envelope source over a staging directory; its
    * offsets-by-file log gives Kafka's at-least-once replay contract.
    * `maxFilesPerTrigger` bounds the micro-batches — the file-source
    * analog of the reference's rate-limited Kafka cadence (~150 rows
    * per 5 s trigger); AvailableNow then drains in several checkpointed
    * batches.
    */
  final case class FileEnvelopeSource(
      stageDir: String,
      maxFilesPerTrigger: Option[Int] = None) extends EnvelopeSource {
    override def load(spark: SparkSession): DataFrame =
      fileStream(spark, envelopeSchema, stageDir, maxFilesPerTrigger)
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

  /** The (key, value-json) envelope of `input`: the `keyCols` joined by
    * `_` as the key, the whole row as JSON as the value.
    */
  private def envelope(input: DataFrame, keyCols: Seq[String]): DataFrame =
    input.select(
      concat_ws("_", keyCols.map(col): _*).as("key"),
      to_json(struct(input.columns.map(col): _*), envelopeTsFormat).as("value"))

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
    def add(input: DataFrame, keyCols: Seq[String]): Unit =
      stream.addData(envelope(input, keyCols).as[(String, String)].collect().toIndexedSeq)
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
    envelope(input, keyCols).write.mode("append").parquet(stageDir)

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

    val decoded = source
      .getOrElse(FileEnvelopeSource(stage, maxFilesPerTrigger))
      .load(spark)
      .select(from_json(col("value").cast(StringType), payloadSchema, envelopeTsFormat).as("data"))
      .select(col("data.*"))
    runStream(
      graft.operators.Ops.datePartCols(decoded, tsCol),
      checkpointIn(workDir, "ingest", fresh = false),
      Sink.ParquetFiles(
        bronze, if (partitioned) Seq("event_year", "event_month", "event_day") else Nil),
      availableNow = true)
    bronze
  }

  /** The columns [[runIngest]] writes to bronze: the payload and its
    * date parts.
    */
  def ingestedSchema(spark: SparkSession, payloadSchema: StructType, tsCol: String): StructType =
    graft.operators.Ops.datePartCols(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], payloadSchema), tsCol).schema

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
    val joined = project(
      fileStream(spark, sourceSchema, sourceDir).join(broadcast(staticDim), joinCols, "left"))
    spark.table(runStream(joined, checkpointIn(workDir, "sstatic"), Sink.Memory).name)
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
    val out = dir(workDir, s"febt-out-${UUID.randomUUID()}")
    // foreachBatch is AT-LEAST-ONCE: a micro-batch that fails after a
    // partial write is re-delivered on restart, and a plain append sink
    // would duplicate its rows. Each batch therefore lands in its own
    // batchId-named subdir — overwrite replaces a partial earlier
    // attempt, and a batch whose _SUCCESS marker already exists is a
    // committed replay and is skipped (the same idempotence the memory-
    // sink runners get from the sink itself).
    runStream(
      fileStream(spark, sourceSchema, sourceDir),
      checkpointIn(workDir, "febt"),
      Sink.ForeachBatch { (batch, batchId) =>
        val dest = new java.io.File(out, s"b$batchId")
        if (!new java.io.File(dest, "_SUCCESS").exists()) {
          transform(batch).write.mode("overwrite").parquet(dest.toString)
        }
      })
    // the transform over an empty batch names the result schema: the
    // committed batch dirs are read with it, and an empty source (no
    // committed batch dir) returns it empty, as the sibling memory-sink
    // runners do. Reading the committed leaf dirs as explicit roots
    // keeps the batch dir name out of the schema (no partition-column
    // inference).
    val empty = transform(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sourceSchema))
    val batchDirs = Option(new java.io.File(out).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && new java.io.File(f, "_SUCCESS").exists())
    if (batchDirs.nonEmpty) spark.read.schema(empty.schema).parquet(batchDirs.map(_.toString): _*)
    else empty.limit(0)
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
    val out = transform(fileStream(spark, sourceSchema, sourceDir))
    spark.table(runStream(out, checkpointIn(workDir, "stateless"), Sink.Memory).name)
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
    * The first drain pass runs every real micro-batch, an upfront-staged
    * sentinel among them; `pushSentinel` is an optional second staging
    * pass (legacy two-pass callers) before the second.
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
      sentinelKey: String = "__sentinel__"): DataFrame = {
    val out = agg(fileStream(spark, bronzeSchema, bronzeDir).withWatermark(tsCol, watermarkDelay))
    val q = runStream(
      out, checkpointIn(workDir, "agg"), Sink.Memory, flush = Some(pushSentinel))
    // null-safe inequality: `=!=` is null-killing, so a NULL group key
    // would silently vanish from the result while the batch oracle
    // keeps the null-key group — only the literal sentinel row drops
    spark.table(q.name).filter(!(col(sentinelFilterCol) <=> lit(sentinelKey)))
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
      joinType = "inner", sentinelPred = None)

  /** The one stream-stream join driver both public shapes share: the
    * side builder, watermarking and qualifier-scoped projection differ
    * only in join type and the outer variant's second drain pass, which
    * emits the unmatched left rows once the staged sentinels have
    * advanced both watermarks (see [[runStreamStreamJoinOuter]]).
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
      sentinelPred: Option[org.apache.spark.sql.Column]): DataFrame = {
    def side(f: org.apache.spark.sql.Column, alias: String): DataFrame =
      fileStream(spark, schema, sourceDir)
        .filter(f)
        .withWatermark(tsCol, watermarkDelay)
        .alias(alias)

    val l = side(leftFilter, "l")
    val r = side(rightFilter, "r")
    // project while the l/r qualifiers are still resolvable — the memory
    // sink flattens the join output into positional duplicate columns
    val joined = project(
      l.join(r, col(s"l.$keyCol") === col(s"r.$keyCol") && rangeCondition(l, r), joinType))

    val tag = if (joinType == "inner") "ssjoin" else "ssouter"
    val q = runStream(
      joined, checkpointIn(workDir, tag), Sink.Memory,
      flush = sentinelPred.map(_ => () => ()))
    sentinelPred.fold(spark.table(q.name))(pred => spark.table(q.name).filter(!pred))
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
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import spark.implicits._

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

    val stream = fileStream(spark, keyedValueSchema, sourceDir)
      .as[KeyedValue]
      .groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
    spark.table(
      runStream(stream.toDF(), checkpointIn(workDir, "fmgws"), Sink.Memory).name)
  }

  /** The one `transformWithState` processor: per key, one value state
    * that each micro-batch's rows fold into, taken in `order` and
    * applied by `step`, from `zero(key)` for a key not seen before; it
    * emits the new state once per micro-batch that touched the key.
    */
  private final class FoldProcessor[K, I, S](
      zero: K => S,
      order: Iterator[I] => Seq[I],
      step: (S, I) => S)(implicit encoder: Encoder[S])
      extends StatefulProcessor[K, I, S] {
    @transient private var state: ValueState[S] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[S]("fold", encoder, TTLConfig.NONE)
    override def handleInputRows(key: K, rows: Iterator[I], timerValues: TimerValues): Iterator[S] = {
      val next = order(rows).foldLeft(Option(state.get()).getOrElse(zero(key)))(step)
      state.update(next)
      Iterator.single(next)
    }
  }

  /** A micro-batch's events in FULL-precision time order: getTime
    * truncates to milliseconds, but the batch oracles sort struct(ts, …)
    * at microsecond precision (Testdata events carry micros) —
    * same-millisecond events must fold in the same order or
    * order-sensitive state (EWMA) diverges from the batch hash. getNanos
    * carries the full sub-second fraction, so (getTime, getNanos, id) is
    * total and consistent with Spark's timestamp ordering.
    */
  private def inEventOrder[E](tsAndId: E => (java.sql.Timestamp, Long))(rows: Iterator[E]): Seq[E] =
    rows.toVector.sortBy { e =>
      val (ts, id) = tsAndId(e)
      (ts.getTime, ts.getNanos.toLong, id)
    }

  /** [[runRunningMaxWithState]]'s semantics on Spark 4's
    * `transformWithState` arbitrary-state API — the successor to
    * `flatMapGroupsWithState`: explicit named state variables on a
    * [[org.apache.spark.sql.streaming.StatefulProcessorHandle]] (here
    * one `ValueState[RunningMax]`), per-variable TTL, timers, and
    * independent state evolution. The API requires the RocksDB state
    * store provider, which [[runStream]] pins for the query's lifetime.
    * StreamingStateSpec pins output parity with the
    * flatMapGroupsWithState form.
    */
  def runRunningMaxTransformWithState(
      spark: SparkSession,
      sourceDir: String,
      workDir: String): DataFrame = {
    import spark.implicits._
    val stream = fileStream(spark, keyedValueSchema, sourceDir)
      .as[KeyedValue]
      .groupByKey(_.k)
      .transformWithState(
        new FoldProcessor[String, KeyedValue, RunningMax](
          k => RunningMax(k, Double.MinValue, 0L),
          // one step per micro-batch, its maximum, so `updates` counts
          // batches as the flatMapGroupsWithState form does
          rows => Seq(rows.maxBy(_.v)(Ordering.Double.TotalOrdering)),
          (s, e) => RunningMax(s.k, math.max(s.running_max, e.v), s.updates + 1)),
        TimeMode.None(),
        OutputMode.Append())
    val q = runStream(
      stream.toDF(), checkpointIn(workDir, "tws"), Sink.Memory, transformWithState = true)
    spark.table(q.name)
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
    * deterministic). The sink is foreachBatch, not a memory sink: the
    * second wave's run RESUMES from the checkpoint, which the memory
    * sink refuses to do.
    */
  def runStreamingEwma(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      checkpoint: String,
      outDir: String): Unit = {
    import spark.implicits._
    val stream = fileStream(spark, schema, sourceDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[EwmaEvent]
      .groupByKey(_.user_id)
      .transformWithState(
        new FoldProcessor[Long, EwmaEvent, EwmaState](
          k => EwmaState(k, 0L, 0.0),
          inEventOrder[EwmaEvent](e => (e.ts, e.event_id)),
          (acc, e) => EwmaState(
            acc.user_id,
            acc.n_events + 1,
            if (acc.n_events == 0L) e.value else 0.5d * e.value + 0.5d * acc.ewma)),
        TimeMode.None(),
        OutputMode.Append())
    runStream(
      stream.toDF(), checkpoint,
      Sink.ForeachBatch((batch, _) => batch.write.mode("append").parquet(outDir)),
      transformWithState = true)
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
    import spark.implicits._
    val sent = 4102444800L
    val stream = fileStream(spark, schema, sourceDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .filter(col("event_type").isin("signup", "click", "purchase"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .transformWithState(
        new FoldProcessor[Long, FunnelEvent, FunnelState](
          k => FunnelState(k, 0L, sent, sent, sent),
          inEventOrder[FunnelEvent](e => (e.ts, e.event_id)),
          (acc, e) => {
            val t = e.ts.getTime / 1000L // second truncation = the batch fold's unix_timestamp
            val upd = e.event_type match {
              case "signup" if acc.s == sent => acc.copy(s = t)
              case "click" if acc.s < sent && acc.c == sent && t > acc.s => acc.copy(c = t)
              case "purchase" if acc.c < sent && acc.p == sent && t > acc.c => acc.copy(p = t)
              case _ => acc
            }
            upd.copy(n = acc.n + 1)
          }),
        TimeMode.None(),
        OutputMode.Append())
    runStream(
      stream.toDF(), checkpoint,
      Sink.ForeachBatch((batch, _) => batch.write.mode("append").parquet(outDir)),
      transformWithState = true)
  }

  /** Stream-stream LEFT OUTER join: like [[runStreamStreamJoin]] but
    * unmatched left rows must also emit — which can only happen once
    * the watermark proves no future right row can match, so the caller
    * stages far-future sentinel rows (passing BOTH side filters, so
    * both per-stream watermarks advance) in the source before the run.
    * Both watermarks derive from the first batch's max event time, so
    * the NULL-padded rows emit in a later batch, which the second drain
    * pass observes. Sentinel-keyed output is filtered back out via
    * `sentinelPred`.
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
      sentinelPred: org.apache.spark.sql.Column,
      workDir: String,
      watermarkDelay: String = "1 minutes"): DataFrame =
    runStreamStreamJoinImpl(
      spark, sourceDir, schema, tsCol, leftFilter, rightFilter, keyCol,
      rangeCondition, project, workDir, watermarkDelay,
      joinType = "left_outer", sentinelPred = Some(sentinelPred))

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
    val stream = fileStream(spark, schema, sourceDir)
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
    spark.table(runStream(stream, checkpointIn(workDir, "dedup"), Sink.Memory).name)
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
      workDir: String): Unit =
    runStream(
      fileStream(spark, schema, sourceDir, Some(Int.MaxValue)),
      checkpointIn(workDir, "dedup-ingest", fresh = false),
      Sink.ForeachBatch { (batch, _) =>
        val withFp = batch.withColumn(
          "fp", graft.ext.TextAnalysis.fingerprintMd5(col(textCol)))
        val fresh =
          if (table.exists)
            withFp.join(table.read().select(col("fp")), Seq("fp"), "left_anti")
          else withFp
        // an all-duplicate batch publishes no version; the row count rides
        // the write job, so the anti-join runs once per micro-batch
        table.append(fresh, skipIfEmpty = true)
      },
      availableNow = true)

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
    val checkpoint = checkpointIn(workDir, "txn-append", fresh = false)
    val id = writerId.getOrElse(checkpoint)
    runStream(
      fileStream(spark, schema, sourceDir, maxFilesPerTrigger),
      checkpoint,
      Sink.ForeachBatch((batch, batchId) => table.append(batch, txn = Some((id, batchId)))),
      availableNow = true)
  }

  /** Streaming upsert into a lakehouse table: each micro-batch is
    * SCD1-merged into the target through `foreachBatch` — the
    * stream-to-MERGE bridge Iceberg/Delta users rely on, expressed over
    * [[graft.tables.LakeTable]]. Idempotence note: replayed batches
    * re-merge the same rows, and SCD1 upsert is idempotent, so
    * at-least-once delivery still yields exactly-once table state. An
    * empty micro-batch publishes no version: `mergeScd1` counts the
    * source rows on its rewrite's own write job, so no batch pays a
    * separate emptiness probe.
    */
  def runStreamingUpsert(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      keyCols: Seq[String],
      table: graft.tables.LakeTable,
      workDir: String): Unit =
    runStream(
      fileStream(spark, schema, sourceDir),
      checkpointIn(workDir, "upsert", fresh = false),
      Sink.ForeachBatch((batch, _) => graft.tables.Merge.mergeScd1(table, batch, keyCols)),
      availableNow = true)

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
      watermarkDelay: String = "1 minutes"): DataFrame =
    runTwoHopStateful(
      spark, input, payloadSchema, tsCol, idCol, keyCol, workDir,
      stream => Candles.candles(stream, tsCol, idCol, keyCol, valueCol, windowDuration),
      watermarkDelay)

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
      watermarkDelay: String = "1 minutes"): DataFrame = {
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
    val obs = new org.apache.spark.sql.Observation(s"stage-max-${UUID.randomUUID()}")
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
    val bronzeSchema = ingestedSchema(spark, payloadSchema, tsCol)

    runStatefulAgg(
      spark, bronze, bronzeSchema, tsCol, workDir, () => (),
      agg, keyCol, watermarkDelay, sentinelKey)
  }
}
