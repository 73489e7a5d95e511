package pipebench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

import graft.streaming.StreamJobs

/** Seeded 1-minute price bars and their expected 15-minute candles.
  *
  * Bars are grouped into 15-minute slices, one staged file each. Staging
  * is out of event order twice over: rows inside a slice are shuffled,
  * and adjacent slices are swapped at random (at least once). A swap
  * displaces events by at most one slice, inside the 30-minute watermark
  * delay the workload runs with, so no row is late.
  */
final case class BarGen(seed: Long, symbols: Int, minutes: Int, missingRate: Double = 0.02) {
  val sliceMinutes = 15
  private val start = Timestamp.valueOf("2024-03-04 09:00:00").getTime

  final case class Bar(id: Long, tsMs: Long, symbol: String, price: Double)

  val bars: IndexedSeq[Bar] = {
    val rnd = new scala.util.Random(seed)
    val price = Array.fill(symbols)(20.0 + rnd.nextDouble() * 80.0)
    (0 until minutes).flatMap { m =>
      (0 until symbols).flatMap { s =>
        price(s) = math.max(1.0, price(s) * (1.0 + rnd.nextGaussian() * 0.002))
        if (rnd.nextDouble() < missingRate) None
        else Some(Bar(m.toLong * symbols + s, start + m * 60000L + rnd.nextInt(60) * 1000L,
          f"T$s%03d", math.round(price(s) * 100) / 100.0))
      }
    }
  }

  /** Slices in staging order, rows in staging order inside each. */
  val staged: IndexedSeq[IndexedSeq[Bar]] = {
    val rnd = new scala.util.Random(seed ^ 0x5EEDL)
    val slices = bars.groupBy(b => ((b.tsMs - start) / 60000L / sliceMinutes).toInt)
      .toIndexedSeq.sortBy(_._1).map(_._2)
    val order = slices.indices.toArray
    var swapped = false
    (0 until order.length - 1 by 2).foreach { i =>
      if (rnd.nextBoolean() || (!swapped && i + 3 >= order.length)) {
        val t = order(i); order(i) = order(i + 1); order(i + 1) = t
        swapped = true
      }
    }
    order.toIndexedSeq.map(i => rnd.shuffle(slices(i)))
  }

  /** Staging really is out of event order: some slice is staged before an
    * earlier one, and some slice's rows are not in event-time order.
    */
  def outOfOrder: (Boolean, Boolean) = {
    val slicesSwapped = staged.sliding(2).exists {
      case Seq(a, b) => b.map(_.tsMs).min < a.map(_.tsMs).max
      case _ => false
    }
    val rowsShuffled = staged.exists(s => s.map(_.tsMs).sliding(2).exists(p => p.size == 2 && p(1) < p(0)))
    (slicesSwapped, rowsShuffled)
  }

  final case class Candle(endMs: Long, open: Double, high: Double, low: Double,
      close: Double, volume: Double, n: Long)

  /** (symbol, window start ms) -> candle; open/close are the event-time
    * first/last bar with the bar id as tie-breaker.
    */
  lazy val expected: Map[(String, Long), Candle] = {
    val w = sliceMinutes * 60000L
    bars.groupBy(b => (b.symbol, Math.floorDiv(b.tsMs, w) * w)).map { case (k, bs) =>
      val byTime = bs.sortBy(b => (b.tsMs, b.id))
      k -> Candle(k._2 + w, byTime.head.price, bs.map(_.price).max, bs.map(_.price).min,
        byTime.last.price, bs.map(_.price).sum, bs.size.toLong)
    }
  }
}

/** `stream_candles`: stage the bars, drain them through the ingest hop one
  * file per micro-batch, then run the windowed-aggregation hop to 15-minute
  * candles. Per-micro-batch lifecycle (offset log, sink commit, planning,
  * state commit) dominates.
  */
object StreamWorkload {

  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("ts", TimestampType),
    StructField("symbol", StringType),
    StructField("price", DoubleType)))

  val sentinelKey = "__sentinel__"

  def generator(ctx: Ctx): BarGen =
    if (ctx.tiny) BarGen(ctx.seed, symbols = 5, minutes = 60)
    else BarGen(ctx.seed, symbols = 100, minutes = 75)

  /** Copy the staged files with their modification times, which set the
    * order in which the file source reads them.
    */
  def copyStaged(from: Path, to: Path): Unit = {
    Files.createDirectories(to.getParent)
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      Files.copy(p, to.resolve(from.relativize(p).toString), StandardCopyOption.COPY_ATTRIBUTES)
    }
    finally s.close()
  }

  def stage(ctx: Ctx, gen: BarGen, workDir: String): Unit = {
    val stageDir = s"$workDir/stage"
    def write(rows: Seq[Row]): Unit = ctx.spans("streaming.stage") {
      val df = ctx.spark.createDataFrame(rows.asJava, schema).coalesce(1)
      StreamJobs.stageEnvelope(df, Seq("symbol", "id"), stageDir)
    }
    gen.staged.foreach(s => write(s.map(b => Row(b.id, new Timestamp(b.tsMs), b.symbol, b.price))))
    // far-future sentinel: its watermark flushes every real window
    write(Seq(Row(-1L, new Timestamp(gen.bars.map(_.tsMs).max + 30L * 86400000L), sentinelKey, 0.0)))
  }

  /** Compare streamed candles with the plain-Scala expectation. */
  def verify(out: Outcome, gen: BarGen, rows: Seq[Row], tag: String): Unit = {
    val got = rows.map { r =>
      (r.getAs[String]("symbol"), r.getAs[Timestamp]("start_window").getTime) -> gen.Candle(
        r.getAs[Timestamp]("end_window").getTime, r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"), r.getAs[Double]("volume"), r.getAs[Long]("n_rows"))
    }
    out.check(got.size == got.map(_._1).distinct.size, s"$tag duplicate candle keys in the stream output")
    val want = gen.expected
    val gotMap = got.toMap
    def same(a: gen.Candle, b: gen.Candle): Boolean =
      a.endMs == b.endMs && a.open == b.open && a.high == b.high && a.low == b.low &&
        a.close == b.close && a.n == b.n &&
        math.abs(a.volume - b.volume) <= 1e-9 * math.max(math.abs(a.volume), math.abs(b.volume))
    val bad = (want.keySet ++ gotMap.keySet).toSeq.sorted
      .filter(k => !(gotMap.contains(k) && want.contains(k) && same(gotMap(k), want(k))))
    out.check(bad.isEmpty,
      s"$tag ${bad.size} candles differ from the expected set (${gotMap.size} got, ${want.size} want), e.g. " +
        bad.take(2).map(k => s"$k got ${gotMap.get(k)} want ${want.get(k)}").mkString("; "))
  }

  /** The first candle with its high raised by one tick. */
  def corruptOne(rows: Seq[Row]): Seq[Row] = rows match {
    case r +: rest =>
      val i = r.fieldIndex("high")
      new GenericRowWithSchema(r.toSeq.updated(i, r.getDouble(i) + 0.01).toArray, r.schema) +: rest
    case _ => rows
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val gen = generator(ctx)
    val (slicesSwapped, rowsShuffled) = gen.outOfOrder
    out.check(slicesSwapped, "staging plan has no slice staged before an earlier one")
    out.check(rowsShuffled, "staging plan has no slice with rows out of event order")

    val staged = ctx.work.resolve("staged")
    val ingest = mutable.ArrayBuffer.empty[Double]
    val agg = mutable.ArrayBuffer.empty[Double]
    /** Drain a copy of the staged files through both hops into fresh
      * checkpoints and sinks, then check the candles.
      */
    def drain(name: String, timed: Boolean): Unit = {
      def span[T](inner: String)(body: => T): T =
        if (timed) ctx.spans(Outcome.Timed)(ctx.spans(inner)(body)) else ctx.spans(inner)(body)
      val workDir = ctx.work.resolve(name).toString
      ctx.spans("untimed.copy")(copyStaged(staged.resolve("stage"), Paths.get(workDir, "stage")))
      val (bronze, ingestS) = Stats.seconds(span("streaming.ingest") {
        StreamJobs.runIngest(ctx.spark, schema, "ts", workDir, maxFilesPerTrigger = Some(1))
      })
      out.attempted += 1
      val (candles, aggS) = Stats.seconds(span("streaming.agg") {
        val bronzeSchema = ctx.spark.read.parquet(bronze).schema
        StreamJobs.runWindowedAgg(ctx.spark, bronze, bronzeSchema, "ts", "id", "symbol", "price",
          workDir, () => (), windowDuration = "15 minutes", watermarkDelay = "30 minutes",
          sentinelKey = sentinelKey)
      })
      out.attempted += 1
      if (timed) {
        ingest += ingestS
        agg += aggS
      }
      val rows = candles.collect().toSeq
      verify(out, gen, if (ctx.corrupt) corruptOne(rows) else rows, s"$name:")
    }

    // set-up: stage once, then one untimed drain, which pays query
    // planning and code generation for the first time in this JVM
    out.setupS = Stats.seconds {
      ctx.spans("setup.stage")(stage(ctx, gen, staged.toString))
      ctx.spans("setup.warmup")(drain("warm-up", timed = false))
    }._2
    // progress reports of the warm-up drain are left out of the trace metrics
    val warmupBatches = ctx.tracer.map { t => t.drain(); t.batches.size }.getOrElse(0)
    // two timed drains, their median reported: a single one follows the
    // host's speed of the moment
    val cycles = Cycles.run(ctx.seconds, ctx.minCycles(2))(n => drain(s"cycle-$n", timed = true))

    // a cycle: from the last staged event to its candle, through both
    // hops; a step: one staged file drained by the ingest hop
    val freshness = ingest.zip(agg).map { case (i, a) => i + a }
    val files = gen.staged.size + 1
    out.cycles = cycles
    out.e2e += Metric("cycle_s", Stats.median(freshness), "s")
    out.e2e += Metric("step_p50_s", Stats.median(ingest.map(_ / files)), "s")
    out.info ++= Seq(
      "cycles" -> cycles, "cycle_s" -> freshness.toSeq, "symbols" -> gen.symbols, "minutes" -> gen.minutes,
      "input_rows" -> gen.bars.size, "staged_files" -> files,
      "expected_candles" -> gen.expected.size)

    if (ctx.traced) {
      out.detail += Metric("stream.rows_per_s", Stats.median(freshness.map(gen.bars.size / _)), "1/s")
      out.detail += Metric("streaming.stage_ms",
        Stats.median(ctx.spans.named("streaming.stage").map(_.durationMs)), "ms")
      out.detail += Metric("streaming.ingest_s", Stats.median(ingest), "s")
      out.detail += Metric("streaming.agg_s", Stats.median(agg), "s")
      ctx.tracer.foreach { t =>
        t.drain()
        out.detail ++= progressMetrics(t.batches.drop(warmupBatches), cycles, ingest.sum)
      }
    }
    out
  }

  /** Per-micro-batch split from the streaming progress log: batch count,
    * duration medians and lifecycle of the ingest hop, state figures of
    * the aggregation hop. `ingestS` is the summed ingest wall time.
    */
  def progressMetrics(batches: Seq[BatchProgress], cycles: Int, ingestS: Double): Seq[Metric] = {
    val (agg, ingest) = batches.partition(_.query.startsWith("agg_"))
    def med(key: String): Double = {
      val xs = ingest.flatMap(_.durations.get(key)).map(_.toDouble)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val triggerTotal = ingest.flatMap(_.durations.get("triggerExecution")).sum.toDouble
    Seq(
      Metric("streaming.batches", ingest.size.toDouble / cycles, "count"),
      Metric("streaming.trigger_ms", med("triggerExecution"), "ms"),
      Metric("streaming.wal_commit_ms", med("walCommit"), "ms"),
      Metric("streaming.add_batch_ms", med("addBatch"), "ms"),
      Metric("streaming.query_planning_ms", med("queryPlanning"), "ms"),
      Metric("streaming.latest_offset_ms", med("latestOffset"), "ms"),
      Metric("streaming.get_batch_ms", med("getBatch"), "ms"),
      Metric("streaming.lifecycle_ms", (ingestS * 1000 - triggerTotal) / cycles, "ms"),
      Metric("streaming.state_rows", if (agg.isEmpty) 0.0 else agg.map(_.stateRows).max.toDouble, "count"),
      Metric("streaming.state_commit_ms", agg.map(_.stateCommitMs).sum.toDouble / cycles, "ms"),
      Metric("streaming.state_memory_bytes",
        if (agg.isEmpty) 0.0 else agg.map(_.stateMemoryBytes).max.toDouble, "bytes"))
  }
}
