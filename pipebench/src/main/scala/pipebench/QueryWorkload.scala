package pipebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}

import graft.SparkEntry

/** `query_mix`: fixed-order passes over part of `SparkEntry.queries` on
  * the testdata corpus. One untimed warm-up pass over a smaller corpus
  * (counted as set-up) loads classes, generates code and registers
  * functions for every query in the timed order; on the timed corpus the
  * same pass costs twice a timed pass. Then come the timed passes. Each query is run by materialising every output column
  * into an order-insensitive row-hash aggregate, which doubles as its
  * correctness digest against the recorded expectation.
  */
object QueryWorkload {

  /** Compute/exchange-bound paths: IVF nearest-neighbour search and
    * minhash near-duplicate detection.
    */
  val heavy: Seq[String] = Seq("q_similarity_ivf", "q_dedup_minhash")

  /** Sub-second queries from distinct modules: planning and function
    * registration dominate.
    */
  val light: Seq[String] = Seq(
    "q_text_stats", "q_json_path", "q_window_analytics", "q_time_travel", "q_count_pushdown")

  val order: Seq[String] = heavy ++ light

  final case class Digest(rows: Long, hash: String)

  /** Row count plus two order-insensitive hash aggregates over every
    * column (floating-point columns rounded to 6 decimals first, so that
    * summation order cannot change the digest).
    */
  def digest(df: DataFrame): Digest = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h1"), hash(cols: _*).as("h2"))
      .agg(count(lit(1)), sum(col("h1").cast(DecimalType(38, 0))), bit_xor(col("h2")))
      .head()
    val sum1 = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    val xor2 = if (r.isNullAt(2)) 0 else r.getInt(2)
    Digest(r.getLong(0), s"$sum1:$xor2")
  }

  def loadExpected(p: Path): Map[String, Digest] = {
    val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val entry = "\"(q_[a-z0-9_]+)\"\\s*:\\s*\\{\\s*\"rows\"\\s*:\\s*(\\d+)\\s*,\\s*\"digest\"\\s*:\\s*\"([^\"]*)\"".r
    entry.findAllMatchIn(text).map(m => m.group(1) -> Digest(m.group(2).toLong, m.group(3))).toMap
  }

  /** Recorded digests for one testdata directory: `<expected>/<dir name>.json`. */
  def expectedFile(expectedDir: Path, sfDir: String): Path =
    expectedDir.resolve(Paths.get(sfDir).getFileName.toString + ".json")

  /** Warm up over `warmDir`, then time passes over `sfDir`, checking every
    * digest against the recording in `expectedDir`.
    */
  def run(ctx: Ctx, sfDir: String, warmDir: String, expectedDir: Path): Outcome = {
    val out = new Outcome
    val dirs = Seq(warmDir, sfDir)
    dirs.foreach(d => require(Files.isDirectory(Paths.get(d)), s"testdata directory $d does not exist"))
    val fns = SparkEntry.queries
    val expected: Map[String, Map[String, Digest]] =
      dirs.map(d => d -> loadExpected(expectedFile(expectedDir, d))).toMap
    val seen = dirs.map(_ -> mutable.LinkedHashMap.empty[String, Digest]).toMap

    /** Run and digest one query over `dir`; the digest must match the
      * recording and every earlier pass of this run.
      */
    def runOne(dir: String, name: String, tag: String, timed: Boolean): Double = {
      def body = ctx.spans(s"query.$name")(digest(fns(name)(ctx.spark, dir)))
      val (d, s) = Stats.seconds(if (timed) ctx.spans(Outcome.Timed)(body) else body)
      out.attempted += 1
      seen(dir).get(name) match {
        case Some(prev) => out.check(d == prev, s"$tag $name digest changed between passes: $prev then $d")
        case None => seen(dir)(name) = d
      }
      out.check(expected(dir).get(name).contains(d), s"$tag $name got $d, expected ${expected(dir).get(name)}")
      // drop cached frames, stream state and garbage between queries
      ctx.spans("untimed.reset")(graft.Bench.resetSharedState(ctx.spark))
      s
    }

    out.setupS = Stats.seconds(ctx.spans("setup.warmup") {
      order.foreach(runOne(warmDir, _, "warm-up:", timed = false))
    })._2

    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    // the first timed pass still runs about a tenth slower than the next
    // (code keeps warming), so two are timed and their median reported
    val passes = Cycles.run(ctx.seconds, ctx.minCycles(2)) { n =>
      order.foreach { q =>
        perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += runOne(sfDir, q, s"pass $n:", timed = true)
      }
    }
    def groupSum(g: Seq[String]): Double =
      Stats.median((0 until passes).map(i => g.map(q => perQuery(q)(i)).sum))

    // a cycle: one pass over every query in the fixed order; a step: one query
    out.cycles = passes
    out.e2e += Metric("cycle_s", groupSum(order), "s")
    out.e2e += Metric("step_p50_s", Stats.median(perQuery.values.flatten), "s")
    val inputBytes = {
      val s = Files.list(Paths.get(sfDir))
      try s.iterator().asScala.map(p => Files.size(p)).sum
      finally s.close()
    }
    out.info ++= Seq("passes" -> passes, "sf_dir" -> sfDir, "warmup_dir" -> warmDir,
      "testdata_bytes" -> inputBytes, "query_rows" -> seen(sfDir).map { case (k, d) => k -> d.rows }.toMap)
    if (ctx.traced) {
      out.detail += Metric("query.heavy_s", groupSum(heavy), "s")
      out.detail += Metric("query.light_s", groupSum(light), "s")
      order.foreach(q => out.detail += Metric(s"query.${q}_s", Stats.median(perQuery(q)), "s"))
    }
    out
  }
}
