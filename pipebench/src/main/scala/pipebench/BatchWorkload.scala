package pipebench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.pipeline.BatchElt
import graft.tables.LakeTable

/** `batch_elt`: the reference DAG (raw_company, raw_industry →
  * processed_company SCD2, processed_industry SCD1 → dim_company) run once
  * per simulated day over a fresh lake, followed by a time-travel read of
  * silver.processed_company at every day. Few rows, long history: commit,
  * scan and planning overhead dominate.
  */
object BatchWorkload {

  val tasks: Seq[String] =
    Seq("raw_company", "raw_industry", "processed_company", "processed_industry", "dim_company")

  private val tables: Seq[(String, String)] = Seq(
    "bronze" -> "raw_company", "bronze" -> "raw_industry",
    "silver" -> "processed_company", "silver" -> "processed_industry", "gold" -> "dim_company")

  private val day0 = Timestamp.valueOf("2024-01-01 08:00:00").getTime

  def clock(day: Int): Timestamp = new Timestamp(day0 + (day - 1) * 86400000L)

  def generator(ctx: Ctx): CompanyGen =
    if (ctx.tiny) CompanyGen(ctx.seed, days = 3, symbols = 60, changeRate = 0.1, newRate = 0.05, industryCodes = 40)
    else CompanyGen(ctx.seed, days = 3, symbols = 2000)

  /** One pass of the DAG for `day`, each task timed as its own span. */
  def runDay(ctx: Ctx, lake: BatchElt.Lakehouse, input: Path, day: Int): Unit = {
    val s = ctx.spans
    val at = clock(day)
    val company = input.resolve(f"company-day$day%02d.csv").toString
    val industry = input.resolve("industry.csv").toString
    def task(name: String, deps: String*)(body: => Unit) =
      BatchElt.Task(name, deps)(() => s(s"pipeline.$name")(body))
    BatchElt.runDag(Seq(
      task("raw_company")(BatchElt.loadBronzeCsv(lake, company, "raw_company", at, s"day-$day")),
      task("raw_industry")(BatchElt.loadBronzeCsv(lake, industry, "raw_industry", at, s"day-$day")),
      task("processed_company", "raw_company")(BatchElt.processCompany(lake, at)),
      task("processed_industry", "raw_industry")(BatchElt.processIndustry(lake)),
      task("dim_company", "processed_company", "processed_industry")(BatchElt.buildDimCompany(lake))))
  }

  def writeInputs(gen: CompanyGen, input: Path): Unit = {
    (1 to gen.days).foreach(d => gen.writeCompanyCsv(d, input.resolve(f"company-day$d%02d.csv")))
    gen.writeIndustryCsv(input.resolve("industry.csv"))
  }

  /** Compare the lake against the generator's expected state. */
  def verify(out: Outcome, gen: CompanyGen, lake: BatchElt.Lakehouse, tag: String): Unit = {
    val want = gen.expected.last
    val silver = lake.table("silver", "processed_company").read()
    val silverRows = silver.count()
    out.check(silverRows == want.totalRows,
      s"$tag silver.processed_company rows $silverRows != expected ${want.totalRows}")
    val current = silver.filter(col("is_current") === 1)
      .select("symbol", "issued_shares").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    out.check(current.size == current.map(_._1).distinct.size,
      s"$tag silver.processed_company has a symbol with two current rows")
    val got = current.toMap
    val wrong = (got.keySet ++ want.current.keySet).toSeq.sorted
      .filter(k => got.get(k) != want.current.get(k))
    out.check(wrong.isEmpty,
      s"$tag current issued_shares differ for ${wrong.size} symbols, e.g. " +
        wrong.take(3).map(k => s"$k got ${got.get(k)} want ${want.current.get(k)}").mkString("; "))

    val industry = lake.table("silver", "processed_industry").read()
      .select("icb_code", "en_icb_name").collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    out.check(industry.size == industry.map(_._1).distinct.size && industry.toMap == gen.expectedIndustry,
      s"$tag silver.processed_industry is not one row per code with trimmed names " +
        s"(${industry.size} rows, ${industry.map(_._1).distinct.size} codes, want ${gen.expectedIndustry.size})")

    val goldRows = lake.table("gold", "dim_company").read().count()
    out.check(goldRows == want.goldRows, s"$tag gold.dim_company rows $goldRows != expected ${want.goldRows}")
  }

  /** Time-travel read of silver at every day: as-of-timestamp current rows
    * and as-of-version total rows, checked against the per-day oracle.
    */
  def readHistory(
      ctx: Ctx, out: Outcome, gen: CompanyGen, silver: LakeTable,
      commitMs: Seq[Long], versions: Seq[Long], tag: String): Unit =
    commitMs.indices.foreach { i =>
      val want = gen.expected(i)
      ctx.spans("tables.asof_read") {
        val cur = silver.readAsOfTimestamp(commitMs(i)).filter(col("is_current") === 1).count()
        val all = silver.read(Some(versions(i))).count()
        out.check(cur == want.current.size,
          s"$tag readAsOfTimestamp(day ${i + 1}) current rows $cur != expected ${want.current.size}")
        out.check(all == want.totalRows,
          s"$tag read(version ${versions(i)}) rows $all != expected ${want.totalRows}")
      }
    }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val gen = generator(ctx)
    val input = ctx.work.resolve("input")
    // set-up: generate and write the inputs, three times; the median is reported
    val setups = (1 to 3).map(_ => Stats.seconds(ctx.spans("setup.generate") {
      val g = generator(ctx)
      g.expected
      writeInputs(g, input)
    })._2)
    out.setupS = Stats.median(setups)

    val dagWalls = mutable.ArrayBuffer.empty[(Int, Double)]
    val totals = mutable.ArrayBuffer.empty[Double]
    val readPasses = mutable.ArrayBuffer.empty[Double]
    var lastLake: BatchElt.Lakehouse = null
    val cycles = Cycles.run(ctx.seconds) { n =>
      val lake = BatchElt.Lakehouse(ctx.spark, ctx.work.resolve(s"lake-$n").toString)
      val silver = lake.table("silver", "processed_company")
      val commitMs = mutable.ArrayBuffer.empty[Long]
      val versions = mutable.ArrayBuffer.empty[Long]
      val (_, total) = Stats.seconds(ctx.spans(Outcome.Timed) {
        (1 to gen.days).foreach { day =>
          val (_, wall) = Stats.seconds(ctx.spans("dag")(runDay(ctx, lake, input, day)))
          out.attempted += 1
          dagWalls += day -> wall
          commitMs += System.currentTimeMillis()
          versions += silver.latestVersion().getOrElse(-1L)
        }
      })
      totals += total
      ctx.spans("untimed.gc")(System.gc())
      readPasses += Stats.seconds(ctx.spans(Outcome.Timed)(ctx.spans("asof_read")(
        readHistory(ctx, out, gen, silver, commitMs.toSeq, versions.toSeq, s"cycle $n:"))))._2
      if (ctx.corrupt) {
        val victim = silver.read().filter(col("is_current") === 1).select("symbol").head().getString(0)
        silver.updateWhere(col("symbol") === victim && col("is_current") === 1,
          Map("issued_shares" -> (col("issued_shares") + 1)))
      }
      verify(out, gen, lake, s"cycle $n:")
      lastLake = lake
    }

    // a cycle: every day's DAG run over a fresh lake, then one time-travel
    // read of every day; a step: one day's DAG run (day 1 also pays
    // first-run code generation, so steps start at day 2)
    out.cycles = cycles
    out.e2e += Metric("cycle_s", Stats.median(totals.zip(readPasses).map { case (t, r) => t + r }), "s")
    out.e2e += Metric("step_p50_s", Stats.median(dagWalls.filter(_._1 >= 2).map(_._2)), "s")
    out.info ++= Seq(
      "cycles" -> cycles, "days" -> gen.days, "symbols_day1" -> gen.symbols,
      "company_rows" -> gen.companyRowCount, "industry_codes" -> gen.industry.size,
      "final_silver_rows" -> gen.expected.last.totalRows)

    if (ctx.traced) {
      out.detail += Metric("batch.dag_total_s", Stats.median(totals), "s")
      out.detail += Metric("batch.asof_read_s", Stats.median(readPasses), "s")
      tasks.foreach { t =>
        out.detail += Metric(s"pipeline.${t}_ms",
          Stats.median(ctx.spans.named(s"pipeline.$t").map(_.durationMs)), "ms")
      }
      out.detail += Metric("pipeline.history_slope_ms",
        Stats.slope(dagWalls.filter(_._1 >= 2).map { case (d, w) => (d.toDouble, w * 1000) }.toSeq), "ms")
      out.detail += Metric("tables.asof_read_ms",
        Stats.median(ctx.spans.named("tables.asof_read").map(_.durationMs)), "ms")
      out.detail ++= census(lastLake)
    }
    out
  }

  /** Lake census after the run: manifest versions, log bytes, the latest
    * manifests' size and the commit dirs they list, over the five tables.
    */
  def census(lake: BatchElt.Lakehouse): Seq[Metric] = {
    var versions, logBytes, latestBytes, liveDirs = 0L
    tables.foreach { case (layer, name) =>
      val t = lake.table(layer, name)
      val logDir = java.nio.file.Paths.get(t.root, "_graft_log")
      val manifests =
        if (!Files.isDirectory(logDir)) Seq.empty[Path]
        else {
          val s = Files.list(logDir)
          try s.iterator().asScala.filter(_.getFileName.toString.matches("v\\d+\\.json")).toSeq
          finally s.close()
        }
      versions += manifests.size
      logBytes += manifests.map(Files.size).sum
      manifests.sortBy(_.getFileName.toString).lastOption.foreach(p => latestBytes += Files.size(p))
      if (manifests.nonEmpty)
        liveDirs += t.snapshots().orderBy(col("version").desc).head().getAs[Int]("num_commit_dirs")
    }
    Seq(
      Metric("tables.versions", versions.toDouble, "count"),
      Metric("tables.log_bytes", logBytes.toDouble, "bytes"),
      Metric("tables.latest_manifest_bytes", latestBytes.toDouble, "bytes"),
      Metric("tables.live_commit_dirs", liveDirs.toDouble, "count"))
  }
}
