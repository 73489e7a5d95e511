package pipebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Seeded input for the batch ELT workload, plus the plain-Scala model of
  * what the DAG must produce from it.
  *
  * Day 1 is a full company snapshot; every later day is again a full
  * snapshot in which about `changeRate` of the listed symbols carry a new
  * `issued_shares`, about `newRate` new symbols appear, and a few rows are
  * dirty: padded names (valid after trimming), non-positive shares and
  * null names (both dropped by the silver cleaning). A symbol appears at
  * most once per day, so latest-per-key de-duplication is unambiguous.
  *
  * The industry file is a fixed 4-level ICB tree of `industryCodes`
  * codes, re-loaded every day, with some padded English names.
  */
final case class CompanyGen(
    seed: Long,
    days: Int,
    symbols: Int,
    changeRate: Double = 0.03,
    newRate: Double = 0.005,
    industryCodes: Int = 400) {
  require(days >= 1 && symbols >= 1 && industryCodes >= 4)

  /** One company row as written to the day's CSV (`name` None = empty field). */
  final case class Row(symbol: String, name: Option[String], icb: Seq[String], shares: Long)

  /** ICB codes per level: level 1 is the coarsest. Level sizes follow the
    * real tree's fan-out (roughly 1 : 3 : 8 : 28).
    */
  val levelSizes: Seq[Int] = {
    val l1 = math.max(1, industryCodes / 40)
    val l2 = math.max(1, industryCodes * 3 / 40)
    val l3 = math.max(1, industryCodes / 5)
    Seq(l1, l2, l3, industryCodes - l1 - l2 - l3)
  }

  /** (code, level, vietnamese-style name, english name as written). */
  val industry: Seq[(String, Int, String, String)] = {
    val rnd = new scala.util.Random(seed ^ 0x1CB1CBL)
    levelSizes.zipWithIndex.flatMap { case (n, li) =>
      val level = li + 1
      (0 until n).map { i =>
        val code = f"$level%d$i%03d"
        val en = s"Industry $level-$i"
        val written = if (rnd.nextDouble() < 0.05) s"  $en " else en
        (code, level, s"Nganh $level-$i", written)
      }
    }
  }

  private def codesAt(level: Int): Seq[String] =
    industry.filter(_._2 == level).map(_._1)

  /** Every day's rows, generated once from the seed. */
  val dayRows: IndexedSeq[IndexedSeq[Row]] = {
    val rnd = new scala.util.Random(seed)
    val levels = (1 to 4).map(codesAt)
    val shares = mutable.LinkedHashMap.empty[String, Long]
    val icbOf = mutable.HashMap.empty[String, Seq[String]]
    var nextId = 0
    def listNew(): Unit = {
      val sym = f"S$nextId%05d"
      nextId += 1
      shares(sym) = 1000000L + (rnd.nextDouble() * 5e9).toLong
      icbOf(sym) = levels.map(l => l(rnd.nextInt(l.size)))
    }
    (1 to symbols).foreach(_ => listNew())
    (1 to days).map { day =>
      if (day > 1) {
        shares.keys.toSeq.foreach { s =>
          if (rnd.nextDouble() < changeRate)
            shares(s) = 1000000L + (rnd.nextDouble() * 5e9).toLong
        }
        val fresh = math.max(1, math.round(shares.size * newRate).toInt)
        (1 to fresh).foreach(_ => listNew())
      }
      shares.toIndexedSeq.map { case (sym, n) =>
        val base = s"Company $sym Joint Stock"
        val u = rnd.nextDouble()
        if (u < 0.010) Row(sym, Some(s"   $base  "), icbOf(sym), n)
        else if (u < 0.015) Row(sym, Some(base), icbOf(sym), -rnd.nextInt(1000).toLong)
        else if (u < 0.018) Row(sym, None, icbOf(sym), n)
        else Row(sym, Some(base), icbOf(sym), n)
      }
    }
  }

  def companyRowCount: Long = dayRows.map(_.size.toLong).sum

  /** Write day `day` (1-based) as the reference's company CSV. */
  def writeCompanyCsv(day: Int, path: Path): Unit = {
    val sb = new StringBuilder("symbol,organ_name,icb_code1,icb_code2,icb_code3,icb_code4,issue_share\n")
    dayRows(day - 1).foreach { r =>
      sb ++= r.symbol += ','
      r.name.foreach(n => sb += '"' ++= n += '"')
      r.icb.foreach(c => sb += ',' ++= c)
      sb += ',' ++= r.shares.toString += '\n'
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  def writeIndustryCsv(path: Path): Unit = {
    val sb = new StringBuilder("icb_code,level,icb_name,en_icb_name\n")
    industry.foreach { case (code, level, name, en) =>
      sb ++= code += ',' ++= level.toString += ',' ++= name += ',' += '"' ++= en += '"' += '\n'
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Expected silver/gold state after each day (index 0 = after day 1). */
  final case class DayState(totalRows: Long, current: Map[String, Long], goldRows: Long)

  /** The oracle: the silver cleaning rules, latest-per-key de-duplication
    * over the high-watermark increment, and SCD2 on `issued_shares`,
    * replayed in plain Scala over the generated rows.
    */
  lazy val expected: IndexedSeq[DayState] = {
    var current = Map.empty[String, Long]
    var total = 0L
    var gold = 0L
    var silverMaxDay = 0 // latest day whose rows landed in silver (0 = empty)
    (1 to days).map { day =>
      // bronze rows newer than silver's ingest watermark, cleaned, then
      // latest day wins per symbol
      val latest = mutable.LinkedHashMap.empty[String, (Int, Long)]
      ((silverMaxDay + 1) to day).foreach { d =>
        dayRows(d - 1).foreach { r =>
          if (r.name.isDefined && r.shares > 0) latest(r.symbol) = (d, r.shares)
        }
      }
      val inserts = latest.filter { case (s, (_, n)) => !current.get(s).contains(n) }
      if (inserts.nonEmpty) {
        current = current ++ inserts.map { case (s, (_, n)) => s -> n }
        total += inserts.size
        gold += inserts.size
        silverMaxDay = math.max(silverMaxDay, inserts.valuesIterator.map(_._1).max)
      }
      DayState(total, current, gold)
    }
  }

  /** code -> trimmed English name: silver industry is one row per code. */
  def expectedIndustry: Map[String, String] =
    industry.map { case (code, _, _, en) => code -> en.trim }.toMap
}
