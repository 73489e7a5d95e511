package graft.tables

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{GreaterThan, IsNotNull}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The table form of `incrementalFrom` reads only the source's commit
  * dirs whose recorded range reaches past the watermark, and returns the
  * rows of the DataFrame form, row for row.
  */
class PrunedIncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def mk(s: String) = Timestamp.valueOf(s"2024-01-01 $s")

  /** A target whose `ts` watermark is 10:00, recorded in its manifest. */
  private def target(tsCol: String = "ts"): LakeTable = {
    val t = LakeTable(spark, scratchDir("inc-target"))
    t.append(Seq((0, mk("10:00:00"))).toDF("id", tsCol), statsCols = Seq(tsCol))
    t
  }

  private def rows(ids: (Int, String)*): DataFrame =
    ids.map { case (i, ts) => (i, Option(ts).map(mk)) }.toDF("id", "ts")

  /** The positions, in the source's manifest, of the dirs a read opens. */
  private def dirsRead(source: LakeTable, df: DataFrame): Seq[Int] = {
    val files = df.inputFiles.toSeq
    source.tip().get.commitDirs.zipWithIndex.collect {
      case (d, i) if files.exists(_.contains(d)) => i
    }
  }

  private def filterKind(df: DataFrame): String = {
    val conds = df.queryExecution.optimizedPlan.collect { case f: Filter => f.condition }
      .flatMap(_.collect {
        case _: GreaterThan => "literal"
        case _: IsNotNull => "not-null"
      })
    if (conds.contains("literal")) "literal" else conds.headOption.getOrElse("none")
  }

  /** The table form against the DataFrame form: same rows, and which
    * dirs it read and under which filter.
    */
  private def check(t: LakeTable, source: LakeTable, tsCol: String = "ts"): (Seq[Int], String) = {
    val pruned = t.incrementalFrom(source, tsCol)
    val want = t.incrementalFrom(source.read(), tsCol)
    assert(pruned.schema == want.schema)
    assert(pruned.collect().toSeq.sortBy(_.toString) == want.collect().toSeq.sortBy(_.toString))
    (dirsRead(source, pruned), filterKind(pruned))
  }

  test("dirs at or below the watermark are skipped; all above it read under IS NOT NULL") {
    val t = target()
    val s = LakeTable(spark, scratchDir("inc-above"))
    s.append(rows(1 -> "09:00:00", 2 -> "10:00:00"), statsCols = Seq("ts"))
    s.append(rows(3 -> "11:00:00", 4 -> "12:00:00"))
    assert(check(t, s) == (Seq(1), "not-null"))
  }

  test("a dir straddling the watermark keeps the literal filter") {
    val t = target()
    val s = LakeTable(spark, scratchDir("inc-straddle"))
    s.append(rows(1 -> "09:00:00", 2 -> "10:00:00"), statsCols = Seq("ts"))
    s.append(rows(3 -> "09:30:00", 4 -> "10:30:00"))
    s.append(rows(5 -> "11:00:00"))
    assert(check(t, s) == (Seq(1, 2), "literal"))
    assert(t.incrementalFrom(s, "ts").as[(Int, Timestamp)].collect().map(_._1).sorted.toSeq == Seq(4, 5))
  }

  test("a dir with no recorded range is read, under the literal filter") {
    val t = target()
    val s = LakeTable(spark, scratchDir("inc-nostats"))
    s.append(rows(1 -> "08:00:00", 2 -> "11:30:00")) // before statsCols were declared
    s.append(rows(3 -> "09:00:00"), statsCols = Seq("ts"))
    s.append(rows(4 -> "11:00:00"))
    assert(check(t, s) == (Seq(0, 2), "literal"))
  }

  test("NULL timestamps are dropped, as the strict > drops them") {
    val t = target()
    val s = LakeTable(spark, scratchDir("inc-nulls"))
    s.append(rows(1 -> "09:00:00"), statsCols = Seq("ts"))
    s.append(rows(2 -> null, 3 -> "11:00:00")) // range (11:00, 11:00): nulls ignored
    assert(check(t, s) == (Seq(1), "not-null"))
    s.append(rows(4 -> null, 5 -> null)) // all NULL: no range recorded
    assert(check(t, s) == (Seq(1, 2), "literal"))
    assert(t.incrementalFrom(s, "ts").collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("deletion vectors still mask rows of the dirs read") {
    val t = target()
    val s = LakeTable(spark, scratchDir("inc-dv"))
    s.append(rows(1 -> "09:00:00"), statsCols = Seq("ts"))
    s.append(rows(2 -> "11:00:00", 3 -> "12:00:00", 4 -> "13:00:00"))
    s.deleteWhereDV(col("id") === 3)
    assert(check(t, s) == (Seq(1), "not-null"))
    assert(t.incrementalFrom(s, "ts").collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 4))
  }

  test("a renamed watermark column prunes by its carried-over ranges") {
    val t = target("event_ts")
    val s = LakeTable(spark, scratchDir("inc-rename"))
    s.append(rows(1 -> "09:00:00"), statsCols = Seq("ts"))
    s.append(rows(2 -> "11:00:00"))
    s.alterRenameColumn("ts", "event_ts")
    s.append(Seq((3, mk("12:00:00"))).toDF("id", "event_ts"))
    assert(check(t, s, "event_ts") == (Seq(1, 2), "not-null"))
    assert(t.incrementalFrom(s, "event_ts").collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
  }

  test("an empty target reads the whole source; a watermark of another type prunes nothing") {
    val s = LakeTable(spark, scratchDir("inc-full"))
    s.append(rows(1 -> "09:00:00", 2 -> "11:00:00"), statsCols = Seq("ts"))
    val empty = LakeTable(spark, scratchDir("inc-empty"))
    assert(empty.incrementalFrom(s, "ts").count() == 2)
    val dated = LakeTable(spark, scratchDir("inc-dated"))
    dated.append(Seq((0, java.sql.Date.valueOf("2024-01-01"))).toDF("id", "ts"), statsCols = Seq("ts"))
    assert(check(dated, s) == (Seq(0), "literal"))
  }
}
