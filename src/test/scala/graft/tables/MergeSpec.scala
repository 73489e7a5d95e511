package graft.tables

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.operators.Ops

class MergeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val t1 = Timestamp.valueOf("2020-01-01 00:00:00")
  private val t2 = Timestamp.valueOf("2020-02-01 00:00:00")
  private val t3 = Timestamp.valueOf("2020-03-01 00:00:00")

  test("SCD2 three-way outcome: changed closes+inserts, unchanged skips, new inserts") {
    val table = LakeTable(spark, scratchDir("scd2"))
    val b1 = Seq(("k1", 10L), ("k2", 20L)).toDF("key", "shares")
    Merge.mergeScd2(table, b1, Seq("key"), Seq("shares"), t1)

    val b2 = Seq(("k1", 11L), ("k2", 20L), ("k3", 30L)).toDF("key", "shares")
    Merge.mergeScd2(table, b2, Seq("key"), Seq("shares"), t2)

    val rows = table.read().orderBy("key", "start_timestamp").collect()
    val asTuples = rows.map(r =>
      (r.getAs[String]("key"), r.getAs[Long]("shares"),
        r.getAs[Timestamp]("start_timestamp"), Option(r.getAs[Timestamp]("end_timestamp")),
        r.getAs[Int]("is_current"))).toSeq
    assert(asTuples == Seq(
      ("k1", 10L, t1, Some(t2), 0), // closed old version
      ("k1", 11L, t2, None, 1),     // new open version
      ("k2", 20L, t1, None, 1),     // unchanged -> untouched, no duplicate
      ("k3", 30L, t2, None, 1)))    // brand-new key
  }

  test("SCD2 invariants: replay is a no-op; ≤1 current row per key; null-safe tracking") {
    val table = LakeTable(spark, scratchDir("scd2b"))
    val b = Seq(("k1", Some(1L)), ("k2", None)).toDF("key", "shares")
    Merge.mergeScd2(table, b, Seq("key"), Seq("shares"), t1)
    val v1 = table.latestVersion().get
    Merge.mergeScd2(table, b, Seq("key"), Seq("shares"), t2) // identical replay
    assert(table.read().count() == 2) // no new versions (null-safe compare on None)
    // NULL -> value transition is a real change
    Merge.mergeScd2(table, Seq(("k2", Some(5L))).toDF("key", "shares"), Seq("key"), Seq("shares"), t3)
    val k2 = table.read().filter($"key" === "k2").orderBy("start_timestamp").collect()
    assert(k2.length == 2 && k2(0).getAs[Int]("is_current") == 0 && k2(1).getAs[Int]("is_current") == 1)
    val perKeyCurrent = table.read().filter($"is_current" === 1)
      .groupBy("key").count().agg(max("count")).head().getLong(0)
    assert(perKeyCurrent == 1L)
    assert(v1 >= 0)
  }

  test("SCD1 upsert: matched rows replaced, unmatched survive, new keys insert") {
    val table = LakeTable(spark, scratchDir("scd1"))
    Merge.mergeScd1(table, Seq(("a", 1), ("b", 2)).toDF("key", "v"), Seq("key"))
    Merge.mergeScd1(table, Seq(("b", 99), ("c", 3)).toDF("key", "v"), Seq("key"))
    val out = table.read().orderBy("key").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(out == Seq(("a", 1), ("b", 99), ("c", 3)))
  }

  test("SCD1 evolve: added columns NULL-fill survivors; dropped columns retained on matches, NULL on inserts") {
    val table = LakeTable(spark, scratchDir("scd1evolve"))
    Merge.mergeScd1Evolve(
      table, Seq(("a", 1, "na"), ("b", 2, "nb")).toDF("key", "v", "name"), Seq("key"))
    // drifted source: no `name`, new `tag`
    Merge.mergeScd1Evolve(
      table, Seq(("b", 99, "tb"), ("c", 3, "tc")).toDF("key", "v", "tag"), Seq("key"))
    val out = table.read()
      .select($"key", $"v", $"name", $"tag")
      .as[(String, Int, Option[String], Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(out == Seq(
      ("a", 1, Some("na"), None), // untouched: keeps name, NULL new col
      ("b", 99, Some("nb"), Some("tb")), // matched: source v+tag, retained name
      ("c", 3, None, Some("tc")))) // inserted: no name to retain
    // identical-schema second merge still behaves as plain SCD1
    Merge.mergeScd1Evolve(
      table, Seq(("a", 7, "NA", "ta")).toDF("key", "v", "name", "tag"), Seq("key"))
    val a = table.read().filter($"key" === "a")
      .select($"v", $"name", $"tag").as[(Int, String, String)].head()
    assert(a == ((7, "NA", "ta")))
  }

  /** Commit dir names under the table's `data/` (none when it is absent). */
  private def dataDirs(t: LakeTable): Set[String] = {
    val d = Paths.get(t.root, "data")
    if (!Files.isDirectory(d)) Set.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }
  }

  /** `merge` publishes no version and leaves no dir behind. The empty
    * source is decided from the count the write job observed: were that
    * observation lost, the write would fall back (after its 30 s wait)
    * to publishing the rewrite, and the version check would fail.
    */
  private def assertPublishesNothing(t: LakeTable, what: String)(merge: => Long): Unit = {
    val (version, dirs) = (t.latestVersion(), dataDirs(t))
    val returned = merge
    assert(t.latestVersion() == version, s"$what published a version")
    assert(dataDirs(t) == dirs, s"$what left ${dataDirs(t) -- dirs} under data/")
    assert(returned == version.getOrElse(-1L))
  }

  test("an empty source publishes no version and leaves no data dir, on a table or a missing one") {
    val emptyLocal = Seq.empty[(String, Long)].toDF("key", "shares")
    val scanned = scratchDir("empty-src") + "/src"
    Seq(("k9", 90L)).toDF("key", "shares").write.parquet(scanned)
    // a source that is empty only once its files are read
    val emptyScan = spark.read.parquet(scanned).filter($"shares" < 0)
    val b1 = Seq(("k1", 10L), ("k2", 20L)).toDF("key", "shares")
    Seq("local" -> emptyLocal, "scan" -> emptyScan).foreach { case (kind, empty) =>
      val scd2 = LakeTable(spark, scratchDir("empty-scd2"))
      Merge.mergeScd2(scd2, b1, Seq("key"), Seq("shares"), t1)
      val scd1 = LakeTable(spark, scratchDir("empty-scd1"))
      Merge.mergeScd1(scd1, b1, Seq("key"))
      assertPublishesNothing(scd2, s"SCD2 ($kind) on a table")(
        Merge.mergeScd2(scd2, empty, Seq("key"), Seq("shares"), t2))
      assertPublishesNothing(scd1, s"SCD1 ($kind) on a table")(Merge.mergeScd1(scd1, empty, Seq("key")))
      assert(scd2.read().count() == 2 && scd1.read().count() == 2)

      val missing2 = LakeTable(spark, scratchDir("empty-missing2") + "/t")
      assertPublishesNothing(missing2, s"SCD2 ($kind) on a missing table")(
        Merge.mergeScd2(missing2, empty, Seq("key"), Seq("shares"), t2))
      val missing1 = LakeTable(spark, scratchDir("empty-missing1") + "/t")
      assertPublishesNothing(missing1, s"SCD1 ($kind) on a missing table")(
        Merge.mergeScd1(missing1, empty, Seq("key")))
      assert(!missing2.exists && !missing1.exists)
    }
  }

  /** The executed plan of the parquet write that `f` issues (listener
    * delivery is async, so poll for it).
    */
  private def writePlanOf(f: => Unit): SparkPlan = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      def write() = plans.asScala.find(p => collect(p) { case w: DataWritingCommandExec => w }.nonEmpty)
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (write().isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      write().getOrElse(fail("no write execution captured"))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Joins, windows and file scans in an executed plan. */
  private def shape(plan: SparkPlan): (Int, Int, Int) = (
    collect(plan) { case j: BaseJoinExec => j }.size,
    collect(plan) { case w: WindowExec => w }.size,
    collect(plan) { case s: FileSourceScanExec => s }.size)

  test("plan pin: a whole-table merge runs one join and reads each input once") {
    // parquet inputs, so every read of the target or the source is a file scan
    def parquet(rows: DataFrame, tag: String): DataFrame = {
      val path = scratchDir(tag) + "/src"
      rows.write.parquet(path)
      spark.read.parquet(path)
    }
    val raw = parquet(Seq(("k1", 11L, 2), ("k1", 12L, 1), ("k2", 20L, 1), ("k3", 30L, 1))
      .toDF("key", "shares", "seq"), "pin-src")
    val deduped = Ops.deduplicate(raw, Seq("key"), "seq").drop("seq")

    val scd2 = LakeTable(spark, scratchDir("pin-scd2"))
    Merge.mergeScd2(scd2, Seq(("k1", 10L), ("k2", 20L)).toDF("key", "shares"), Seq("key"), Seq("shares"), t1)
    val plan2 = writePlanOf(Merge.mergeScd2(scd2, deduped, Seq("key"), Seq("shares"), t2))
    assert(shape(plan2) == ((1, 1, 2)), s"SCD2 (joins, windows, scans) = ${shape(plan2)}:\n$plan2")
    val rows2 = scd2.read().select("key", "shares", "is_current").as[(String, Long, Int)].collect().sorted.toSeq
    assert(rows2 == Seq(("k1", 10L, 0), ("k1", 11L, 1), ("k2", 20L, 1), ("k3", 30L, 1)))

    val scd1 = LakeTable(spark, scratchDir("pin-scd1"))
    Merge.mergeScd1(scd1, Seq(("k1", 10L), ("k4", 40L)).toDF("key", "shares"), Seq("key"))
    val plan1 = writePlanOf(Merge.mergeScd1(scd1, raw.drop("seq").filter($"key" =!= "k1"), Seq("key")))
    assert(shape(plan1) == ((1, 0, 2)), s"SCD1 (joins, windows, scans) = ${shape(plan1)}:\n$plan1")
    val rows1 = scd1.read().as[(String, Long)].collect().sorted.toSeq
    assert(rows1 == Seq(("k1", 10L), ("k2", 20L), ("k3", 30L), ("k4", 40L)))
  }
}
