package graft.plans

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.tables.{Catalog, LakeTable, Merge}

class MergeSqlSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Commit dir names under the table's `data/`. */
  private def dataDirs(t: LakeTable): Set[String] = {
    val s = Files.list(Paths.get(t.root, "data"))
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  /** The lake table SQL names `lake.s.<name>`, under a fresh catalog
    * root attached as `lake`.
    */
  private def lakeTable(name: String): LakeTable = {
    val cat = Catalog(spark, scratchDir(name))
    cat.attachSqlCatalog()
    cat.table("s", name)
  }

  private def freshTarget(name: String, rows: Seq[(Int, String, Double)]): LakeTable = {
    val t = lakeTable(name)
    t.append(rows.toDF("k", "name", "bal"))
    t
  }

  test("MERGE INTO: UPDATE SET * / INSERT * matches the programmatic SCD1 merge") {
    val base = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0))
    val updates = Seq((2, "b2", 99.0), (9, "i", 1.0))
    val viaSql = freshTarget("t_msql1", base)
    updates.toDF("k", "name", "bal").createOrReplaceTempView("s_msql1")
    spark.sql(
      """MERGE INTO lake.s.t_msql1 t USING s_msql1 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val viaApi = freshTarget("mapi1", base)
    Merge.mergeScd1(viaApi, updates.toDF("k", "name", "bal"), Seq("k"))
    val got = viaSql.read().collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet
    val want = viaApi.read().collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == want, s"sql=$got api=$want")
    assert(got == Set((1, "a", 10.0), (2, "b2", 99.0), (3, "c", 30.0), (9, "i", 1.0)))
  }

  test("MERGE clause values are cast to the declared column types (store assignment)") {
    val t = lakeTable("t_mcast")
    t.append(Seq((1, 10), (2, 20)).toDF("k", "cnt"))
    Seq((2, 5), (3, 7)).toDF("k", "cnt").createOrReplaceTempView("s_mcast")
    // BIGINT-typed update and insert values on an INT column: store
    // assignment casts to the DECLARED type — before this rule the CASE
    // output widened to BIGINT and the commit died in SchemaDrift
    spark.sql(
      """MERGE INTO lake.s.t_mcast t USING s_mcast s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET cnt = t.cnt + CAST(s.cnt AS BIGINT)
        |WHEN NOT MATCHED THEN INSERT (k, cnt) VALUES (s.k, s.cnt * 2L)""".stripMargin)
    assert(t.read().schema("cnt").dataType == org.apache.spark.sql.types.IntegerType,
      t.read().schema.treeString)
    val got = t.read().collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got == Set((1, 10), (2, 25), (3, 14)), s"got $got")
    // star actions cast too: a LONG-columned source merged via SET * /
    // INSERT * must store as the target's INT
    Seq((3L, 100L), (4L, 40L)).toDF("k", "cnt").createOrReplaceTempView("s_mcast_star")
    spark.sql(
      """MERGE INTO lake.s.t_mcast t USING s_mcast_star s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(t.read().schema("cnt").dataType == org.apache.spark.sql.types.IntegerType)
    val got2 = t.read().collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got2 == Set((1, 10), (2, 25), (3, 100), (4, 40)), s"got $got2")
  }

  test("MERGE INTO: conditional UPDATE assignments, DELETE clause, conditional INSERT") {
    val t = freshTarget("t_msql2", Seq((1, "keep", 5.0), (2, "upd", 10.0), (3, "del", 15.0)))
    Seq((2, "u", 100.0), (3, "d", 0.0), (4, "newbig", 50.0), (5, "newsmall", 0.5))
      .toDF("k", "name", "bal").createOrReplaceTempView("s_msql2")
    spark.sql(
      """MERGE INTO lake.s.t_msql2 t USING s_msql2 s ON t.k = s.k
        |WHEN MATCHED AND s.bal = 0.0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET bal = s.bal + t.bal
        |WHEN NOT MATCHED AND s.bal > 1.0 THEN INSERT (k, name) VALUES (s.k, s.name)
        |""".stripMargin)
    val got = t.read().collect()
      .map(r => (r.getInt(0), r.getString(1), if (r.isNullAt(2)) null else r.getDouble(2)))
      .toSet
    // 1 untouched; 2 updated (bal summed, name kept); 3 deleted;
    // 4 inserted with bal NULL (unassigned); 5 filtered by insert cond
    assert(got == Set((1, "keep", 5.0), (2, "upd", 110.0), (4, "newbig", null)), s"got $got")
  }

  test("MERGE INTO: WHEN NOT MATCHED BY SOURCE delete/update — the full-sync pattern") {
    val t = freshTarget("t_mbys1",
      Seq((1, "stay", 5.0), (2, "upd", 10.0), (3, "gone-neg", -1.0), (4, "gone-pos", 7.0)))
    Seq((1, "stay2", 50.0), (2, "upd2", 20.0), (9, "new", 9.0))
      .toDF("k", "name", "bal").createOrReplaceTempView("s_mbys1")
    // 3 and 4 are absent from the source: 3 (bal<0) deleted, 4
    // deactivated by the second by-source clause (first-match-wins)
    spark.sql(
      """MERGE INTO lake.s.t_mbys1 t USING s_mbys1 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE AND t.bal < 0 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET name = 'inactive'
        |""".stripMargin)
    val got = t.read().collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set(
      (1, "stay2", 50.0), (2, "upd2", 20.0), (4, "inactive", 7.0), (9, "new", 9.0)), s"got $got")
  }

  test("MERGE INTO: by-source-only merge tolerates duplicate source matches (semi/anti)") {
    val t = freshTarget("t_mbys2", Seq((1, "a", 1.0), (2, "b", 2.0)))
    // key 1 appears TWICE in the source: with no matched action there is
    // no per-match rewrite, so no cardinality rule applies (Delta
    // semantics) — matched rows pass through once, absent rows delete
    Seq((1, "x", 0.0), (1, "y", 0.0)).toDF("k", "name", "bal")
      .createOrReplaceTempView("s_mbys2")
    spark.sql(
      """MERGE INTO lake.s.t_mbys2 t USING s_mbys2 s ON t.k = s.k
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got = t.read().collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((1, "a", 1.0)), s"got $got")
  }

  test("MERGE INTO: by-source clauses referencing the source fail loudly; SET * rejected") {
    val t = freshTarget("t_mbys3", Seq((1, "a", 1.0)))
    Seq((1, "x", 2.0)).toDF("k", "name", "bal").createOrReplaceTempView("s_mbys3")
    // a source reference in a by-source condition cannot resolve (by-source
    // clauses are evaluated over the target alone, before the join)
    val srcRef = intercept[Exception] {
      spark.sql(
        """MERGE INTO lake.s.t_mbys3 t USING s_mbys3 s ON t.k = s.k
          |WHEN NOT MATCHED BY SOURCE AND s.bal > 0 THEN DELETE""".stripMargin)
    }
    assert(
      srcRef.getMessage.toLowerCase.contains("resolve") ||
        srcRef.getMessage.toLowerCase.contains("cannot"),
      srcRef.getMessage)
    // `UPDATE SET *` in a by-source clause dies in Spark's own grammar
    // (there is no source row to copy); the parse-level require in
    // GraftMergeParser is defense-in-depth behind it
    val star = intercept[Exception] {
      spark.sql(
        """MERGE INTO lake.s.t_mbys3 t USING s_mbys3 s ON t.k = s.k
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *""".stripMargin)
    }
    assert(star.getMessage.contains("PARSE_SYNTAX_ERROR"), star.getMessage)
    // both failed statements left the table untouched
    val got = t.read().collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((1, "a", 1.0)), s"got $got")
  }

  test("MERGE INTO: by-source values cast to declared types; cardinality still enforced with matched actions") {
    val t = lakeTable("t_mbys4")
    t.append(Seq((1, 10), (2, 20)).toDF("k", "cnt"))
    Seq((1, 5)).toDF("k", "cnt").createOrReplaceTempView("s_mbys4")
    // BIGINT-typed by-source assignment on an INT column → store-assigned
    spark.sql(
      """MERGE INTO lake.s.t_mbys4 t USING s_mbys4 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET cnt = s.cnt
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET cnt = t.cnt + CAST(1 AS BIGINT)
        |""".stripMargin)
    assert(t.read().schema("cnt").dataType == org.apache.spark.sql.types.IntegerType)
    val got = t.read().collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got == Set((1, 5), (2, 21)), s"got $got")
    // with a matched action present the cardinality rule applies —
    // duplicates must still fail loudly
    Seq((1, 7), (1, 8)).toDF("k", "cnt").createOrReplaceTempView("s_mbys4_dup")
    val dirs = dataDirs(t)
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO lake.s.t_mbys4 t USING s_mbys4_dup s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("multiple source rows"), e.getMessage)
    assert(t.read().collect().map(r => (r.getInt(0), r.getInt(1))).toSet == Set((1, 5), (2, 21)))
    assert(dataDirs(t) == dirs, s"the failed merge left ${dataDirs(t) -- dirs} under data/")
  }

  test("MERGE INTO: inline subquery source (USING (SELECT ...)) works") {
    val t = freshTarget("t_msub", Seq((1, "a", 10.0), (2, "b", 20.0)))
    Seq((1, "a9", 90.0), (2, "bx", 5.0), (9, "i", 1.0), (10, "j", 0.5))
      .toDF("k", "name", "bal").createOrReplaceTempView("s_msub_raw")
    // the source is an arbitrary query, aliased — filters + projections
    // resolve inside it, and SET */INSERT * see its output columns
    spark.sql(
      """MERGE INTO lake.s.t_msub t
        |USING (SELECT k, name, bal * 2 AS bal FROM s_msub_raw WHERE bal >= 1.0) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = t.read().collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((1, "a9", 180.0), (2, "bx", 10.0), (9, "i", 2.0)), s"got $got")
  }

  test("plan pin: every clause combination is one job with one FULL OUTER join") {
    // a parquet source, so every read of the target or the source is a file scan
    val srcPath = scratchDir("mpin-src") + "/s"
    Seq((1, "a2", 9.0), (3, "c", 3.0)).toDF("k", "name", "bal").write.parquet(srcPath)
    spark.read.parquet(srcPath).createOrReplaceTempView("s_mpin")
    val clauses = Seq(
      "WHEN MATCHED THEN UPDATE SET *",
      "WHEN NOT MATCHED THEN INSERT *",
      "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    val combos = (1 to clauses.size).flatMap(clauses.combinations)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val defaultThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.listenerManager.register(listener)
    try {
      for (thr <- Seq(defaultThr, "-1"); combo <- combos) {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        val t = freshTarget("t_mpin", Seq((1, "a", 1.0), (2, "b", 2.0)))
        val statement = s"MERGE INTO lake.s.t_mpin t USING s_mpin s ON t.k = s.k ${combo.mkString(" ")}"
        // actionsRunBy returns once every execution before its end is reported
        actionsRunBy(())
        plans.clear()
        val actions = actionsRunBy(spark.sql(statement))
        val what = s"threshold $thr, $statement"
        // the statement's own command and its write: no other job runs
        assert(actions == Seq("command", "command"), s"$what ran $actions")
        val plan = plans.asScala
          .find(p => collect(p) { case w: DataWritingCommandExec => w }.nonEmpty)
          .getOrElse(fail(s"$what: no write execution captured"))
        val joins = collect(plan) { case j: BaseJoinExec => j.joinType }
        assert(joins == Seq(FullOuter), s"$what joins $joins:\n$plan")
        assert(collect(plan) { case c: InMemoryTableScanExec => c }.isEmpty, s"$what:\n$plan")
        val scans = collect(plan) { case s: FileSourceScanExec => s }.size
        assert(scans == 2, s"$what scans $scans files:\n$plan")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", defaultThr)
      spark.listenerManager.unregister(listener)
    }
  }

  test("MERGE INTO enforces the source-cardinality rule") {
    val t = freshTarget("t_msql3", Seq((1, "a", 1.0)))
    Seq((1, "x", 2.0), (1, "y", 3.0)).toDF("k", "name", "bal")
      .createOrReplaceTempView("s_msql3")
    val dirs = dataDirs(t)
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO lake.s.t_msql3 t USING s_msql3 s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
    assert(e.getMessage.contains("multiple source rows"), e.getMessage)
    // and the table is untouched after the failed merge
    assert(t.read().collect().map(_.getString(1)).toSeq == Seq("a"))
    assert(dataDirs(t) == dirs, s"the failed merge left ${dataDirs(t) -- dirs} under data/")
  }

  test("MERGE INTO an unregistered name falls through to Spark's own path") {
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("not_a_lake_table")
    Seq((1, "b")).toDF("k", "v").createOrReplaceTempView("some_src")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO not_a_lake_table t USING some_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
    // Spark rejects MERGE into a non-row-level-op relation; the exact
    // error class is Spark's business — ours is only that we did NOT
    // intercept (no graft wording in the message)
    assert(!e.getMessage.contains("graft"), e.getMessage)
  }

  test("INSERT INTO: first load creates the table; positional insert casts to the target schema") {
    val t = lakeTable("t_isql1")
    Seq((1, "a", 1.5), (2, "b", 2.5)).toDF("k", "name", "bal")
      .createOrReplaceTempView("s_isql1")
    spark.sql("INSERT INTO lake.s.t_isql1 SELECT * FROM s_isql1")
    assert(t.read().count() == 2)
    // positional semantics with differently-NAMED but castable columns
    Seq((3, "c", 9)).toDF("x", "y", "z").createOrReplaceTempView("s_isql1b")
    spark.sql("INSERT INTO lake.s.t_isql1 SELECT * FROM s_isql1b")
    val got = t.read().orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((1, "a", 1.5), (2, "b", 2.5), (3, "c", 9.0)), s"got $got")
  }

  test("INSERT INTO with a column list fills unlisted columns with typed NULLs; OVERWRITE replaces") {
    val t = lakeTable("t_isql2")
    t.append(Seq((1, "a", 1.0)).toDF("k", "name", "bal"))
    Seq((5, "e")).toDF("k", "name").createOrReplaceTempView("s_isql2")
    spark.sql("INSERT INTO lake.s.t_isql2 (k, name) SELECT k, name FROM s_isql2")
    val got = t.read().orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1), if (r.isNullAt(2)) null else r.getDouble(2)))
      .toSeq
    assert(got == Seq((1, "a", 1.0), (5, "e", null)), s"got $got")
    spark.sql("INSERT OVERWRITE lake.s.t_isql2 (k, name) SELECT k + 10, name FROM s_isql2")
    assert(t.read().collect().map(_.getInt(0)).toSeq == Seq(15))
  }

  test("DELETE FROM: alias-qualified WHERE deletes via a deletion vector; history time-travels") {
    val t = freshTarget("t_dsql1", Seq((1, "a", 1.0), (2, "b", -2.0), (3, "c", 3.0), (4, "d", -4.0)))
    spark.sql("DELETE FROM lake.s.t_dsql1 AS x WHERE x.bal < 0 AND x.k > 2")
    assert(t.read().collect().map(_.getInt(0)).toSet == Set(1, 2, 3))
    // merge-on-read: the commit is a DV sidecar, not a rewrite
    val ops = t.snapshots().orderBy("version").collect().map(_.getString(2)).toSeq
    assert(ops == Seq("append", "delete-dv"), s"ops $ops")
    // and the pre-delete snapshot is still readable
    assert(t.read(versionAsOf = Some(0)).count() == 4)
  }

  test("DELETE FROM: NULL-condition rows are kept; no-match delete is a no-op version") {
    val t = lakeTable("t_dsql2")
    t.append(Seq((1, Some(1.0)), (2, None), (3, Some(-3.0))).toDF("k", "bal"))
    spark.sql("DELETE FROM lake.s.t_dsql2 WHERE bal < 0")
    // row 2's predicate is NULL → kept (SQL DELETE removes only true)
    assert(t.read().collect().map(_.getInt(0)).toSet == Set(1, 2))
    val v = t.latestVersion().get
    spark.sql("DELETE FROM lake.s.t_dsql2 WHERE bal > 100")
    assert(t.latestVersion().get == v, "no-match delete must not commit")
  }

  test("DELETE FROM without WHERE truncates with one empty commit, not a DV per row") {
    val t = freshTarget("t_dsql3", Seq((1, "a", 1.0), (2, "b", 2.0)))
    spark.sql("DELETE FROM lake.s.t_dsql3")
    assert(t.read().count() == 0)
    assert(t.read().schema.fieldNames.toSeq == Seq("k", "name", "bal"))
    val ops = t.snapshots().orderBy("version").collect().map(_.getString(2)).toSeq
    assert(ops == Seq("append", "overwrite"), s"ops $ops")
    assert(t.read(versionAsOf = Some(0)).count() == 2)
  }

  test("UPDATE: conditional SET with qualified refs; NULL-condition rows keep old values") {
    val t = lakeTable("t_usql1")
    t.append(Seq((1, Some(10.0)), (2, None), (3, Some(30.0))).toDF("k", "bal"))
    spark.sql("UPDATE lake.s.t_usql1 AS x SET x.bal = x.bal * 2 WHERE x.bal >= 20")
    val got = t.read().collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getDouble(1))).toSet
    assert(got == Set((1, 10.0), (2, null), (3, 60.0)), s"got $got")
  }

  test("UPDATE with WHERE is merge-on-read: one commit, no data file rewritten") {
    val t = lakeTable("t_umor")
    t.append(Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("k", "bal"))
    t.append(Seq((4, 40.0), (5, 50.0)).toDF("k", "bal"))
    val filesBefore = t.files().select("commit_dir", "relative_path").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val vBefore = t.snapshots().agg(org.apache.spark.sql.functions.max("version")).head().getLong(0)
    spark.sql("UPDATE lake.s.t_umor SET bal = bal + 1000 WHERE k IN (2, 5)")
    // exactly ONE new snapshot, operation 'update' (atomic DV + rewrite)
    val snaps = t.snapshots().orderBy("version").collect()
    assert(snaps.last.getAs[Long]("version") == vBefore + 1)
    assert(snaps.last.getAs[String]("operation") == "update")
    // every pre-update file is still live and untouched; only the two
    // matched rows' new copies were written
    val filesAfter = t.files().select("commit_dir", "relative_path").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(filesBefore.subsetOf(filesAfter), "merge-on-read must not rewrite existing files")
    assert((filesAfter -- filesBefore).nonEmpty)
    val got = t.read().collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(got == Set((1, 10.0), (2, 1020.0), (3, 30.0), (4, 40.0), (5, 1050.0)), s"got $got")
    // time travel still reads the pre-update values
    val old = t.read(versionAsOf = Some(vBefore)).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(old.contains((2, 20.0)) && old.size == 5)
    // a later compaction materializes the update (DVs cleared)
    t.compact()
    assert(t.read().collect().map(r => (r.getInt(0), r.getDouble(1))).toSet == got)
    // no-match UPDATE is a no-op commit-wise
    val vNow = t.snapshots().agg(org.apache.spark.sql.functions.max("version")).head().getLong(0)
    spark.sql("UPDATE lake.s.t_umor SET bal = 0 WHERE k = 999")
    assert(t.snapshots().agg(org.apache.spark.sql.functions.max("version")).head().getLong(0) == vNow)
  }

  test("UPDATE without WHERE updates every row; values cast to the declared column type") {
    val t = freshTarget("t_usql2", Seq((1, "a", 1.0), (2, "b", 2.0)))
    // k is Int; the literal is a BIGINT sum — must cast, not evolve
    spark.sql("UPDATE lake.s.t_usql2 SET k = k + 100, name = upper(name)")
    val got = t.read().orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((101, "A", 1.0), (102, "B", 2.0)), s"got $got")
    assert(t.read().schema("k").dataType == org.apache.spark.sql.types.IntegerType)
  }

  test("UPDATE rejects unknown and duplicate SET columns; DELETE/UPDATE reject subqueries") {
    val t = freshTarget("t_usql3", Seq((1, "a", 1.0)))
    val unknown = intercept[Exception](spark.sql("UPDATE lake.s.t_usql3 SET nope = 1"))
    assert(unknown.getMessage.contains("not in the target schema"), unknown.getMessage)
    val dup = intercept[Exception](spark.sql("UPDATE lake.s.t_usql3 SET bal = 1, bal = 2"))
    assert(dup.getMessage.contains("twice"), dup.getMessage)
    Seq(1).toDF("k").createOrReplaceTempView("sub_src")
    val dsub = intercept[Exception](
      spark.sql("DELETE FROM lake.s.t_usql3 WHERE k IN (SELECT k FROM sub_src)"))
    assert(dsub.getMessage.contains("does not support subqueries"), dsub.getMessage)
    val usub = intercept[Exception](
      spark.sql("UPDATE lake.s.t_usql3 SET bal = (SELECT max(k) FROM sub_src)"))
    assert(usub.getMessage.contains("does not support subqueries"), usub.getMessage)
    // the failed statements left the table untouched
    assert(t.read().count() == 1)
  }

  test("DELETE/UPDATE on unregistered names fall through to Spark's own path") {
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("not_ours_du")
    val d = intercept[Exception](spark.sql("DELETE FROM not_ours_du WHERE k = 1"))
    assert(!d.getMessage.contains("graft"), d.getMessage)
    val u = intercept[Exception](spark.sql("UPDATE not_ours_du SET v = 'x'"))
    assert(!u.getMessage.contains("graft"), u.getMessage)
  }

  test("lake. names are MERGE-able and merge reads the current version") {
    val root = scratchDir("msqlcat")
    val cat = Catalog(spark, root)
    cat.createSchema("silver")
    cat.table("silver", "dim").append(Seq((1, "a", 1.0)).toDF("k", "name", "bal"))
    cat.attachSqlCatalog()
    assert(spark.sql("SELECT count(*) FROM lake.silver.dim").head().getLong(0) == 1)
    // advance the table after the attach and the first read: MERGE must
    // see the appended row (current version)
    cat.table("silver", "dim").append(Seq((2, "b", 2.0)).toDF("k", "name", "bal"))
    Seq((2, "b9", 9.0), (7, "n", 7.0)).toDF("k", "name", "bal")
      .createOrReplaceTempView("s_cat")
    spark.sql(
      """MERGE INTO lake.silver.dim t USING s_cat s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = cat.table("silver", "dim").read().collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((1, "a", 1.0), (2, "b9", 9.0), (7, "n", 7.0)), s"got $got")
  }
}
