package graft.tables

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def freshCatalog(tag: String): (Catalog, String) = {
    val root = scratchDir(tag)
    val cat = Catalog(spark, root)
    // catalog plugin instances are cached per name; use a unique name
    // per test so each root gets its own attachment
    val name = s"lake_$tag"
    cat.attachSqlCatalog(name)
    (cat, name)
  }

  test("SELECT through the DSv2 catalog reads the CURRENT version (no view pinning)") {
    val (cat, name) = freshCatalog("v2read")
    cat.createSchema("silver")
    cat.table("silver", "dim").append(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert(spark.sql(s"SELECT k, v FROM $name.silver.dim ORDER BY k").collect().length == 2)
    // append AFTER first read: the next SQL query must see the new row
    cat.table("silver", "dim").append(Seq((3, "c")).toDF("k", "v"))
    val got = spark.sql(s"SELECT k, v FROM $name.silver.dim ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "a"), (2, "b"), (3, "c")), s"got $got")
    // deletion vectors apply through the SQL read path too
    cat.table("silver", "dim").deleteWhereDV(col("k") === 2)
    assert(spark.sql(s"SELECT k FROM $name.silver.dim ORDER BY k").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3))
  }

  test("SHOW/joins/aggregates work over catalog tables; column pruning reaches the scan") {
    val (cat, name) = freshCatalog("v2join")
    cat.createSchema("gold")
    cat.table("gold", "nation").append(
      Seq((0, "FRANCE", 1), (1, "GERMANY", 1), (2, "JAPAN", 2)).toDF("n_key", "n_name", "n_rkey"))
    cat.table("gold", "region").append(
      Seq((1, "EUROPE"), (2, "ASIA")).toDF("r_key", "r_name"))
    val out = spark.sql(
      s"""SELECT r.r_name AS region, count(*) AS n
         |FROM $name.gold.nation n JOIN $name.gold.region r ON n.n_rkey = r.r_key
         |GROUP BY r.r_name ORDER BY region""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("ASIA", 1L), ("EUROPE", 2L)), s"got $out")
    // required-column pruning reaches the bridged scan: reading one
    // column must not surface the others in the scan's read schema
    val plan = spark.sql(s"SELECT n_name FROM $name.gold.nation")
      .queryExecution.executedPlan.toString
    assert(plan.contains("n_name") && !plan.contains("n_rkey"), plan)
    val tables = spark.sql(s"SHOW TABLES IN $name.gold").collect().map(_.getString(1)).sorted
    assert(tables.toSeq == Seq("nation", "region"), tables.mkString(","))
  }

  test("CREATE TABLE declares the schema; positional INSERT conforms to it; DROP removes") {
    val (cat, name) = freshCatalog("v2ddl")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.bronze")
    spark.sql(s"CREATE TABLE $name.bronze.t (k INT, v STRING, bal DOUBLE)")
    // empty but existing: schema visible, zero rows
    assert(spark.sql(s"SELECT * FROM $name.bronze.t").columns.toSeq == Seq("k", "v", "bal"))
    assert(spark.sql(s"SELECT count(*) AS c FROM $name.bronze.t").head().getLong(0) == 0)
    // positional INSERT with differently-named, castable columns must
    // CONFORM to the declared schema, not evolve past it
    Seq((1, "a", 2)).toDF("x", "y", "z").createOrReplaceTempView("v2ddl_src")
    spark.sql(s"INSERT INTO $name.bronze.t SELECT * FROM v2ddl_src")
    val got = spark.sql(s"SELECT k, v, bal FROM $name.bronze.t").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((1, "a", 2.0)), s"got $got")
    assert(spark.sql(s"SELECT * FROM $name.bronze.t").columns.toSeq == Seq("k", "v", "bal"))
    // literal INSERT VALUES (the reference's trino_iceberg_example.sql:19-35
    // shape) conforms like any insert; TRUNCATE commits one empty snapshot
    spark.sql(s"INSERT INTO $name.bronze.t VALUES (7, 'g', 7.5)")
    assert(spark.sql(s"SELECT count(*) AS c FROM $name.bronze.t").head().getLong(0) == 2)
    spark.sql(s"TRUNCATE TABLE $name.bronze.t")
    assert(spark.sql(s"SELECT count(*) AS c FROM $name.bronze.t").head().getLong(0) == 0)
    assert(spark.sql(s"SELECT * FROM $name.bronze.t").columns.toSeq == Seq("k", "v", "bal"))
    // duplicate CREATE fails; DROP removes the table (and SELECT then fails)
    intercept[Exception](spark.sql(s"CREATE TABLE $name.bronze.t (k INT)"))
    spark.sql(s"DROP TABLE $name.bronze.t")
    intercept[Exception](spark.sql(s"SELECT * FROM $name.bronze.t"))
  }

  test("3-part names are INSERT and MERGE targets; count(*) works (empty pruning)") {
    val (cat, name) = freshCatalog("v2dml")
    cat.createSchema("silver")
    Seq((1, "a", 1.0), (2, "b", 2.0)).toDF("k", "v", "bal")
      .createOrReplaceTempView("v2_first")
    spark.sql(s"INSERT INTO $name.silver.dim SELECT * FROM v2_first")
    assert(spark.sql(s"SELECT count(*) AS c FROM $name.silver.dim").head().getLong(0) == 2)
    Seq((2, "b9", 9.0), (5, "e", 5.0)).toDF("k", "v", "bal")
      .createOrReplaceTempView("v2_updates")
    spark.sql(
      s"""MERGE INTO $name.silver.dim t USING v2_updates s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql(s"SELECT k, v, bal FROM $name.silver.dim ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((1, "a", 1.0), (2, "b9", 9.0), (5, "e", 5.0)), s"got $got")
  }

  test("VERSION AS OF / TIMESTAMP AS OF pin the snapshot through SQL") {
    val (cat, name) = freshCatalog("v2tt")
    cat.createSchema("gold")
    val t = cat.table("gold", "dim")
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    t.append(Seq((3, "c")).toDF("k", "v"))
    def ks(sql: String): Seq[Int] =
      spark.sql(sql).collect().map(_.getInt(0)).sorted.toSeq
    assert(ks(s"SELECT k FROM $name.gold.dim VERSION AS OF 0") == Seq(1, 2))
    assert(ks(s"SELECT k FROM $name.gold.dim VERSION AS OF 1") == Seq(1, 2, 3))
    assert(ks(s"SELECT k FROM $name.gold.dim") == Seq(1, 2, 3))
    // a version that was never committed fails loudly, not empty
    intercept[Exception](spark.sql(s"SELECT k FROM $name.gold.dim VERSION AS OF 7").collect())
    // wall-clock travel: a future timestamp = the latest snapshot; a
    // timestamp predating the table is an error, never a silent empty read
    assert(ks(s"SELECT k FROM $name.gold.dim TIMESTAMP AS OF '2100-01-01 00:00:00'")
      == Seq(1, 2, 3))
    intercept[Exception](
      spark.sql(s"SELECT k FROM $name.gold.dim TIMESTAMP AS OF '1999-01-01 00:00:00'").collect())
    // a deletion vector committed AFTER the pin must not apply to it
    t.deleteWhereDV(col("k") === 1)
    assert(ks(s"SELECT k FROM $name.gold.dim") == Seq(2, 3))
    assert(ks(s"SELECT k FROM $name.gold.dim VERSION AS OF 1") == Seq(1, 2, 3))
  }

  test("identifier case resolves to the existing directory — SELECT and DML agree on the path") {
    val (cat, name) = freshCatalog("v2case")
    cat.createSchema("gold")
    cat.table("gold", "dim").append(Seq((1, "a")).toDF("k", "v"))
    // SELECT with shouted identifiers reads the on-disk gold/dim
    assert(spark.sql(s"SELECT k FROM $name.GOLD.DIM").head().getInt(0) == 1)
    // DML with mixed case lands in the SAME directory, not a shadow Gold/Dim
    Seq((2, "b")).toDF("k", "v").createOrReplaceTempView("v2case_src")
    spark.sql(s"INSERT INTO $name.Gold.Dim SELECT * FROM v2case_src")
    assert(spark.sql(s"SELECT count(*) AS c FROM $name.gold.dim").head().getLong(0) == 2)
    val root = java.nio.file.Paths.get(cat.root)
    assert(!java.nio.file.Files.exists(root.resolve("Gold")), "shadow Gold/ was created")
    assert(cat.table("gold", "dim").read().count() == 2)
  }

  test("identifier parts that escape the root are rejected before any filesystem op") {
    val (cat, name) = freshCatalog("v2trav")
    cat.createSchema("gold")
    cat.table("gold", "dim").append(Seq((1, "a")).toDF("k", "v"))
    // a backquoted `..` must never resolve (dropTable deletes recursively)
    intercept[Exception](spark.sql(s"DROP TABLE $name.`..`.`tmp`"))
    intercept[Exception](spark.sql(s"SELECT * FROM $name.`..`.`tmp`").collect())
    intercept[Exception](spark.sql(s"SELECT * FROM $name.`gold/dim`.`x`").collect())
    // the legit table is untouched
    assert(spark.sql(s"SELECT count(*) AS c FROM $name.gold.dim").head().getLong(0) == 1)
  }

  test("re-attaching a catalog name with a different root serves the NEW root") {
    val rootA = scratchDir("reattA")
    val rootB = scratchDir("reattB")
    val catA = Catalog(spark, rootA)
    catA.createSchema("s")
    catA.table("s", "t").append(Seq(("old", 1)).toDF("tag", "n"))
    val catB = Catalog(spark, rootB)
    catB.createSchema("s")
    catB.table("s", "t").append(Seq(("new", 2)).toDF("tag", "n"))
    catA.attachSqlCatalog("lake_reatt")
    assert(spark.sql("SELECT tag FROM lake_reatt.s.t").head().getString(0) == "old")
    // without cache invalidation this would still read rootA
    catB.attachSqlCatalog("lake_reatt")
    assert(spark.sql("SELECT tag FROM lake_reatt.s.t").head().getString(0) == "new")
  }

  test("pushed range predicates route through manifest zonemaps and stay exact") {
    val (cat, name) = freshCatalog("v2zone")
    cat.createSchema("gold")
    val t = cat.table("gold", "facts")
    // three commits with disjoint key ranges, stats recorded on k: a
    // WHERE k = v through SQL must prune to one dir (readBetween path)
    // and still return exactly the right rows
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), statsCols = Seq("k"))
    t.append(Seq((10L, "c"), (11L, "d")).toDF("k", "v"), statsCols = Seq("k"))
    t.append(Seq((20L, "e")).toDF("k", "v"), statsCols = Seq("k"))
    // sanity: the manifest stats actually enable pruning for this shape
    val (_, kept, skipped) = t.readBetweenWithPruneInfo("k", Some(10L), Some(11L))
    assert(kept.length == 1 && skipped.length == 2, s"kept=$kept skipped=$skipped")
    // equality
    val eq = spark.sql(s"SELECT v FROM $name.gold.facts WHERE k = 10").collect()
    assert(eq.map(_.getString(0)).toSeq == Seq("c"), eq.mkString(","))
    // range (strict bound relaxed for pruning, exact in the result)
    val rg = spark.sql(s"SELECT k FROM $name.gold.facts WHERE k > 2 AND k < 20").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(rg == Seq(10L, 11L), rg.mkString(","))
    // IN lists prune via their [min, max] envelope and stay exact
    val in = spark.sql(s"SELECT k FROM $name.gold.facts WHERE k IN (11, 10, 12)").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(in == Seq(10L, 11L), in.mkString(","))
    // a filter on the UNstatted column still answers exactly (no prune)
    val sv = spark.sql(s"SELECT k FROM $name.gold.facts WHERE v = 'e'").collect()
    assert(sv.map(_.getLong(0)).toSeq == Seq(20L), sv.mkString(","))
    // rows deleted by DV stay deleted under the pruned read
    t.deleteWhereDV(col("k") === 11L)
    val postDv = spark.sql(s"SELECT k FROM $name.gold.facts WHERE k >= 10 AND k <= 11")
      .collect().map(_.getLong(0)).toSeq
    assert(postDv == Seq(10L), postDv.mkString(","))
  }

  test("ALTER TABLE ADD COLUMNS widens metadata-only; RENAME moves history; DROP NAMESPACE") {
    val (cat, name) = freshCatalog("v2alter")
    cat.createSchema("gold")
    cat.table("gold", "dim").append(Seq((1, "a")).toDF("k", "v"))
    spark.sql(s"ALTER TABLE $name.gold.dim ADD COLUMNS (score DOUBLE, tag STRING)")
    // pre-alter rows read NULL for the new columns; new inserts carry them
    val widened = spark.sql(s"SELECT k, v, score, tag FROM $name.gold.dim").collect()
    assert(widened.length == 1 && widened(0).isNullAt(2) && widened(0).isNullAt(3))
    Seq((2, "b", 0.5, "x")).toDF("k", "v", "score", "tag").createOrReplaceTempView("v2alter_src")
    spark.sql(s"INSERT INTO $name.gold.dim SELECT * FROM v2alter_src")
    assert(spark.sql(s"SELECT count(*) AS c FROM $name.gold.dim WHERE score IS NOT NULL")
      .head().getLong(0) == 1)
    // duplicate column (case-insensitive) and retype changes fail loudly
    intercept[Exception](spark.sql(s"ALTER TABLE $name.gold.dim ADD COLUMNS (V INT)"))
    intercept[Exception](spark.sql(s"ALTER TABLE $name.gold.dim ALTER COLUMN k TYPE BIGINT"))
    // r20: RENAME COLUMN / DROP COLUMN are metadata-only column mapping
    // (ColumnMappingSpec covers the mechanics; here: the SQL surface)
    spark.sql(s"ALTER TABLE $name.gold.dim RENAME COLUMN tag TO label")
    assert(spark.sql(s"SELECT label FROM $name.gold.dim WHERE k = 2").head().getString(0) == "x")
    spark.sql(s"ALTER TABLE $name.gold.dim DROP COLUMN score")
    assert(!spark.sql(s"SELECT * FROM $name.gold.dim").columns.contains("score"))
    // RENAME TO: data AND time-travel history follow the new name
    // the RENAME TO target is catalog-relative (namespace.table)
    spark.sql(s"ALTER TABLE $name.gold.dim RENAME TO gold.dim2")
    intercept[Exception](spark.sql(s"SELECT * FROM $name.gold.dim").collect())
    assert(spark.sql(s"SELECT count(*) AS c FROM $name.gold.dim2").head().getLong(0) == 2)
    assert(spark.sql(s"SELECT count(*) AS c FROM $name.gold.dim2 VERSION AS OF 0")
      .head().getLong(0) == 1)
    // DROP NAMESPACE: RESTRICT refuses a non-empty one, CASCADE removes it
    intercept[Exception](spark.sql(s"DROP NAMESPACE $name.gold"))
    cat.createSchema("scratchns")
    spark.sql(s"DROP NAMESPACE $name.scratchns")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(cat.root, "scratchns")))
    spark.sql(s"DROP NAMESPACE $name.gold CASCADE")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(cat.root, "gold")))
  }

  test("scan statistics from the manifest let small lake.* dims auto-broadcast") {
    val (cat, name) = freshCatalog("v2stats")
    cat.createSchema("gold")
    cat.table("gold", "dim").append(Seq((1, "x"), (2, "y")).toDF("id", "tag"))
    cat.table("gold", "fact").append(
      spark.range(0, 10000).selectExpr("id % 2 + 1 AS id", "id AS n"))
    val df = spark.sql(
      s"""SELECT d.tag, count(*) AS c
         |FROM $name.gold.fact f JOIN $name.gold.dim d ON f.id = d.id
         |GROUP BY d.tag""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    // V1ScanWrapper drops scan statistics, so without LakeBroadcastHint
    // this join sort-merges — shuffling the fact side
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("x", 5000L), ("y", 5000L)), s"got $got")
  }

  test("metadata tables: lake.ns.t.snapshots and .files read manifest state") {
    val (cat, name) = freshCatalog("v2meta")
    cat.createSchema("gold")
    val t = cat.table("gold", "dim")
    t.append(Seq((1, "a")).toDF("k", "v"))
    t.append(Seq((2, "b")).toDF("k", "v"))
    val snaps = spark.sql(
      s"SELECT version, operation FROM $name.gold.dim.snapshots ORDER BY version").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(snaps == Seq((0L, "append"), (1L, "append")), snaps.mkString(","))
    val files = spark.sql(s"SELECT size_bytes FROM $name.gold.dim.files").collect()
    assert(files.nonEmpty && files.forall(_.getLong(0) > 0))
    // aggregates/joins work over them like any relation
    assert(spark.sql(s"SELECT max(version) AS v FROM $name.gold.dim.snapshots")
      .head().getLong(0) == 1L)
    // a metadata name under a nonexistent table stays an error
    intercept[Exception](spark.sql(s"SELECT * FROM $name.gold.nope.snapshots").collect())
  }

  test("CTAS creates from the query; IF NOT EXISTS no-ops; duplicate CTAS throws") {
    val (cat, name) = freshCatalog("v2ctas")
    cat.createSchema("gold")
    cat.table("gold", "src").append(Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 5.0))
      .toDF("k", "v", "bal"))
    spark.sql(
      s"""CREATE TABLE $name.gold.rich AS
         |SELECT k, v FROM $name.gold.src WHERE bal >= 10.0""".stripMargin)
    val got = spark.sql(s"SELECT k, v FROM $name.gold.rich ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "a"), (2, "b")), s"got $got")
    // IF NOT EXISTS on an existing table: no-op, the query never runs
    spark.sql(s"CREATE TABLE IF NOT EXISTS $name.gold.rich AS SELECT 1 AS other")
    assert(spark.sql(s"SELECT * FROM $name.gold.rich").columns.toSeq == Seq("k", "v"))
    assert(spark.sql(s"SELECT count(*) AS c FROM $name.gold.rich").head().getLong(0) == 2)
    // bare duplicate CTAS fails loudly
    intercept[Exception](spark.sql(s"CREATE TABLE $name.gold.rich AS SELECT 1 AS x"))
    // the new table is a first-class lake table: MERGE-able, droppable
    Seq((2, "b9"), (9, "i")).toDF("k", "v").createOrReplaceTempView("v2ctas_upd")
    spark.sql(
      s"""MERGE INTO $name.gold.rich t USING v2ctas_upd s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql(s"SELECT count(*) AS c FROM $name.gold.rich").head().getLong(0) == 3)
  }

  test("CREATE TABLE ... PARTITIONED BY declares the Hive layout; INSERT and CTAS inherit it") {
    val (cat, name) = freshCatalog("v2part")
    cat.createSchema("silver")
    // the reference declares partitioning on every table
    // (docker/init/lakehouse_init.sql: partitioning = ARRAY['ingest_year','ingest_month'])
    spark.sql(
      s"""CREATE TABLE $name.silver.events (sym STRING, price DOUBLE, yr INT, mo INT)
         |PARTITIONED BY (yr, mo)""".stripMargin)
    Seq(("AAA", 1.0, 2024, 1), ("BBB", 2.0, 2024, 2), ("CCC", 3.0, 2025, 1))
      .toDF("sym", "price", "yr", "mo").createOrReplaceTempView("v2part_src")
    spark.sql(s"INSERT INTO $name.silver.events SELECT * FROM v2part_src")
    // physical layout: the commit dir holds yr=.../mo=... subdirectories
    val dataDir = java.nio.file.Paths.get(cat.root, "silver", "events", "data")
    import scala.jdk.CollectionConverters._
    val partDirs = java.nio.file.Files.walk(dataDir).iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_)).map(_.getFileName.toString).toSet
    assert(partDirs.contains("yr=2024") && partDirs.contains("mo=2"), partDirs.mkString(","))
    // reads restore the DECLARED column order and types
    val got = spark.sql(s"SELECT * FROM $name.silver.events ORDER BY sym").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getInt(2), r.getInt(3))).toSeq
    assert(got == Seq(("AAA", 1.0, 2024, 1), ("BBB", 2.0, 2024, 2), ("CCC", 3.0, 2025, 1)),
      s"got $got")
    // DESCRIBE surfaces the partitioning (Table.partitioning reporting)
    val desc = spark.sql(s"DESCRIBE TABLE $name.silver.events").collect().map(_.toString).mkString
    assert(desc.contains("# Partition Information") && desc.contains("yr"), desc)
    // a partition-scoped filter prunes at the parquet-source level AND stays exact
    val one = spark.sql(
      s"SELECT sym FROM $name.silver.events WHERE yr = 2024 AND mo = 2").collect()
    assert(one.map(_.getString(0)).toSeq == Seq("BBB"), one.mkString(","))
    // days(ts) is HIDDEN partitioning since r20: the table accepts it,
    // derives ts__day=... dirs at write, and hides the dir column
    spark.sql(
      s"CREATE TABLE $name.silver.byday (k INT, ts TIMESTAMP) PARTITIONED BY (days(ts))")
    Seq((1, java.sql.Timestamp.valueOf("2024-05-01 10:00:00")))
      .toDF("k", "ts").createOrReplaceTempView("v2part_day")
    spark.sql(s"INSERT INTO $name.silver.byday SELECT * FROM v2part_day")
    val dayDirs = java.nio.file.Files
      .walk(java.nio.file.Paths.get(cat.root, "silver", "byday", "data"))
      .iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_)).map(_.getFileName.toString).toSet
    assert(dayDirs.contains("ts__day=2024-05-01"), dayDirs.mkString(","))
    assert(spark.sql(s"SELECT * FROM $name.silver.byday").columns.toSeq == Seq("k", "ts"))
    val descDay = spark.sql(s"DESCRIBE TABLE $name.silver.byday")
      .collect().map(_.toString).mkString
    assert(descDay.contains("days(ts)"), descDay)
    // unsupported transforms and unknown partition columns fail loudly
    intercept[Exception](spark.sql(
      s"CREATE TABLE $name.silver.bad (k INT, ts TIMESTAMP) PARTITIONED BY (hours(ts))"))
    intercept[Exception](spark.sql(
      s"CREATE TABLE $name.silver.bad2 (k INT) PARTITIONED BY (zz)"))
    // CTAS with PARTITIONED BY: created table carries the layout for later inserts
    spark.sql(
      s"""CREATE TABLE $name.silver.events24 PARTITIONED BY (mo) AS
         |SELECT sym, price, mo FROM $name.silver.events WHERE yr = 2024""".stripMargin)
    assert(cat.table("silver", "events24").read().count() == 2)
    Seq(("DDD", 4.0, 3)).toDF("sym", "price", "mo").createOrReplaceTempView("v2part_more")
    spark.sql(s"INSERT INTO $name.silver.events24 SELECT * FROM v2part_more")
    val ctasDirs = java.nio.file.Files
      .walk(java.nio.file.Paths.get(cat.root, "silver", "events24", "data"))
      .iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_)).map(_.getFileName.toString).toSet
    assert(ctasDirs.contains("mo=3"), ctasDirs.mkString(","))
    assert(spark.sql(s"SELECT count(*) AS c FROM $name.silver.events24").head().getLong(0) == 3)
  }

  test("CALL lake.system.* runs table maintenance through SQL") {
    val (cat, name) = freshCatalog("v2proc")
    cat.createSchema("silver")
    val t = cat.table("silver", "facts")
    // churn: five appends = five commit dirs and six snapshots (incl. DV-free)
    (1 to 5).foreach(i => t.append(Seq((i.toLong, s"r$i")).toDF("k", "v"), statsCols = Seq("k")))
    // compact is policy-driven: above the threshold nothing happens...
    val noop = spark.sql(
      s"CALL $name.system.compact(`table` => 'silver.facts', max_commit_dirs => 16)").head()
    assert(!noop.getBoolean(0) && noop.isNullAt(1), noop.toString)
    // ...at 0 it always rewrites, into one commit dir
    val did = spark.sql(
      s"CALL $name.system.compact(`table` => 'silver.facts', max_commit_dirs => 0)").head()
    assert(did.getBoolean(0) && !did.isNullAt(1), did.toString)
    assert(t.files().select("commit_dir").distinct().count() == 1)
    assert(t.read().count() == 5)
    // expire_snapshots with the declared default (keep_last = 1)
    val expired = spark.sql(
      s"CALL $name.system.expire_snapshots(`table` => 'silver.facts')").head().getInt(0)
    assert(expired >= 5, s"expired only $expired")
    intercept[Exception](t.read(versionAsOf = Some(0)).collect())
    // clustered compaction: positional args, per-file zonemaps recorded
    (6 to 9).foreach(i => t.append(Seq((i.toLong, s"r$i")).toDF("k", "v")))
    spark.sql(s"CALL $name.system.compact_clustered('silver.facts', 'k', 4)").collect()
    val (_, kept, skipped) = t.readBetweenWithPruneInfo("k", Some(9L), Some(9L))
    assert(t.read().count() == 9 && skipped.isEmpty,
      s"clustered rewrite should keep 1 dir (kept=$kept skipped=$skipped)")
    // sweep_orphans: a dead dir under data/ goes once the grace window allows
    val orphan = java.nio.file.Paths.get(cat.root, "silver", "facts", "data", "zz-orphan")
    java.nio.file.Files.createDirectories(orphan)
    val swept = spark.sql(
      s"CALL $name.system.sweep_orphans(`table` => 'silver.facts', grace_ms => 0)").head()
    assert(swept.getInt(0) == 1 && swept.getString(1).contains("zz-orphan"), swept.toString)
    assert(!java.nio.file.Files.exists(orphan))
    // unknown procedures and traversal-shaped table args fail loudly
    intercept[Exception](spark.sql(s"CALL $name.system.nope()").collect())
    intercept[Exception](spark.sql(
      s"CALL $name.system.compact(`table` => '../escape')").collect())
    // governance procedures: happy paths are oracle-gated
    // (q_call_governance); the failure paths must be loud too
    intercept[Exception](spark.sql(
      s"CALL $name.system.restore(`table` => 'silver.facts', version => 999)").collect())
    intercept[Exception](spark.sql(
      s"CALL $name.system.add_check_constraint(`table` => 'silver.facts', " +
        "name => 'impossible', predicate => '1 = 0')").collect())
    intercept[Exception](spark.sql(
      s"CALL $name.system.create_tag(`table` => 'silver.facts', name => 'x/../y')").collect())
  }

  test("TIMESTAMP AS OF picks the snapshot readAsOfTimestamp picks, or fails the same way") {
    val (cat, name) = freshCatalog("v2tsof")
    cat.createSchema("gold")
    val t = cat.table("gold", "dim")
    (1 to 3).foreach { i =>
      t.append(Seq((i, s"r$i")).toDF("k", "v"))
      Thread.sleep(5) // distinct commit milliseconds
    }
    val commits = t.snapshots().orderBy("version").collect()
      .map(_.getAs[java.sql.Timestamp]("committed_at").getTime).toSeq
    assert(commits.size == 3 && commits.distinct.size == 3, s"commit times $commits")
    def viaSql(ms: Long): Set[Int] =
      spark.sql(s"SELECT k FROM $name.gold.dim TIMESTAMP AS OF timestamp_millis($ms)")
        .collect().map(_.getInt(0)).toSet
    def viaTable(ms: Long): Set[Int] = t.readAsOfTimestamp(ms).collect().map(_.getInt(0)).toSet
    val between = commits.zip(commits.tail).map { case (a, b) => (a + b) / 2 }
    (commits ++ between).foreach { ms =>
      assert(viaSql(ms) == viaTable(ms), s"at $ms")
    }
    assert(viaSql(commits(1)) == Set(1, 2))
    val before = commits.head - 1
    val sqlErr = intercept[IllegalStateException](viaSql(before))
    val tableErr = intercept[IllegalStateException](viaTable(before))
    assert(sqlErr.getMessage == tableErr.getMessage, s"${sqlErr.getMessage} vs ${tableErr.getMessage}")
  }

  test("VERSION AS OF a version the log does not hold raises NoSuchTableException") {
    val (cat, name) = freshCatalog("v2vmiss")
    cat.createSchema("gold")
    cat.table("gold", "dim").append(Seq((1, "a")).toDF("k", "v"))
    intercept[NoSuchTableException](
      spark.sql(s"SELECT k FROM $name.gold.dim VERSION AS OF 3").collect())
  }

  test("CREATE TABLE claims version 0: createIfAbsent then loses, a second CREATE fails") {
    val (cat, name) = freshCatalog("v2create")
    cat.createSchema("gold")
    spark.sql(s"CREATE TABLE $name.gold.t (k INT, v STRING)")
    val t = cat.table("gold", "t")
    assert(!t.createIfAbsent(new org.apache.spark.sql.types.StructType().add("x", "long")))
    intercept[TableAlreadyExistsException](spark.sql(s"CREATE TABLE $name.gold.t (k INT)"))
    assert(t.read().columns.toSeq == Seq("k", "v"))
  }

  test("a log without a manifest is no table to the catalog, its procedures or LakeTable") {
    val (cat, name) = freshCatalog("v2nolog")
    cat.createSchema("gold")
    cat.table("gold", "real").append(Seq((1, "a")).toDF("k", "v"))
    val ghost = java.nio.file.Paths.get(cat.root, "gold", "ghost")
    java.nio.file.Files.createDirectories(ghost.resolve("_graft_log"))
    assert(!cat.table("gold", "ghost").exists)
    val tables = spark.sql(s"SHOW TABLES IN $name.gold").collect().map(_.getString(1)).toSeq
    assert(tables == Seq("real"), tables.mkString(","))
    intercept[AnalysisException](spark.sql(s"SELECT * FROM $name.gold.ghost").collect())
    val call = intercept[Exception](
      spark.sql(s"CALL $name.system.compact(`table` => 'gold.ghost')").collect())
    assert(call.getMessage.contains("no lake table at gold.ghost"), call.getMessage)
    // and CREATE TABLE takes the name, as createIfAbsent would
    spark.sql(s"CREATE TABLE $name.gold.ghost (k INT)")
    assert(cat.table("gold", "ghost").exists)
  }
}
