package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Skew
import graft.sources.Testdata
import graft.streaming.StreamJobs
import graft.tables.Catalog

/** Scale-path operators exposed to the oracle gate: salted skew join,
  * SQL over the lake catalog, and bounded-state streaming dedup.
  */
object ScaleQueries {

  /** TRANSPARENT MV ROUTING ([[graft.plans.MatViewRewrite]]): the SQL
    * aggregate below is rewritten by the optimizer to scan the
    * incrementally-maintained view instead of the raw events table —
    * the rewrite is bit-preserving by construction (count/min/max only)
    * so the result must hash-match the plain-SQL oracle regardless of
    * which plan served it; MatViewRewriteSpec pins that the view scan
    * actually serves and that staleness/time travel fall back.
    */
  def mvRewrite(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = Catalog(spark, graft.util.TempDirs.scratch("mvrw"))
    cat.createSchema("gold")
    val ev = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val t = cat.table("gold", "ev")
    t.append(ev.filter(col("event_id") % 2 === 0))
    t.append(ev.filter(col("event_id") % 2 =!= 0))
    val v = graft.tables.IncrementalAggView(
      t, graft.util.TempDirs.scratch("mvrwview"), Seq("event_type"), Seq.empty,
      minMaxCols = Seq("value"))
    v.refresh()
    graft.plans.MatViews.register(
      graft.plans.MatViews.Spec(t, v, Seq("event_type"), Seq("value")))
    cat.attachSqlCatalog("lake")
    cat.sql(
      """SELECT event_type, count(*) AS n_rows,
        |       min(value) AS min_value, max(value) AS max_value
        |FROM lake.gold.ev GROUP BY event_type""".stripMargin)
  }

  val mvRewriteSql: String =
    """SELECT event_type, count(*) AS n_rows,
      |       min(value) AS min_value, max(value) AS max_value
      |FROM events GROUP BY event_type""".stripMargin

  /** MV routing of an exact SUM: `sum(user_id)` (a LONG) is served from
    * the view's ×10⁴-scaled integer state via one exact integral
    * division — bit-preserving, unlike `sum(double)` which stays on the
    * raw-scan path (MatViewRewriteSpec pins both the serve and the
    * double-sum refusal).
    */
  def mvRewriteSum(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = Catalog(spark, graft.util.TempDirs.scratch("mvrs"))
    cat.createSchema("gold")
    val ev = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("user_id"))
    val t = cat.table("gold", "ev")
    t.append(ev.filter(col("event_id") % 2 === 0))
    t.append(ev.filter(col("event_id") % 2 =!= 0))
    val v = graft.tables.IncrementalAggView(
      t, graft.util.TempDirs.scratch("mvrsview"), Seq("event_type"),
      sumCols = Seq("user_id"))
    v.refresh()
    graft.plans.MatViews.register(
      graft.plans.MatViews.Spec(t, v, Seq("event_type"), Seq.empty,
        sumCols = Seq("user_id")))
    cat.attachSqlCatalog("lake")
    cat.sql(
      """SELECT event_type, count(*) AS n_rows, sum(user_id) AS sum_user
        |FROM lake.gold.ev GROUP BY event_type""".stripMargin)
  }

  val mvRewriteSumSql: String =
    """SELECT event_type, count(*) AS n_rows,
      |       CAST(sum(user_id) AS BIGINT) AS sum_user
      |FROM events GROUP BY event_type""".stripMargin

  /** MV routing WITH a group-key WHERE and a HAVING: the key predicate
    * commutes with the group partition, so the optimizer serves it by
    * filtering view ROWS (still bit-preserving — no aggregate is
    * recomputed); the HAVING lands as a Filter above the rewritten
    * aggregate and needs no routing support at all. A filter over a
    * NON-key column refuses the rewrite and falls back to the raw scan
    * (MatViewRewriteSpec pins both the serve and that refusal).
    */
  def mvRewriteFiltered(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = Catalog(spark, graft.util.TempDirs.scratch("mvrf"))
    cat.createSchema("gold")
    val ev = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("user_id"))
    val t = cat.table("gold", "ev")
    t.append(ev.filter(col("event_id") % 2 === 0))
    t.append(ev.filter(col("event_id") % 2 =!= 0))
    val v = graft.tables.IncrementalAggView(
      t, graft.util.TempDirs.scratch("mvrfview"), Seq("event_type"),
      sumCols = Seq("user_id"))
    v.refresh()
    graft.plans.MatViews.register(
      graft.plans.MatViews.Spec(t, v, Seq("event_type"), Seq.empty,
        sumCols = Seq("user_id")))
    cat.attachSqlCatalog("lake")
    cat.sql(
      """SELECT event_type, count(*) AS n_rows, sum(user_id) AS sum_user
        |FROM lake.gold.ev
        |WHERE event_type <> 'view' AND length(event_type) >= 4
        |GROUP BY event_type
        |HAVING count(*) > 0""".stripMargin)
  }

  val mvRewriteFilteredSql: String =
    """SELECT event_type, count(*) AS n_rows,
      |       CAST(sum(user_id) AS BIGINT) AS sum_user
      |FROM events
      |WHERE event_type <> 'view' AND length(event_type) >= 4
      |GROUP BY event_type
      |HAVING count(*) > 0""".stripMargin

  /** COUNT(*) AGGREGATE PUSHDOWN through the DSv2 catalog
    * ([[graft.tables.v2.GraftSqlTable.metadataRowCount]]): both counts
    * below — current snapshot and a VERSION AS OF pin — are served from
    * parquet footer metadata without opening a single data page
    * (CountPushdownSpec pins the plan and the DV/filter/group-by
    * fallbacks). The Iceberg manifest-count behavior on the lake layer.
    */
  def countPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = Catalog(spark, graft.util.TempDirs.scratch("cntpd"))
    cat.createSchema("gold")
    val ev = Testdata.events(spark, sfDir).select(col("event_id"), col("event_type"))
    val t = cat.table("gold", "ev")
    t.append(ev.filter(col("event_id") % 2 === 0))
    t.append(ev.filter(col("event_id") % 2 =!= 0))
    cat.attachSqlCatalog("lake")
    cat.sql(
      """SELECT 'current' AS snap, count(*) AS n FROM lake.gold.ev
        |UNION ALL
        |SELECT 'v0' AS snap, count(*) AS n FROM lake.gold.ev VERSION AS OF 0""".stripMargin)
  }

  val countPushdownSql: String =
    """SELECT 'current' AS snap, count(*) AS n FROM events
      |UNION ALL
      |SELECT 'v0' AS snap, count(*) AS n FROM events WHERE event_id % 2 = 0""".stripMargin

  /** MIN/MAX + COUNT from MANIFEST STATS: the whole aggregate row below
    * is served from dir-level zonemaps + footer counts — zero data
    * pages opened (CountPushdownSpec pins the plan and the
    * stats-coverage / narrowed-scope / DV fallbacks that keep it
    * bit-exact). Iceberg's metadata-aggregate behavior on the lake
    * layer.
    */
  def minmaxPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = Catalog(spark, graft.util.TempDirs.scratch("mmpd"))
    cat.createSchema("gold")
    val ev = Testdata.events(spark, sfDir).select(col("event_id"), col("value"))
    val t = cat.table("gold", "ev")
    t.append(ev.filter(col("event_id") % 2 === 0), statsCols = Seq("value"))
    t.append(ev.filter(col("event_id") % 2 =!= 0), statsCols = Seq("value"))
    cat.attachSqlCatalog("lake")
    cat.sql(
      """SELECT count(*) AS n, min(value) AS min_value, max(value) AS max_value
        |FROM lake.gold.ev""".stripMargin)
  }

  val minmaxPushdownSql: String =
    "SELECT count(*) AS n, min(value) AS min_value, max(value) AS max_value FROM events"

  /** GROUP BY the partition column with COUNT(*) AND grouped MIN/MAX
    * served entirely from per-value footer counts + column statistics
    * ([[graft.tables.v2.GraftSqlTable.metadataGroupStats]]): the group
    * is the directory layout and footer stats over integral/date
    * columns are exact SQL min/max, so the whole aggregate is a
    * manifest walk — zero data pages at any scale (CountPushdownSpec
    * pins the plan, the all-NULL-group NULL, and the string / double /
    * sum / filter / non-partition-key / count(col) / DV / layout-flip
    * fallbacks).
    */
  def groupbyPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = Catalog(spark, graft.util.TempDirs.scratch("gbypd"))
    cat.createSchema("gold")
    val ev = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("user_id"))
    val t = cat.table("gold", "ev")
    t.append(ev.filter(col("event_id") % 2 === 0), partitionBy = Seq("event_type"))
    t.append(ev.filter(col("event_id") % 2 =!= 0), partitionBy = Seq("event_type"))
    cat.attachSqlCatalog("lake")
    // count + grouped MIN/MAX in one serve: the counts come from footer
    // record counts, the ranges from footer column statistics — same
    // walk, zero data pages (CountPushdownSpec pins the plan)
    cat.sql(
      """SELECT event_type, count(*) AS n,
        |       min(user_id) AS min_user, max(user_id) AS max_user
        |FROM lake.gold.ev GROUP BY event_type""".stripMargin)
  }

  val groupbyPushdownSql: String =
    """SELECT event_type, count(*) AS n,
      |       min(user_id) AS min_user, max(user_id) AS max_user
      |FROM events GROUP BY event_type""".stripMargin

  /** Salted equi-join must be result-identical to the plain join (the
    * salt is an execution detail, not a semantic one).
    */
  def skewSaltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Testdata.read(spark, sfDir, "orders")
      .withColumnRenamed("o_custkey", "custkey")
    val customer = Testdata.read(spark, sfDir, "customer")
      .withColumnRenamed("c_custkey", "custkey")
      .select(col("custkey"), col("c_name"), col("c_mktsegment"))
    Skew
      .saltedJoin(orders, customer, "custkey", "o_orderkey", saltFactor = 8)
      .select(col("o_orderkey"), col("custkey"), col("c_name"), col("o_totalprice"))
  }

  val skewSaltedJoinSql: String =
    """SELECT o_orderkey, o_custkey AS custkey, c_name, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** Bucketed co-located join: both sides written bucketed (and
    * per-file sorted) on the join key, so the sort-merge join reads
    * bucket i against bucket i with NO exchange on either side — the
    * layout that turns the biggest recurring fact-fact join at 100 TB
    * from a full shuffle into a local merge. The only shuffle in this
    * plan is the small post-join re-aggregation. The `merge` hint pins
    * SMJ so the bucket layout is exercised at every data size
    * (broadcast would also be shuffle-free but proves nothing about
    * the layout). Result-identical to the plain join (oracle).
    */
  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // stable per-dataset names + overwrite: repeat invocations reuse the
    // two catalog entries instead of accumulating UUID-named orphans
    val tag = (sfDir.hashCode.toLong & 0xFFFFFFFFL).toHexString
    val (t1, t2) = (s"graft_li_$tag", s"graft_ord_$tag")
    // repartition on the bucket key first: task partitioning aligns with
    // bucket hashing, so each task writes one file per bucket instead of
    // every task writing a sliver of every bucket (N_tasks × N_buckets
    // small files — the classic bucketed-write mistake at scale).
    // Bucket count SCALES with the fact side (~1M rows/bucket, both
    // sides equal so the join stays exchange-free): a fixed count makes
    // the bucketed write itself the bottleneck — 8 buckets measured 17×
    // on 10× data at sf1→sf10 because 60M rows sort through 8 tasks.
    // The count probe is parquet-metadata-only.
    val liRows = Testdata.read(spark, sfDir, "lineitem").count()
    val buckets = math.max(8L, math.min(256L, liRows / 1000000L * 8L)).toInt
    Testdata.read(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
      .repartition(buckets, col("l_orderkey"))
      .write.mode("overwrite").bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .option("path", graft.util.TempDirs.scratch(s"bkt-li-$tag"))
      .saveAsTable(t1)
    Testdata.read(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .repartition(buckets, col("o_orderkey"))
      .write.mode("overwrite").bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .option("path", graft.util.TempDirs.scratch(s"bkt-ord-$tag"))
      .saveAsTable(t2)
    spark.table(t1).hint("merge")
      .join(spark.table(t2), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), round(sum(col("l_extendedprice")), 4).as("sum_price"))
  }

  val bucketedJoinSql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |       round(sum(l_extendedprice), 4) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** Bloom-filter runtime pruning: build a bloom over the selective
    * side's join keys (driver-aggregated, ~1 MB bitmap), broadcast it,
    * and drop non-matching fact rows BEFORE the join shuffle. False
    * positives are removed by the exact join that follows, so the
    * result is identical to the plain join (the oracle) — only the
    * shuffled volume changes. This is the explicit form of Spark's
    * injected runtime bloom filters, needed when the build side lives
    * in a different job (cross-job pruning over a lakehouse table).
    */
  def bloomPruneJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = Testdata.read(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    // size the filter from the actual build-side cardinality: a constant
    // saturates at larger SFs and silently stops pruning
    val nKeys = math.max(urgent.count(), 1000L)
    val bloom = urgent.stat.bloomFilter("o_orderkey", nKeys, 0.01)
    // compiled probe expression (deserialized once per task), not a
    // ScalaUDF: keeps the hot pre-shuffle filter out of the interpreter
    Testdata.read(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
      .filter(graft.functions.VectorExprs.bloomMightContain(bloom, col("l_orderkey")))
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), round(sum(col("l_extendedprice")), 4).as("sum_price"))
  }

  val bloomPruneJoinSql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |       round(sum(l_extendedprice), 4) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY o_orderpriority""".stripMargin

  /** Row-level DELETE over a partitioned lake table: only partitions
    * containing matched rows are rewritten; fully-deleted partitions
    * drop out of the manifest scope. Oracle = the surviving rows.
    */
  def deleteWhere(spark: SparkSession, sfDir: String): DataFrame = {
    val table = graft.tables.LakeTable(spark, graft.util.TempDirs.scratch("delw"))
    val orders = Testdata.read(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderpriority"))
    table.append(orders, partitionBy = Seq("o_orderstatus"))
    // delete all F-status rows (whole partition vanishes) AND every very
    // large order elsewhere (partial rewrites)
    graft.tables.Merge.deleteWherePartitioned(
      table,
      col("o_orderstatus") === "F" || col("o_totalprice") > 400000.0,
      "o_orderstatus")
    table.read().select(col("o_orderkey"), col("o_orderstatus"), round(col("o_totalprice"), 4).as("o_totalprice"))
  }

  val deleteWhereSql: String =
    """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 4) AS o_totalprice
      |FROM orders
      |WHERE NOT (o_orderstatus = 'F' OR o_totalprice > 400000.0)""".stripMargin

  /** Dynamic partition pruning: the fact side is a lake table
    * partitioned by `event_day`; the dim side's selective filter is
    * only known at run time, so Catalyst injects a `dynamicpruning`
    * subquery into the fact scan's PartitionFilters and whole fact
    * partitions are skipped before any rows are read — at 100 TB the
    * difference between scanning 5/31 day-partitions and all of them.
    * PlanAuditSpec pins the `dynamicpruning` expression in the plan;
    * the oracle replays the join semantics day-arithmetically.
    */
  def dppJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Testdata.events(spark, sfDir)
    val table = graft.tables.LakeTable(spark, graft.util.TempDirs.scratch("dpp"))
    table.append(
      graft.operators.Ops.datePartCols(events, "ts"),
      partitionBy = Seq("event_day"))
    val dim = spark
      .range(1, 32)
      .select(col("id").cast("int").as("event_day"), (col("id") % 7).as("tag"))
    table
      .read()
      .join(broadcast(dim.filter(col("tag") === 2)), Seq("event_day"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("value")), 4).as("sum_value"))
  }

  val dppJoinSql: String =
    """SELECT event_type, count(*) AS n_rows, round(sum(value), 4) AS sum_value
      |FROM events
      |WHERE day(ts) % 7 = 2
      |GROUP BY event_type""".stripMargin

  /** Point lookups over a lake table written with parquet bloom
    * filters on the probe key ([[graft.tables.LakeTable.bloomFilterOptions]]):
    * at 100 TB an IN-probe on a high-cardinality unsorted key skips
    * every row group whose bloom can't contain the values — min/max
    * zonemaps are useless there. The oracle is the plain IN over the
    * same source, proving the filter is a skip index, never a row
    * filter (BloomWriteSpec pins the footer metadata itself).
    */
  def bloomPointLookup(spark: SparkSession, sfDir: String): DataFrame = {
    val table = graft.tables.LakeTable(spark, graft.util.TempDirs.scratch("bloomlk"))
    val orders = Testdata.read(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    table.append(
      orders,
      writeOptions = graft.tables.LakeTable.bloomFilterOptions(Seq("o_orderkey")))
    table
      .read()
      .filter(col("o_orderkey").isin(7L, 4103L, 9988L, 32101L, 999999999L))
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        col("o_orderstatus"),
        round(col("o_totalprice"), 4).as("o_totalprice"))
  }

  val bloomPointLookupSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |       round(o_totalprice, 4) AS o_totalprice
      |FROM orders
      |WHERE o_orderkey IN (7, 4103, 9988, 32101, 999999999)""".stripMargin

  /** Row-level DELETE via deletion vectors: the deletes land as a
    * (file, row-index) sidecar — no data file is rewritten — and reads
    * mask them with one anti-join; a second stacked DV and a post-DV
    * append are both visible. Oracle = the surviving rows (plus the
    * appended marker row).
    */
  def deleteDv(spark: SparkSession, sfDir: String): DataFrame = {
    val table = graft.tables.LakeTable(spark, graft.util.TempDirs.scratch("deldv"))
    val orders = Testdata.read(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    table.append(orders)
    table.deleteWhereDV(col("o_totalprice") > 400000.0)
    table.deleteWhereDV(col("o_orderkey") % 1000 === 0)
    table.append(
      orders.filter(col("o_orderkey") === 1).withColumn("o_totalprice", lit(-1.0)))
    table.read().select(
      col("o_orderkey"), col("o_orderstatus"), round(col("o_totalprice"), 4).as("o_totalprice"))
  }

  val deleteDvSql: String =
    """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 4) AS o_totalprice
      |FROM orders
      |WHERE NOT (o_totalprice > 400000.0) AND NOT (o_orderkey % 1000 = 0)
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, -1.0
      |FROM orders WHERE o_orderkey = 1""".stripMargin

  /** Lakehouse schema evolution: a column added by a later commit is
    * read as typed NULL for older commits — no rewrite of existing
    * files (the Iceberg/Delta add-column behavior). The manifest pins
    * the latest schema; the parquet reader fills missing columns.
    */
  def schemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val table = Catalog(spark, graft.util.TempDirs.scratch("sevo")).table("silver", "nation_evo")
    val nation = Testdata.read(spark, sfDir, "nation")
    table.append(nation.select(col("n_nationkey"), col("n_name")))
    table.append(nation.select(col("n_nationkey"), col("n_name"), col("n_regionkey")))
    table.read()
  }

  val schemaEvolutionSql: String =
    """SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey FROM nation
      |UNION ALL
      |SELECT n_nationkey, n_name, n_regionkey FROM nation""".stripMargin

  /** spark.sql over LakeTables by their `lake.<schema>.<table>` names —
    * the reference's Trino-over-Iceberg capability, engine-side (§2.10).
    */
  def sqlOverCatalog(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = Catalog(spark, graft.util.TempDirs.scratch("cat"))
    cat.createSchema("gold")
    cat.table("gold", "nation").append(Testdata.read(spark, sfDir, "nation"))
    cat.table("gold", "region").append(Testdata.read(spark, sfDir, "region"))
    cat.attachSqlCatalog("lake")
    cat.sql(
      """SELECT r.r_name AS region_name, count(*) AS n_nations
        |FROM lake.gold.nation n JOIN lake.gold.region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name""".stripMargin)
  }

  val sqlOverCatalogSql: String =
    """SELECT r.r_name AS region_name, count(*) AS n_nations
      |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY r.r_name""".stripMargin

  /** The same catalog join, with nation appended in TWO waves and the
    * second landing AFTER the catalog attach: the DSv2 catalog
    * ([[graft.tables.v2.GraftCatalog]]) reads each table's CURRENT
    * version per query, so the read must include it.
    */
  def sqlOverCatalogV2(spark: SparkSession, sfDir: String): DataFrame = {
    val root = graft.util.TempDirs.scratch("catv2")
    val cat = Catalog(spark, root)
    cat.createSchema("gold")
    val nation = Testdata.read(spark, sfDir, "nation")
    cat.table("gold", "nation").append(nation.filter(col("n_nationkey") % 2 === 0))
    cat.table("gold", "region").append(Testdata.read(spark, sfDir, "region"))
    cat.attachSqlCatalog("lake")
    // second wave after attach: the SQL read below must see it
    cat.table("gold", "nation").append(nation.filter(col("n_nationkey") % 2 =!= 0))
    cat.sql(
      """SELECT r.r_name AS region_name, count(*) AS n_nations
        |FROM lake.gold.nation n JOIN lake.gold.region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name""".stripMargin)
  }

  val sqlOverCatalogV2Sql: String = sqlOverCatalogSql

  /** SQL time travel through the DSv2 catalog: two committed versions,
    * then `VERSION AS OF 0` must read the FIRST snapshot — same pin as
    * the programmatic `read(versionAsOf = Some(0))` (q_time_travel),
    * now reachable from plain SQL (the reference's Iceberg
    * `FOR VERSION AS OF`,
    * /root/reference/experiments/trino_iceberg_example.sql:43).
    */
  def sqlTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = Catalog(spark, graft.util.TempDirs.scratch("sqltt"))
    cat.createSchema("gold")
    val nation = Testdata.read(spark, sfDir, "nation")
    val t = cat.table("gold", "nation")
    t.append(nation)
    t.append(nation.withColumn("n_nationkey", col("n_nationkey") + 100))
    cat.attachSqlCatalog("lake")
    cat.sql(
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM lake.gold.nation VERSION AS OF 0""".stripMargin)
  }

  val sqlTimeTravelSql: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation"

  /** `CREATE TABLE ... AS SELECT` through the parser path: the CTAS
    * commit anchors the schema from the query, and a second
    * `IF NOT EXISTS` CTAS with a DIFFERENT shape must no-op (its query
    * never runs) — proving create-once semantics, not overwrite.
    */
  def ctasSql(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = Catalog(spark, graft.util.TempDirs.scratch("ctas"))
    cat.createSchema("gold")
    cat.table("gold", "nation").append(Testdata.read(spark, sfDir, "nation"))
    cat.attachSqlCatalog("lake")
    cat.sql(
      """CREATE TABLE lake.gold.nation_named AS
        |SELECT n_nationkey, upper(n_name) AS name_uc
        |FROM lake.gold.nation WHERE n_regionkey >= 2""".stripMargin)
    cat.sql(
      "CREATE TABLE IF NOT EXISTS lake.gold.nation_named AS SELECT 1 AS wrong_shape")
    cat.sql("SELECT n_nationkey, name_uc FROM lake.gold.nation_named")
  }

  val ctasSqlSql: String =
    """SELECT n_nationkey, upper(n_name) AS name_uc
      |FROM nation WHERE n_regionkey >= 2""".stripMargin

  /** `ALTER TABLE ADD COLUMNS` as a metadata-only commit: rows written
    * before the widening read NULL for the new column; rows written
    * after carry values — no data file was rewritten in between
    * (RENAME TO then proves the history follows the directory).
    */
  def alterSql(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = Catalog(spark, graft.util.TempDirs.scratch("altersql"))
    cat.createSchema("gold")
    val nation = Testdata.read(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    cat.table("gold", "nation").append(nation)
    cat.attachSqlCatalog("lake")
    cat.sql("ALTER TABLE lake.gold.nation ADD COLUMNS (population BIGINT)")
    nation
      .select(
        (col("n_nationkey") + 100).as("n_nationkey"),
        col("n_name"),
        col("n_regionkey"),
        (col("n_nationkey").cast("bigint") * 1000).as("population"))
      .createOrReplaceTempView("alter_sql_src")
    cat.sql("INSERT INTO lake.gold.nation SELECT * FROM alter_sql_src")
    cat.sql("ALTER TABLE lake.gold.nation RENAME TO gold.nation_wide")
    // r20: column mapping — RENAME COLUMN is metadata-only (old files
    // keep the physical name `population` and stay readable as `pop`);
    // DROP then re-ADD of n_regionkey must read NULL, never resurface
    // the dropped file data (fresh physical name in the mapping)
    cat.sql("ALTER TABLE lake.gold.nation_wide RENAME COLUMN population TO pop")
    cat.sql("ALTER TABLE lake.gold.nation_wide DROP COLUMN n_regionkey")
    cat.sql("ALTER TABLE lake.gold.nation_wide ADD COLUMNS (n_regionkey BIGINT)")
    cat.sql("SELECT n_nationkey, n_name, pop, n_regionkey FROM lake.gold.nation_wide")
  }

  val alterSqlSql: String =
    """SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS pop,
      |       CAST(NULL AS BIGINT) AS n_regionkey
      |FROM nation
      |UNION ALL
      |SELECT n_nationkey + 100, n_name, CAST(n_nationkey AS BIGINT) * 1000,
      |       CAST(NULL AS BIGINT)
      |FROM nation""".stripMargin

  /** The snapshots METADATA TABLE through SQL (`lake.ns.t.snapshots`) —
    * the reference's Trino `"t$snapshots"` / Iceberg `t.snapshots`
    * surface (/root/reference/experiments/trino_iceberg_example.sql:40),
    * here joined and aggregated like any relation.
    */
  def snapshotsMetaSql(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = Catalog(spark, graft.util.TempDirs.scratch("snapmeta"))
    cat.createSchema("gold")
    val nation = Testdata.read(spark, sfDir, "nation")
    val t = cat.table("gold", "nation")
    t.append(nation)
    t.append(nation)
    t.overwrite(nation.limit(3))
    cat.attachSqlCatalog("lake")
    cat.sql(
      """SELECT version, operation, num_commit_dirs
        |FROM lake.gold.nation.snapshots""".stripMargin)
  }

  val snapshotsMetaSqlSql: String =
    """SELECT * FROM (VALUES (CAST(0 AS BIGINT), 'append', 1),
      |                      (CAST(1 AS BIGINT), 'append', 2),
      |                      (CAST(2 AS BIGINT), 'overwrite', 1))
      |       t(version, operation, num_commit_dirs)""".stripMargin

  /** Partition layout declared in DDL, end-to-end: `CREATE TABLE ...
    * PARTITIONED BY` pins the Hive layout in the v0 manifest (the
    * reference declares partitioning on every table,
    * /root/reference/docker/init/lakehouse_init.sql `partitioning =
    * ARRAY[...]`), a plain INSERT inherits it, a CTAS `PARTITIONED BY`
    * carries it onto the derived table, and the final partition-scoped
    * SELECT prunes at the directory level while staying exact.
    */
  def partitionedDdl(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = Catalog(spark, graft.util.TempDirs.scratch("pddl"))
    cat.createSchema("gold")
    cat.attachSqlCatalog("lake")
    Testdata.read(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      .createOrReplaceTempView("pddl_src")
    cat.sql(
      """CREATE TABLE lake.gold.orders_part
        |(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
        |PARTITIONED BY (o_orderstatus)""".stripMargin)
    cat.sql("INSERT INTO lake.gold.orders_part SELECT * FROM pddl_src")
    cat.sql(
      """CREATE TABLE lake.gold.orders_big PARTITIONED BY (o_orderstatus) AS
        |SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM lake.gold.orders_part WHERE o_totalprice > 200000.0""".stripMargin)
    cat.sql(
      """SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice, o_orderstatus
        |FROM lake.gold.orders_big WHERE o_orderstatus = 'F'""".stripMargin)
  }

  val partitionedDdlSql: String =
    """SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice, o_orderstatus
      |FROM orders WHERE o_totalprice > 200000.0 AND o_orderstatus = 'F'""".stripMargin

  /** HIDDEN-PARTITIONING transforms in DDL, end-to-end
    * ([[graft.tables.PartitionSpec]]): `PARTITIONED BY (days(ts))`
    * derives `ts__day=...` Hive subdirs at write — the dir column
    * never enters the schema, so users filter the raw `ts` and the
    * engine prunes whole day dirs through the transform
    * (PartitionTransformSpec proves the dir-level skipping via
    * inputFiles); the CTAS carries `bucket(8, event_id)` onto the
    * derived table, bounding file counts per commit and spreading
    * writes — the Iceberg partition-spec model the reference's catalog
    * advertises (docker/init/lakehouse_init.sql declares identity
    * layouts; the transforms are the 100 TB growth path: a table
    * partitioned hourly/daily evolves without rewriting history).
    */
  def partitionedTransform(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = Catalog(spark, graft.util.TempDirs.scratch("ptrans"))
    cat.createSchema("silver")
    cat.attachSqlCatalog("lake")
    Testdata.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .createOrReplaceTempView("ptrans_src")
    cat.sql(
      """CREATE TABLE lake.silver.events_by_day
        |(event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE)
        |PARTITIONED BY (days(ts))""".stripMargin)
    cat.sql("INSERT INTO lake.silver.events_by_day SELECT * FROM ptrans_src")
    cat.sql(
      """CREATE TABLE lake.silver.events_bucketed PARTITIONED BY (bucket(8, event_id)) AS
        |SELECT event_id, ts, event_type, value FROM lake.silver.events_by_day
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <  TIMESTAMP '2024-01-20 00:00:00'""".stripMargin)
    cat.sql(
      """SELECT event_id, event_type, round(value, 4) AS value_r
        |FROM lake.silver.events_bucketed
        |WHERE event_type <> 'error'""".stripMargin)
  }

  val partitionedTransformSql: String =
    """SELECT event_id, event_type, round(value, 4) AS value_r
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts <  TIMESTAMP '2024-01-20 00:00:00'
      |  AND event_type <> 'error'""".stripMargin

  /** Table maintenance as SQL (`CALL lake.system.*`, the Iceberg
    * `CALL <cat>.system.rewrite_data_files / expire_snapshots /
    * remove_orphan_files` surface the reference's catalog advertises):
    * five appends accumulate five commit dirs and six snapshots; a
    * forced compact rewrites them into one dir, expire_snapshots drops
    * the history, sweep_orphans removes the superseded dirs — and the
    * table's CONTENT is untouched, which is exactly what the oracle
    * checks (maintenance must change layout, never results).
    */
  def callMaintenance(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = Catalog(spark, graft.util.TempDirs.scratch("callm"))
    cat.createSchema("gold")
    val nation = Testdata.read(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val t = cat.table("gold", "nation")
    (0 to 4).foreach(r => t.append(nation.filter(col("n_regionkey") === r)))
    cat.attachSqlCatalog("lake")
    cat.sql("CALL lake.system.compact(`table` => 'gold.nation', max_commit_dirs => 0)")
    cat.sql("CALL lake.system.expire_snapshots(`table` => 'gold.nation', keep_last => 1)")
    cat.sql("CALL lake.system.sweep_orphans(`table` => 'gold.nation', grace_ms => 0)")
    cat.sql("SELECT n_nationkey, n_name, n_regionkey FROM lake.gold.nation")
  }

  val callMaintenanceSql: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation"

  /** GOVERNANCE as SQL (`CALL lake.system.*`, extending the Iceberg
    * procedure surface to this round's snapshot ops): tag the raw
    * load, add a CHECK constraint, append a second wave under
    * enforcement, then `restore` back to the tagged snapshot — every
    * step a one-statement SQL call. The final read must equal the raw
    * load (restore is manifest-only; the oracle checks content, the
    * specs pin the mechanics).
    */
  def callGovernance(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = Catalog(spark, graft.util.TempDirs.scratch("callgov"))
    cat.createSchema("gold")
    val ev = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val t = cat.table("gold", "ev")
    t.append(ev.filter(col("event_id") % 2 === 0)) // v0: the raw load
    cat.attachSqlCatalog("lake")
    cat.sql("CALL lake.system.create_tag(`table` => 'gold.ev', name => 'raw')")
    cat.sql(
      "CALL lake.system.add_check_constraint(`table` => 'gold.ev', " +
        "name => 'value_present', predicate => 'value IS NOT NULL')")
    t.append(ev.filter(col("event_id") % 2 =!= 0)) // enforced append
    cat.sql("CALL lake.system.restore(`table` => 'gold.ev', version => 0)")
    cat.sql(
      "SELECT event_id, event_type, round(value, 4) AS value_r FROM lake.gold.ev")
  }

  val callGovernanceSql: String =
    """SELECT event_id, event_type, round(value, 4) AS value_r
      |FROM events WHERE event_id % 2 = 0""".stripMargin

  /** CHECK-constraint governance through the Delta-style DDL form
    * (`ALTER TABLE ... ADD/DROP CONSTRAINT`, parsed natively by Spark 4
    * and intercepted at the parser seam — the SQL twin of the
    * `CALL lake.system.*_check_constraint` procedures). The result
    * encodes all three effects: the enforced append passes, a NULL
    * batch is rejected while the constraint stands, and the post-DROP
    * insert of that same row lands.
    */
  def constraintSql(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = Catalog(spark, graft.util.TempDirs.scratch("consql"))
    cat.createSchema("gold")
    val ev = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val t = cat.table("gold", "ev")
    t.append(ev.filter(col("event_id") % 2 === 0))
    cat.attachSqlCatalog("lake")
    cat.sql(
      "ALTER TABLE lake.gold.ev ADD CONSTRAINT value_present CHECK (value IS NOT NULL)")
    t.append(ev.filter(col("event_id") % 2 =!= 0)) // enforced append, passes
    val rejected = scala.util.Try(
      cat.sql("INSERT INTO lake.gold.ev VALUES (999999999, 'bad', CAST(NULL AS DOUBLE))"))
    require(rejected.isFailure, "DDL-added constraint must reject a NULL batch")
    cat.sql("ALTER TABLE lake.gold.ev DROP CONSTRAINT value_present")
    cat.sql("INSERT INTO lake.gold.ev VALUES (999999999, 'bad', CAST(NULL AS DOUBLE))")
    cat.sql(
      "SELECT event_id, event_type, round(value, 4) AS value_r FROM lake.gold.ev")
  }

  val constraintSqlSql: String =
    """SELECT event_id, event_type, round(value, 4) AS value_r FROM events
      |UNION ALL
      |SELECT 999999999 AS event_id, 'bad' AS event_type, CAST(NULL AS DOUBLE) AS value_r""".stripMargin

  /** Predicate pushdown through the DSv2 read bridge, end-to-end: the
    * WHERE clause must both PRUNE (pushFilters → LakeTable.read().
    * filter → parquet row-group stats; plan shape pinned by
    * PlanAuditSpec) and stay EXACT — `o_orderkey % 5 = 0` is
    * deliberately untranslatable, so the result also proves Spark's
    * residual filter still applies above the bridge. Identifier case
    * (`lake.Gold.ORDERS`) resolves to the on-disk `gold/orders` —
    * Spark SQL's case-insensitive identifier contract held through to
    * the filesystem.
    */
  def sqlPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = Catalog(spark, graft.util.TempDirs.scratch("sqlpd"))
    cat.createSchema("gold")
    cat.table("gold", "orders").append(
      Testdata.read(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus")))
    cat.attachSqlCatalog("lake")
    cat.sql(
      """SELECT o_orderkey, o_totalprice
        |FROM lake.Gold.ORDERS
        |WHERE o_totalprice > 150000.0 AND o_orderstatus = 'F' AND o_orderkey % 5 = 0""".stripMargin)
  }

  val sqlPushdownSql: String =
    """SELECT o_orderkey, o_totalprice
      |FROM orders
      |WHERE o_totalprice > 150000.0 AND o_orderstatus = 'F' AND o_orderkey % 5 = 0""".stripMargin

  /** Streaming dedup with bounded state: events unioned with an exact
    * copy of itself, streamed, deduplicated on event_id within the
    * watermark horizon → exactly the original rows (duplicates are
    * byte-identical, so arrival order cannot change the outcome).
    */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val wd = graft.util.TempDirs.scratch("sdedup")
    val src = s"$wd/src"
    val events = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    events.write.mode("append").parquet(src)
    events.write.mode("append").parquet(src) // exact duplicate wave
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    StreamJobs
      .runStreamingDedup(spark, src, schema, "ts", Seq("event_id"), wd,
        watermarkDelay = "45 days")
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        col("value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
  }

  val streamDedupSql: String =
    """SELECT event_id, user_id, event_type, value,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
      |FROM events""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_skew_salted_join" -> (skewSaltedJoin _),
    "q_bucketed_join" -> (bucketedJoin _),
    "q_bloom_prune_join" -> (bloomPruneJoin _),
    "q_delete_where" -> (deleteWhere _),
    "q_delete_dv" -> (deleteDv _),
    "q_bloom_point_lookup" -> (bloomPointLookup _),
    "q_dpp_join" -> (dppJoin _),
    "q_schema_evolution" -> (schemaEvolution _),
    "q_sql_catalog" -> (sqlOverCatalog _),
    "q_sql_catalog_v2" -> (sqlOverCatalogV2 _),
    "q_mv_rewrite" -> (mvRewrite _),
    "q_mv_rewrite_sum" -> (mvRewriteSum _),
    "q_mv_rewrite_filtered" -> (mvRewriteFiltered _),
    "q_count_pushdown" -> (countPushdown _),
    "q_minmax_pushdown" -> (minmaxPushdown _),
    "q_groupby_pushdown" -> (groupbyPushdown _),
    "q_sql_time_travel" -> (sqlTimeTravel _),
    "q_ctas_sql" -> (ctasSql _),
    "q_alter_sql" -> (alterSql _),
    "q_snapshots_sql" -> (snapshotsMetaSql _),
    "q_partitioned_ddl" -> (partitionedDdl _),
    "q_partitioned_transform" -> (partitionedTransform _),
    "q_call_maintenance" -> (callMaintenance _),
    "q_call_governance" -> (callGovernance _),
    "q_constraint_sql" -> (constraintSql _),
    "q_sql_pushdown" -> (sqlPushdown _),
    "q_stream_dedup" -> (streamDedup _))

  val oracleSql: Map[String, String] = Map(
    "q_skew_salted_join" -> skewSaltedJoinSql,
    "q_bucketed_join" -> bucketedJoinSql,
    "q_bloom_prune_join" -> bloomPruneJoinSql,
    "q_delete_where" -> deleteWhereSql,
    "q_delete_dv" -> deleteDvSql,
    "q_bloom_point_lookup" -> bloomPointLookupSql,
    "q_dpp_join" -> dppJoinSql,
    "q_schema_evolution" -> schemaEvolutionSql,
    "q_sql_catalog" -> sqlOverCatalogSql,
    "q_sql_catalog_v2" -> sqlOverCatalogV2Sql,
    "q_mv_rewrite" -> mvRewriteSql,
    "q_mv_rewrite_sum" -> mvRewriteSumSql,
    "q_mv_rewrite_filtered" -> mvRewriteFilteredSql,
    "q_count_pushdown" -> countPushdownSql,
    "q_minmax_pushdown" -> minmaxPushdownSql,
    "q_groupby_pushdown" -> groupbyPushdownSql,
    "q_sql_time_travel" -> sqlTimeTravelSql,
    "q_ctas_sql" -> ctasSqlSql,
    "q_alter_sql" -> alterSqlSql,
    "q_snapshots_sql" -> snapshotsMetaSqlSql,
    "q_partitioned_ddl" -> partitionedDdlSql,
    "q_partitioned_transform" -> partitionedTransformSql,
    "q_call_maintenance" -> callMaintenanceSql,
    "q_call_governance" -> callGovernanceSql,
    "q_constraint_sql" -> constraintSqlSql,
    "q_sql_pushdown" -> sqlPushdownSql,
    "q_stream_dedup" -> streamDedupSql)
}
