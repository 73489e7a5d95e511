package graft.queries

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Ops
import graft.sources.Testdata
import graft.tables.{Catalog, Incremental, LakeTable, Merge}

/** The reference-surface operator inventory (SURVEY §2) exercised over
  * the driver's TPC-H-ish testdata, one query per operator family, each
  * paired with ANSI SQL for the DuckDB oracle (see
  * [[CoreQueries.oracleSql]]).
  *
  * Conventions for oracle parity:
  *   - every computed column is aliased identically in both engines;
  *   - double aggregates are rounded (sum order across partitions is not
  *     deterministic in the last bits);
  *   - timestamps are emitted as formatted strings (parquet physical
  *     type / tz-annotation differences between engines otherwise break
  *     value-hash comparison);
  *   - ordering-sensitive picks (open/close of a candle, dedup winner)
  *     use a deterministic total order: event time then unique id —
  *     the deterministic `min_by`/`max_by` variant SURVEY §7.5.2 calls
  *     for, instead of the reference's arrival-order `first`/`last`.
  */
object CoreQueries {

  /** Unique scratch dir for queries that need a LakeTable round trip. */
  private def scratch(tag: String): String = graft.util.TempDirs.scratch(tag)

  /** The lake table SQL names `lake.silver.<name>`, under a fresh
    * scratch root attached as the `lake` catalog.
    */
  private def sqlTarget(spark: SparkSession, tag: String, name: String): LakeTable = {
    val cat = Catalog(spark, scratch(tag))
    cat.attachSqlCatalog()
    cat.table("silver", name)
  }

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  /** Shift `keyCol` PAST the live key domain of `base` (max+1), never by
    * a fixed constant: a `+1M` literal collides with real keys once the
    * table outgrows it (true TPCH sf ≥ ~6.7 for custkey), and a
    * colliding "fresh" key gives two source rows for one target key —
    * an ambiguous merge. One broadcast 1-row agg, zero driver collect;
    * SQL oracles mirror it as `+ (SELECT max(key) + 1 FROM base)`.
    */
  private def shiftPastMax(df: DataFrame, keyCol: String, base: DataFrame): DataFrame =
    df.crossJoin(broadcast(base.agg(max(col(keyCol)).as("__max_key"))))
      .withColumn(keyCol, col(keyCol) + col("__max_key") + 1)
      .drop("__max_key")

  // ---- A: aggregation -----------------------------------------------------

  /** TPC-H Q1-style pricing summary: the groupBy/agg surface (A1 shape,
    * batch). Partial (map-side) aggregation + single hash shuffle on the
    * two low-cardinality group keys — the plan that survives 100 TB.
    */
  def aggPricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.read(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("n_rows"))

  val aggPricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 4) AS sum_qty,
      |  round(sum(l_extendedprice), 4) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  count(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 shape (shipping priority): customer ⋈ orders ⋈ lineitem
    * with opposing date filters, revenue per open order, top-10. The
    * multi-way join-order/broadcast decision is Catalyst's: customer is
    * a broadcast-able dim against the orders⋈lineitem fact chain, and
    * the date filters push to both scans. Ranking is on the ROUNDED
    * revenue with (o_orderdate, l_orderkey) tie-breaks so the top-10
    * cut is engine-independent.
    */
  def tpchShippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = lit("1998-03-15")
    val customer = Testdata.read(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val orders = Testdata.read(spark, sfDir, "orders")
      .filter(col("o_orderdate") < cutoff)
    val lineitem = Testdata.read(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") > cutoff)
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
      .limit(10)
      .select(
        col("l_orderkey"),
        col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_orderpriority"))
  }

  val tpchShippingPrioritySql: String =
    """SELECT l_orderkey,
      |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
      |       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      |       o_orderpriority
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  /** TPC-H Q5 shape (local supplier volume): the 6-way join — lineitem
    * fact against orders, then customer and supplier pinned to the
    * same nation inside one region, revenue per nation. Region/nation
    * broadcast (KBs); supplier/customer ride the fact-side shuffle
    * keys Catalyst picks; the c_nationkey = s_nationkey equality is
    * the cross-dimension constraint that makes join ORDER matter.
    */
  def tpchLocalVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val region = Testdata.read(spark, sfDir, "region").filter(col("r_name") === "ASIA")
    val nation = Testdata.read(spark, sfDir, "nation")
    val asiaNations = nation
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val customer = Testdata.read(spark, sfDir, "customer")
    val supplier = Testdata.read(spark, sfDir, "supplier")
    val orders = Testdata.read(spark, sfDir, "orders")
      .filter(
        col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
    val lineitem = Testdata.read(spark, sfDir, "lineitem")
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .join(
        customer,
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
  }

  val tpchLocalVolumeSql: String =
    """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name""".stripMargin

  /** TPC-H Q10 shape (returned-item reporting): quarter of orders ⋈
    * returned lineitems ⋈ customer ⋈ nation, revenue lost per customer,
    * top-20. The selective `l_returnflag = 'R'` must reach the fact
    * scan and the top-20 must plan bounded (TakeOrderedAndProject) —
    * ranking on the ROUNDED revenue with a c_custkey tie-break keeps
    * the cut engine-independent.
    */
  def tpchReturnedItems(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Testdata.read(spark, sfDir, "customer")
    val nation = Testdata.read(spark, sfDir, "nation")
    val orders = Testdata.read(spark, sfDir, "orders")
      .filter(
        col("o_orderdate") >= lit("1996-10-01") && col("o_orderdate") < lit("1997-01-01"))
    val lineitem = Testdata.read(spark, sfDir, "lineitem")
      .filter(col("l_returnflag") === "R")
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("revenue"), col("c_acctbal"), col("n_name"))
  }

  val tpchReturnedItemsSql: String =
    """SELECT c_custkey, c_name,
      |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
      |       c_acctbal, n_name
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey ASC
      |LIMIT 20""".stripMargin

  /** TPC-H Q18 shape (large-volume customers): the aggregate-then-
    * semi-join pattern — orders whose total lineitem quantity clears a
    * threshold (a HAVING subquery), rejoined to customer and lineitem
    * for the report, top-100 by order value. The qualifying-key set is
    * an aggregation output joined back to the facts; quantities are
    * integral doubles so the threshold compare is exact cross-engine.
    */
  def tpchLargeVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Testdata.read(spark, sfDir, "customer")
    val orders = Testdata.read(spark, sfDir, "orders")
    val lineitem = Testdata.read(spark, sfDir, "lineitem")
    val big = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 150)
    orders
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      // rank on the ROUNDED price — the comparison value both engines
      // share — so rounded-ties resolve by the o_orderkey tie-break
      // identically instead of by raw-double noise
      .withColumn("o_totalprice_r", round(col("o_totalprice"), 4))
      .orderBy(col("o_totalprice_r").desc, col("o_orderkey").asc)
      .limit(100)
      .select(
        col("c_name"),
        col("c_custkey"),
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_totalprice_r").as("o_totalprice"),
        round(col("total_qty"), 4).as("total_qty"))
  }

  val tpchLargeVolumeSql: String =
    """SELECT c_name, c_custkey, o_orderkey,
      |       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      |       round(o_totalprice, 4) AS o_totalprice,
      |       round(total_qty, 4) AS total_qty
      |FROM orders
      |JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
      |      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) big
      |  ON o_orderkey = big.l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY round(o_totalprice, 4) DESC, o_orderkey ASC
      |LIMIT 100""".stripMargin

  /** TPC-H Q4 shape (order-priority checking): the correlated-EXISTS
    * semi-join — orders in a quarter that have at least one lineitem
    * shipped after the order date (the testdata's stand-in for
    * commit &lt; receipt, which this schema doesn't carry), counted per
    * priority. Plans as a LEFT SEMI join keyed on the order key with
    * the correlated date compare as the join residual: each order is
    * emitted at most once regardless of matching lineitem multiplicity,
    * and at scale both sides shuffle on the equi key — never a
    * per-order subquery loop (PlanAuditSpec pins LeftSemi, no nested
    * loop).
    */
  def tpchOrderPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Testdata.read(spark, sfDir, "orders")
      .filter(
        col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1996-04-01"))
    val lineitem = Testdata.read(spark, sfDir, "lineitem")
    orders
      .join(
        lineitem,
        col("o_orderkey") === col("l_orderkey") && col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val tpchOrderPrioritySql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q21-flavored NOT-EXISTS anti-join: orders in the same
    * quarter with NO returned lineitem (`l_returnflag = 'R'`), counted
    * per priority — the other half of the correlated-subquery surface.
    * The returnflag filter pushes below the join so the anti probe
    * carries only returned lines; plans as LEFT ANTI on the order key.
    */
  def tpchWaitingOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Testdata.read(spark, sfDir, "orders")
      .filter(
        col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1996-04-01"))
    val returned = Testdata.read(spark, sfDir, "lineitem")
      .filter(col("l_returnflag") === "R")
    orders
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val tpchWaitingOrdersSql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND NOT EXISTS (SELECT 1 FROM lineitem
      |                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q13 shape (customer order-count distribution): the outer-
    * join histogram — customer LEFT OUTER orders with a predicate on
    * the JOIN's preserved-null side (pushed to the orders input by
    * Catalyst, never applied post-join where it would break outer
    * semantics), per-customer order counts INCLUDING zeros, then the
    * count-of-counts distribution. Two cascaded aggregations, both
    * map-side combined; the only wide ops are the join's key shuffle
    * and two small key-space aggs.
    */
  def tpchCustomerDistribution(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Testdata.read(spark, sfDir, "customer")
    val orders = Testdata.read(spark, sfDir, "orders")
    customer
      .join(
        orders,
        col("c_custkey") === col("o_custkey") && col("o_orderpriority") =!= "1-URGENT",
        "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val tpchCustomerDistributionSql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT OUTER JOIN orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |      GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q22 shape (global sales opportunity): scalar-subquery
    * threshold + anti-join — customers above the positive-balance
    * average with no urgent orders, summarized per nation. The scalar
    * average is a 1-row frame met via broadcast (a single-row
    * nested-loop is the right plan for a scalar), the NOT EXISTS is a
    * LeftAnti keyed on the customer key with the priority filter pushed
    * to the probe side. The threshold compare uses the 4-dp ROUNDED
    * average so both engines cut on the same value (raw float averages
    * differ in the last ulp across partial-aggregation orders).
    */
  def tpchSalesOpportunity(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Testdata.read(spark, sfDir, "customer")
    val urgent = Testdata.read(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val avgBal = customer
      .filter(col("c_acctbal") > 0)
      .agg(round(avg(col("c_acctbal")), 4).as("avg_bal"))
    customer
      .join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), round(sum(col("c_acctbal")), 4).as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  val tpchSalesOpportunitySql: String =
    """SELECT c_nationkey, count(*) AS numcust,
      |       round(sum(c_acctbal), 4) AS totacctbal
      |FROM customer
      |WHERE c_acctbal > (SELECT round(avg(c_acctbal), 4) FROM customer
      |                   WHERE c_acctbal > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  /** TPC-H Q2 shape (minimum-cost supplier): the correlated-MIN
    * subquery. This schema has no partsupp, so the (part, supplier)
    * "offer" table is derived from lineitem — min extended price per
    * pair — then each offer must equal the per-part minimum across
    * EUROPE suppliers. The part filter is a broadcast semi BELOW the
    * offer aggregation (the subquery correlates only on partkey, so
    * restricting to qualifying parts first is equivalence-preserving
    * and cuts the agg input ~400×); the per-part min is a second tiny
    * agg joined back by equality on the exact double (a min of the
    * same value set in both engines — no summation, no ulp risk).
    */
  def tpchMinCostSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val parts = Testdata.read(spark, sfDir, "part")
      .filter(col("p_size") === 15 && col("p_type") === "SMALL")
    val euro = Testdata.read(spark, sfDir, "supplier")
      .join(
        broadcast(Testdata.read(spark, sfDir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(
        broadcast(Testdata.read(spark, sfDir, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val offers = Testdata.read(spark, sfDir, "lineitem")
      .join(broadcast(parts.select(col("p_partkey"))), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice")).as("cost"))
      .join(broadcast(euro), col("l_suppkey") === col("s_suppkey"))
    val minPerPart = offers
      .groupBy(col("l_partkey").as("mp_partkey"))
      .agg(min(col("cost")).as("min_cost"))
    offers
      .join(broadcast(minPerPart), col("l_partkey") === col("mp_partkey") && col("cost") === col("min_cost"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .withColumn("s_acctbal_r", round(col("s_acctbal"), 4))
      .orderBy(col("s_acctbal_r").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
      .select(
        col("s_acctbal_r").as("s_acctbal"),
        col("s_name"),
        col("n_name"),
        col("p_partkey"),
        round(col("cost"), 4).as("supply_cost"))
  }

  val tpchMinCostSupplierSql: String =
    """WITH offers AS (
      |  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS cost
      |  FROM lineitem GROUP BY l_partkey, l_suppkey),
      |euro AS (
      |  SELECT s_suppkey, s_name, s_acctbal, n_name
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE')
      |SELECT round(s_acctbal, 4) AS s_acctbal, s_name, n_name, p_partkey,
      |       round(cost, 4) AS supply_cost
      |FROM offers o
      |JOIN euro ON o.l_suppkey = s_suppkey
      |JOIN part ON o.l_partkey = p_partkey
      |WHERE p_size = 15 AND p_type = 'SMALL'
      |  AND cost = (SELECT min(cost)
      |              FROM offers o2 JOIN euro e2 ON o2.l_suppkey = e2.s_suppkey
      |              WHERE o2.l_partkey = o.l_partkey)
      |ORDER BY round(s_acctbal, 4) DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  /** TPC-H Q6 shape (forecast revenue change): the pure scan-side
    * query — three pushable range predicates and one filtered sum,
    * zero joins. At 100 TB this is the row-group-skipping showcase:
    * shipdate min/max footer stats prune whole files before any byte
    * of the other columns is read.
    */
  def tpchForecastRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.read(spark, sfDir, "lineitem")
      .filter(
        col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4).as("revenue"))

  val tpchForecastRevenueSql: String =
    """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q7 shape (volume shipping): the two-nation flow query.
    * Both fact sides are pre-shrunk BEFORE the orderkey shuffle — a
    * broadcast inner join pins lineitem to suppliers of the two
    * nations and a broadcast inner join (carrying cust_nation for the
    * cross-pair residual filter) pins orders to customers of the two
    * nations (~8% each at uniform nation spread) — then the surviving
    * slices sort-merge on the order key and the cross-pair residual
    * (N1→N2 or N2→N1) filters post-join. The shuffle moves 2/25ths of
    * each fact instead of all of it; at 100 TB that pre-shrink IS the
    * query plan.
    */
  def tpchVolumeShipping(spark: SparkSession, sfDir: String): DataFrame = {
    val nation = Testdata.read(spark, sfDir, "nation")
    val twoNations = nation.filter(col("n_name").isin("NATION_1", "NATION_2"))
    val supp = Testdata.read(spark, sfDir, "supplier")
      .join(broadcast(twoNations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Testdata.read(spark, sfDir, "customer")
      .join(broadcast(twoNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val orders = Testdata.read(spark, sfDir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    Testdata.read(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .filter(
        (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val tpchVolumeShippingSql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |       CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
      |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      |FROM lineitem
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q8 shape (national market share): conditional-share-of-sum.
    * lineitem is semi-pruned to PROMO parts, orders to ASIA customers
    * (both broadcast, both BEFORE the orderkey shuffle); one agg per
    * order-year computes numerator (volume where the supplier is the
    * watched nation) and denominator together. Ratio parity across
    * engines: both sums are rounded to 4 dp BEFORE the division so the
    * quotient is computed from identical doubles.
    */
  def tpchMarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val promoParts = Testdata.read(spark, sfDir, "part")
      .filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val supp = Testdata.read(spark, sfDir, "supplier")
      .join(
        broadcast(Testdata.read(spark, sfDir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val asiaCust = Testdata.read(spark, sfDir, "customer")
      .join(
        broadcast(
          Testdata.read(spark, sfDir, "nation")
            .join(
              broadcast(Testdata.read(spark, sfDir, "region").filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val ordersAsia = Testdata.read(spark, sfDir, "orders")
      .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderdate"))
    Testdata.read(spark, sfDir, "lineitem")
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ordersAsia, col("l_orderkey") === col("o_orderkey"))
      .withColumn("volume", col("l_extendedprice") * (lit(1) - col("l_discount")))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === "NATION_7", col("volume")).otherwise(0)), 4)
          .as("num"),
        round(sum(col("volume")), 4).as("den"))
      .select(col("o_year"), round(col("num") / col("den"), 4).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  val tpchMarketShareSql: String =
    """SELECT o_year,
      |       round(round(sum(CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0 END), 4)
      |             / round(sum(volume), 4), 4) AS mkt_share
      |FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
      |             l_extendedprice * (1 - l_discount) AS volume,
      |             n1.n_name AS supp_nation
      |      FROM lineitem
      |      JOIN part ON p_partkey = l_partkey
      |      JOIN supplier ON s_suppkey = l_suppkey
      |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |      JOIN orders ON o_orderkey = l_orderkey
      |      JOIN customer ON c_custkey = o_custkey
      |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |      JOIN region ON n2.n_regionkey = r_regionkey
      |      WHERE r_name = 'ASIA' AND p_type = 'PROMO') all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** TPC-H Q9 shape (product-type profit): profit per supplier nation
    * per order year for parts matching a name pattern (this schema has
    * no ps_supplycost, so profit is the discounted revenue). The LIKE
    * 'red%' prefix filter prunes part BEFORE the broadcast semi; the
    * only wide op is the lineitem⋈orders key shuffle — orders carries
    * just (orderkey, year) into it.
    */
  def tpchProductProfit(spark: SparkSession, sfDir: String): DataFrame = {
    val redParts = Testdata.read(spark, sfDir, "part")
      .filter(col("p_name").like("red%"))
      .select(col("p_partkey"))
    val supp = Testdata.read(spark, sfDir, "supplier")
      .join(
        broadcast(Testdata.read(spark, sfDir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val orders = Testdata.read(spark, sfDir, "orders")
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    Testdata.read(spark, sfDir, "lineitem")
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val tpchProductProfitSql: String =
    """SELECT n_name AS nation, o_year,
      |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_profit
      |FROM (SELECT n_name, CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
      |             l_extendedprice, l_discount
      |      FROM lineitem
      |      JOIN part ON p_partkey = l_partkey
      |      JOIN supplier ON s_suppkey = l_suppkey
      |      JOIN nation ON s_nationkey = n_nationkey
      |      JOIN orders ON o_orderkey = l_orderkey
      |      WHERE p_name LIKE 'red%') profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  /** TPC-H Q11 shape (important inventory): per-key value with a
    * HAVING threshold that is a scalar subquery over the SAME scoped
    * input — the group-vs-global pattern. The nation scope is a
    * broadcast semi on a 4-supplier list; the scalar (3× the average
    * per-part value — real Q11's fraction is 1/SF-scaled, so a fixed
    * fraction of the TOTAL would degenerate with scale, while a
    * multiple of the AVERAGE selects the same value-skew tail at any
    * SF) is a 1-row broadcast joined into the per-part frame. Both
    * sides of the compare are 4-dp-rounded so the cut is
    * engine-identical.
    */
  def tpchImportantParts(spark: SparkSession, sfDir: String): DataFrame = {
    val suppN3 = Testdata.read(spark, sfDir, "supplier")
      .join(
        broadcast(Testdata.read(spark, sfDir, "nation").filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val perPart = Testdata.read(spark, sfDir, "lineitem")
      .join(broadcast(suppN3), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice")).as("raw_value"))
    val threshold = perPart.agg(round(avg(col("raw_value")) * 3, 4).as("threshold"))
    perPart
      .join(broadcast(threshold))
      .withColumn("part_value", round(col("raw_value"), 4))
      .filter(col("part_value") > col("threshold"))
      .select(col("l_partkey").as("p_partkey"), col("part_value"))
      .orderBy(col("part_value").desc, col("p_partkey"))
  }

  val tpchImportantPartsSql: String =
    """WITH vals AS (
      |  SELECT l_partkey, sum(l_extendedprice) AS raw_value
      |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name = 'NATION_3'
      |  GROUP BY l_partkey)
      |SELECT l_partkey AS p_partkey, round(raw_value, 4) AS part_value
      |FROM vals
      |WHERE round(raw_value, 4) > (SELECT round(avg(raw_value) * 3, 4) FROM vals)
      |ORDER BY part_value DESC, p_partkey""".stripMargin

  /** TPC-H Q12 shape (shipping-mode priority count): conditional
    * counting after a fact-fact join (l_linestatus stands in for the
    * absent l_shipmode). The year filter pushes to the lineitem scan;
    * orders contributes only (orderkey, priority); the two CASE counts
    * ride one agg — the classic manual pivot.
    */
  def tpchPriorityShipmode(spark: SparkSession, sfDir: String): DataFrame = {
    val highPriority = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Testdata.read(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .join(
        Testdata.read(spark, sfDir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01"))
          .select(col("l_orderkey"), col("l_linestatus")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(coalesce(highPriority, lit(false)), 1).otherwise(0)).as("high_line_count"),
        sum(when(coalesce(highPriority, lit(false)), 0).otherwise(1)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  val tpchPriorityShipmodeSql: String =
    """SELECT l_linestatus,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                      THEN 1 ELSE 0 END) AS BIGINT)
      |         AS high_line_count,
      |       CAST(sum(CASE WHEN o_orderpriority IS NULL
      |                       OR o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |                      THEN 1 ELSE 0 END) AS BIGINT)
      |         AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  /** TPC-H Q14 shape (promo revenue percent): conditional share over a
    * one-month slice — broadcast part onto the date-pruned lineitem,
    * numerator and denominator in one agg, both rounded before the
    * division (the Q8 ratio discipline).
    */
  def tpchPromoRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val partTypes = Testdata.read(spark, sfDir, "part").select(col("p_partkey"), col("p_type"))
    Testdata.read(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-03-01") && col("l_shipdate") < lit("1996-04-01"))
      .join(broadcast(partTypes), col("l_partkey") === col("p_partkey"))
      .withColumn("volume", col("l_extendedprice") * (lit(1) - col("l_discount")))
      .agg(
        round(sum(when(col("p_type") === "PROMO", col("volume")).otherwise(0)), 4).as("num"),
        round(sum(col("volume")), 4).as("den"))
      .select(round(lit(100) * col("num") / col("den"), 4).as("promo_revenue"))
  }

  val tpchPromoRevenueSql: String =
    """SELECT round(100 * round(sum(CASE WHEN p_type = 'PROMO'
      |                                  THEN l_extendedprice * (1 - l_discount)
      |                                  ELSE 0 END), 4)
      |             / round(sum(l_extendedprice * (1 - l_discount)), 4), 4) AS promo_revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin

  /** TPC-H Q15 shape (top supplier): aggregate-then-argmax — supplier
    * revenue over a quarter, keep the rows equal to the global max.
    * The max is computed over the ROUNDED per-supplier revenue (the
    * value both engines share) and joined back as a 1-row broadcast;
    * ties all surface, ordered by supplier key.
    */
  def tpchTopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val revenue = Testdata.read(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("total_revenue"))
    val maxRevenue = revenue.agg(max(col("total_revenue")).as("max_revenue"))
    Testdata.read(spark, sfDir, "supplier")
      .join(revenue, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(maxRevenue))
      .filter(col("total_revenue") === col("max_revenue"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val tpchTopSupplierSql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |         round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q16 shape (parts/supplier relationship): NOT-IN exclusion +
    * count-distinct histogram. The excluded-supplier list (negative
    * balance, the stand-in for complaint comments) is a broadcast
    * anti; the part attribute filter is a broadcast semi pushed BELOW
    * the (partkey, suppkey) distinct so the dedup shuffle carries only
    * qualifying parts' rows.
    */
  def tpchPartsSupplierCount(spark: SparkSession, sfDir: String): DataFrame = {
    val excluded = Testdata.read(spark, sfDir, "supplier")
      .filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    val parts16 = Testdata.read(spark, sfDir, "part")
      .filter(
        col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(3, 9, 14, 19, 23, 36, 45, 49))
    Testdata.read(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(parts16.select(col("p_partkey"))), col("l_partkey") === col("p_partkey"), "left_semi")
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .distinct()
      .join(broadcast(parts16), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val tpchPartsSupplierCountSql: String =
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      |      WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)) bridge
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      |  AND p_size IN (3, 9, 14, 19, 23, 36, 45, 49)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** TPC-H Q17 shape (small-quantity revenue): the correlated-AVG
    * subquery — lines whose quantity is under 20% of their part's
    * average quantity. Decorrelated the Spark-native way: per-part
    * averages joined back onto the same brand-pruned slice — no
    * explicit broadcast hint: per-part aggregates grow linearly with
    * scale (one brand is ~10^8 parts at SF100k), so the join strategy
    * is left to AQE, which broadcasts when the slice is actually
    * small and shuffles when it isn't. The avg is 4-dp-rounded BEFORE the
    * 0.2× multiply so the threshold double is engine-identical; the
    * compared quantities are integer-valued.
    */
  def tpchSmallQtyRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val parts12 = Testdata.read(spark, sfDir, "part")
      .filter(col("p_brand") === "Brand#12")
      .select(col("p_partkey"))
    val li12 = Testdata.read(spark, sfDir, "lineitem")
      .join(broadcast(parts12), col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val avgQty = li12
      .groupBy(col("l_partkey").as("a_partkey"))
      .agg(round(avg(col("l_quantity")), 4).as("avg_qty"))
    li12
      .join(avgQty, col("l_partkey") === col("a_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(round(sum(col("l_extendedprice")) / 7.0, 4).as("avg_yearly"))
  }

  val tpchSmallQtyRevenueSql: String =
    """SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#12'
      |  AND l_quantity < 0.2 * (SELECT round(avg(l_quantity), 4)
      |                          FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** TPC-H Q19 shape (discounted revenue, disjunctive predicate): the
    * OR-of-ANDs query. The common factors of the three arms (brand ∈
    * the three brands, size ≤ 15, quantity ≤ 30) are hoisted onto the
    * part and lineitem scans — the pushdown a 100 TB scan needs, since
    * Parquet can skip on the hoisted conjuncts even though the full
    * disjunction only resolves post-join.
    */
  def tpchDisjunctiveRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val parts = Testdata.read(spark, sfDir, "part")
      .filter(col("p_brand").isin("Brand#2", "Brand#13", "Brand#24") && col("p_size").between(1, 15))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    Testdata.read(spark, sfDir, "lineitem")
      .filter(col("l_quantity").between(1, 30))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 5) && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#13" && col("p_size").between(1, 10) && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#24" && col("p_size").between(1, 15) && col("l_quantity").between(20, 30)))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
  }

  val tpchDisjunctiveRevenueSql: String =
    """SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** TPC-H Q20 shape (promotion-candidate suppliers): the nested-IN /
    * half-sum query. Without ps_availqty the adapted predicate keeps
    * the structure — (supplier, part) pairs whose 1996 shipments
    * exceed half their all-time shipments, over name-matched parts.
    * One grouped pass computes both conditional sums (integer-valued
    * doubles — exact); the supplier side is dimension-small and
    * semi-joins the candidate keys.
    */
  def tpchPromotionSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    val redParts = Testdata.read(spark, sfDir, "part")
      .filter(col("p_name").like("red%"))
      .select(col("p_partkey"))
    val in1996 =
      col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01")
    val candidates = Testdata.read(spark, sfDir, "lineitem")
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(
        sum(when(in1996, col("l_quantity")).otherwise(0)).as("qty96"),
        sum(col("l_quantity")).as("qty_total"))
      .filter(col("qty96") > lit(0.5) * col("qty_total"))
      .select(col("l_suppkey"))
    Testdata.read(spark, sfDir, "supplier")
      .join(
        broadcast(Testdata.read(spark, sfDir, "nation").filter(col("n_name") === "NATION_2")),
        col("s_nationkey") === col("n_nationkey"))
      .join(candidates, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_name"), round(col("s_acctbal"), 4).as("s_acctbal"))
      .orderBy(col("s_name"))
  }

  val tpchPromotionSuppliersSql: String =
    """SELECT s_name, round(s_acctbal, 4) AS s_acctbal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE n_name = 'NATION_2'
      |  AND s_suppkey IN (
      |    SELECT l_suppkey FROM lineitem
      |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      |    GROUP BY l_suppkey, l_partkey
      |    HAVING sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |                     AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |                    THEN l_quantity ELSE 0 END) > 0.5 * sum(l_quantity))
      |ORDER BY s_name""".stripMargin

  /** Scalar max + count — the high-watermark probe (A3/A4). */
  def aggScalarMax(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.events(spark, sfDir)
      .agg(
        date_format(max(col("ts")), fmt).as("max_ts"),
        count(lit(1)).as("n_rows"))

  val aggScalarMaxSql: String =
    "SELECT strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts, count(*) AS n_rows FROM events"

  // ---- P: projection / filter / cleaning ----------------------------------

  /** Row-level filter + narrow projection: both must reach the parquet
    * scan (PushedFilters + pruned ReadSchema — P11 plus pushdown audit).
    */
  def filterPushdown(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.read(spark, sfDir, "lineitem")
      .filter(
        col("l_returnflag") === "R" &&
          col("l_shipdate") >= lit("1995-01-01") &&
          col("l_shipdate") < lit("1995-04-01"))
      .select(
        col("l_orderkey"),
        col("l_partkey"),
        col("l_linenumber"),
        col("l_quantity"),
        col("l_extendedprice"))

  val filterPushdownSql: String =
    """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_returnflag = 'R'
      |  AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1995-04-01 00:00:00'""".stripMargin

  /** Cleaning pipeline (P8 trim + P9 non-positive→NULL + P10 dropna),
    * then aggregate. `value` is cleaned with the reference's domain rule.
    */
  def cleanPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Testdata.events(spark, sfDir)
    val cleaned = Ops.handleNull(
      Ops.handleNumeric(
        Ops.handleString(raw, Seq("event_type")),
        Seq("value")),
      dropCols = Seq("value", "event_type"))
    cleaned
      .groupBy(col("event_type"))
      .agg(round(sum(col("value")), 4).as("sum_value"), count(lit(1)).as("n_rows"))
  }

  val cleanPipelineSql: String =
    """SELECT event_type, round(sum(value), 4) AS sum_value, count(*) AS n_rows
      |FROM (
      |  SELECT trim(event_type) AS event_type,
      |         CASE WHEN value <= 0 THEN NULL ELSE value END AS value
      |  FROM events)
      |WHERE value IS NOT NULL AND event_type IS NOT NULL
      |GROUP BY event_type""".stripMargin

  /** Schema normalization (P7, gold semantics: drop extras): cast, add
    * missing as typed NULL, project target schema only.
    */
  def normalizeSchema(spark: SparkSession, sfDir: String): DataFrame = {
    val target = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", IntegerType), // narrowing cast long -> int
      StructField("value", DoubleType),
      StructField("severity", StringType))) // absent -> typed NULL
    Ops.normalizeSchema(
      Testdata.events(spark, sfDir),
      target,
      keepExtra = false)
  }

  val normalizeSchemaSql: String =
    """SELECT event_id, CAST(user_id AS INTEGER) AS user_id, value,
      |       CAST(NULL AS VARCHAR) AS severity
      |FROM events""".stripMargin

  /** Tolerant map-driven rename (P4): one mapping hits, one misses. */
  def renameCols(spark: SparkSession, sfDir: String): DataFrame =
    Ops.renameCols(
      Testdata.read(spark, sfDir, "nation"),
      Map("n_name" -> "nation_name", "no_such_col" -> "zzz"))

  val renameColsSql: String =
    "SELECT n_nationkey, n_name AS nation_name, n_regionkey FROM nation"

  /** Date-part derivation for partition layout (P5). */
  def dateParts(spark: SparkSession, sfDir: String): DataFrame =
    Ops
      .datePartCols(
        Testdata.events(spark, sfDir),
        "ts")
      .groupBy(col("event_year"), col("event_month"), col("event_day"))
      .agg(count(lit(1)).as("n_rows"))

  val datePartsSql: String =
    """SELECT CAST(EXTRACT(year FROM ts) AS INTEGER) AS event_year,
      |       CAST(EXTRACT(month FROM ts) AS INTEGER) AS event_month,
      |       CAST(EXTRACT(day FROM ts) AS INTEGER) AS event_day,
      |       count(*) AS n_rows
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  /** Trading-hours style filter on the hour of a timestamp (P12). */
  def hourFilter(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.events(spark, sfDir)
      .filter(hour(col("ts")) <= 14)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"))

  val hourFilterSql: String =
    """SELECT event_type, count(*) AS n_rows FROM events
      |WHERE EXTRACT(hour FROM ts) <= 14 GROUP BY event_type""".stripMargin

  /** Kafka-envelope JSON round trip (P1+P2+K8 shape): encode rows into a
    * (key, value-json) envelope, then decode with an explicit StructType
    * and flatten — identity on the payload columns.
    */
  def jsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Testdata.events(spark, sfDir)
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        col("value"),
        date_format(col("ts"), fmt).as("ts_str"))
    val enveloped = Ops.jsonEnvelopeEncode(events, Seq("user_id", "event_id"))
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("ts_str", StringType)))
    Ops.jsonEnvelopeDecode(enveloped, "value", schema)
  }

  val jsonRoundtripSql: String =
    """SELECT event_id, user_id, event_type, value,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
      |FROM events""".stripMargin

  // ---- W: window dedup ----------------------------------------------------

  /** Latest-record-per-key dedup via ranked window (W1), deterministic
    * tie-break on the unique event_id.
    */
  /** Corrupt-record-tolerant JSON decode (PERMISSIVE +
    * columnNameOfCorruptRecord): rows whose payload is deterministically
    * truncated parse to NULL fields with the raw text captured in the
    * corrupt column — schema-on-read ingest that never drops or fails a
    * batch on bad input. Oracle classifies with json_valid.
    */
  def jsonCorrupt(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(
        "_corrupt_record", org.apache.spark.sql.types.StringType)))
    graft.sources.Testdata.events(spark, sfDir)
      .withColumn(
        "raw",
        when(col("event_id") % 7 === 0, substring(col("props"), 1, 4)).otherwise(col("props")))
      .withColumn(
        "parsed",
        from_json(
          col("raw"),
          schema,
          Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")))
      .select(
        col("event_id"),
        col("parsed.k").as("k"),
        col("parsed._corrupt_record").as("corrupt_raw"))
  }

  val jsonCorruptSql: String =
    """SELECT event_id,
      |       CASE WHEN event_id % 7 = 0 THEN NULL
      |            ELSE CAST(json_extract(props, '$.k') AS BIGINT) END AS k,
      |       CASE WHEN event_id % 7 = 0 THEN substring(props, 1, 4)
      |            ELSE NULL END AS corrupt_raw
      |FROM events""".stripMargin

  def dedupLatest(spark: SparkSession, sfDir: String): DataFrame =
    Ops
      .deduplicate(
        Testdata.events(spark, sfDir),
        keyCols = Seq("user_id"),
        orderCol = "ts",
        tieBreakers = Seq("event_id"))
      .select(
        col("user_id"),
        col("event_id"),
        col("event_type"),
        col("value"),
        date_format(col("ts"), fmt).as("ts_str"))

  val dedupLatestSql: String =
    """SELECT user_id, event_id, event_type, value,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      |WHERE rn = 1""".stripMargin

  // ---- J: joins -----------------------------------------------------------

  /** Star-schema broadcast left join: fact → two small dims (J1 shape).
    * Both dims are broadcast; the fact side never shuffles.
    */
  def joinStar(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Testdata.read(spark, sfDir, "customer")
    val nation = Testdata.read(spark, sfDir, "nation")
    val region = Testdata.read(spark, sfDir, "region")
    customer
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"), "left")
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"), "left")
      .select(
        col("c_custkey"),
        col("c_name"),
        col("c_mktsegment"),
        col("n_name").as("nation_name"),
        col("r_name").as("region_name"))
  }

  val joinStarSql: String =
    """SELECT c_custkey, c_name, c_mktsegment,
      |       n.n_name AS nation_name, r.r_name AS region_name
      |FROM customer c
      |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey""".stripMargin

  /** Iterated snowflake-flatten join (J1 exactly): the same dim folded on
    * twice with per-level payload rename + key drop — the reference's
    * 4-level ICB denormalization pattern
    * (/root/reference/src/gold/dim_company.py:32-43). The second level
    * key is derived so unmatched keys exercise left-join NULL semantics.
    */
  def joinSnowflakeIterated(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Testdata.read(spark, sfDir, "customer")
    val dim = Testdata.read(spark, sfDir, "nation").select(col("n_nationkey"), col("n_name"))
    val fact = customer
      .withColumn("nk_1", col("c_nationkey"))
      .withColumn("nk_2", col("c_nationkey") + 40) // mostly unmatched -> NULLs
    Ops
      .joinDimIterated(fact, dim, "n_nationkey", Seq("n_name"), Seq("nk_1" -> "_1", "nk_2" -> "_2"))
      .select(col("c_custkey"), col("c_name"), col("n_name_1"), col("n_name_2"))
  }

  val joinSnowflakeIteratedSql: String =
    """SELECT c_custkey, c_name, n1.n_name AS n_name_1, n2.n_name AS n_name_2
      |FROM customer c
      |LEFT JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      |LEFT JOIN nation n2 ON c.c_nationkey + 40 = n2.n_nationkey""".stripMargin

  // ---- S: incremental scan ------------------------------------------------

  /** High-watermark incremental scan (S5/S6): lineitem rows strictly
    * newer than the newest order date — the cross-table watermark
    * contract, then aggregated.
    */
  def incrementalScan(spark: SparkSession, sfDir: String): DataFrame = {
    val lineitem = Testdata.read(spark, sfDir, "lineitem")
    val orders = Testdata.read(spark, sfDir, "orders")
    Incremental
      .highWatermark(lineitem, orders.filter(col("o_orderstatus") === "F"), "l_shipdate", "o_orderdate")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("l_quantity")), 4).as("sum_qty"))
  }

  val incrementalScanSql: String =
    """SELECT l_returnflag, count(*) AS n_rows, round(sum(l_quantity), 4) AS sum_qty
      |FROM lineitem
      |WHERE l_shipdate > (SELECT max(o_orderdate) FROM orders WHERE o_orderstatus = 'F')
      |GROUP BY l_returnflag""".stripMargin

  /** Zonemap-pruned range scan: three time-ordered ingest waves land as
    * three commit dirs whose per-dir (min, max) `ts` ranges ride the
    * write job's manifest stats; a range query for the last window then
    * reads ONLY the commit dirs whose range intersects it
    * ([[graft.tables.LakeTable.readBetween]] — LakeTableSpec pins that
    * the two earlier waves are actually skipped). Manifest-granularity
    * data skipping is what keeps a time-range query on an append-only
    * ingest from scanning the table's whole history at 100 TB.
    */
  def statsPruneScan(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val table = graft.tables.LakeTable(spark, scratch("zonemap"))
    val w1 = lit(java.sql.Timestamp.valueOf("2024-01-11 00:00:00"))
    val w2 = lit(java.sql.Timestamp.valueOf("2024-01-21 00:00:00"))
    table.append(events.filter(col("ts") < w1), statsCols = Seq("ts"))
    table.append(events.filter(col("ts") >= w1 && col("ts") < w2))
    table.append(events.filter(col("ts") >= w2))
    table
      .readBetween(
        "ts",
        Some(java.sql.Timestamp.valueOf("2024-01-24 00:00:00")),
        Some(java.sql.Timestamp.valueOf("2024-01-28 00:00:00")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("value")), 4).as("sum_value"))
  }

  val statsPruneScanSql: String =
    """SELECT event_type, count(*) AS n_rows, round(sum(value), 4) AS sum_value
      |FROM events
      |WHERE ts BETWEEN TIMESTAMP '2024-01-24 00:00:00' AND TIMESTAMP '2024-01-28 00:00:00'
      |GROUP BY event_type""".stripMargin

  /** Table maintenance round trip (Iceberg `rewrite_data_files` +
    * `expire_snapshots` / Delta OPTIMIZE + VACUUM): four append waves,
    * threshold-triggered compaction, snapshot expiry, orphan sweep — then
    * prove the data survived AND the maintenance actually ran by emitting
    * the post-maintenance version/commit-dir counts as checked columns
    * (the oracle expects exactly one snapshot and one commit dir).
    */
  def compactExpire(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val table = graft.tables.LakeTable(spark, scratch("maint"))
    val waves = Seq(
      col("event_id") % 4 === 0, col("event_id") % 4 === 1,
      col("event_id") % 4 === 2, col("event_id") % 4 === 3)
    table.append(events.filter(waves.head), statsCols = Seq("ts"))
    waves.tail.foreach(w => table.append(events.filter(w)))
    table.compactIfNeeded(maxCommitDirs = 2)
    table.expireSnapshots(keepLast = 1)
    table.sweepOrphans(graceMs = 0L) // nothing to reclaim: expiry deleted its dead dirs
    val counts = table.snapshots().agg(
      count(lit(1)).cast("int").as("n_versions"),
      max(col("num_commit_dirs")).cast("int").as("n_commit_dirs"))
    table.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("value")), 4).as("sum_value"))
      .crossJoin(counts)
  }

  val compactExpireSql: String =
    """SELECT event_type, count(*) AS n_rows, round(sum(value), 4) AS sum_value,
      |       1 AS n_versions, 1 AS n_commit_dirs
      |FROM events GROUP BY event_type""".stripMargin

  /** Clustered compaction + file-level zonemap scan: interleaved ingest
    * (every wave spans the whole month, so dir-level ranges can prune
    * nothing), range-clustered rewrite on `ts`, then a window query that
    * reads only the files whose (min, max) intersects. The oracle is the
    * plain BETWEEN — correctness does not depend on pruning;
    * LakeTableSpec pins that files were actually skipped.
    */
  def clusteredCompactScan(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val table = graft.tables.LakeTable(spark, scratch("cluster"))
    // two interleaved waves: both cover Jan-Mar, so both dirs' ts ranges
    // overlap any window — only file-granularity zonemaps can skip I/O
    table.append(events.filter(col("event_id") % 2 === 0), statsCols = Seq("ts"))
    table.append(events.filter(col("event_id") % 2 === 1))
    table.compactClustered("ts", numFiles = 16)
    table
      .readBetween(
        "ts",
        Some(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")),
        Some(java.sql.Timestamp.valueOf("2024-01-14 00:00:00")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("value")), 4).as("sum_value"))
  }

  val clusteredCompactScanSql: String =
    """SELECT event_type, count(*) AS n_rows, round(sum(value), 4) AS sum_value
      |FROM events
      |WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-14 00:00:00'
      |GROUP BY event_type""".stripMargin

  /** Z-order clustered rewrite (Delta OPTIMIZE ZORDER BY (user_id, day)):
    * the Morton key interleaves user and day bits, so per-file zonemaps
    * are tight on BOTH dimensions and a range scan on either column
    * prunes files (LakeTableSpec pins the pruning and the 1-D
    * lexicographic contrast). The query unions a user-range scan and a
    * time-window scan off the same z-clustered table; the oracle is the
    * two plain predicates.
    */
  def zorderScan(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.ZOrder.zorderKey
    val events = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val table = graft.tables.LakeTable(spark, scratch("zorder"))
    table.append(events, statsCols = Seq("ts", "user_id"))
    val day = datediff(col("ts").cast("date"), to_date(lit("1970-01-01")))
    table.compactClusteredBy(
      zorderKey(col("user_id"), day.cast("long")), Seq("user_id", "ts"), numFiles = 16)
    val byUser = table.readBetween("user_id", Some(10L), Some(20L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("value")), 4).as("sum_value"))
      .withColumn("dim", lit("user"))
    val byTime = table.readBetween(
      "ts",
      Some(java.sql.Timestamp.valueOf("2024-01-05 00:00:00")),
      Some(java.sql.Timestamp.valueOf("2024-01-07 00:00:00")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("value")), 4).as("sum_value"))
      .withColumn("dim", lit("time"))
    byUser.unionByName(byTime)
  }

  val zorderScanSql: String =
    """SELECT event_type, count(*) AS n_rows, round(sum(value), 4) AS sum_value, 'user' AS dim
      |FROM events WHERE user_id BETWEEN 10 AND 20 GROUP BY event_type
      |UNION ALL
      |SELECT event_type, count(*), round(sum(value), 4), 'time'
      |FROM events
      |WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-07 00:00:00'
      |GROUP BY event_type""".stripMargin

  /** Hilbert-clustered rewrite — the space-filling-curve alternative to
    * [[zorderScan]] (Delta Liquid-style clustering): consecutive
    * Hilbert keys are always adjacent grid cells, so key-range files
    * cover tighter (user, day) rectangles than a Morton walk, which
    * jumps across the grid at power-of-two boundaries
    * ([[graft.functions.ZOrder.hilbertKey]]; HilbertSpec proves
    * key-correctness against an independent reference loop and
    * measures the locality edge). Result is layout-invariant — the
    * oracle is the two plain predicates; LakeTableSpec-style pruning is
    * pinned in HilbertSpec.
    */
  def hilbertScan(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.ZOrder.hilbertKey
    val events = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val table = graft.tables.LakeTable(spark, scratch("hilbert"))
    table.append(events, statsCols = Seq("ts", "user_id"))
    val day = datediff(col("ts").cast("date"), to_date(lit("1970-01-01")))
    table.compactClusteredBy(
      hilbertKey(col("user_id"), day.cast("long")), Seq("user_id", "ts"), numFiles = 16)
    val byUser = table.readBetween("user_id", Some(30L), Some(40L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("value")), 4).as("sum_value"))
      .withColumn("dim", lit("user"))
    val byTime = table.readBetween(
      "ts",
      Some(java.sql.Timestamp.valueOf("2024-01-20 00:00:00")),
      Some(java.sql.Timestamp.valueOf("2024-01-22 00:00:00")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("value")), 4).as("sum_value"))
      .withColumn("dim", lit("time"))
    byUser.unionByName(byTime)
  }

  val hilbertScanSql: String =
    """SELECT event_type, count(*) AS n_rows, round(sum(value), 4) AS sum_value, 'user' AS dim
      |FROM events WHERE user_id BETWEEN 30 AND 40 GROUP BY event_type
      |UNION ALL
      |SELECT event_type, count(*), round(sum(value), 4), 'time'
      |FROM events
      |WHERE ts BETWEEN TIMESTAMP '2024-01-20 00:00:00' AND TIMESTAMP '2024-01-22 00:00:00'
      |GROUP BY event_type""".stripMargin

  /** Incrementally-maintained aggregate view: three ingest waves, a
    * refresh after each — every refresh reads ONLY the new commit dirs
    * ([[graft.tables.LakeTable.readAddedSince]]; IncrementalViewSpec
    * proves it by destroying the earlier waves' files), and the additive
    * integer-scaled state makes the three-step result bit-identical to
    * the oracle's single full aggregation.
    */
  def incrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val table = graft.tables.LakeTable(spark, scratch("ivsrc"))
    val v = graft.tables.IncrementalAggView(
      table, scratch("ivview"), Seq("event_type"), Seq("value"), minMaxCols = Seq("value"))
    Seq(0, 1, 2).foreach { w =>
      table.append(events.filter(col("event_id") % 3 === w))
      v.refresh()
    }
    v.read().select(
      col("event_type"), col("n_rows"), col("sum_value"),
      col("min_value"), col("max_value"))
  }

  val incrementalAggSql: String =
    """SELECT event_type, count(*) AS n_rows,
      |       round(sum(CAST(round(value * 10000) AS BIGINT)) / 10000.0, 4) AS sum_value,
      |       min(value) AS min_value, max(value) AS max_value
      |FROM events GROUP BY event_type""".stripMargin

  /** Change data feed across snapshots (Delta CDF): v0 = even customer
    * keys, v1 = odds appended (additive — the feed is the new commit
    * dirs, no diff executed), v2 = an overwrite keeping non-negative
    * balances (rewrite — exact multiset EXCEPT ALL diff). Both regimes'
    * inserts/deletes aggregate against the oracle's replay of the same
    * set algebra.
    */
  def tableChanges(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Testdata.read(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val t = graft.tables.LakeTable(spark, scratch("cdf"))
    t.append(cust.filter(col("c_custkey") % 2 === 0)) // v0
    t.append(cust.filter(col("c_custkey") % 2 === 1)) // v1 (additive)
    t.overwrite(t.read().filter(col("c_acctbal") >= 0)) // v2 (rewrite)
    t.changes(0, Some(1)).withColumn("rng", lit("v0_v1"))
      .unionByName(t.changes(0, Some(2)).withColumn("rng", lit("v0_v2")))
      .groupBy(col("rng"), col("_change_type"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("c_acctbal")), 4).as("sum_bal"))
  }

  val tableChangesSql: String =
    """WITH before AS (
      |  SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 2 = 0),
      |after AS (
      |  SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal >= 0),
      |changes AS (
      |  SELECT 'v0_v1' AS rng, 'insert' AS _change_type, c_acctbal
      |  FROM customer WHERE c_custkey % 2 = 1
      |  UNION ALL
      |  SELECT 'v0_v2', 'insert', c_acctbal
      |  FROM (SELECT * FROM after EXCEPT ALL SELECT * FROM before)
      |  UNION ALL
      |  SELECT 'v0_v2', 'delete', c_acctbal
      |  FROM (SELECT * FROM before EXCEPT ALL SELECT * FROM after))
      |SELECT rng, _change_type, count(*) AS n_rows, round(sum(c_acctbal), 4) AS sum_bal
      |FROM changes GROUP BY rng, _change_type""".stripMargin

  /** CSV batch scan round trip (S1): write parquet rows as header CSV,
    * read back with `inferSchema=false` — everything arrives as strings,
    * the reference's bronze contract
    * (/root/reference/src/bronze/_bronze_utils.py:26-28).
    */
  def csvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("csv")
    Testdata.read(spark, sfDir, "region")
      .coalesce(1)
      .write
      .mode("overwrite")
      .option("header", "true")
      .csv(dir)
    spark.read
      .option("header", "true")
      .option("inferSchema", "false")
      .csv(dir)
      .select(col("r_regionkey"), col("r_name"))
  }

  val csvRoundtripSql: String =
    "SELECT CAST(r_regionkey AS VARCHAR) AS r_regionkey, r_name FROM region"

  /** CSV with schema inference (S2): the experiment-only reference
    * variant — numeric columns come back typed, not as strings (the
    * oracle keeps nation's original integral/varchar types, so a
    * failed inference would hash-mismatch on value repr).
    */
  def csvInfer(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("csvinf")
    Testdata.read(spark, sfDir, "nation")
      .coalesce(1)
      .write
      .mode("overwrite")
      .option("header", "true")
      .csv(dir)
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(dir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
  }

  val csvInferSql: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation"

  // ---- K/M: lake table, merge, time travel --------------------------------

  /** SCD Type 2 merge (K6): two deterministic batches over customer.
    * Batch 2 changes acctbal for custkey % 3 = 0 (→ close + insert),
    * resends custkey % 3 = 1 unchanged (→ silently skipped), and omits
    * custkey % 3 = 2 (→ untouched). Output is the full version history.
    */
  def scd2Versions(spark: SparkSession, sfDir: String): DataFrame = {
    val t1 = Timestamp.valueOf("2020-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2020-02-01 00:00:00")
    val customer = Testdata.read(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val table = LakeTable(spark, scratch("scd2"))
    Merge.mergeScd2(table, customer, Seq("c_custkey"), Seq("c_acctbal"), t1)
    val batch2 = customer
      .filter(col("c_custkey") % 3 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100)
      .unionByName(customer.filter(col("c_custkey") % 3 === 1))
    Merge.mergeScd2(table, batch2, Seq("c_custkey"), Seq("c_acctbal"), t2)
    table
      .read()
      .select(
        col("c_custkey"),
        col("c_name"),
        col("c_acctbal"),
        date_format(col("start_timestamp"), fmt).as("start_ts"),
        date_format(col("end_timestamp"), fmt).as("end_ts"),
        col("is_current"))
  }

  val scd2VersionsSql: String =
    """SELECT c_custkey, c_name, c_acctbal,
      |       '2020-01-01 00:00:00' AS start_ts,
      |       '2020-02-01 00:00:00' AS end_ts, 0 AS is_current
      |FROM customer WHERE c_custkey % 3 = 0
      |UNION ALL
      |SELECT c_custkey, c_name, c_acctbal + 100,
      |       '2020-02-01 00:00:00', NULL, 1
      |FROM customer WHERE c_custkey % 3 = 0
      |UNION ALL
      |SELECT c_custkey, c_name, c_acctbal,
      |       '2020-01-01 00:00:00', NULL, 1
      |FROM customer WHERE c_custkey % 3 <> 0""".stripMargin

  /** POINT-IN-TIME (temporal) join over the SCD2 dimension: for each
    * probe instant, the version valid AT that instant
    * (`start <= ts < end`, open end = +∞) — the canonical
    * as-of-dimension lookup a warehouse runs against SCD2 history
    * (distinct from [[graft.operators.Ops.asofJoin]], which carries a
    * time-series payload at-or-before per key). Probes are a tiny
    * literal frame, so the validity-range join is a broadcast
    * nested-loop over the dimension — the right plan when the probe
    * set is bounded; per-instant aggregates keep the oracle compact.
    */
  def scd2PointInTime(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t1 = Timestamp.valueOf("2020-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2020-02-01 00:00:00")
    val customer = Testdata.read(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val table = LakeTable(spark, scratch("scd2pit"))
    Merge.mergeScd2(table, customer, Seq("c_custkey"), Seq("c_acctbal"), t1)
    val batch2 = customer
      .filter(col("c_custkey") % 3 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100)
      .unionByName(customer.filter(col("c_custkey") % 3 === 1))
    Merge.mergeScd2(table, batch2, Seq("c_custkey"), Seq("c_acctbal"), t2)
    val probes = Seq("2020-01-15 00:00:00", "2020-02-15 00:00:00")
      .toDF("probe_ts")
      .withColumn("pts", to_timestamp(col("probe_ts")))
    table
      .read()
      .join(
        broadcast(probes),
        col("start_timestamp") <= col("pts") &&
          (col("end_timestamp").isNull || col("pts") < col("end_timestamp")))
      .groupBy(col("probe_ts"))
      .agg(
        count(lit(1)).as("n_valid"),
        round(sum(col("c_acctbal")), 4).as("sum_acctbal"))
  }

  val scd2PointInTimeSql: String =
    """WITH v AS (
      |  SELECT c_custkey, c_acctbal,
      |         TIMESTAMP '2020-01-01 00:00:00' AS s, TIMESTAMP '2020-02-01 00:00:00' AS e
      |  FROM customer WHERE c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_acctbal + 100,
      |         TIMESTAMP '2020-02-01 00:00:00', NULL
      |  FROM customer WHERE c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_acctbal,
      |         TIMESTAMP '2020-01-01 00:00:00', NULL
      |  FROM customer WHERE c_custkey % 3 <> 0),
      |probes AS (
      |  SELECT unnest(['2020-01-15 00:00:00', '2020-02-15 00:00:00']) AS probe_ts)
      |SELECT probe_ts, count(*) AS n_valid,
      |       round(sum(c_acctbal), 4) AS sum_acctbal
      |FROM v JOIN probes
      |  ON s <= CAST(probe_ts AS TIMESTAMP)
      | AND (e IS NULL OR CAST(probe_ts AS TIMESTAMP) < e)
      |GROUP BY probe_ts""".stripMargin

  /** SCD Type 1 merge (K7): upsert — custkey % 4 = 0 updated in place
    * (acctbal doubled), custkey % 7 = 0 re-inserted under a shifted new
    * key; everything else survives untouched.
    */
  def scd1Upsert(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Testdata.read(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val table = LakeTable(spark, scratch("scd1"))
    Merge.mergeScd1(table, customer, Seq("c_custkey"))
    val updates = customer
      .filter(col("c_custkey") % 4 === 0)
      .withColumn("c_acctbal", col("c_acctbal") * 2)
    val inserts = shiftPastMax(
      customer.filter(col("c_custkey") % 7 === 0), "c_custkey", customer)
    Merge.mergeScd1(table, updates.unionByName(inserts), Seq("c_custkey"))
    table.read()
  }

  val scd1UpsertSql: String =
    """SELECT c_custkey, c_name,
      |       CASE WHEN c_custkey % 4 = 0 THEN c_acctbal * 2 ELSE c_acctbal END AS c_acctbal
      |FROM customer
      |UNION ALL
      |SELECT c_custkey + (SELECT max(c_custkey) + 1 FROM customer), c_name, c_acctbal
      |FROM customer WHERE c_custkey % 7 = 0""".stripMargin

  /** TABLE DIFF — the migration-validation operator (the check a user
    * runs after a rewrite/restore/backfill): symmetric MULTISET
    * difference between two snapshots of the same table, one row per
    * divergent tuple with its side and copy-count delta. `EXCEPT ALL`
    * both ways (hash aggregation on the full row, never a sort), so a
    * lost duplicate copy surfaces even when a DISTINCT diff would hide
    * it. Here: current state vs the pre-update snapshot of a table
    * that took one merge-on-read update — the diff must be exactly the
    * updated row's before/after pair.
    */
  def tableDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
      .filter(col("event_id") % 5 === 0)
    val table = LakeTable(spark, scratch("tdiff"))
    table.append(ev)
    table.updateWhere(col("event_id") === 100, Map("value" -> lit(123.5)))
    val before = table.read(versionAsOf = Some(0L))
    val after = table.read()
    val gone = before.exceptAll(after).withColumn("side", lit("removed"))
    val added = after.exceptAll(before).withColumn("side", lit("added"))
    gone.unionByName(added)
      .groupBy(col("side"), col("event_id"), col("event_type"), round(col("value"), 4).as("value_r"))
      .agg(count(lit(1)).as("n_copies"))
  }

  val tableDiffSql: String =
    """SELECT 'removed' AS side, event_id, event_type,
      |       round(value, 4) AS value_r, CAST(1 AS BIGINT) AS n_copies
      |FROM events WHERE event_id = 100
      |UNION ALL
      |SELECT 'added', 100, (SELECT event_type FROM events WHERE event_id = 100),
      |       123.5, CAST(1 AS BIGINT)""".stripMargin

  /** DESCRIBE DETAIL-style table summary (Delta `DESCRIBE DETAIL` /
    * Iceberg metadata tables): version, layout, governance state, and
    * row count straight from the manifest + metadata machinery — the
    * operational one-row view an admin queries before touching a
    * table. Every field is a deterministic function of the
    * construction, so the oracle is a VALUES literal.
    */
  def tableDetail(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val table = LakeTable(spark, scratch("detail"))
    table.append(ev.filter(col("event_id") % 2 === 0), partitionBy = Seq("event_type"))
    table.append(ev.filter(col("event_id") % 2 =!= 0))
    table.createTag("raw")
    table.addCheckConstraint("value_present", "value IS NOT NULL")
    val m = table.snapshots().orderBy(col("version").desc).limit(1)
      .select(col("version"), col("num_commit_dirs")).head()
    Seq((
      m.getLong(0),
      m.getInt(1).toLong,
      "event_type",
      table.listTags().size.toLong,
      table.checkConstraints().size.toLong,
      table.read().count()))
      .toDF("version", "n_commit_dirs", "partition_by", "n_tags", "n_constraints", "n_rows")
  }

  val tableDetailSql: String =
    """SELECT CAST(2 AS BIGINT) AS version, CAST(2 AS BIGINT) AS n_commit_dirs,
      |       'event_type' AS partition_by, CAST(1 AS BIGINT) AS n_tags,
      |       CAST(1 AS BIGINT) AS n_constraints,
      |       (SELECT count(*) FROM events) AS n_rows""".stripMargin

  /** Table-level CHECK constraint
    * ([[graft.tables.LakeTable.addCheckConstraint]], the Delta `ALTER
    * TABLE ... ADD CONSTRAINT ... CHECK` semantics): enforcement rides
    * every write's own observe pass, a violating batch leaves no trace,
    * and the final table must contain exactly the conforming rows
    * (CheckConstraintSpec pins the NULL-as-violation stance and every
    * write path).
    */
  def checkConstraint(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val table = LakeTable(spark, scratch("checkcon"))
    table.append(ev.filter(col("event_id") % 2 === 0))
    table.addCheckConstraint("value_finite", "value IS NOT NULL AND abs(value) < 1e9")
    table.append(ev.filter(col("event_id") % 2 =!= 0)) // conforming: lands
    try table.append(
      ev.filter(col("event_id") % 7 === 0)
        .withColumn("value", col("value") + 2e9)) // violates: rejected
    catch { case _: IllegalStateException => () }
    table.read()
      .select(col("event_id"), col("event_type"), round(col("value"), 4).as("value_r"))
  }

  val checkConstraintSql: String =
    """SELECT event_id, event_type, round(value, 4) AS value_r FROM events""".stripMargin

  /** WRITE-AUDIT-PUBLISH ([[graft.tables.LakeTable.stageAppend]]): each
    * batch lands as an INVISIBLE staged commit dir, is audited there
    * with declarative expectations, and only then publishes — one
    * atomic manifest CAS, no second data write. The clean batch
    * publishes; the batch violating its audit (planted negative values)
    * aborts and its rows must never surface. The Iceberg WAP pattern
    * end to end.
    */
  def writeAuditPublish(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Expectations
    val ev = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val table = LakeTable(spark, scratch("wap"))
    val expectations = Seq(
      Expectations.Expectation("value_non_negative", col("value") >= 0, Expectations.Fail))
    def wap(batch: org.apache.spark.sql.DataFrame): Unit = {
      val staged = table.stageAppend(batch)
      try {
        Expectations.check(table.readStaged(staged), expectations)
        table.publishStaged(staged)
      } catch {
        case _: IllegalStateException => table.abortStaged(staged)
      }
    }
    wap(ev.filter(col("event_id") % 2 === 0)) // clean: publishes
    wap(ev.filter(col("event_id") % 2 =!= 0)
      .withColumn("value", -abs(col("value")) - 1)) // dirty: aborts
    table.read()
      .select(col("event_id"), col("event_type"), round(col("value"), 4).as("value_r"))
  }

  val writeAuditPublishSql: String =
    """SELECT event_id, event_type, round(value, 4) AS value_r
      |FROM events WHERE event_id % 2 = 0""".stripMargin

  /** RESTORE + snapshot TAG ([[graft.tables.LakeTable.restore]] /
    * `createTag`): tag the raw load, run a destructive overwrite, then
    * roll the table back to the tagged snapshot — a manifest-only
    * publish, zero data copied, with the overwrite still
    * time-travelable. The final read must equal the original load
    * (RestoreTagSpec pins history survival, watermark revert, and
    * retention pinning).
    */
  def restoreTag(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
      .filter(col("event_id") % 3 === 0)
    val table = LakeTable(spark, scratch("restoretag"))
    table.append(ev) // v0: the raw load
    val tagged = table.createTag("raw")
    table.overwrite(table.read().filter(col("event_type") =!= "error")) // v1: oops
    table.restore(tagged) // v2 == v0 content
    table.read()
      .select(col("event_id"), col("event_type"), round(col("value"), 4).as("value_r"))
  }

  val restoreTagSql: String =
    """SELECT event_id, event_type, round(value, 4) AS value_r
      |FROM events WHERE event_id % 3 = 0""".stripMargin

  /** PARTITION EVOLUTION (Iceberg spec §partition-evolution): the first
    * wave lands partitioned by `event_type`, the second by `day` — each
    * commit dir keeps its own hive layout, the manifest records the
    * layout in force, and readers reconstruct partition columns per dir
    * (PartitionEvolutionSpec pins the mechanics). A filter on the NEW
    * layout's column still partition-prunes the new dirs while the old
    * dirs scan under a plain data-column predicate — evolution never
    * requires rewriting history, the property that matters when a
    * 100 TB table outgrows its original layout.
    */
  def partitionEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Testdata.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val table = LakeTable(spark, scratch("pevolve"))
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    table.append(ev.filter(col("ts") < cut), partitionBy = Seq("event_type"))
    table.append(ev.filter(col("ts") >= cut), partitionBy = Seq("day"))
    table.read()
      .filter(col("day").between("2024-01-10", "2024-01-20"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("value")), 4).as("sum_value"))
  }

  val partitionEvolutionSql: String =
    """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
      |       count(*) AS n_rows, round(sum(value), 4) AS sum_value
      |FROM events
      |WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-10' AND '2024-01-20'
      |GROUP BY 1, 2""".stripMargin

  /** SCD1 merge under SCHEMA DRIFT ([[graft.tables.Merge.mergeScd1Evolve]]):
    * the second wave's source DROPS `c_name` and ADDS `c_segment`. The
    * merged table must (a) grow the new column, NULL for untouched
    * rows; (b) keep `c_name` on matched rows (the source doesn't carry
    * it) and NULL it on inserts; (c) upsert normally otherwise — the
    * Delta autoMerge behavior, on the same update/insert waves as
    * q_scd1_upsert so the two oracles diff only where drift semantics
    * bite.
    */
  def mergeSchemaDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Testdata.read(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val table = LakeTable(spark, scratch("scd1drift"))
    Merge.mergeScd1Evolve(table, customer, Seq("c_custkey"))
    val drifted = Testdata.read(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment").as("c_segment"))
    val updates = drifted
      .filter(col("c_custkey") % 4 === 0)
      .withColumn("c_acctbal", col("c_acctbal") * 2)
    val inserts = shiftPastMax(
      drifted.filter(col("c_custkey") % 7 === 0), "c_custkey", drifted)
    Merge.mergeScd1Evolve(table, updates.unionByName(inserts), Seq("c_custkey"))
    table.read()
  }

  val mergeSchemaDriftSql: String =
    """SELECT c_custkey, c_name,
      |       CASE WHEN c_custkey % 4 = 0 THEN c_acctbal * 2 ELSE c_acctbal END AS c_acctbal,
      |       CASE WHEN c_custkey % 4 = 0 THEN c_mktsegment END AS c_segment
      |FROM customer
      |UNION ALL
      |SELECT c_custkey + (SELECT max(c_custkey) + 1 FROM customer), NULL, c_acctbal, c_mktsegment
      |FROM customer WHERE c_custkey % 7 = 0""".stripMargin

  /** MERGE INTO as SQL (SURVEY §7.4's v2 path, delivered via the
    * parser-level rewrite in [[graft.plans.GraftMergeParser]]): the
    * exact upsert scenario of q_scd1_upsert, but the second merge runs
    * as a literal `MERGE INTO ... WHEN MATCHED THEN UPDATE SET * WHEN
    * NOT MATCHED THEN INSERT *` statement — the reference's silver
    * merge surface (/root/reference/src/silver/_silver_utils.py:176-183)
    * as a one-statement SQL call. Shares q_scd1_upsert's oracle: the
    * SQL path must be observationally identical to the programmatic
    * Merge.mergeScd1.
    */
  def mergeSql(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Testdata.read(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val table = sqlTarget(spark, "mergesql", "merge_target")
    // first load as literal SQL too — the reference's empty-table branch
    // (INSERT INTO ... SELECT, _silver_utils.py:130-135)
    customer.createOrReplaceTempView("merge_first_load")
    spark.sql("INSERT INTO lake.silver.merge_target SELECT * FROM merge_first_load")
    val updates = customer
      .filter(col("c_custkey") % 4 === 0)
      .withColumn("c_acctbal", col("c_acctbal") * 2)
    val inserts = shiftPastMax(
      customer.filter(col("c_custkey") % 7 === 0), "c_custkey", customer)
    updates.unionByName(inserts).createOrReplaceTempView("merge_updates")
    spark.sql(
      """MERGE INTO lake.silver.merge_target t
        |USING merge_updates s
        |ON t.c_custkey = s.c_custkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    table.read()
  }

  val mergeSqlOracleSql: String = scd1UpsertSql

  /** The reference's SCD2 surface as LITERAL SQL — its exact two-MERGE
    * protocol (/root/reference/src/silver/_silver_utils.py:136-155):
    * a conditional close pass (`ON keys AND target.is_current = 1 WHEN
    * MATCHED AND (tracked differ) THEN UPDATE SET end_timestamp,
    * is_current`) followed by a NOT-MATCHED insert pass against the
    * POST-close state (each MERGE reads the current table version, so
    * closed keys correctly re-insert and unchanged keys skip). Same
    * scenario and oracle as q_scd2_versions: the SQL protocol must be
    * observationally identical to the programmatic Merge.mergeScd2.
    */
  def mergeSqlScd2(spark: SparkSession, sfDir: String): DataFrame = {
    val t1 = Timestamp.valueOf("2020-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2020-02-01 00:00:00")
    val customer = Testdata.read(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val table = sqlTarget(spark, "mergesql2", "scd2_target")
    Merge.mergeScd2(table, customer, Seq("c_custkey"), Seq("c_acctbal"), t1)
    val batch2 = customer
      .filter(col("c_custkey") % 3 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100)
      .unionByName(customer.filter(col("c_custkey") % 3 === 1))
    Merge.addScd2Cols(batch2, t2).createOrReplaceTempView("scd2_source")
    spark.sql(
      """MERGE INTO lake.silver.scd2_target AS target
        |USING scd2_source AS source
        |ON source.c_custkey = target.c_custkey AND target.is_current = 1
        |WHEN MATCHED AND (NOT (source.c_acctbal <=> target.c_acctbal)) THEN
        |  UPDATE SET end_timestamp = TIMESTAMP '2020-02-01 00:00:00', is_current = 0
        |""".stripMargin)
    spark.sql(
      """MERGE INTO lake.silver.scd2_target AS target
        |USING scd2_source AS source
        |ON source.c_custkey = target.c_custkey AND target.is_current = 1
        |WHEN NOT MATCHED THEN
        |  INSERT (c_custkey, c_name, c_acctbal, start_timestamp, end_timestamp, is_current)
        |  VALUES (source.c_custkey, source.c_name, source.c_acctbal,
        |          source.start_timestamp, source.end_timestamp, source.is_current)
        |""".stripMargin)
    table
      .read()
      .select(
        col("c_custkey"),
        col("c_name"),
        col("c_acctbal"),
        date_format(col("start_timestamp"), fmt).as("start_ts"),
        date_format(col("end_timestamp"), fmt).as("end_ts"),
        col("is_current"))
  }

  val mergeSqlScd2OracleSql: String = scd2VersionsSql

  /** `WHEN NOT MATCHED BY SOURCE` — the FULL-SYNC statement (one MERGE
    * makes the target an exact function of the source: update present
    * rows, insert new ones, delete/deactivate the rest), the clause
    * Delta/Iceberg users reach for in mirror loads and the general form
    * of the reference's SCD2 close pass
    * (/root/reference/src/silver/_silver_utils.py:136-142). The
    * scenario exercises all three families plus by-source
    * first-match-wins: absent rows with negative balance DELETE, the
    * remainder deactivate via a by-source UPDATE. Scale shape: the
    * rewrite is one full outer join of target and source, plus a window
    * on the target row id for the cardinality rule, in one write job.
    */
  def mergeSqlFullSync(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Testdata.read(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val table = sqlTarget(spark, "mergefullsync", "fullsync_target")
    table.append(customer)
    val present = customer
      .filter(col("c_custkey") % 2 === 0)
      .withColumn("c_acctbal", col("c_acctbal") * 2)
    // fresh keys shift PAST the live key domain (see shiftPastMax): a
    // colliding source key means two source rows match one target row —
    // the cardinality rule would abort the MERGE
    val fresh = shiftPastMax(
      customer.filter(col("c_custkey") % 7 === 0), "c_custkey", customer)
    present.unionByName(fresh).createOrReplaceTempView("fullsync_source")
    spark.sql(
      """MERGE INTO lake.silver.fullsync_target t
        |USING fullsync_source s
        |ON t.c_custkey = s.c_custkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE AND t.c_acctbal < 0 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET c_name = 'inactive'
        |""".stripMargin)
    table.read()
  }

  val mergeSqlFullSyncOracleSql: String =
    """SELECT c_custkey, c_name, c_acctbal * 2 AS c_acctbal
      |FROM customer WHERE c_custkey % 2 = 0
      |UNION ALL
      |SELECT c_custkey, 'inactive' AS c_name, c_acctbal
      |FROM customer WHERE c_custkey % 2 = 1 AND c_acctbal >= 0
      |UNION ALL
      |SELECT c_custkey + (SELECT max(c_custkey) + 1 FROM customer) AS c_custkey,
      |       c_name, c_acctbal
      |FROM customer WHERE c_custkey % 7 = 0""".stripMargin

  /** `DELETE FROM` as SQL (the row-level-SQL surface next to MERGE /
    * INSERT, [[graft.plans.GraftDeleteFromCommand]]): first-load via
    * INSERT, then one conditional DELETE routed through the
    * deletion-vector sidecar — the read-back exercises the DV mask
    * (left-anti join against the sidecar), not a rewritten snapshot.
    * Oracle is the complement SELECT over the same parquet.
    */
  def deleteSql(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Testdata.read(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val table = sqlTarget(spark, "deletesql", "delete_target")
    customer.createOrReplaceTempView("delete_first_load")
    spark.sql("INSERT INTO lake.silver.delete_target SELECT * FROM delete_first_load")
    spark.sql(
      "DELETE FROM lake.silver.delete_target WHERE c_acctbal < 0.0 OR c_custkey % 10 = 3")
    table.read()
  }

  val deleteSqlOracleSql: String =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer
      |WHERE NOT (c_acctbal < 0.0 OR c_custkey % 10 = 3)""".stripMargin

  /** `UPDATE` as SQL ([[graft.plans.GraftUpdateCommand]]): conditional
    * SET over the lake table, committed as one copy-on-write overwrite.
    * Oracle is the equivalent CASE projection.
    */
  def updateSql(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Testdata.read(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val table = sqlTarget(spark, "updatesql", "update_target")
    customer.createOrReplaceTempView("update_first_load")
    spark.sql("INSERT INTO lake.silver.update_target SELECT * FROM update_first_load")
    spark.sql(
      """UPDATE lake.silver.update_target SET c_acctbal = c_acctbal * 2.0 + 1.0
        |WHERE c_custkey % 4 = 0""".stripMargin)
    table.read()
  }

  val updateSqlOracleSql: String =
    """SELECT c_custkey, c_name,
      |       CASE WHEN c_custkey % 4 = 0 THEN c_acctbal * 2.0 + 1.0 ELSE c_acctbal END AS c_acctbal
      |FROM customer""".stripMargin

  /** Snapshot + time travel (§2.10): append v0, append v1, read back
    * `VERSION AS OF` 0 — only the first batch is visible.
    */
  def timeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val nation = Testdata.read(spark, sfDir, "nation")
    val table = LakeTable(spark, scratch("tt"))
    table.append(nation)
    table.append(nation.withColumn("n_nationkey", col("n_nationkey") + 100))
    assert(table.availableVersions() == Seq(0L, 1L))
    table.read(versionAsOf = Some(0L))
  }

  val timeTravelSql: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation"

  /** Partition-scoped SCD1 merge (the 100 TB merge path): same upsert
    * semantics as q_scd1_upsert, but the target is identity-partitioned
    * and the second batch rewrites only the partitions it touches
    * (LakeTable.replacePartitions narrows older commit scopes).
    */
  def scd1Partitioned(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Testdata.read(spark, sfDir, "customer")
      .select(
        col("c_custkey"),
        col("c_name"),
        col("c_acctbal"),
        (col("c_nationkey") % 5).as("bucket"))
    val table = LakeTable(spark, scratch("scd1p"))
    Merge.mergeScd1Partitioned(table, customer, Seq("c_custkey"), "bucket")
    val updates = customer
      .filter(col("c_custkey") % 4 === 0)
      .withColumn("c_acctbal", col("c_acctbal") * 2)
    val inserts = shiftPastMax(
      customer.filter(col("c_custkey") % 7 === 0), "c_custkey", customer)
    Merge.mergeScd1Partitioned(table, updates.unionByName(inserts), Seq("c_custkey"), "bucket")
    table.read()
  }

  val scd1PartitionedSql: String =
    """SELECT c_custkey, c_name,
      |       CASE WHEN c_custkey % 4 = 0 THEN c_acctbal * 2 ELSE c_acctbal END AS c_acctbal,
      |       c_nationkey % 5 AS bucket
      |FROM customer
      |UNION ALL
      |SELECT c_custkey + (SELECT max(c_custkey) + 1 FROM customer), c_name, c_acctbal, c_nationkey % 5
      |FROM customer WHERE c_custkey % 7 = 0""".stripMargin

  /** Partition-scoped SCD2 merge (the 100 TB versioned-merge path):
    * same three-way semantics as q_scd2_versions, but the target is
    * identity-partitioned and the second merge rewrites only the
    * partitions it touches — history in untouched partitions is never
    * copied (byte-identity pinned in PartitionedMergeSpec).
    */
  def scd2Partitioned(spark: SparkSession, sfDir: String): DataFrame = {
    val t1 = Timestamp.valueOf("2020-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2020-02-01 00:00:00")
    val customer = Testdata.read(spark, sfDir, "customer")
      .select(
        col("c_custkey"),
        col("c_name"),
        col("c_acctbal"),
        (col("c_nationkey") % 5).as("bucket"))
    val table = LakeTable(spark, scratch("scd2p"))
    Merge.mergeScd2Partitioned(
      table, customer, Seq("c_custkey"), Seq("c_acctbal"), t1, "bucket")
    val batch2 = customer
      .filter(col("c_custkey") % 3 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100)
      .unionByName(customer.filter(col("c_custkey") % 3 === 1))
    Merge.mergeScd2Partitioned(
      table, batch2, Seq("c_custkey"), Seq("c_acctbal"), t2, "bucket")
    table
      .read()
      .select(
        col("c_custkey"),
        col("c_name"),
        col("c_acctbal"),
        col("bucket"),
        date_format(col("start_timestamp"), fmt).as("start_ts"),
        date_format(col("end_timestamp"), fmt).as("end_ts"),
        col("is_current"))
  }

  val scd2PartitionedSql: String =
    """SELECT c_custkey, c_name, c_acctbal, c_nationkey % 5 AS bucket,
      |       '2020-01-01 00:00:00' AS start_ts,
      |       '2020-02-01 00:00:00' AS end_ts, 0 AS is_current
      |FROM customer WHERE c_custkey % 3 = 0
      |UNION ALL
      |SELECT c_custkey, c_name, c_acctbal + 100, c_nationkey % 5,
      |       '2020-02-01 00:00:00', NULL, 1
      |FROM customer WHERE c_custkey % 3 = 0
      |UNION ALL
      |SELECT c_custkey, c_name, c_acctbal, c_nationkey % 5,
      |       '2020-01-01 00:00:00', NULL, 1
      |FROM customer WHERE c_custkey % 3 <> 0""".stripMargin

  /** Snapshot-history listing (§2.10, the reference's `t.snapshots`
    * metadata query): three commits → three deterministic rows
    * (commit timestamps excluded — wall clock).
    */
  def snapshotsListing(spark: SparkSession, sfDir: String): DataFrame = {
    val nation = Testdata.read(spark, sfDir, "nation")
    val table = LakeTable(spark, scratch("snap"))
    table.append(nation)
    table.append(nation)
    table.overwrite(nation.limit(3))
    table
      .snapshots()
      .select(col("version"), col("operation"), col("num_commit_dirs"))
  }

  val snapshotsListingSql: String =
    """SELECT * FROM (VALUES (CAST(0 AS BIGINT), 'append', 1),
      |                      (CAST(1 AS BIGINT), 'append', 2),
      |                      (CAST(2 AS BIGINT), 'overwrite', 1))
      |       t(version, operation, num_commit_dirs)""".stripMargin

  // --------------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_pricing_summary" -> (aggPricingSummary _),
    "q_tpch_shipping_priority" -> (tpchShippingPriority _),
    "q_tpch_local_volume" -> (tpchLocalVolume _),
    "q_tpch_returned_items" -> (tpchReturnedItems _),
    "q_tpch_large_volume" -> (tpchLargeVolume _),
    "q_tpch_order_priority" -> (tpchOrderPriority _),
    "q_tpch_waiting_orders" -> (tpchWaitingOrders _),
    "q_tpch_customer_distribution" -> (tpchCustomerDistribution _),
    "q_tpch_sales_opportunity" -> (tpchSalesOpportunity _),
    "q_tpch_min_cost_supplier" -> (tpchMinCostSupplier _),
    "q_tpch_forecast_revenue" -> (tpchForecastRevenue _),
    "q_tpch_volume_shipping" -> (tpchVolumeShipping _),
    "q_tpch_market_share" -> (tpchMarketShare _),
    "q_tpch_product_profit" -> (tpchProductProfit _),
    "q_tpch_important_parts" -> (tpchImportantParts _),
    "q_tpch_priority_shipmode" -> (tpchPriorityShipmode _),
    "q_tpch_promo_revenue" -> (tpchPromoRevenue _),
    "q_tpch_top_supplier" -> (tpchTopSupplier _),
    "q_tpch_parts_supplier_count" -> (tpchPartsSupplierCount _),
    "q_tpch_small_qty_revenue" -> (tpchSmallQtyRevenue _),
    "q_tpch_disjunctive_revenue" -> (tpchDisjunctiveRevenue _),
    "q_tpch_promotion_suppliers" -> (tpchPromotionSuppliers _),
    "q_agg_scalar_max" -> (aggScalarMax _),
    "q_filter_pushdown" -> (filterPushdown _),
    "q_clean_pipeline" -> (cleanPipeline _),
    "q_normalize_schema" -> (normalizeSchema _),
    "q_rename_cols" -> (renameCols _),
    "q_date_parts" -> (dateParts _),
    "q_hour_filter" -> (hourFilter _),
    "q_json_roundtrip" -> (jsonRoundtrip _),
    "q_json_corrupt" -> (jsonCorrupt _),
    "q_dedup_latest" -> (dedupLatest _),
    "q_join_star" -> (joinStar _),
    "q_join_snowflake_iterated" -> (joinSnowflakeIterated _),
    "q_incremental_scan" -> (incrementalScan _),
    "q_stats_prune_scan" -> (statsPruneScan _),
    "q_compact_expire" -> (compactExpire _),
    "q_clustered_compact_scan" -> (clusteredCompactScan _),
    "q_incremental_agg" -> (incrementalAgg _),
    "q_table_changes" -> (tableChanges _),
    "q_zorder_scan" -> (zorderScan _),
    "q_hilbert_scan" -> (hilbertScan _),
    "q_csv_roundtrip" -> (csvRoundtrip _),
    "q_csv_infer" -> (csvInfer _),
    "q_scd2_versions" -> (scd2Versions _),
    "q_scd2_point_in_time" -> (scd2PointInTime _),
    "q_scd1_upsert" -> (scd1Upsert _),
    "q_merge_schema_drift" -> (mergeSchemaDrift _),
    "q_partition_evolution" -> (partitionEvolution _),
    "q_restore_tag" -> (restoreTag _),
    "q_write_audit_publish" -> (writeAuditPublish _),
    "q_check_constraint" -> (checkConstraint _),
    "q_table_detail" -> (tableDetail _),
    "q_table_diff" -> (tableDiff _),
    "q_merge_sql" -> (mergeSql _),
    "q_merge_sql_scd2" -> (mergeSqlScd2 _),
    "q_merge_sql_full_sync" -> (mergeSqlFullSync _),
    "q_delete_sql" -> (deleteSql _),
    "q_update_sql" -> (updateSql _),
    "q_time_travel" -> (timeTravel _),
    "q_snapshots" -> (snapshotsListing _),
    "q_scd1_partitioned" -> (scd1Partitioned _),
    "q_scd2_partitioned" -> (scd2Partitioned _))

  val oracleSql: Map[String, String] = Map(
    "q_agg_pricing_summary" -> aggPricingSummarySql,
    "q_tpch_shipping_priority" -> tpchShippingPrioritySql,
    "q_tpch_local_volume" -> tpchLocalVolumeSql,
    "q_tpch_returned_items" -> tpchReturnedItemsSql,
    "q_tpch_large_volume" -> tpchLargeVolumeSql,
    "q_tpch_order_priority" -> tpchOrderPrioritySql,
    "q_tpch_waiting_orders" -> tpchWaitingOrdersSql,
    "q_tpch_customer_distribution" -> tpchCustomerDistributionSql,
    "q_tpch_sales_opportunity" -> tpchSalesOpportunitySql,
    "q_tpch_min_cost_supplier" -> tpchMinCostSupplierSql,
    "q_tpch_forecast_revenue" -> tpchForecastRevenueSql,
    "q_tpch_volume_shipping" -> tpchVolumeShippingSql,
    "q_tpch_market_share" -> tpchMarketShareSql,
    "q_tpch_product_profit" -> tpchProductProfitSql,
    "q_tpch_important_parts" -> tpchImportantPartsSql,
    "q_tpch_priority_shipmode" -> tpchPriorityShipmodeSql,
    "q_tpch_promo_revenue" -> tpchPromoRevenueSql,
    "q_tpch_top_supplier" -> tpchTopSupplierSql,
    "q_tpch_parts_supplier_count" -> tpchPartsSupplierCountSql,
    "q_tpch_small_qty_revenue" -> tpchSmallQtyRevenueSql,
    "q_tpch_disjunctive_revenue" -> tpchDisjunctiveRevenueSql,
    "q_tpch_promotion_suppliers" -> tpchPromotionSuppliersSql,
    "q_agg_scalar_max" -> aggScalarMaxSql,
    "q_filter_pushdown" -> filterPushdownSql,
    "q_clean_pipeline" -> cleanPipelineSql,
    "q_normalize_schema" -> normalizeSchemaSql,
    "q_rename_cols" -> renameColsSql,
    "q_date_parts" -> datePartsSql,
    "q_hour_filter" -> hourFilterSql,
    "q_json_roundtrip" -> jsonRoundtripSql,
    "q_json_corrupt" -> jsonCorruptSql,
    "q_dedup_latest" -> dedupLatestSql,
    "q_join_star" -> joinStarSql,
    "q_join_snowflake_iterated" -> joinSnowflakeIteratedSql,
    "q_incremental_scan" -> incrementalScanSql,
    "q_stats_prune_scan" -> statsPruneScanSql,
    "q_compact_expire" -> compactExpireSql,
    "q_clustered_compact_scan" -> clusteredCompactScanSql,
    "q_incremental_agg" -> incrementalAggSql,
    "q_table_changes" -> tableChangesSql,
    "q_zorder_scan" -> zorderScanSql,
    "q_hilbert_scan" -> hilbertScanSql,
    "q_csv_roundtrip" -> csvRoundtripSql,
    "q_csv_infer" -> csvInferSql,
    "q_scd2_versions" -> scd2VersionsSql,
    "q_scd2_point_in_time" -> scd2PointInTimeSql,
    "q_scd1_upsert" -> scd1UpsertSql,
    "q_merge_schema_drift" -> mergeSchemaDriftSql,
    "q_partition_evolution" -> partitionEvolutionSql,
    "q_restore_tag" -> restoreTagSql,
    "q_write_audit_publish" -> writeAuditPublishSql,
    "q_check_constraint" -> checkConstraintSql,
    "q_table_detail" -> tableDetailSql,
    "q_table_diff" -> tableDiffSql,
    "q_merge_sql" -> mergeSqlOracleSql,
    "q_merge_sql_scd2" -> mergeSqlScd2OracleSql,
    "q_merge_sql_full_sync" -> mergeSqlFullSyncOracleSql,
    "q_delete_sql" -> deleteSqlOracleSql,
    "q_update_sql" -> updateSqlOracleSql,
    "q_time_travel" -> timeTravelSql,
    "q_snapshots" -> snapshotsListingSql,
    "q_scd1_partitioned" -> scd1PartitionedSql,
    "q_scd2_partitioned" -> scd2PartitionedSql)
}
