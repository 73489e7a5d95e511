package graft.queries

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Testdata
import graft.tables.{LakeTable, Merge}

/** End-to-end lakehouse pipeline over the testdata star schema: bronze
  * append (with ingestion metadata) → silver SCD2 merge → gold broadcast
  * dim join — the reference's batch ELT (SURVEY §3.3) exercised through
  * the LakeTable storage layer and checked against a plain-SQL oracle.
  * (The reference-domain CSV fixture variant of the same DAG runs in
  * BatchEltSpec; this one uses the oracle-visible tables.)
  */
object PipelineQueries {

  private val t1 = Timestamp.valueOf("2024-03-01 00:00:00")

  def pipelineDim(spark: SparkSession, sfDir: String): DataFrame = {
    val root = graft.util.TempDirs.scratch("pipe")
    val customer = Testdata.read(spark, sfDir, "customer")
    val nation = Testdata.read(spark, sfDir, "nation")
    val region = Testdata.read(spark, sfDir, "region")

    // bronze: append with ingestion metadata, partitioned by ingest date
    val bronze = LakeTable(spark, s"$root/bronze/raw_customer")
    bronze.append(
      graft.operators.Ops.addMetadata(customer, Some(t1), dateParts = true, Some("b1")),
      partitionBy = Seq("ingest_year", "ingest_month"))

    // silver: SCD2 on the customer key, tracking the account balance
    val silver = LakeTable(spark, s"$root/silver/customer_scd")
    Merge.mergeScd2(
      silver,
      bronze.read().drop("ingest_year", "ingest_month", "ingest_day", "batch_id"),
      Seq("c_custkey"),
      Seq("c_acctbal"),
      t1)

    // gold: current versions, broadcast-joined to the geo dims
    val current = silver.read().filter(col("is_current") === 1)
    current
      .join(broadcast(nation), current("c_nationkey") === nation("n_nationkey"), "left")
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"), "left")
      .select(
        col("c_custkey"),
        col("c_name"),
        col("c_acctbal"),
        col("n_name").as("nation_name"),
        col("r_name").as("region_name"),
        date_format(col("start_timestamp"), "yyyy-MM-dd HH:mm:ss").as("start_ts"))
  }

  val pipelineDimSql: String =
    """SELECT c_custkey, c_name, c_acctbal,
      |       n.n_name AS nation_name, r.r_name AS region_name,
      |       '2024-03-01 00:00:00' AS start_ts
      |FROM customer c
      |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey""".stripMargin

  /** Declarative data-quality expectations (DLT `expect_or_drop` /
    * `expect`): 'error'-typed or sub-1.0-value events are quarantined,
    * oversized values warn but pass. Output buckets: per-type kept
    * stats, the quarantine total, and the warn-violation count — all
    * replayed as plain predicates in the oracle.
    */
  def expectationsGate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Expectations
    import graft.operators.Expectations.{Drop, Expectation, Warn}
    val ev = graft.sources.Testdata.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val res = Expectations.check(
      ev,
      Seq(
        Expectation("valid_type", col("event_type") =!= "error", Drop),
        Expectation("value_at_least_1", col("value") >= 1.0, Drop),
        Expectation("value_under_400", col("value") <= 400.0, Warn)))
    val keptAgg = res.kept
      .groupBy(col("event_type").as("bucket"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("value")), 4).as("sum_value"))
    val quarantineAgg = res.quarantined
      .agg(count(lit(1)).as("n_rows"), round(sum(col("value")), 4).as("sum_value"))
      .select(lit("__quarantined").as("bucket"), col("n_rows"), col("sum_value"))
    val warnRow = spark.range(1).select(
      lit("__warn_value_over_400").as("bucket"),
      lit(res.violationCounts("value_under_400")).as("n_rows"),
      lit(null).cast("double").as("sum_value"))
    keptAgg.unionByName(quarantineAgg).unionByName(warnRow)
  }

  val expectationsGateSql: String =
    """SELECT event_type AS bucket, count(*) AS n_rows, round(sum(value), 4) AS sum_value
      |FROM events WHERE event_type <> 'error' AND value >= 1.0
      |GROUP BY event_type
      |UNION ALL
      |SELECT '__quarantined', count(*), round(sum(value), 4)
      |FROM events WHERE NOT (event_type <> 'error' AND value >= 1.0)
      |UNION ALL
      |SELECT '__warn_value_over_400', count(*) FILTER (NOT (value <= 400.0)),
      |       CAST(NULL AS DOUBLE)
      |FROM events""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pipeline_dim" -> (pipelineDim _),
    "q_expectations" -> (expectationsGate _))

  val oracleSql: Map[String, String] = Map(
    "q_pipeline_dim" -> pipelineDimSql,
    "q_expectations" -> expectationsGateSql)
}
