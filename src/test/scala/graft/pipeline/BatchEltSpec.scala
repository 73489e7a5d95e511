package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BatchEltSpec extends SparkSpec {

  private def fixture(name: String): String =
    getClass.getClassLoader.getResource(s"fixtures/$name").getPath

  private val t1 = Timestamp.valueOf("2024-01-15 08:00:00")
  private val t2 = Timestamp.valueOf("2024-02-15 08:00:00")

  test("full DAG run 1: bronze→silver→gold with cleaning, dedup, SCD2/SCD1, 4-level join") {
    val lake = BatchElt.Lakehouse(spark, scratchDir("lake1"))
    val order = BatchElt.runCompanyElt(
      lake, fixture("company.csv"), fixture("industry.csv"), t1, "batch-1")
    assert(order.indexOf("dim_company") > order.indexOf("processed_company"))
    assert(order.indexOf("dim_company") > order.indexOf("processed_industry"))

    // bronze: all 9 rows, all strings, partitioned by ingest date
    val bronze = lake.table("bronze", "raw_company").read()
    assert(bronze.count() == 9)
    assert(bronze.schema("issue_share").dataType.typeName == "string")
    assert(bronze.columns.contains("ingest_year") && bronze.columns.contains("batch_id"))

    // silver: BAD1 (negative shares -> NULL -> dropped), BAD2 (null name) gone
    val silver = lake.table("silver", "processed_company").read()
    assert(silver.count() == 7)
    val acb = silver.filter(col("symbol") === "ACB").head()
    assert(acb.getAs[String]("company_name") == "Asia Commercial Bank") // trimmed
    assert(acb.getAs[Long]("issued_shares") == 4466657912L)
    assert(acb.getAs[Int]("is_current") == 1)
    // silver keeps bronze extras (schema-evolution tolerance)
    assert(silver.columns.contains("batch_id"))

    // gold: flattened 4-level ICB names; unmatched codes -> NULLs; extras dropped
    val gold = lake.table("gold", "dim_company").read()
    assert(gold.count() == 7)
    assert(!gold.columns.contains("batch_id") && !gold.columns.contains("icb_code_1"))
    val fpt = gold.filter(col("symbol") === "FPT").head()
    assert(fpt.getAs[String]("icb_name_1") == "Technology")
    assert(fpt.getAs[String]("icb_name_4") == "Software")
    val noind = gold.filter(col("symbol") === "NOIND").head()
    assert((1 to 4).forall(i => noind.isNullAt(gold.columns.indexOf(s"icb_name_$i"))))
    val gas = gold.filter(col("symbol") === "GAS").head()
    assert(gas.getAs[String]("icb_name_1") == "Oil and Gas") // leading-zero code preserved
  }

  test("full DAG run 2: incremental watermark + SCD2 close/skip/insert + gold append") {
    val lake = BatchElt.Lakehouse(spark, scratchDir("lake2"))
    BatchElt.runCompanyElt(lake, fixture("company.csv"), fixture("industry.csv"), t1, "b1")
    BatchElt.runCompanyElt(lake, fixture("company_batch2.csv"), fixture("industry.csv"), t2, "b2")

    val silver = lake.table("silver", "processed_company").read()
    // ACB changed -> closed v1 + open v2; VCB unchanged -> still one row;
    // NEW inserted -> one row; others untouched: 7 + 2 = 9
    assert(silver.count() == 9)
    val acb = silver.filter(col("symbol") === "ACB").orderBy("start_timestamp").collect()
    assert(acb.length == 2)
    assert(acb(0).getAs[Int]("is_current") == 0 && acb(0).getAs[Timestamp]("end_timestamp") == t2)
    assert(acb(1).getAs[Int]("is_current") == 1 && acb(1).getAs[Long]("issued_shares") == 5000000000L)
    assert(silver.filter(col("symbol") === "VCB").count() == 1)
    assert(silver.filter(col("symbol") === "NEW").count() == 1)

    // gold incremental: only rows newer than the first load appended
    val gold = lake.table("gold", "dim_company").read()
    assert(gold.count() == 9) // 7 + ACB v2 + NEW
    assert(gold.filter(col("symbol") === "ACB").count() == 2)
    // industry SCD1 replay of identical batch: still one row per code
    val industry = lake.table("silver", "processed_industry").read()
    assert(industry.groupBy("icb_code").count().agg(max("count")).head().getLong(0) == 1L)
  }

  test("DAG runner enforces dependency order and detects cycles") {
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val order = BatchElt.runDag(Seq(
      BatchElt.Task("c", Seq("a", "b"))(() => ran += "c"),
      BatchElt.Task("a", Seq.empty)(() => ran += "a"),
      BatchElt.Task("b", Seq("a"))(() => ran += "b")))
    assert(ran.toSeq == Seq("a", "b", "c") && order == Seq("a", "b", "c"))
    intercept[IllegalArgumentException] {
      BatchElt.runDag(Seq(
        BatchElt.Task("x", Seq("y"))(() => ()),
        BatchElt.Task("y", Seq("x"))(() => ())))
    }
  }

  test("a day whose company rows are all dirty commits nothing to silver") {
    val lake = BatchElt.Lakehouse(spark, scratchDir("lake-dirty"))
    BatchElt.runCompanyElt(lake, fixture("company.csv"), fixture("industry.csv"), t1, "b1")
    val silver = lake.table("silver", "processed_company")
    val before = silver.latestVersion()
    val dirty = java.nio.file.Paths.get(scratchDir("dirty-csv"), "company.csv")
    java.nio.file.Files.write(dirty, java.util.Arrays.asList(
      "symbol,organ_name,icb_code1,icb_code2,icb_code3,icb_code4,issue_share",
      "ACB,Asia Commercial Bank,8000,8300,8350,8355,-1", // non-positive shares -> NULL -> dropped
      ",Nameless Symbol,8000,8300,8350,8355,1000", // null key
      "VCB,,8000,8300,8350,8355,1000")) // null name
    BatchElt.runCompanyElt(lake, dirty.toString, fixture("industry.csv"), t2, "b2")
    assert(silver.latestVersion() == before)
    assert(silver.read().count() == 7)
  }

  test("a failing task's own exception escapes runDag; its downstream never runs") {
    class TaskBoom extends RuntimeException("task boom")
    val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val workers = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
    def body(name: String)(f: => Unit): () => Unit = () => {
      workers.add(Thread.currentThread())
      ran.add(name)
      f
    }
    intercept[TaskBoom] {
      BatchElt.runDag(Seq(
        BatchElt.Task("fails", Seq.empty)(body("fails")(throw new TaskBoom)),
        BatchElt.Task("sibling", Seq.empty)(body("sibling")(())),
        BatchElt.Task("downstream", Seq("fails"))(body("downstream")(()))))
    }
    assert(ran.contains("fails") && ran.contains("sibling"))
    assert(!ran.contains("downstream"))
    assert(!workers.contains(Thread.currentThread()))
    workers.forEach(t => assert(!t.isAlive, s"runner thread ${t.getName} outlived runDag"))
  }
}
