package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The bronze CSV load reads its header on the driver: the same schema
  * and rows as Spark's header-inferring reader, and no Spark job before
  * the write.
  */
class BronzeCsvSpec extends SparkSpec {

  private def csv(name: String, content: String): String = {
    val p = Paths.get(scratchDir("bronze-csv"), s"$name.csv")
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  /** The reader the load used before: Spark resolves the header itself. */
  private def inferred(path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "false").csv(path)

  private val inputs: Seq[(String, String)] = Seq(
    "empty" -> "",
    "header only" -> "symbol,organ_name,issue_share\n",
    "blank lines before the header" -> "\n  \nsymbol,issue_share\nACB,1\n",
    "UTF-8 BOM" -> "\uFEFFsymbol,issue_share\nACB,1\nVCB,2\n",
    "CRLF line ends" -> "symbol,issue_share\r\nACB,1\r\n",
    "quoted names holding commas" ->
      "\"symbol\",\"name, full\",\"a \"\"quoted\"\" name\"\nACB,\"Asia, Bank\",x\n",
    "duplicate names and names differing in case" -> "a,b,a,B,c,C\n1,2,3,4,5,6\n",
    "an empty name" -> "a,,c, \n1,2,3,4\n",
    "rows with extra or missing fields" -> "a,b,c\n1,2,3,4\n5\n6,7\n,,\n")

  for ((kind, content) <- inputs)
    test(s"the driver-read header matches Spark's inferred one: $kind") {
      val path = csv(kind.replace(' ', '_'), content)
      val got = BatchElt.readCsv(spark, path)
      val want = inferred(path)
      assert(got.schema == want.schema)
      assert(got.collect().toSeq == want.collect().toSeq)
    }

  test("case-sensitive analysis keeps names differing in case apart, as Spark does") {
    val path = csv("case", "a,A,b\n1,2,3\n")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      val got = BatchElt.readCsv(spark, path)
      assert(got.schema == inferred(path).schema)
      assert(got.columns.toSeq == Seq("a", "A", "b"))
    } finally spark.conf.unset("spark.sql.caseSensitive")
  }

  test("a directory or a glob is not one CSV file: the load fails loudly") {
    val dir = scratchDir("bronze-csv-dir")
    Files.write(Paths.get(dir, "a.csv"), "a\n1\n".getBytes(StandardCharsets.UTF_8))
    for (p <- Seq(dir, s"$dir/*.csv")) {
      val e = intercept[IllegalArgumentException](BatchElt.readCsv(spark, p))
      assert(e.getMessage.contains("not one CSV file"), e.getMessage)
    }
  }

  test("loadBronzeCsv runs no Spark job before its write") {
    val lake = BatchElt.Lakehouse(spark, scratchDir("bronze-csv-lake"))
    val path = csv("company", "symbol,issue_share\nACB,1\nVCB,2\n")
    val at = Timestamp.valueOf("2024-01-02 08:00:00")
    val actions = actionsRunBy(BatchElt.loadBronzeCsv(lake, path, "raw_company", at, "b1"))
    assert(actions == Seq("command"))
    val bronze = lake.table("bronze", "raw_company").read()
    assert(bronze.schema("issue_share").dataType.typeName == "string")
    assert(bronze.select("symbol", "issue_share").collect().toSeq ==
      inferred(path).collect().toSeq)
    assert(bronze.filter(col("ingest_timestamp") === at && col("batch_id") === "b1").count() == 2)
  }
}
