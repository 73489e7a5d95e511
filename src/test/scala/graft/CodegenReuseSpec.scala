package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.BatchElt

/** A generated class is compiled once per JVM: a rerun of a query, a
  * restarted stream and the same stage under another codegen id all
  * reuse it (the three codegen settings of [[Sessions.local]]).
  */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  /** Classes the JVM compiled while `f` ran, on the driver and in
    * tasks, with the result of `f`.
    */
  private def compiles[T](f: => T): (Long, T) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val result = f
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, result)
  }

  /** The Java source of every class the JVM compiled while `f` ran,
    * with the compile count: Spark's code generator logs each source it
    * compiles at debug level, whole when `maxLines` is -1.
    */
  private def compiledSources(f: => Unit): (Seq[String], Long) = {
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator").asInstanceOf[Logger]
    val sources = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("codegen-sources", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.DEBUG) sources.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setAdditive(false)
    logger.setLevel(Level.DEBUG)
    spark.conf.set("spark.sql.codegen.logging.maxLines", "-1")
    try {
      val (n, _) = compiles(f)
      (sources.asScala.toSeq, n)
    } finally {
      spark.conf.unset("spark.sql.codegen.logging.maxLines")
      logger.setLevel(level)
      logger.setAdditive(true)
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  test("a batch DAG day compiles only the gold hop's watermark-filter classes") {
    def fixture(name: String): String =
      getClass.getClassLoader.getResource(s"fixtures/$name").getPath
    val industry = fixture("industry.csv")
    // shaped like company_batch2.csv: one changed, one unchanged, one new symbol
    val day3 = Paths.get(scratchDir("codegen-dag"), "company_batch3.csv")
    Files.write(day3, java.util.Arrays.asList(
      "symbol,organ_name,icb_code1,icb_code2,icb_code3,icb_code4,issue_share",
      "ACB,Asia Commercial Bank,8000,8300,8350,8355,5100000000",
      "VCB,Vietcombank,8000,8300,8350,8355,5589091262",
      "NEW3,Third Listed Corp,9000,9500,9530,9537,888000000"))
    val Seq(t1, t2, t3) = Seq("2024-01-15", "2024-01-16", "2024-01-17")
      .map(d => Timestamp.valueOf(s"$d 08:00:00"))
    val lake = BatchElt.Lakehouse(spark, scratchDir("codegen-lake"))
    BatchElt.runCompanyElt(lake, fixture("company.csv"), industry, t1, "b1")
    BatchElt.runCompanyElt(lake, fixture("company_batch2.csv"), industry, t2, "b2")
    val (sources, n) = compiledSources(
      BatchElt.runCompanyElt(lake, day3.toString, industry, t3, "b3"))
    // the gold hop's `ingest_timestamp > <day 2>` filter over silver is
    // the one predicate that must stay a literal (it pushes down to the
    // scan) and that changes every day: its whole-stage classes are new
    val goldWatermark = s"${t2.getTime * 1000L}L"
    assert(n > 0 && sources.size == n, s"$n compiles, ${sources.size} sources logged")
    val others = sources.filterNot(_.contains(goldWatermark))
    assert(others.isEmpty, s"${others.size} of $n classes are not the gold filter's:\n" +
      others.map(_.take(3000)).mkString("\n----\n"))
    assert(lake.table("gold", "dim_company").read().count() == 11) // 7 + 2 + 2
  }

  test("a rerun compiles nothing after more than 150 other classes were compiled") {
    def a() = spark.range(0, 2000, 1, 4)
      .select((col("id") % 13).as("k"), (col("id") * 3).as("v"))
      .groupBy("k").agg(sum("v").as("s"), max("v").as("m"))
    val expected = a().collect().toSet
    // each literal lands in the generated source, so every select is a new class
    val (others, _) = compiles {
      (1 to 100).foreach { i =>
        spark.range(0, 10, 1, 1).select((col("id") + i).as("x"), (col("id") * i).as("y"))
          .filter(col("id") > i % 5).collect()
      }
    }
    assert(others > 150, s"only $others other classes compiled")
    val (n, rerun) = compiles(a().collect().toSet)
    assert(n == 0)
    assert(rerun == expected)
  }

  test("a restarted watermarked stream compiles nothing") {
    val wd = scratchDir("codegen-stream")
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    (0 until 40).map(i => (new Timestamp(t0 + i * 60000L), s"k${i % 3}", i.toDouble))
      .toDF("ts", "k", "v").write.parquet(s"$wd/src")
    val schema = spark.read.parquet(s"$wd/src").schema

    def drain(run: Int): Seq[(String, Long)] = {
      val q = spark.readStream.schema(schema).parquet(s"$wd/src")
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "15 minutes"), col("k"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(s"codegen_reuse_$run")
        .outputMode("append")
        .option("checkpointLocation", s"$wd/checkpoint-$run")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(s"codegen_reuse_$run").select(col("k"), col("n")).as[(String, Long)]
        .collect().toSeq.sorted
    }
    val first = drain(1)
    assert(first.nonEmpty)
    val (n, second) = compiles(drain(2))
    assert(n == 0)
    assert(second == first)
  }

  test("the same stage under another codegen id compiles no new class") {
    def stage(mult: Int, mod: Int): DataFrame =
      spark.range(0, 50, 1, 2).select((col("id") * mult).as("x")).filter(col("x") % mod === 1)
    def stageIdOf(df: DataFrame, mod: Int): Int = df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec
          if w.child.exists {
            case f: FilterExec => f.condition.toString.contains(s"% $mod)")
            case _ => false
          } => w.codegenStageId
    }.headOption.getOrElse(fail(df.queryExecution.executedPlan.treeString))

    val b = stage(11, 5)
    val s = stage(7, 3)
    val expected = (b.collect() ++ s.collect()).map(_.getLong(0)).sorted.toSeq
    val both = b.union(s)
    assert(stageIdOf(s, 3) != stageIdOf(both, 3), both.queryExecution.executedPlan.treeString)
    val (n, rows) = compiles(both.collect())
    assert(n == 0)
    assert(rows.map(_.getLong(0)).sorted.toSeq == expected)
  }
}
