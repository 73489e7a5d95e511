package graft

import java.sql.Timestamp

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

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
