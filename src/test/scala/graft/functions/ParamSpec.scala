package graft.functions

import java.sql.{Date, Timestamp}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.GraftSqlInternals.column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** [[Param]] evaluates like the literal it replaces, in generated code
  * and interpreted alike, and keeps its value out of the generated
  * source, so plans that differ only in a bound value share one class.
  */
class ParamSpec extends SparkSpec {

  private val ts = Timestamp.valueOf("2024-01-02 08:00:00")
  private val values: Seq[Any] =
    Seq(ts, Date.valueOf("2024-01-02"), 42, 1234567890123L, "day-2")
  private val nulls: Seq[DataType] = Seq(TimestampType, DateType, IntegerType, LongType, StringType)

  /** Each param beside an expression computed from it, over a few rows. */
  private def select(params: Seq[Column]): DataFrame =
    spark.range(0, 3, 1, 1).select(params.zipWithIndex.flatMap { case (p, i) =>
      Seq(p.as(s"p$i"), concat(p.cast("string"), col("id").cast("string")).as(s"e$i"))
    }: _*)

  private def rows(df: => DataFrame, wholeStage: Boolean, factoryMode: String): Seq[Row] = {
    spark.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
    spark.conf.set("spark.sql.codegen.factoryMode", factoryMode)
    try df.collect().toSeq
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("codegen and interpreted eval give the literal's rows, for values and nulls") {
    def df = select(values.map(Param.of) ++ nulls.map(dt => column(Param(null, dt))))
    def literal = select(values.map(v => lit(v)) ++ nulls.map(dt => lit(null).cast(dt)))
    val compiled = rows(df, wholeStage = true, "CODEGEN_ONLY")
    assert(compiled == rows(df, wholeStage = false, "NO_CODEGEN"))
    assert(compiled == rows(literal, wholeStage = false, "NO_CODEGEN"))
    assert(compiled.head.getAs[Timestamp]("p0") == ts)
    assert(compiled.head.isNullAt(2 * values.size))
  }

  test("a bound value stays out of the generated source; a new value compiles nothing") {
    def at(t: Timestamp) = select(Seq(Param.of(t), Param.of(t.getTime), Param.of(s"batch-${t.getTime}")))
    val first = at(ts)
    val dump = codegenString(first.queryExecution.executedPlan)
    val src = dump.substring(dump.indexOf("Generated code:")) // past the plan tree, which prints values
    val micros = ts.getTime * 1000L
    assert(!src.contains(micros.toString) && !src.contains(ts.getTime.toString), src)
    first.collect()
    val next = new Timestamp(ts.getTime + 86400000L)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val got = at(next).collect()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0)
    assert(got.head.getAs[Timestamp]("p0") == next && got.head.getLong(2) == next.getTime)
    // the plan still prints the value, as the literal would
    assert(at(next).queryExecution.optimizedPlan.toString.contains(Literal(next).toString))
  }
}
