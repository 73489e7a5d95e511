package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.Similarity
import graft.functions.VectorExprs

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  /** Round-trip through parquet so ConvertToLocalRelation can't fold the
    * whole plan before the rewrite is visible.
    */
  private def viaParquet(df: org.apache.spark.sql.DataFrame, tag: String) = {
    val dir = scratchDir(tag)
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("HOF dot product strength-reduces to the compiled ArrayDot, bit-identical result") {
    val df = viaParquet(
      Seq(
        (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
        (Seq(0.5, -1.5), Seq(2.0, 2.0))).toDF("a", "b"),
      "ext-dot")
    val hofDot = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0),
      (acc, v) => acc + v)
    val out = df.select(hofDot.as("dot"))
    val optimized = out.queryExecution.optimizedPlan.toString
    assert(optimized.toLowerCase.contains("arraydot"), optimized)
    assert(out.collect().map(_.getDouble(0)).toSet == Set(32.0, -2.0))
  }

  test("rewrite preserves zip_with NULL semantics: unequal lengths and NULL elements") {
    val df = viaParquet(
      Seq(
        (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)),       // unequal -> NULL
        (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)), // null elem -> NULL
        (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0))   // fine -> 11.0
      ).toDF("a", "b"),
      "ext-null")
    val hofDot = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0),
      (acc, v) => acc + v)
    val out = df.select(hofDot.as("dot"))
    assert(out.queryExecution.optimizedPlan.toString.toLowerCase.contains("arraydot"))
    val rows = out.collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    assert(rows.count(_ == null) == 2 && rows.contains(11.0), rows.toSeq)
  }

  test("float arrays: exact-widening casts are stripped into the compiled loop") {
    val df = viaParquet(Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b"), "ext-float")
    val ad = transform(col("a"), x => x.cast("double"))
    val bd = transform(col("b"), x => x.cast("double"))
    val hofDot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val out = df.select(hofDot.as("dot"))
    val optimized = out.queryExecution.optimizedPlan.toString
    assert(optimized.toLowerCase.contains("arraydot"), optimized)
    // the interpreted transform(cast) wrappers must be gone too
    assert(!optimized.contains("transform("), optimized)
    assert(out.collect().head.getDouble(0) == 11.0)
  }

  test("Similarity.cosine results are unchanged by the rule (bit parity with compiled path)") {
    val rnd = new scala.util.Random(11)
    val df = (0 until 50)
      .map(i => (i.toLong, Array.fill(16)(rnd.nextFloat()).toSeq, Array.fill(16)(rnd.nextFloat()).toSeq))
      .toDF("id", "a", "b")
    val viaHof = df.select(col("id"), Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaCompiled = df.select(
      col("id"),
      VectorExprs.arrayCosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaHof == viaCompiled)
  }

  test("SQL-visible functions registered by the session extension") {
    val r = spark.sql("SELECT graft_array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(r == 11.0)
  }

  test("a Sessions.local session adds no extra optimizations and still rewrites the HOF dot") {
    // the rules arrive once, through the extension injected at build time
    assert(spark.experimental.extraOptimizations.isEmpty)
    val df = viaParquet(Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b"), "ext-session")
    val out = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, v) => acc + v))
    val optimized = out.queryExecution.optimizedPlan
    assert(
      optimized.flatMap(_.expressions).exists(_.exists(_.isInstanceOf[VectorExprs.ArrayDot])),
      optimized.toString)
    assert(out.head().getDouble(0) == 11.0)
  }
}
