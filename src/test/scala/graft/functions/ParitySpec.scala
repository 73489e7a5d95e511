package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.{Dedup, Similarity}

/** The compiled hot-path expressions must be value-identical to the
  * column-algebra reference implementations they replaced — this is
  * what keeps the DuckDB oracle stable across the optimization.
  */
class ParitySpec extends SparkSpec {
  import spark.implicits._

  test("ArrayCosine is bit-identical to the zip_with/aggregate cosine") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 50)
      .map(_ => (Array.fill(64)(rnd.nextFloat() * 2 - 1).toSeq,
        Array.fill(64)(rnd.nextFloat() * 2 - 1).toSeq))
      .toDF("a", "b")
    val out = df.select(
      Similarity.cosine(col("a"), col("b")).as("hof"),
      VectorExprs.arrayCosine(spark, col("a"), col("b")).as("compiled"))
    assert(out.filter(col("hof") =!= col("compiled")).count() == 0)
  }

  test("ArrayCosine generated code is bit-identical to its interpreted eval") {
    // ArrayCosine implements real doGenCode (the one hot-path exception
    // to CodegenFallback); the generated Java and the interpreted loop
    // must agree to the last bit on every type pairing, incl. mixed
    // float/double strides and the zero-norm guard
    val rnd = new scala.util.Random(31)
    val fl = (1 to 40).map(_ => (Array.fill(48)(rnd.nextFloat() * 2 - 1).toSeq,
      Array.fill(48)(rnd.nextFloat() * 2 - 1).toSeq)) :+
      ((Array.fill(48)(0f).toSeq, Array.fill(48)(rnd.nextFloat()).toSeq)) // zero norm
    val df = fl.toDF("a", "b")
      .withColumn("ad", transform(col("a"), x => x.cast("double")))
      .withColumn("bd", transform(col("b"), x => x.cast("double")))
    def run(factoryMode: String): Seq[Double] = {
      spark.conf.set("spark.sql.codegen.factoryMode", factoryMode)
      try df.select(
        VectorExprs.arrayCosine(spark, col("a"), col("b")).as("ff"),
        VectorExprs.arrayCosine(spark, col("ad"), col("bd")).as("dd"),
        VectorExprs.arrayCosine(spark, col("a"), col("bd")).as("fd"))
        .collect()
        .flatMap(r => Seq(r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    val compiled = run("CODEGEN_ONLY")
    val interpreted = run("NO_CODEGEN")
    assert(compiled == interpreted, "codegen and interpreted paths diverge")
  }

  test("JaccardLongs generated code is bit-identical to its interpreted eval") {
    val rnd = new scala.util.Random(41)
    val data = (1 to 40).map { _ =>
      val base = Array.fill(30)(rnd.nextLong() % 1000)
      (base.toSeq, (base.take(rnd.nextInt(30)) ++ Array.fill(10)(rnd.nextLong() % 1000)).toSeq)
    } :+ ((Seq.empty[Long], Seq.empty[Long])) // union == 0 guard
    val df = data.toDF("a", "b")
    def run(factoryMode: String): Seq[Double] = {
      spark.conf.set("spark.sql.codegen.factoryMode", factoryMode)
      try df.select(VectorExprs.jaccardLongs(spark, col("a"), col("b")).as("j"))
        .collect().map(_.getDouble(0)).toSeq
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(run("CODEGEN_ONLY") == run("NO_CODEGEN"))
  }

  test("compiled HyperplaneSig buckets are bit-identical to the declarative lshSignature") {
    val rnd = new scala.util.Random(23)
    val df = (1 to 40)
      .map(_ => Tuple1(Array.fill(24)(rnd.nextFloat() * 2 - 1).toSeq))
      .toDF("vec")
    for (table <- 0 until 3; bits <- Seq(4, 11)) {
      val out = df.select(
        Similarity.lshSignature(col("vec"), table, bits).as("hof"),
        Similarity.lshSignatureCompiled(spark, col("vec"), table, bits).as("compiled"))
      assert(out.filter(col("hof") =!= col("compiled")).count() == 0, s"t=$table bits=$bits")
    }
  }

  test("JaccardLongs over full-64-bit shingle hashes equals string-set jaccard") {
    val docs = Seq(
      ("a b c d e f g", "a b c d e f"),
      ("x y z", "x y z"),
      ("one two three four", "five six seven eight"),
      ("t", "t u v w")).toDF("ta", "tb")
    val out = docs.select(
      round(Dedup.jaccard(col("ta"), col("tb")), 9).as("strings"),
      round(
        VectorExprs.jaccardLongs(
          spark,
          VectorExprs.shingleHashes(spark, split(trim(lower(col("ta"))), "\\s+"), 3, Long.MaxValue),
          VectorExprs.shingleHashes(spark, split(trim(lower(col("tb"))), "\\s+"), 3, Long.MaxValue)),
        9).as("hashed"))
    assert(out.filter(col("strings") =!= col("hashed")).count() == 0)
  }

  test("compiled SimHash64 matches the column-algebra construction bit-for-bit") {
    val df = Seq(
      "the quick brown fox", "lorem ipsum dolor sit amet", "a", "", "x y z x y z")
      .toDF("t")
    val out = df.select(
      Dedup.simhash64(col("t")).as("hof"),
      VectorExprs.simhash64(spark, split(trim(lower(col("t"))), "\\s+")).as("compiled"))
    assert(out.filter(col("hof") =!= col("compiled")).count() == 0)
  }

  test("compiled shingle+minhash signatures match the column-algebra construction") {
    val (as, bs) = Dedup.permParams(16)
    val df = Seq("the quick brown fox jumps over the lazy dog", "a b").toDF("t")
    val toks = split(trim(lower(col("t"))), "\\s+")
    val out = df.select(
      Dedup.minhashSignature(col("t"), 16, 3).as("hof"),
      VectorExprs
        .minhashSig(spark,
          VectorExprs.shingleHashes(spark, toks, 3, 4294967311L), as, bs, 4294967311L)
        .as("compiled"))
    // same shingle set + same permutation family -> same signature values
    out.collect().foreach { r =>
      assert(r.getSeq[Long](0).sorted == r.getSeq[Long](1).sorted)
    }
  }

  test("compiled SortedPairs matches the nested transform/slice HOF, pairs and order") {
    val rnd = new scala.util.Random(51)
    val data = (1 to 30).map(_ =>
      Tuple1(Array.fill(rnd.nextInt(12))(rnd.nextLong() % 500).distinct.sorted.toSeq)) :+
      Tuple1(Seq.empty[Long]) :+ Tuple1(Seq(7L)) // n<2 -> empty pair set
    val df = data.toDF("ps")
    val hof = expr(
      "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps) - i - 1), " +
        "y -> struct(x AS p1, y AS p2))))")
    val out = df.select(
      hof.as("hof"),
      VectorExprs.sortedPairs(spark, col("ps"), "p1", "p2").as("compiled"))
    out.collect().foreach { r =>
      val a = r.getSeq[org.apache.spark.sql.Row](0).map(p => (p.getLong(0), p.getLong(1)))
      val b = r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getLong(0), p.getLong(1)))
      assert(a == b, "pair sets or order diverge")
    }
  }

  test("SortedPairs rejects an array whose pair count overflows an Int") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    // 70 000 elements -> 2 449 965 000 pairs, past Int.MaxValue
    val big = Literal(
      new GenericArrayData(Array.tabulate[Any](70000)(_.toLong)),
      ArrayType(LongType, containsNull = false))
    val e = intercept[IllegalArgumentException](
      VectorExprs.SortedPairs(big, "p1", "p2").eval())
    assert(e.getMessage.contains("array too large for pair expansion"))
  }
}
