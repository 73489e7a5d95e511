package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** The in-process Lloyd fits against the Spark fits they replaced:
  * [[Clustering.kmeansFit]] (cosine) and [[ProductQuant.pqFit]] (L2,
  * per subspace).
  *
  * Random corpora carry duplicate vectors (so seeds tie and cosines are
  * equal), zero vectors, null vectors, null elements, vectors of another
  * length, a null id, and may be empty; `k` ranges past N and, in some
  * k-means runs, past [[Clustering.LiteralCentroidCap]]. Every run must
  * return bit-identical centroids, NULL components included, and the
  * runs together must cover each of those cases.
  */
class KMeansFitParitySpec extends SparkSpec {

  private def forAllSeeded[A](gen: Gen[A], runs: Int)(body: A => Unit): Unit =
    (1 to runs).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  /** The Spark fit as it stood before the in-process one: seeds by
    * `orderBy(id).limit(k)`, then per iteration a literal-centroid (or
    * past the cap, broadcast-join) assignment and the
    * [[Embeddings.groupCentroidComponents]] update, collected.
    */
  private def sparkFit(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): Seq[(Int, Seq[Double])] = {
    var centroids: Seq[(Int, Seq[Double])] = corpus
      .orderBy(col(idCol))
      .limit(k)
      .select(transform(col(vecCol), x => x.cast("double")).as("c"))
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0)) }
      .toSeq
    (1 to iters).foreach { _ =>
      val assigned =
        if (centroids.size <= Clustering.LiteralCentroidCap)
          corpus.select(
            (-array_max(Clustering.scoredArray(centroids, col(vecCol))).getField("nc"))
              .cast("int").as("cluster"),
            col(vecCol))
        else
          Clustering.assignByJoin(corpus, idCol, vecCol, centroids)
            .select(col("cluster"), col(vecCol))
      centroids = Embeddings
        .groupCentroidComponents(assigned, "cluster", vecCol)
        .groupBy(col("cluster"))
        .agg(
          transform(
            sort_array(collect_list(struct(col("dim"), col("c")))),
            p => p.getField("c")).as("centroid"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .toSeq
        .sortBy(_._1)
    }
    centroids
  }

  /** `pqFit` as it stood before the in-process one: seeds by
    * `orderBy(id).limit(k)`, then per round one assignment projection
    * tagging every subvector with its subspace's nearest centroid, one
    * [[Embeddings.groupCentroidComponents]] aggregation over all m
    * subspaces, and a collect.
    */
  private def sparkPqFit(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      iters: Int): Seq[ProductQuant.Codebook] = {
    val seeds = corpus
      .orderBy(col(idCol))
      .limit(k)
      .select(transform(col(vecCol), x => x.cast("double")).as("v"))
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0)) }
    val dim = seeds.head._2.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    var books: Seq[ProductQuant.Codebook] = (0 until m).map { j =>
      seeds.toSeq.map { case (cid, v) => (cid, v.slice(j * dsub, j * dsub + dsub)) }
    }
    (1 to iters).foreach { _ =>
      val tagged = corpus.select(
        explode(array((0 until m).map { j =>
          val sub = slice(col(vecCol), j * dsub + 1, dsub)
          struct(
            (ProductQuant.bestCode(sub, books(j)).cast("int") + lit(j * k)).as("g"),
            transform(sub, x => x.cast("double")).as("sv"))
        }: _*)).as("t"))
        .select(col("t.g").as("g"), col("t.sv").as("sv"))
      val comps = Embeddings
        .groupCentroidComponents(tagged, "g", "sv")
        .groupBy(col("g"))
        .agg(
          transform(
            sort_array(collect_list(struct(col("dim"), col("c")))),
            p => p.getField("c")).as("centroid"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .toSeq
        .sortBy(_._1)
      books = (0 until m).map { j =>
        comps.collect { case (g, c) if g / k == j => (g % k, c) }
      }
    }
    books
  }

  /** Centroids as raw bits: a NULL centroid or component is None. */
  private def bits(cs: Seq[(Int, Seq[Double])]): Seq[(Int, Option[Seq[Option[Long]]])] =
    cs.map { case (cid, c) =>
      cid -> Option(c).map(_.asInstanceOf[Seq[Any]].map {
        case null => None
        case d: java.lang.Double => Some(java.lang.Double.doubleToRawLongBits(d))
      })
    }

  /** (id, vector); a null vector or element is None. */
  private type Rec = (Option[Long], Option[Seq[Option[Double]]])

  private final case class Case(
      recs: Seq[Rec], dim: Int, float: Boolean, k: Int, iters: Int) {
    def vectors: Seq[Seq[Option[Double]]] = recs.flatMap(_._2)
  }

  /** A NULL (when `nulls`), or a component from a small grid (equal
    * cosines, exact .5 means) or uniform in [-1, 1).
    */
  private def component(nulls: Boolean): Gen[Option[Double]] = Gen.frequency(
    (if (nulls) 2 else 0) -> Gen.const(None),
    10 -> Gen.oneOf(-1.0, -0.5, -0.25, 0.0, 0.25, 0.5, 1.0).map(Some(_)),
    10 -> Gen.choose(-1.0, 1.0).map(Some(_)))

  private def vectorGen(dim: Int, nulls: Boolean): Gen[Option[Seq[Option[Double]]]] = Gen.frequency(
    (if (nulls) 2 else 0) -> Gen.const(None),
    2 -> Gen.const(Some(Seq.fill(dim)(Some(0.0)))),
    1 -> Gen.listOfN(dim + 1, component(nulls)).map(Some(_)),
    16 -> Gen.listOfN(dim, component(nulls)).map(Some(_)))

  private def caseGen: Gen[Case] = for {
    big <- Gen.frequency(1 -> true, 9 -> false)
    n <- if (big) Gen.choose(270, 300) else Gen.frequency(1 -> Gen.const(0), 12 -> Gen.choose(1, 40))
    dim <- Gen.choose(1, 4)
    float <- Gen.oneOf(true, false)
    distinct <- Gen.listOfN(math.max(1, n / 2), vectorGen(dim, nulls = true))
    picks <- Gen.listOfN(n, Gen.choose(0, distinct.size - 1))
    ids <- Gen.pick(n, (0L until 1000L).toList)
    nullId <- Gen.frequency(1 -> true, 3 -> false)
    k <- if (big) Gen.choose(260, n) else Gen.choose(1, n + 3)
    iters <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 3))
  } yield {
    // ids are unique, so the k lowest are well defined; a null id sorts first
    val idSeq = ids.toSeq.map(Option(_)).zipWithIndex.map { case (id, i) =>
      if (nullId && i == 0) None else id
    }
    Case(idSeq.zip(picks.map(distinct)), dim, float, k, iters)
  }

  private def frame(c: Case): DataFrame = {
    val elem = if (c.float) FloatType else DoubleType
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("vec", ArrayType(elem, containsNull = true), nullable = true)))
    def value(x: Option[Double]): Any = x match {
      case Some(d) => if (c.float) d.toFloat else d
      case None => null
    }
    val rows: Seq[Row] = c.recs.map { case (id, v) =>
      Row(id.map(java.lang.Long.valueOf(_)).orNull, v.map(_.map(value)).orNull)
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  test("the in-process fit returns the Spark fit's centroids bit for bit") {
    val seen = scala.collection.mutable.Set.empty[String]
    forAllSeeded(caseGen, runs = 60) { c =>
      val df = frame(c)
      val got = Clustering.kmeansFit(df, "id", "vec", c.k, c.iters)
      // One input the Spark fit failed on: it fails analysis
      // (`array_max(array())`) once no cluster is left to assign to,
      // where the in-process fit returns none.
      val expected =
        try sparkFit(df, "id", "vec", c.k, c.iters)
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getMessage.contains("array_max(array())") =>
            seen += "no cluster left"
            Seq.empty
        }
      assert(bits(got) == bits(expected), s"fit diverged on $c")

      val seeds = c.recs.sortBy(_._1.getOrElse(Long.MinValue)).take(c.k).map(_._2)
      val vs = c.vectors
      def flag(name: String, hit: Boolean): Unit = if (hit) seen += name
      flag("duplicate seeds", seeds.flatten.distinct.size < seeds.flatten.size && c.iters > 0)
      flag("zero vector", vs.exists(v => v.nonEmpty && v.forall(_.contains(0.0))))
      flag("null vector", c.recs.exists(_._2.isEmpty))
      flag("null element", vs.exists(_.contains(None)))
      flag("other length", vs.exists(_.size != c.dim))
      flag("null id", c.recs.exists(_._1.isEmpty))
      flag("empty corpus", c.recs.isEmpty)
      flag("k above N", c.k > c.recs.size && c.recs.nonEmpty)
      flag("emptied cluster", c.iters > 0 && expected.size < seeds.size)
      flag("k above the literal cap", c.iters > 0 && seeds.size > Clustering.LiteralCentroidCap)
      flag("NULL component", c.iters > 0 && expected.exists(_._2.asInstanceOf[Seq[Any]].contains(null)))
      flag("NULL component past the literal cap", c.iters > 0 &&
        seeds.size > Clustering.LiteralCentroidCap &&
        expected.exists(_._2.asInstanceOf[Seq[Any]].contains(null)))
    }
    val cases = Set("duplicate seeds", "zero vector", "null vector", "null element", "other length",
      "null id", "empty corpus", "k above N", "emptied cluster", "k above the literal cap",
      "NULL component", "NULL component past the literal cap", "no cluster left")
    assert(cases -- seen == Set.empty, "cases the runs never covered")
  }

  /** A PQ corpus of dim `m·dsub`: besides the k-means cases, vectors
    * shorter than dim (a subspace cut short or missing). Null vectors
    * are rarer than in [[caseGen]]: the Spark fit threw on a null seed.
    */
  private def pqCaseGen(m: Int, iters: Int): Gen[Case] = for {
    dsub <- Gen.choose(1, 3)
    n <- Gen.frequency(1 -> Gen.const(0), 30 -> Gen.choose(1, 30))
    float <- Gen.oneOf(true, false)
    dim = m * dsub
    distinct <- Gen.listOfN(math.max(1, n / 2), Gen.frequency(
      1 -> Gen.const(None),
      2 -> Gen.const(Some(Seq.fill(dim)(Some(0.0)))),
      2 -> Gen.choose(0, dim - 1).flatMap(Gen.listOfN(_, component(nulls = true))).map(Some(_)),
      1 -> Gen.listOfN(dim + 1, component(nulls = true)).map(Some(_)),
      24 -> Gen.listOfN(dim, component(nulls = true)).map(Some(_))))
    picks <- Gen.listOfN(n, Gen.choose(0, distinct.size - 1))
    ids <- Gen.pick(n, (0L until 1000L).toList)
    k <- Gen.choose(1, n + 3)
  } yield Case(ids.toSeq.map(Option(_)).zip(picks.map(distinct)), dim, float, k, iters)

  test("the in-process PQ fit returns the Spark pqFit's codebooks bit for bit") {
    val seen = scala.collection.mutable.Set.empty[String]
    val leftOut = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var compared = 0
    (1 to 72).foreach { i =>
      val m = Seq(1, 2, 4)(i % 3)
      val iters = Seq(0, 1, 3)(i / 3 % 3)
      val c = pqCaseGen(m, iters).pureApply(Gen.Parameters.default, Seed(i.toLong))
      val df = frame(c)
      val seeds = c.recs.sortBy(_._1.get).take(c.k).map(_._2)
      // The corpora the Spark fit threw on, each by its own check:
      // `seeds.head` of an empty corpus, the length of a null lowest-id
      // vector, a length m does not divide, and slicing a null seed.
      // The in-process fit rejects the first three too; a null seed is
      // a centroid that scores NULL there.
      val threw =
        if (c.recs.isEmpty) Some("empty corpus")
        else if (seeds.head.isEmpty) Some("null lowest-id vector")
        else if (seeds.head.get.size % m != 0) Some("lowest-id length not divisible by m")
        else if (seeds.exists(_.isEmpty)) Some("null vector among the seeds")
        else None
      // ... and the Spark fit fails analysis (`array_max(array())`) once
      // a subspace has no cluster left to assign to, where the in-process
      // fit returns an empty codebook for it
      val expected =
        if (threw.nonEmpty) {
          intercept[Exception](sparkPqFit(df, "id", "vec", m, c.k, c.iters))
          None
        } else
          try Some(sparkPqFit(df, "id", "vec", m, c.k, c.iters))
          catch {
            case e: org.apache.spark.sql.AnalysisException
                if e.getMessage.contains("array_max(array())") =>
              None
          }
      val got = threw match {
        case Some(why) if why != "null vector among the seeds" =>
          intercept[IllegalArgumentException](ProductQuant.pqFit(df, "id", "vec", m, c.k, c.iters))
          None
        case _ => Some(ProductQuant.pqFit(df, "id", "vec", m, c.k, c.iters))
      }
      expected match {
        case None =>
          val why = threw.getOrElse {
            assert(got.exists(_.exists(_.isEmpty)), s"m=$m: expected an empty codebook on $c")
            "a subspace with no cluster left"
          }
          leftOut(why) += 1
        case Some(expected) =>
          compared += 1
          assert(got.get.map(bits) == expected.map(bits), s"m=$m: pqFit diverged on $c")
          val vs = c.vectors
          def flag(name: String, hit: Boolean): Unit = if (hit) seen += name
          flag(s"m=$m iters=$iters", true)
          flag("duplicate seeds", seeds.flatten.distinct.size < seeds.size && iters > 0)
          flag("null vector", c.recs.exists(_._2.isEmpty))
          flag("null element", vs.exists(_.contains(None)))
          flag("short vector", vs.exists(_.size < c.dim))
          flag("k above N", c.k > c.recs.size)
          flag("dropped empty cluster", iters > 0 && expected.exists(_.size < seeds.size))
          flag("NULL component", iters > 0 &&
            expected.exists(_.exists(_._2.asInstanceOf[Seq[Any]].contains(null))))
      }
    }
    info(s"compared $compared corpora; left out ${leftOut.toSeq.sorted.mkString(", ")}")
    assert(compared >= 40, s"only $compared corpora compared")
    val cases = Set("duplicate seeds", "null vector", "null element", "short vector", "k above N",
      "dropped empty cluster", "NULL component") ++
      (for (m <- Seq(1, 2, 4); it <- Seq(0, 1, 3)) yield s"m=$m iters=$it")
    assert(cases -- seen == Set.empty, "cases the runs never covered")
  }

  test("the fit's rounding matches Spark's round on near-ties") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val near6 = Seq.fill(300)((rnd.nextInt(2000000) - 1000000 + 0.5) / 1e6)
    val near4 = Seq.fill(300)((rnd.nextInt(2000000) - 1000000 + 0.5) / 1e4)
    // squared L2 distances: near-ties up to the fast path's bound
    val nearL2 = Seq.fill(300)((rnd.nextInt(1000000000) + 0.5) / 1e6)
    val xs = (near6 ++ near4 ++ nearL2).flatMap(x => Seq(x, Math.nextUp(x), Math.nextDown(x))) ++
      Seq(0.0, -0.0, -4e-7, 4e-7, 1.0, -1.0, Math.nextUp(1.0), 0.9999995, -0.9999995, 1e300,
        999.9999995, 1000.0000005, 2.0000005, Math.nextDown(1000.0), 1000.0)
    val spark6 = xs.toDF("x")
      .select(col("x"), round(col("x"), 6),
        expr("CASE WHEN abs(x) < 1e10 THEN cast(round(cast(x as double) * 10000) as bigint) END"))
      .collect()
    spark6.foreach { r =>
      val x = r.getDouble(0)
      assert(java.lang.Double.doubleToRawLongBits(Clustering.round6(x)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)), s"round6($x)")
      if (math.abs(x) < 1e10) assert(Clustering.roundE4(x) == r.getLong(2), s"roundE4($x)")
    }
  }

  test("a fit runs one action, and IVF with a known count runs no count") {
    val rnd = new scala.util.Random(3)
    val corpus = spark.createDataFrame(
      (0 until 200).map(i => Row(i.toLong, Seq.fill(8)(rnd.nextFloat() * 2 - 1))).toList.asJava,
      StructType(Seq(
        StructField("id", LongType), StructField("vec", ArrayType(FloatType, containsNull = false)))))
    for (k <- Seq(1, 8, 300); iters <- Seq(0, 1, 3)) {
      assert(actionsRunBy(Clustering.kmeansFit(corpus, "id", "vec", k, iters)) == Seq("collect"),
        s"k=$k iters=$iters")
      assert(actionsRunBy(Clustering.kmeansFit(corpus, "id", "vec", k, iters, corpusCount = 200L)) ==
        Seq("collect"), s"k=$k iters=$iters with a count")
    }
    val qs = corpus.filter(col("id") % 20 === 0)
    assert(actionsRunBy(
      Similarity.ivfTopK(qs, corpus, "id", "vec", 5, nlist = 8, corpusCount = 200L)) == Seq("collect"))
    for (m <- Seq(1, 2, 4); k <- Seq(1, 8, 300); iters <- Seq(0, 1, 3))
      assert(actionsRunBy(ProductQuant.pqFit(corpus, "id", "vec", m, k, iters)) == Seq("collect"),
        s"pqFit m=$m k=$k iters=$iters")
    // the coarse fit, then the residual fit over the residual projection
    val q = Seq((0L, Seq.fill(8)(0.5)))
    assert(actionsRunBy(
      ProductQuant.ivfAdcTopK(corpus, "id", "vec", nlist = 8, m = 2, k = 4, nprobe = 2, q, 5)) ==
      Seq("collect", "collect"))
  }

  test("past the training cap the fit trains on every step-th id") {
    val corpus = spark.range(0, 50000).select(
      col("id"), array(sin(col("id")).cast("float"), cos(col("id")).cast("float")).as("vec"))
    // the Spark fit over the id-stride sample the cap selects: step 2
    val expected = sparkFit(corpus.filter(col("id") % 2 === 0), "id", "vec", 4, 2)
    assert(bits(Clustering.kmeansFit(corpus, "id", "vec", 4, 2)) == bits(expected))
    assert(bits(Clustering.kmeansFit(corpus, "id", "vec", 4, 2, corpusCount = 50000L)) == bits(expected))
  }
}
