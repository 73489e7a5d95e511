package graft.ext

import java.util.stream.IntStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._

/** Deterministic Lloyd k-means over an embedding column — the
  * clustering primitive of corpus curation (SemDeDup-style semantic
  * dedup, IVF index training, topic-balanced sampling all start here).
  *
  * Scale shape: the fit trains in memory on a bounded sample, the way
  * FAISS trains an IVF quantizer (Johnson, Douze, Jégou 2019). One Spark
  * action collects `(id, vector)` of at most `max(TrainCap, 32·k)`
  * vectors (every step-th id past that, see [[kmeansFit]]); seeding and
  * every Lloyd iteration then run in process, with the assignment
  * spread over the local cores — O(sample · k · dim) work per
  * iteration and no job, shuffle or plan per iteration. The centroids
  * (k × dim doubles — KBs to a few MB) are what leave the fit. The
  * corpus-sized step is the final assignment ([[kmeansAssign]],
  * [[semanticDedupPairs]], IVF inversion), which still covers every
  * vector: up to [[LiteralCentroidCap]] centroids it is a PURE
  * PROJECTION over the corpus — an argmax fold over the literal
  * centroid array, no shuffle, no join; PAST the cap it dispatches to
  * [[assignByJoin]] — a broadcast nested-loop against the centroid
  * table whose per-row fan-out collapses map-side, one O(N)-row shuffle
  * (the correct large-k plan; the literal array would blow the 64 KB
  * codegen method limit). k is a model parameter (pick
  * ~N/target_cluster_size at scale), NOT a partition count.
  *
  * Determinism (what makes the result oracle-checkable in another
  * engine): seeds are the k lowest-id vectors; assignment ranks by
  * 6-dp-rounded cosine with ties to the LOWEST cluster id; centroid
  * means are exact integer-scaled 4-dp values (order-independent —
  * see [[Embeddings.groupCentroidComponents]]), so every engine that
  * replays these rules lands on bit-identical clusters.
  */
object Clustering {

  /** Training-sample floor: a fit trains on at most
    * `max(TrainCap, 32·k)` vectors — ~32 per centroid is the usual
    * floor below which Lloyd degenerates to a sample quantizer.
    */
  val TrainCap: Long = 20000L

  /** Fit `iters` Lloyd iterations; returns the final (clusterId,
    * centroid) list sorted by cluster id, cluster ids being seed ranks
    * (0-based, in id order). A cluster that no non-empty vector reaches
    * drops out; a component no member has a value for is NULL.
    *
    * Runs exactly one Spark action: a collect of the training sample.
    * Up to `max(TrainCap, 32·k)` vectors the sample is the whole corpus;
    * past it, every step-th id (`pmod(id, step) = 0`, step = count /
    * cap — a pure function of integral ids, so another engine replays
    * it). Pass the corpus cardinality you already know as `corpusCount`;
    * otherwise the step comes from a count subquery inside the same
    * action. Seeding and iterations then replay the Spark rules in
    * process, bit for bit:
    *   - seeds: the k lowest ids in Spark's ascending order (nulls
    *     first), vectors promoted to double;
    *   - assignment: max of (round(cosine, 6), -cid), with
    *     [[graft.functions.VectorExprs.ArrayCosine]]'s arithmetic — NULL
    *     for a null vector or centroid, unequal lengths or a null vector
    *     element, ordered below every number; a NULL centroid component
    *     reads as 0.0, as the array literal the assignment plan holds;
    *   - update: [[Embeddings.groupCentroidComponents]]' exact integer
    *     mean of `round(v·10⁴)` over each (cluster, dim)'s non-null
    *     values, using Spark's `round` (HALF_UP on the double's decimal
    *     form).
    */
  def kmeansFit(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      corpusCount: Long = -1L): Seq[(Int, Seq[Double])] = {
    val cap = math.max(TrainCap, 32L * k)
    val step: Column =
      if (corpusCount >= 0) lit(math.max(1L, corpusCount / cap))
      else corpus.select(expr(s"greatest(1, count(1) div $cap)")).scalar()
    // a literal step of 1 folds the filter away
    val sample = corpus
      .filter(step <= 1 || pmod(col(idCol), step) === 0)
      .select(col(idCol), col(vecCol))
    val idType = sample.schema(0).dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val idOrder = InterpretedOrdering.forSchema(Seq(idType))
    // stable sort: rows with equal ids keep their collected order (Spark
    // picks among them arbitrarily)
    val vectors = sample.collect()
      .map(r => (InternalRow(toCatalyst(r.get(0))), Components(r.getSeq[Any](1))))
      .sortBy(_._1)(idOrder)
      .map(_._2)

    // (cluster id, centroid), ascending ids; a seed is its vector as is
    var centroids: Array[(Int, Components)] = vectors.take(k).zipWithIndex.map(_.swap)
    val cluster = new Array[Int](vectors.length)
    (1 to iters).foreach { _ =>
      val cs = centroids
      IntStream.range(0, vectors.length).parallel().forEach(i => cluster(i) = nearest(vectors(i), cs))
      centroids = update(vectors, cluster, cs)
    }
    centroids.toSeq.map { case (cid, c) => (cid, if (c == null) null else c.boxed) }
  }

  /** A vector or centroid: components promoted to double, a NULL read
    * as 0.0 (as the centroid literal of the assignment plan reads it)
    * and flagged in `nulls`; `norm` is over `xs`.
    */
  private final class Components(val xs: Array[Double], val nulls: Array[Boolean]) {
    val hasNull: Boolean = nulls.contains(true)
    val norm: Double = math.sqrt(xs.foldLeft(0.0)((acc, x) => acc + x * x))

    /** Boxed, a flagged component as NULL: the shape a collected
      * `array<double>` has.
      */
    def boxed: Seq[Double] =
      scala.collection.immutable.ArraySeq
        .unsafeWrapArray(Array.tabulate[AnyRef](xs.length)(j =>
          if (nulls(j)) null else java.lang.Double.valueOf(xs(j))))
        .asInstanceOf[Seq[Double]]
  }

  private object Components {
    def apply(elems: scala.collection.Seq[Any]): Components =
      if (elems == null) null
      else new Components(
        elems.iterator.map {
          case null => 0.0
          case x: Number => x.doubleValue
        }.toArray,
        elems.iterator.map(_ == null).toArray)
  }

  /** Index into `cs` (ascending cluster ids) of the max of
    * (round(cosine, 6), -cid). The score is NULL for a null vector or
    * centroid, unequal lengths or a NULL vector element, and a NULL
    * orders below every number, so a vector scored NULL everywhere
    * lands in the first cluster.
    */
  private def nearest(v: Components, cs: Array[(Int, Components)]): Int = {
    var best = 0
    var bestScore = 0.0
    var scored = false
    if (v != null && !v.hasNull) {
      val xs = v.xs
      var j = 0
      while (j < cs.length) {
        val c = cs(j)._2
        if (c != null && c.xs.length == xs.length) {
          val ys = c.xs
          var dot = 0.0
          var i = 0
          while (i < xs.length) { dot += xs(i) * ys(i); i += 1 }
          val s = round6(if (v.norm == 0.0 || c.norm == 0.0) 0.0 else dot / (v.norm * c.norm))
          if (!scored || SQLOrderingUtil.compareDoubles(s, bestScore) > 0) {
            best = j; bestScore = s; scored = true
          }
        }
        j += 1
      }
    }
    best
  }

  /** The exact 4-dp mean of each (cluster, dim)'s non-null values; a
    * cluster no non-empty vector reached drops out.
    */
  private def update(
      vectors: Array[Components],
      cluster: Array[Int],
      cs: Array[(Int, Components)]): Array[(Int, Components)] = {
    // per cluster and dim: the count of non-null values and the sum of
    // their round(v·10⁴); null for a cluster no vector reached
    val n = new Array[Array[Long]](cs.length)
    val s = new Array[Array[Long]](cs.length)
    vectors.indices.foreach { i =>
      val v = vectors(i)
      val c = cluster(i)
      if (v != null && v.xs.nonEmpty) {
        if (n(c) == null || n(c).length < v.xs.length) {
          n(c) = Option(n(c)).getOrElse(Array.emptyLongArray).padTo(v.xs.length, 0L)
          s(c) = Option(s(c)).getOrElse(Array.emptyLongArray).padTo(v.xs.length, 0L)
        }
        var j = 0
        while (j < v.xs.length) {
          if (!v.nulls(j)) { n(c)(j) += 1; s(c)(j) += roundE4(v.xs(j)) }
          j += 1
        }
      }
    }
    cs.indices.filter(n(_) != null).map { c =>
      val mean = n(c).indices.map { j =>
        val (cnt, sum) = (n(c)(j), s(c)(j))
        if (cnt == 0) 0L // a NULL component, flagged below
        else if (sum >= 0) (2 * sum + cnt) / (2 * cnt)
        else -((-2 * sum + cnt) / (2 * cnt))
      }
      cs(c)._1 -> new Components(mean.map(_.toDouble / 10000.0).toArray, n(c).map(_ == 0L))
    }.toArray
  }

  /** Spark's `round(x, 6)` on a double: HALF_UP on `x`'s decimal form.
    * Off a half point by more than the error of `|x|·10⁶` plus that of
    * the decimal form (both below 1e-9 while |x| < 2), the binary value
    * rounds the same way, so only near-ties pay for a `BigDecimal`.
    */
  private[ext] def round6(x: Double): Double = {
    val y = math.abs(x) * 1e6
    val f = y - math.floor(y)
    if (y < 2e6 && math.abs(f - 0.5) > 1e-6) {
      val r = if (f > 0.5) math.floor(y) + 1 else math.floor(y)
      if (r == 0.0) 0.0 else if (x < 0) -r / 1e6 else r / 1e6
    } else if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
  }

  /** `cast(round(v * 10000) as bigint)` with Spark's `round`: below
    * 2⁵², k + 0.5 is a double, so the decimal form of `v·10⁴` lies on
    * the same side of it as the binary value and HALF_UP needs no
    * `BigDecimal`; past 2⁵² the value is already integral.
    */
  private[ext] def roundE4(v: Double): Long = {
    val p = v * 10000.0
    val a = math.abs(p)
    if (!(a < 4503599627370496.0)) p.toLong
    else {
      val r = (if (a - math.floor(a) >= 0.5) math.floor(a) + 1 else math.floor(a)).toLong
      if (p < 0) -r else r
    }
  }

  /** Literal-centroid score array: one struct(sim6, -cid) per centroid.
    * The 6-dp rounding and negated id make array_max's lexicographic
    * compare exactly "max rounded sim, ties -> min cluster id" — the
    * deterministic assignment rule every oracle replays. Shared with
    * [[Similarity.ivfTopK]], whose probe step needs the whole scored
    * array (top-nprobe lists), not just the argmax.
    */
  private[ext] def scoredArray(
      centroids: Seq[(Int, Seq[Double])],
      vec: Column): Column =
    array(centroids.map { case (cid, cv) =>
      struct(
        round(graft.functions.VectorExprs.arrayCosine(vec, typedlit(cv)), 6).as("s"),
        lit(-cid).as("nc"))
    }: _*)

  /** Scored literal-centroid argmax: struct(sim6, -cid), so array_max's
    * lexicographic compare IS "max rounded sim, ties -> min cluster id".
    */
  private def bestOf(
      centroids: Seq[(Int, Seq[Double])],
      vec: Column): Column =
    array_max(scoredArray(centroids, vec))

  /** Up to this many centroids, assignment/probing is a pure projection
    * over literal centroid structs (zero shuffle, zero join — the plan
    * every probe-heavy workload wants). Past it the literal array stops
    * scaling — nlist separate codegen'd cosine expressions bloat the
    * plan and blow the 64 KB method limit — so assignment switches to
    * [[assignByJoin]]: a broadcast join against the centroid table. The
    * cap is a dispatch point, not a ceiling on nlist.
    */
  val LiteralCentroidCap: Int = 256

  private[ext] def centroidTable(
      spark: org.apache.spark.sql.SparkSession,
      centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    centroids.toDF("_cid", "_centroid")
  }

  /** Past-cap nearest-centroid assignment (the >LiteralCentroidCap
    * upgrade path): broadcast the nlist-row centroid table (nlist × dim
    * doubles — MBs at worst), nested-loop every input row against it,
    * and reduce back to one row per input with
    * `max(struct(sim6, -cid))` — the same deterministic "max rounded
    * sim, ties → min cluster id" rule as the literal path, so the two
    * paths are bit-identical (pinned by SimilaritySpec parity). The
    * per-row fan-out of nlist candidate rows collapses map-side
    * (partial HashAggregate in the same task that produced them); the
    * one shuffle carries exactly one pre-combined row per input id —
    * O(N) rows regardless of nlist, vs the literal path's zero.
    */
  private[ext] def assignByJoin(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    val spark = df.sparkSession
    // _centroid stays array<double> — the literal path's typedlit(cv) is
    // array<double> too, and ArrayCosine's mixed float/double loop makes
    // the two paths arithmetic-identical (parity is bit-exact, not
    // approximate)
    val cos = graft.functions.VectorExprs.arrayCosine(col(vecCol), col("_centroid"))
    // surrogate ROW key, not idCol: grouping on idCol would collapse
    // duplicate (or null) ids into one synthetic row — the literal path
    // assigns per ROW, and the two paths must stay row-equivalent
    df.select(col(idCol), col(vecCol))
      .withColumn("_rid", monotonically_increasing_id())
      .crossJoin(broadcast(centroidTable(spark, centroids)))
      .groupBy(col("_rid"))
      .agg(
        first(col(idCol)).as(idCol),
        max(struct(round(cos, 6).as("s"), (-col("_cid")).as("nc"))).as("best"),
        first(col(vecCol)).as(vecCol))
      .select(
        col(idCol),
        (-col("best.nc")).cast("int").as("cluster"),
        col("best.s").as("cosine"),
        col(vecCol))
  }

  /** Past-cap probe selection: each query's nprobe nearest lists via the
    * same broadcast nested-loop, ranked per query (the query set is the
    * small side — this window is tiny). Descending rounded sim, ties →
    * min list id: exactly the literal path's
    * `reverse(array_sort(scored))` order.
    */
  private[ext] def probeByJoin(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[(Int, Seq[Double])],
      nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    // _centroid stays array<double> — the literal path's typedlit(cv) is
    // array<double> too, and ArrayCosine's mixed float/double loop makes
    // the two paths arithmetic-identical (parity is bit-exact, not
    // approximate)
    val cos = graft.functions.VectorExprs.arrayCosine(col(vecCol), col("_centroid"))
    // surrogate ROW key (see assignByJoin): duplicate/null query ids
    // must each keep their own nprobe lists, exactly like the literal
    // per-row path
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_rid"))
      .orderBy(col("_s").desc, col("_cid").asc)
    queries.select(col(idCol), col(vecCol))
      .withColumn("_rid", monotonically_increasing_id())
      .crossJoin(broadcast(centroidTable(spark, centroids)))
      .withColumn("_s", round(cos, 6))
      .withColumn("_pr", row_number().over(w))
      .filter(col("_pr") <= nprobe)
      .select(col(idCol), col(vecCol), col("_cid").as("list_id"))
  }

  /** Run `iters` Lloyd iterations and return the final assignment:
    * one row per input vector — (idCol, cluster, cosine), where
    * `cosine` is the 6-dp similarity to the winning centroid.
    */
  def kmeansAssign(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): DataFrame = {
    val centroids = kmeansFit(corpus, idCol, vecCol, k, iters)
    if (centroids.size <= LiteralCentroidCap) {
      val b = bestOf(centroids, col(vecCol))
      corpus.select(
        col(idCol),
        (-b.getField("nc")).cast("int").as("cluster"),
        b.getField("s").as("cosine"))
    } else
      assignByJoin(corpus, idCol, vecCol, centroids)
        .select(col(idCol), col("cluster"), col("cosine"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
    * 2303.09540): cluster the corpus, then mark near-duplicate PAIRS
    * only WITHIN each cluster — the pairwise cost drops from O(N²) to
    * O(Σ|cluster|²), and with k sized to N/target the per-cluster work
    * is constant. Returns (id_a, id_b, cosine) with id_a < id_b and
    * 6-dp cosine at or above `threshold`. Assignment is the same pure
    * projection as [[kmeansAssign]] (no corpus re-join); the only wide
    * operation is the within-cluster self-join, keyed on cluster id.
    *
    * Recall caveat (inherent to the method): a pair split across two
    * clusters is missed — at cosine ~1.0 (true duplicates) both members
    * assign identically, so dup recall is 1; borderline pairs near the
    * threshold can fall on a cluster seam. That is the SemDeDup trade.
    */
  def semanticDedupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      k: Int,
      iters: Int = 2): DataFrame = {
    val centroids = kmeansFit(corpus, idCol, vecCol, k, iters)
    // ONE assignment frame, self-joined on aliases: both join sides share a
    // byte-identical plan up to the cluster-keyed exchange, so Spark's
    // ReuseExchange computes the corpus scan + argmax projection ONCE and
    // feeds both sides from the same shuffle files (PlanAuditSpec pins the
    // ReusedExchange node). Distinct column names per side (the previous
    // shape) defeat canonicalization and double the heaviest stage.
    // same past-cap dispatch as kmeansAssign: past LiteralCentroidCap
    // the literal scored-array would inline k codegen'd cosines (the
    // 64 KB method-limit blowup the cap exists to avoid) — SemDeDup
    // sizes k ~ N/target_cluster_size, so large k is the NORMAL regime
    val assigned =
      if (centroids.size <= LiteralCentroidCap)
        corpus.select(
          (-bestOf(centroids, col(vecCol)).getField("nc")).cast("int").as("cluster"),
          col(idCol).as("id"),
          col(vecCol).as("vec"))
      else
        assignByJoin(corpus, idCol, vecCol, centroids).select(
          col("cluster"), col(idCol).as("id"), col(vecCol).as("vec"))
    assigned
      .alias("a")
      // merge hint: broadcasting a corpus-sized side is never right at
      // scale, and a shuffle join is what makes the two sides' exchanges
      // canonically equal so the scan+argmax stage is computed once
      .hint("merge")
      .join(assigned.alias("b").hint("merge"), col("a.cluster") === col("b.cluster"))
      .filter(col("a.id") < col("b.id"))
      .withColumn(
        "cosine",
        round(graft.functions.VectorExprs.arrayCosine(col("a.vec"), col("b.vec")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }
}
