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
  * [[ProductQuant]] trains its codebooks through the same in-memory
  * Lloyd under a squared-L2 rule, and every cosine assignment — k-means,
  * SemDeDup, IVF inversion — goes through [[assign]] (IVF probing
  * through [[probe]]).
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
      corpusCount: Long = -1L): Seq[(Int, Seq[Double])] =
    lloyd(trainingSample(corpus, idCol, vecCol, k, corpusCount), k, iters, byL2 = false)

  /** The vectors a fit over `k` clusters trains on, in ascending id
    * order (Spark's, nulls first), from one collect: the whole corpus
    * up to `max(TrainCap, 32·k)` rows, past it every step-th id (see
    * [[kmeansFit]]).
    */
  private[ext] def trainingSample(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      corpusCount: Long): Array[Components] = {
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
    sample.collect()
      .map(r => (InternalRow(toCatalyst(r.get(0))), Components(r.getSeq[Any](1))))
      .sortBy(_._1)(idOrder)
      .map(_._2)
  }

  /** Seeds and `iters` Lloyd steps over `vectors` (ascending id order):
    * the (clusterId, centroid) list, ascending ids. The seeds are the
    * first k vectors as they are; the nearest centroid has the highest
    * round(cosine, 6), or with `byL2` the lowest round(squared L2, 6)
    * (see [[nearest]]); the update is the exact 4-dp mean (see
    * [[update]]).
    */
  private[ext] def lloyd(
      vectors: Array[Components],
      k: Int,
      iters: Int,
      byL2: Boolean): Seq[(Int, Seq[Double])] = {
    // (cluster id, centroid), ascending ids; a seed is its vector as is
    var centroids: Array[(Int, Components)] = vectors.take(k).zipWithIndex.map(_.swap)
    val cluster = new Array[Int](vectors.length)
    (1 to iters).foreach { _ =>
      val cs = centroids
      IntStream.range(0, vectors.length).parallel()
        .forEach(i => cluster(i) = nearest(vectors(i), cs, byL2))
      centroids = update(vectors, cluster, cs)
    }
    centroids.toSeq.map { case (cid, c) => (cid, if (c == null) null else c.boxed) }
  }

  /** A vector or centroid: components promoted to double, a NULL read
    * as 0.0 (as the centroid literal of the assignment plan reads it)
    * and flagged in `nulls`; `norm` is over `xs`.
    */
  private[ext] final class Components(val xs: Array[Double], val nulls: Array[Boolean]) {
    val hasNull: Boolean = nulls.contains(true)
    val norm: Double = math.sqrt(xs.foldLeft(0.0)((acc, x) => acc + x * x))

    /** The components in `[from, until)`, cut as Spark's `slice` cuts
      * an array (shorter, or empty, past the end).
      */
    def slice(from: Int, until: Int): Components =
      new Components(xs.slice(from, until), nulls.slice(from, until))

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

  /** Index into `cs` (ascending cluster ids) of the max of (score,
    * -cid), the score being round(cosine, 6) or, with `byL2`,
    * -round(squared L2, 6) — [[graft.functions.VectorExprs.ArrayCosine]]'s
    * and [[graft.functions.VectorExprs.ArrayL2Sq]]'s sequential sums.
    * The score is NULL for a null vector or centroid, unequal lengths
    * or a NULL vector element, and a NULL orders below every number, so
    * a vector scored NULL everywhere lands in the first cluster.
    */
  private def nearest(v: Components, cs: Array[(Int, Components)], byL2: Boolean): Int = {
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
          var acc = 0.0
          var i = 0
          val s =
            if (byL2) {
              while (i < xs.length) { val d = xs(i) - ys(i); acc += d * d; i += 1 }
              -round6(acc)
            } else {
              while (i < xs.length) { acc += xs(i) * ys(i); i += 1 }
              round6(if (v.norm == 0.0 || c.norm == 0.0) 0.0 else acc / (v.norm * c.norm))
            }
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
    * the decimal form (together below 2e-7 while |x| < 1000, which
    * covers cosines and the squared L2 of PQ subvectors), the binary
    * value rounds the same way, so only near-ties pay for a `BigDecimal`.
    */
  private[ext] def round6(x: Double): Double = {
    val y = math.abs(x) * 1e6
    val f = y - math.floor(y)
    if (y < 1e9 && math.abs(f - 0.5) > 1e-6) {
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

  /** Up to this many centroids, assignment/probing is a pure projection
    * over literal centroid structs (zero shuffle, zero join — the plan
    * every probe-heavy workload wants). Past it the literal array stops
    * scaling — nlist separate codegen'd cosine expressions bloat the
    * plan and blow the 64 KB method limit — so assignment switches to
    * [[assignByJoin]]: a broadcast join against the centroid table. The
    * cap is a dispatch point, not a ceiling on nlist.
    */
  val LiteralCentroidCap: Int = 256

  /** Nearest centroid of each row of `df`: the projection `out` builds
    * from the cluster id (int) and the 6-dp cosine to that centroid
    * (double), next to `df`'s own columns. Up to [[LiteralCentroidCap]]
    * centroids that is one projection over the literal scored array,
    * past it [[assignByJoin]]; with no centroid at all it is zero rows
    * of the same schema.
    */
  private[ext] def assign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[(Int, Seq[Double])])(out: (Column, Column) => Seq[Column]): DataFrame =
    if (centroids.isEmpty)
      df.where(lit(false)).select(out(lit(null).cast("int"), lit(null).cast("double")): _*)
    else if (centroids.size <= LiteralCentroidCap) {
      val best = array_max(scoredArray(centroids, col(vecCol)))
      df.select(out((-best.getField("nc")).cast("int"), best.getField("s")): _*)
    } else
      assignByJoin(df, idCol, vecCol, centroids).select(out(col("cluster"), col("cosine")): _*)

  /** Each query's `nprobe` nearest centroids, `(query_id, q_vec,
    * list_id)`, in "descending rounded sim, ties → min list id" order:
    * the literal scored array sorted, sliced and exploded (projection
    * only) up to [[LiteralCentroidCap]], past it [[probeByJoin]]; with
    * no centroid at all zero rows of the same schema.
    */
  private[ext] def probe(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[(Int, Seq[Double])],
      nprobe: Int): DataFrame =
    if (centroids.isEmpty)
      queries.where(lit(false))
        .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"), lit(null).cast("int").as("list_id"))
    else if (centroids.size <= LiteralCentroidCap)
      queries
        .select(
          col(idCol).as("query_id"),
          col(vecCol).as("q_vec"),
          scoredArray(centroids, col(vecCol)).as("sc"))
        .select(
          col("query_id"),
          col("q_vec"),
          explode(slice(reverse(array_sort(col("sc"))), 1, nprobe)).as("p"))
        .select(col("query_id"), col("q_vec"), (-col("p.nc")).cast("int").as("list_id"))
    else
      probeByJoin(queries, idCol, vecCol, centroids, nprobe)
        .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"), col("list_id"))

  /** Every row of `df` as `(idCol, vecCol, _rid)` against every
    * centroid `(_cid, _centroid)` of a broadcast centroid table (nlist ×
    * dim doubles — MBs at worst). `_rid` is a surrogate ROW key, not idCol: keying on idCol would
    * collapse duplicate (or null) ids into one synthetic row — the
    * literal path works per ROW, and the two paths must stay
    * row-equivalent. `_centroid` is array<double> as the literal path's
    * typedlit(cv) is, a NULL component read as 0.0 as typedlit reads it
    * and a null centroid left null, so ArrayCosine scores both paths
    * bit-identically.
    */
  private def againstCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol), col(vecCol))
      .withColumn("_rid", monotonically_increasing_id())
      .crossJoin(broadcast(centroids
        .map { case (cid, c) =>
          (cid, if (c == null) null else c.asInstanceOf[Seq[java.lang.Double]].map(x =>
            if (x == null) 0.0 else x.doubleValue))
        }
        .toDF("_cid", "_centroid")))
  }

  /** Past-cap nearest-centroid assignment (the >LiteralCentroidCap
    * upgrade path): nested-loop every input row against the broadcast
    * centroids ([[againstCentroids]]) and reduce back to one row per
    * input with `max(struct(sim6, -cid))` — the same deterministic "max
    * rounded sim, ties → min cluster id" rule as the literal path, so
    * the two paths are bit-identical (pinned by SimilaritySpec parity).
    * The per-row fan-out of nlist candidate rows collapses map-side
    * (partial HashAggregate in the same task that produced them); the
    * one shuffle carries exactly one pre-combined row per input id —
    * O(N) rows regardless of nlist, vs the literal path's zero.
    */
  private[ext] def assignByJoin(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    val cos = graft.functions.VectorExprs.arrayCosine(col(vecCol), col("_centroid"))
    againstCentroids(df, idCol, vecCol, centroids)
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
    * same broadcast nested-loop, ranked per query row (the query set is
    * the small side — this window is tiny). Descending rounded sim, ties
    * → min list id: exactly the literal path's
    * `reverse(array_sort(scored))` order.
    */
  private[ext] def probeByJoin(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[(Int, Seq[Double])],
      nprobe: Int): DataFrame = {
    val cos = graft.functions.VectorExprs.arrayCosine(col(vecCol), col("_centroid"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_rid"))
      .orderBy(col("_s").desc, col("_cid").asc)
    againstCentroids(queries, idCol, vecCol, centroids)
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
      iters: Int): DataFrame =
    assign(corpus, idCol, vecCol, kmeansFit(corpus, idCol, vecCol, k, iters))((cluster, cosine) =>
      Seq(col(idCol), cluster.as("cluster"), cosine.as("cosine")))

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
    // SemDeDup sizes k ~ N/target_cluster_size, so past-cap k (the
    // broadcast-join assignment) is the NORMAL regime
    val assigned = assign(corpus, idCol, vecCol, centroids)((cluster, _) =>
      Seq(cluster.as("cluster"), col(idCol).as("id"), col(vecCol).as("vec")))
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
