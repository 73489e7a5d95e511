package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic Lloyd k-means over an embedding column — the
  * clustering primitive of corpus curation (SemDeDup-style semantic
  * dedup, IVF index training, topic-balanced sampling all start here).
  *
  * Scale shape (the same contract as [[Similarity.ivfTopK]]'s internal
  * Lloyd step): centroids live on the driver (k × dim doubles — KBs to
  * a few MB). Up to [[LiteralCentroidCap]] they enter the plan as
  * literals and per-iteration assignment is a PURE PROJECTION over the
  * corpus — an argmax fold over the literal centroid array, no
  * shuffle, no join; PAST the cap assignment dispatches to
  * [[assignByJoin]] — a broadcast nested-loop against the centroid
  * table whose per-row fan-out collapses map-side, one O(N)-row
  * shuffle per iteration (the correct large-k plan; the literal array
  * would blow the 64 KB codegen method limit). The other shuffle per
  * iteration is the centroid update: a (cluster, dim)-keyed
  * aggregation, map-side combined, whose shuffle carries at most
  * k·dim partial rows per task. The corpus is never repartitioned,
  * cached, or collected; each iteration is one scan. k is a model
  * parameter (pick ~N/target_cluster_size at scale), NOT a partition
  * count.
  *
  * Determinism (what makes the result oracle-checkable in another
  * engine): seeds are the k lowest-id vectors; assignment ranks by
  * 6-dp-rounded cosine with ties to the LOWEST cluster id; centroid
  * means are exact integer-scaled 4-dp values (order-independent —
  * see [[Embeddings.groupCentroidComponents]]), so every engine that
  * replays these rules lands on bit-identical clusters.
  */
object Clustering {

  /** Fit `iters` Lloyd iterations; returns the final (clusterId,
    * centroid) list, cluster ids being seed ranks (0-based, in id
    * order). Clusters that lose all members drop out.
    */
  def kmeansFit(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): Seq[(Int, Seq[Double])] = {
    // seeds: the k lowest-id vectors; cluster id = rank in id order.
    // Only the k seed rows are ever row-numbered or collected.
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
        if (centroids.size <= LiteralCentroidCap)
          corpus.select(
            (-bestOf(centroids, col(vecCol)).getField("nc")).cast("int").as("cluster"),
            col(vecCol))
        else assignByJoin(corpus, idCol, vecCol, centroids).select(col("cluster"), col(vecCol))
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
