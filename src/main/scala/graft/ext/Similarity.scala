package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *   - [[bruteForceTopK]] — exact cosine top-k: broadcast the (small)
  *     query set against the corpus, rank per query. The correctness
  *     baseline, and also the right plan whenever |queries| is small:
  *     the corpus is scanned once, never shuffled.
  *   - [[lshTopK]] — random-hyperplane LSH: bucket corpus and queries
  *     by sign-pattern signatures across L tables, rank only within
  *     colliding buckets. Probe cost drops from O(N) to O(Σ|bucket|);
  *     recall is tunable with (bits, tables) and measured against the
  *     brute-force baseline in SimilaritySpec.
  *
  * All vector math is `zip_with`/`aggregate` column algebra over
  * `array<float>` cast to double — codegen'd, no UDFs.
  */
object Similarity {

  /** Cosine similarity of two numeric arrays (double accumulation in
    * array order — bit-identical to a sequential loop, which is what
    * the DuckDB oracle computes too).
    */
  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(ad, x => x * x), lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(bd, x => x * x), lit(0.0), (acc, v) => acc + v))
    when(na === 0 || nb === 0, 0.0).otherwise(dot / (na * nb))
  }

  /** The similarity joins below score pairs with
    * [[graft.functions.VectorExprs.ArrayCosine]] — one compiled loop
    * per pair, bit-identical arithmetic to [[cosine]] — because
    * interpreted higher-order functions dominate the cost of an O(N²)
    * candidate join.
    */

  /** Exact cosine top-k: for each query vector, the `k` most similar
    * corpus vectors (excluding itself). Deterministic ranking: rounded
    * similarity desc, then neighbor id asc.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn(
        "cosine",
        round(
          graft.functions.VectorExprs.arrayCosine(col("q_vec"), col("c_vec")),
          6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplane component for (table,
    * plane, dim): a fixed-seed integer hash mapped into [-1, 1].
    */
  private def planeComponent(table: Int, plane: Int, dim: Column): Column = {
    val h = xxhash64(lit(s"graft-lsh-$table-$plane"), dim)
    (pmod(h, lit(2000001L)) - lit(1000000L)) / lit(1000000.0)
  }

  /** Sign-pattern signature: for each of `bits` hyperplanes, the sign
    * of vec·plane packed into a long bucket key.
    *
    * This is the declarative reference form; the hot paths call
    * [[lshSignatureCompiled]] — one compiled pass with the plane matrix
    * cached per dimension instead of bits × dim hash expressions per
    * row — which produces bit-identical buckets (ParitySpec).
    */
  def lshSignature(vec: Column, table: Int, bits: Int): Column = {
    val vd = transform(vec, x => x.cast("double"))
    val signs = (0 until bits).map { p =>
      val dot = aggregate(
        zip_with(vd, transform(sequence(lit(0), size(vd) - 1), d => planeComponent(table, p, d)),
          (x, w) => x * w),
        lit(0.0),
        (acc, v) => acc + v)
      when(dot >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    signs.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Compiled [[lshSignature]] (identical buckets, one pass per row). */
  def lshSignatureCompiled(
      vec: Column,
      table: Int,
      bits: Int): Column =
    graft.functions.VectorExprs.hyperplaneSig(vec, table, bits)

  /** IVF (inverted-file) approximate top-k — the other scale path.
    *
    * Build: `nlist` coarse centroids trained by
    * [[Clustering.kmeansFit]] (seeds = the nlist lowest-id vectors,
    * `iters` Lloyd steps with exact 4-dp integer-scaled means and
    * 6-dp-rounded assignment cosine), then invert: each corpus vector
    * lands in the list of its nearest centroid. Search: a query probes
    * its `nprobe` nearest lists and ranks only those candidates with
    * exact cosine. Probe cost is ~(nprobe/nlist)·N versus N for brute
    * force; recall is tunable and measured against the brute-force
    * baseline in SimilaritySpec.
    *
    * Every training rule is deterministic and order-independent, so
    * another engine replaying seeds + Lloyd + probe in SQL lands on the
    * identical result set — that is what makes `q_similarity_ivf`
    * oracle-checkable rather than rows-only (same contract as
    * `q_kmeans`, which shares the fit).
    *
    * Scale shape: training is [[Clustering.kmeansFit]]'s in-memory
    * Lloyd over a bounded sample (one collect of at most
    * `max(20000, 32·nlist)` vectors, every step-th id past that — the
    * way FAISS trains its coarse quantizer); pass the corpus cardinality
    * as `corpusCount` when you know it and the fit runs no count. The
    * nlist × dim centroids (KBs) are baked into the plan as literals, so
    * nearest-centroid assignment is a PURE PROJECTION over the corpus —
    * an argmax fold over the literal centroid array, no shuffle, no
    * join, no row ids. The only shuffle in the search is the final
    * per-query rank over the candidate set; the corpus itself is never
    * repartitioned.
    */
  /** Corpus-adaptive list count. nlist must GROW with the corpus or the
    * probe degenerates: with a query set proportional to the corpus
    * (the workload every rehearsal runs), fixed nlist makes candidate
    * pairs = |queries|·nprobe·N/nlist ∝ N² — measured 50× on 10× data
    * at sf1→sf10 before this was adaptive. ~1000 vectors per list keeps
    * per-probe work flat. Past [[Clustering.LiteralCentroidCap]] lists
    * (>~2.5×10⁵ vectors) assignment automatically switches from the
    * literal-centroid projection to the broadcast-join argmin
    * ([[Clustering.assignByJoin]], parity-pinned) — that dispatch is
    * invisible here. `cap` bounds only the broadcast centroid table
    * (65536 × 64-dim doubles ≈ 32 MB — a normal broadcast); a corpus
    * past ~6×10⁷ vectors wants a coarser first-level quantizer
    * (IVF-PQ, [[ProductQuant]]) rather than ever-more flat lists.
    */
  def nlistFor(corpusCount: Long, perList: Int = 1000, cap: Int = 65536): Int =
    // clamp in Long BEFORE narrowing: at extreme corpus sizes
    // (corpusCount/perList > Int.MaxValue) a .toInt-first wraps
    // negative and the min/max fold collapses nlist to the floor
    math.max(16L, math.min(cap.toLong, corpusCount / perList)).toInt

  /** Corpus inversion `(neighbor_id, c_vec, list_id)` through
    * [[Clustering.assign]]: at or under [[Clustering.LiteralCentroidCap]]
    * lists, one narrow projection over the corpus — NO exchange; past
    * it, the broadcast-join argmin (identical assignment rule, one
    * O(N)-row map-side-combined shuffle) — the cap is where the plan
    * changes shape, not where nlist stops.
    */
  private def invertedIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[(Int, Seq[Double])]): DataFrame =
    Clustering.assign(corpus, idCol, vecCol, centroids)((listId, _) =>
      Seq(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), listId.as("list_id")))

  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      iters: Int = 2,
      corpusCount: Long = -1L): DataFrame =
    ivfSearch(queries, corpus, idCol, vecCol,
      Clustering.kmeansFit(corpus, idCol, vecCol, nlist, iters, corpusCount), k, nprobe)

  /** The search half of [[ivfTopK]] over already-trained `centroids`
    * (ascending list ids): invert `corpus`, probe each query's `nprobe`
    * nearest lists, rank their members.
    */
  def ivfSearch(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[(Int, Seq[Double])],
      k: Int,
      nprobe: Int = 4): DataFrame =
    rankProbed(
      invertedIndex(corpus, idCol, vecCol, centroids),
      Clustering.probe(queries, idCol, vecCol, centroids, nprobe),
      k)

  /** Top-k per query over the postings `(list_id, neighbor_id, c_vec)`
    * of its probed lists: 6-dp cosine desc, ties to the lowest neighbor
    * id. The (small) probe set is broadcast, so the corpus-sized
    * postings stream through a hash join without repartitioning — and a
    * persisted index's hive partitions on `list_id` are pruned.
    */
  private def rankProbed(postings: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    postings
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn(
        "cosine",
        round(graft.functions.VectorExprs.arrayCosine(col("q_vec"), col("c_vec")), 6))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Signature width that keeps expected bucket occupancy ≈
    * `targetBucket` vectors: more corpus → more bits, logarithmically.
    * Too many bits for the corpus size is the classic small-N LSH
    * failure (every vector in its own bucket → zero candidates);
    * too few makes probing approach a full scan.
    */
  def autoBits(corpusCount: Long, targetBucket: Int = 32): Int = {
    val raw = math.floor(math.log(math.max(1.0, corpusCount.toDouble / targetBucket)) / math.log(2.0)).toInt
    math.max(2, math.min(20, raw))
  }

  /** LSH-bucketed approximate top-k: candidates are corpus vectors
    * sharing a bucket with the query in any of `tables` signature
    * tables; exact cosine + ranking within candidates only.
    * `bits <= 0` auto-sizes the signature from the corpus cardinality
    * so buckets stay populated at any scale. The sizing `count()` is one
    * extra job — cheap for a parquet-backed corpus (stats-only), a full
    * evaluation for a derived one: pass explicit `bits`, or pass the
    * cardinality you already know as `corpusCount` (auto-sizing then
    * runs no job at all).
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = -1,
      tables: Int = 4,
      corpusCount: Long = -1L): DataFrame = {
    val effBits =
      if (bits > 0) bits
      else autoBits(if (corpusCount >= 0) corpusCount else corpus.count())
    def signed(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(
        col(idCol).as(id),
        col(vecCol).as(vec),
        explode(array((0 until tables).map { t =>
          struct(
            lit(t).as("tbl"),
            lshSignatureCompiled(col(vecCol), t, effBits).as("bucket"))
        }: _*)).as("tb"))
        .select(col(id), col(vec), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))

    val q = signed(queries, "query_id", "q_vec")
    val c = signed(corpus, "neighbor_id", "c_vec")
    val cands = c
      .join(q, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "q_vec", "c_vec")
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn(
        "cosine",
        round(
          graft.functions.VectorExprs.arrayCosine(col("q_vec"), col("c_vec")),
          6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** PERSIST the IVF build as two lake tables under `indexRoot` — the
    * index-as-a-table pattern (FAISS write_index / Milvus segment
    * persistence, lakehouse-style): `centroids` (nlist rows) and
    * `postings` (the inverted corpus), the latter HIVE-PARTITIONED ON
    * `list_id` so a later probe's partition filter reads only the
    * probed lists' files from disk — the build cost is paid once and
    * every consumer gets the (nprobe/nlist)·N scan for free.
    * Training is [[Clustering.kmeansFit]]'s deterministic Lloyd, so a
    * search over the reloaded index is bit-identical to [[ivfTopK]]
    * over the live build — and therefore shares its SQL oracle.
    */
  def buildIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      indexRoot: String,
      nlist: Int = 16,
      iters: Int = 2,
      corpusCount: Long = -1L): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = Clustering.kmeansFit(corpus, idCol, vecCol, nlist, iters, corpusCount)
    graft.tables.LakeTable(spark, s"$indexRoot/centroids")
      .append(centroids.toDF("list_id", "centroid"))
    // SIZE-GATED list clustering before the hive-partitioned write.
    // At scale, every input task fans out one file per list it touches
    // (tasks × nlist small files — the classic small-files explosion,
    // guide §6), so past one write-partition's worth of bytes the
    // postings are clustered on list_id first: each list lands wholly
    // in one task → exactly one file per list, written in parallel
    // across lists. Below that size a single writer already produces
    // nlist right-sized files and the clustering exchange (a full
    // SerDe round-trip of the embedding arrays) is pure cost — an
    // unconditional repartition measured 0.79× on q_similarity_ivf_
    // persisted (r22 A/B, 5 alternating legs, outside the ±10%
    // identical-code control band). The gate reads the optimizer's own
    // size estimate — no job runs.
    val inverted = invertedIndex(corpus, idCol, vecCol, centroids)
    val clusteringPays = inverted.queryExecution.optimizedPlan.stats.sizeInBytes >
      spark.sessionState.conf.filesMaxPartitionBytes
    graft.tables.LakeTable(spark, s"$indexRoot/postings")
      .append(
        if (clusteringPays) inverted.repartition(col("list_id")) else inverted,
        partitionBy = Seq("list_id"))
  }

  /** Probe a persisted IVF index ([[buildIvfIndex]]): reload the nlist
    * centroid rows (KBs), bake them into the plan as literals, and rank
    * only the probed lists' postings. The postings join key IS the hive
    * partition column, so the broadcast probe set prunes partitions of
    * the persisted index (the q_dpp_join machinery applied to an ANN
    * index). Result is bit-identical to [[ivfTopK]] on the same
    * corpus/params.
    */
  def searchIvfIndex(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      indexRoot: String,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val centroids = graft.tables.LakeTable(spark, s"$indexRoot/centroids")
      .read()
      .select(col("list_id"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1)
      .toSeq
    rankProbed(
      graft.tables.LakeTable(spark, s"$indexRoot/postings").read(),
      Clustering.probe(queries, idCol, vecCol, centroids, nprobe),
      k)
  }
}
