package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the compression half of the IVF-PQ
  * index that makes billion-vector ANN feasible: split each vector
  * into `m` subspaces, k-means each subspace independently, store one
  * centroid id per subspace. A 64-dim fp32 embedding (256 B) becomes
  * `m` small ints packed into ONE long (8 B) — 32× compression with a
  * bounded reconstruction error, and asymmetric-distance (ADC) scoring
  * against the codebooks never touches the original vectors.
  *
  * Scale shape (the same contract as [[Clustering]]): training is
  * [[Clustering]]'s in-memory Lloyd on a bounded sample, the way FAISS
  * trains its quantizers — one Spark action collects at most
  * `max(Clustering.TrainCap, 32·k)` vectors, then m small fits run in
  * process, one per subspace. Codebooks ride the plan as literals
  * (m·k·dsub doubles — KBs), so ENCODING IS A PURE PROJECTION
  * over the corpus — per subspace an argmin fold over literal
  * centroids, no shuffle, no join. The corpus is never cached or
  * repartitioned, and only the training sample is collected.
  *
  * Determinism (what makes the result oracle-checkable in another
  * engine): per subspace, seeds are the k lowest-id subvectors
  * (cluster id = rank in id order); assignment ranks by 6-dp-rounded
  * SEQUENTIAL squared L2 ([[graft.functions.VectorExprs.ArrayL2Sq]])
  * with ties to the LOWEST centroid id; centroid means are exact
  * integer-scaled 4-dp values (the rule of
  * [[Embeddings.groupCentroidComponents]]). Every engine replaying
  * those rules produces bit-identical codes.
  */
object ProductQuant {

  /** One trained subspace: `cid -> centroid` in cid order. */
  type Codebook = Seq[(Int, Seq[Double])]

  private def subvec(vec: Column, j: Int, dsub: Int): Column =
    slice(vec, j * dsub + 1, dsub)

  /** k^j in exact Long arithmetic (math.pow goes through double and
    * loses integer precision past 2^53); [[pqEncode]] guards k^m ≤
    * Long.MaxValue up front.
    */
  private def kPow(k: Int, j: Int): Long =
    (0 until j).foldLeft(1L)((a, _) => a * k)

  /** Per-query ADC score over the packed `code` column: Σ_j
    * LUT[j][digit_j]. The LUT is indexed BY CENTROID ID as a dense
    * length-k array per subspace — codebook ids need NOT be dense after
    * an empty-cluster drop, and indexing by list position would read
    * the wrong slot (or null) for every digit at or above a dropped id.
    * Absent ids never occur as code digits, so their slots hold 0.0.
    * Digits extract with integer DIV (long `/` in Spark is DOUBLE
    * division — silently lossy once k^m nears 2^53). Shared by
    * [[adcTopK]] and [[ivfAdcTopK]] so the cross-engine determinism
    * contract lives in exactly one place.
    */
  private def adcScore(books: Seq[Codebook], k: Int, qv: Seq[Double]): Column = {
    val dsub = books.head.head._2.length
    books.indices
      .map { j =>
        val qj = qv.slice(j * dsub, j * dsub + dsub)
        val byId = books(j).map { case (cid, cv) =>
          cid -> qj.zip(cv).foldLeft(0.0) { case (s, (a, b)) => s + a * b }
        }.toMap
        val lut: Seq[Double] = (0 until k).map(cid => byId.getOrElse(cid, 0.0))
        val cj = expr(s"code DIV ${kPow(k, j)}") % k
        element_at(typedlit(lut), (cj + 1).cast("int"))
      }
      .reduceLeft(_ + _)
  }

  /** Scored literal-centroid argmin: struct(-d2_6dp, -cid) so
    * array_max's lexicographic compare IS "min rounded distance, ties
    * -> min centroid id".
    */
  private[ext] def bestCode(sub: Column, codebook: Codebook): Column =
    -array_max(array(codebook.map { case (cid, cv) =>
      struct(
        -round(graft.functions.VectorExprs.arrayL2Sq(sub, typedlit(cv)), 6).as("d"),
        lit(-cid).as("nc"))
    }: _*)).getField("nc")

  /** Train per-subspace codebooks with `iters` Lloyd rounds each:
    * one collect of the training sample ([[Clustering.trainingSample]]:
    * the whole corpus up to `max(Clustering.TrainCap, 32·k)` vectors,
    * past it every step-th id), then per subspace j an in-memory
    * [[Clustering]] fit under the L2 rule over the subvectors
    * `[j·dsub, (j+1)·dsub)` (the subspaces are independent, so m small
    * fits are one m-subspace Lloyd). `dim` is the length of the
    * lowest-id vector.
    */
  def pqFit(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      iters: Int): Seq[Codebook] = {
    val vectors = Clustering.trainingSample(corpus, idCol, vecCol, k, corpusCount = -1L)
    require(vectors.headOption.exists(_ != null), "pqFit needs a non-null lowest-id vector")
    val dim = vectors.head.xs.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    (0 until m).map { j =>
      val subs = vectors.map(v => if (v == null) null else v.slice(j * dsub, j * dsub + dsub))
      Clustering.lloyd(subs, k, iters, byL2 = true)
    }
  }

  /** Encode the corpus: (id, code) where `code` packs the m per-
    * subspace centroid ids base-k into one BIGINT (subspace 0 in the
    * lowest digits), plus the exact 6-dp reconstruction error — the
    * squared L2 between the vector and its codebook reconstruction.
    * Pure projection; the packed long is the stored index column.
    */
  def pqEncode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      books: Seq[Codebook],
      k: Int,
      keep: Seq[String] = Nil): DataFrame = {
    val m = books.length
    require(
      BigInt(k).pow(m) <= BigInt(Long.MaxValue),
      s"k^m = $k^$m does not fit a packed BIGINT code")
    val dsub = books.head.head._2.length
    val codes = (0 until m).map { j =>
      bestCode(subvec(col(vecCol), j, dsub), books(j)).cast("long").as(s"c_$j")
    }
    val withCodes = corpus.select(
      (col(idCol) +: keep.map(col) :+ col(vecCol).as("__v")) ++ codes: _*)
    val packed = (0 until m)
      .map(j => col(s"c_$j") * lit(kPow(k, j)))
      .reduceLeft(_ + _)
    // recon error: Σ_j d2(sub_j, centroid[code_j]) — per subspace a
    // literal CASE over k centroids, summed in subspace order
    val err = (0 until m)
      .map { j =>
        val sub = subvec(col("__v"), j, dsub)
        books(j).foldLeft(lit(0.0)) { case (acc, (cid, cv)) =>
          when(
            col(s"c_$j") === cid,
            round(graft.functions.VectorExprs.arrayL2Sq(sub, typedlit(cv)), 6))
            .otherwise(acc)
        }
      }
      .reduceLeft(_ + _)
    withCodes.select(
      col(idCol) +: keep.map(col) :+ packed.as("code") :+ round(err, 6).as("recon_d2"): _*)
  }

  /** The full IVF-PQ index (FAISS's `IVFx,PQy` composition): a coarse
    * quantizer partitions the corpus into `nlist` inverted lists, PQ
    * encodes the RESIDUAL (vector − list centroid), and a query probes
    * only its `nprobe` nearest lists, scoring codes by ADC:
    *
    *   q · v = q · c_list + q · residual ≈ q·c_list + Σ_j LUT[j][code_j]
    *
    * — the per-list offset `q·c_list` is one literal lookup and the
    * residual LUT is shared across lists, so probe cost is
    * (nprobe/nlist)·N lookup-sums, never N vector products.
    *
    * Scale shape: coarse centroids AND residual codebooks are plan
    * literals; corpus-side work is two pure projections (assign,
    * encode) and the probe is `list_id isin(...)` — partition-prunable
    * when the encoded table is written partitioned by list — plus a
    * TakeOrderedAndProject per query. Nothing ever shuffles the corpus.
    *
    * Returns per query the topK (qid, id, adc_dot), rank by 6-dp score
    * with ties to lowest id. Deterministic end to end (same rules as
    * [[pqFit]]; coarse seeds = nlist lowest-id vectors, 1 Lloyd round).
    * Training runs two Spark actions: the coarse fit's collect, then
    * the residual fit's collect over the residual projection.
    */
  def ivfAdcTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      m: Int,
      k: Int,
      nprobe: Int,
      queries: Seq[(Long, Seq[Double])],
      topK: Int): DataFrame = {
    val spark = corpus.sparkSession

    // coarse quantizer: pqFit with m = 1, the L2 Lloyd over whole vectors
    val coarse: Codebook = pqFit(corpus, idCol, vecCol, m = 1, k = nlist, iters = 1).head
    val coarseArr = typedlit(coarse.map(_._2))
    val coarseIds = coarse.map(_._1)
    // list_id of a vector: the SAME argmin rule as pqFit's assignment
    // (bestCode — one definition of the tie-break contract)
    def listOf(vec: Column): Column = bestCode(vec, coarse).cast("int")

    // residuals: v − centroid[list]; the centroid array indexes by the
    // POSITION of the list id in the codebook (ids need not be dense
    // after empty-cluster drop)
    val posOf = coarseIds.zipWithIndex.toMap
    val posExpr = coarseIds.foldLeft(lit(-1)) { case (acc, cid) =>
      when(col("__list") === cid, lit(posOf(cid))).otherwise(acc)
    }
    val withList = corpus
      .withColumn("__list", listOf(col(vecCol)))
      .withColumn(
        "__res",
        zip_with(
          transform(col(vecCol), x => x.cast("double")),
          element_at(coarseArr, posExpr + 1),
          (x, c) => x - c))

    // residual codebooks trained over the residual frame, then encode —
    // list_id rides the same projection (no self-join back)
    val books = pqFit(withList, idCol, "__res", m, k, iters = 1)
    val encoded = pqEncode(withList, idCol, "__res", books, k, keep = Seq("__list"))
      .withColumnRenamed("__list", "list_id")

    val dsub = books.head.head._2.length
    val perQuery = queries.map { case (qid, qv) =>
      // nprobe nearest lists to the query (driver-side argmin over
      // nlist centroids — microseconds)
      def l2(a: Seq[Double], b: Seq[Double]): Double =
        a.zip(b).foldLeft(0.0) { case (s, (x, y)) => val d = x - y; s + d * d }
      val probed = coarse
        .map { case (cid, cv) => (cid, l2(qv, cv)) }
        .sortBy { case (cid, d) => (d, cid) }
        .take(nprobe)
        .map(_._1)
      // per-list offset q·c, plus the shared residual ADC score
      val offsets: Map[Int, Double] = coarse.collect {
        case (cid, cv) if probed.contains(cid) =>
          cid -> qv.zip(cv).foldLeft(0.0) { case (s, (a, b)) => s + a * b }
      }.toMap
      val offsetExpr = probed.foldLeft(lit(0.0)) { case (acc, cid) =>
        when(col("list_id") === cid, lit(offsets(cid))).otherwise(acc)
      }
      val residScore = adcScore(books, k, qv)
      encoded
        .filter(col("list_id").isin(probed: _*))
        .select(
          lit(qid).as("qid"),
          col(idCol),
          round(offsetExpr + residScore, 6).as("adc_dot"))
        .orderBy(col("adc_dot").desc, col(idCol).asc)
        .limit(topK)
    }
    perQuery.reduceLeft(_ unionByName _)
  }

  /** Asymmetric-distance (ADC) top-k: score every ENCODED vector
    * against a raw query by summing, per subspace, the query-to-
    * centroid dot product of the vector's code — one lookup-table
    * probe per subspace, never touching the original corpus vectors.
    * `queries`: (qid, full query vector). Returns per query the topK
    * (qid, id, adc_dot) by descending approximate dot product, ties
    * to lowest id. The LUT (m·k doubles per query) rides the plan as
    * literals; scoring an encoded corpus row is integer digit
    * extraction + literal array indexing — no vector math at probe
    * time, which is the entire point of PQ at 100 TB.
    */
  def adcTopK(
      encoded: DataFrame,
      idCol: String,
      books: Seq[Codebook],
      k: Int,
      queries: Seq[(Long, Seq[Double])],
      topK: Int): DataFrame = {
    val perQuery = queries.map { case (qid, qv) =>
      encoded
        .select(
          lit(qid).as("qid"),
          col(idCol),
          round(adcScore(books, k, qv), 6).as("adc_dot"))
        .orderBy(col("adc_dot").desc, col(idCol).asc)
        .limit(topK)
    }
    perQuery.reduceLeft(_ unionByName _)
  }
}
