package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, from exact to
  * near-dup: hash groupBy, MinHash+LSH, SimHash, n-gram Jaccard
  * verification, and embedding-cosine near-dup.
  *
  * Scale design:
  *   - Signatures (minhash/simhash/fingerprints) are pure column
  *     algebra over token arrays — one codegen'd map stage, no UDFs.
  *   - Candidate generation is *bucket join*, never all-pairs: LSH
  *     bands (minhash) or signature chunks (simhash) are exploded and
  *     self-joined on the bucket key, so cost is Σ|bucket|², not N².
  *     Oversized buckets (degenerate content, e.g. empty docs) are
  *     capped — the standard guardrail that keeps the shuffle bounded
  *     at corpus scale.
  *   - Verification (exact Jaccard) runs only on candidate pairs.
  */
object Dedup {

  // ---- exact ---------------------------------------------------------------

  /** Exact dedup by content fingerprint: keep the lowest id per
    * distinct normalized text. A single hash-aggregate (min) — no
    * window sort, no skew risk even when one document repeats millions
    * of times.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprintMd5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact-dedup'd corpus: one row per distinct content (lowest id
    * wins), implemented as a semi-join against [[exactGroups]].
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.join(
      exactGroups(df, idCol, textCol).select(col("keep_id").as(idCol)),
      Seq(idCol),
      "left_semi")

  /** Incremental dedup: drop from `batch` every document whose
    * normalized content already exists in `corpus` — the ingest-time
    * shape at 100 TB, where re-pairing the historical corpus against
    * itself on every arriving batch is not an option. One fingerprint
    * map over each side + a left-anti hash join keyed on the
    * fingerprint: O(|batch| + |corpus|), and only (fp) ever shuffles
    * from the corpus side. In production the corpus side is the
    * append-only fingerprint index the pipeline maintains batch over
    * batch (optionally fronted by a bloom probe —
    * `graft_bloom_might_contain` — to prune the index scan).
    * Within-batch duplicates are intentionally NOT collapsed here;
    * compose with [[exactDedup]] for that.
    */
  def dedupAgainstCorpus(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val fps = corpus
      .select(TextAnalysis.fingerprintMd5(col(textCol)).as("__fp"))
      .distinct()
    batch
      .withColumn("__fp", TextAnalysis.fingerprintMd5(col(textCol)))
      .join(fps, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  // ---- shingles + minhash --------------------------------------------------

  /** Word n-gram shingles (distinct), lowercased. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    array_distinct(
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(
          transform(
            sequence(lit(0), size(toks) - n),
            j => concat_ws(" ", slice(toks, j + 1, lit(n))))))
  }

  /** Prime just above 2^32 for the universal-hash permutations: with
    * x < P and a, b < 2^31 the product a·x + b stays under 2^63, so the
    * expression is safe under ANSI arithmetic (Spark 4 default) without
    * relying on silent wraparound.
    */
  private val P = 4294967311L

  private def perm(i: Int): (Long, Long) = {
    // deterministic pseudo-random (a, b) per permutation, a != 0
    val mix = 0x9E3779B97F4A7C15L * (i + 1) + 0xC2B2AE3D27D4EB4FL
    val a = (math.abs(mix) % (Int.MaxValue - 1L)) + 1L
    val b = math.abs(java.lang.Long.rotateLeft(mix, 31)) % Int.MaxValue
    (a, b)
  }

  private[graft] def permParams(k: Int): (Seq[Long], Seq[Long]) = {
    val ps = (0 until k).map(perm)
    (ps.map(_._1), ps.map(_._2))
  }

  /** Shingle hashes reduced mod P — materialize this ONCE (own
    * projection) before fanning out into the k signature aggregates:
    * Spark does not CSE subexpressions across lambda-function
    * aggregates, so inlining it k times costs k× the tokenization.
    */
  def shingleHashes(text: Column, shingleN: Int = 3): Column =
    transform(shingles(text, shingleN), s => pmod(xxhash64(s), lit(P)))

  /** MinHash signature from pre-materialized shingle hashes: k
    * universal-hash permutations h_i(x) = (a_i·x + b_i) mod p, each
    * reduced with an associative array-aggregate `least` — the
    * classical Broder construction, fully codegen'd.
    */
  def minhashFromHashes(hashes: Column, k: Int = 64): Column =
    array((0 until k).map { i =>
      val (a, b) = perm(i)
      aggregate(
        hashes,
        lit(Long.MaxValue),
        (acc, x) => least(acc, pmod(x * lit(a) + lit(b), lit(P))))
    }: _*)

  /** Convenience single-expression form (small inputs / tests). */
  def minhashSignature(text: Column, k: Int = 64, shingleN: Int = 3): Column =
    minhashFromHashes(shingleHashes(text, shingleN), k)

  /** LSH banding: split the k-length signature into `bands` bands of
    * k/bands rows; each band hashes to a bucket key. Two documents
    * collide in ≥1 band with probability 1-(1-j^r)^b (j = true
    * Jaccard).
    */
  def lshBands(sig: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(concat_ws(",", slice(sig, b * r + 1, r))).as("bucket"))
    }: _*)
  }

  /** MinHash signatures (id, sig) — shared by the candidate paths. */
  private def minhashSigs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      shingleN: Int): DataFrame = {
    val (as, bs) = permParams(k)
    df.select(
        col(idCol).as("id"),
        graft.functions.VectorExprs
          .shingleHashes(
            split(trim(lower(col(textCol))), "\\s+"),
            shingleN,
            P)
          .as("hashes"))
      .select(
        col("id"),
        graft.functions.VectorExprs
          .minhashSig(col("hashes"), as, bs, P)
          .as("sig"))
  }

  /** Candidate near-dup pairs with the signature-estimated Jaccard:
    * the lean (band, bucket, id) bucket join of
    * [[minhashCandidatePairs]], then signatures joined back onto the
    * (small) pair set for the estimate — signatures never move through
    * the bucket shuffle.
    */
  def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 64,
      bands: Int = 16,
      shingleN: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val pairs = minhashCandidatePairs(df, idCol, textCol, k, bands, shingleN, maxBucket)
    val sigs = minhashSigs(df, idCol, textCol, k, shingleN)
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(
        col("id_a"),
        col("id_b"),
        round(
          aggregate(
            zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
            lit(0),
            (acc, v) => acc + v) / lit(k.toDouble),
          4).as("est_jaccard"))
  }

  /** Exact n-gram Jaccard similarity join via inverted index — the
    * deterministic counterpart to MinHash LSH. Each document explodes
    * into (shingle-hash, id, set-size) postings; pairs sharing a
    * posting are counted once per shared shingle, so
    * |A∩B| = count(*) per pair and J = I / (|A| + |B| − I). No
    * signature approximation: the result is exactly the pairs with
    * string-shingle Jaccard ≥ threshold (64-bit hash collisions aside,
    * ~1e-12).
    *
    * Scale design: cost is Σ_shingle |postings|², not N² — the shape of
    * a PPJoin-family set-similarity join. Two prunings keep the shuffle
    * bounded at corpus scale:
    *   - length-ratio filter inside the join (lossless: J ≥ t forces
    *     t·|B| ≤ |A| ≤ |B|/t);
    *   - `maxPostings` drops stop-shingles whose posting list exceeds
    *     the cap (deterministic guardrail — same role as `maxBucket` in
    *     the LSH path; the shipped query enables it). A pair's Jaccard
    *     is then computed over KEPT shingles only (shared count shrinks,
    *     set sizes stay full) — a conservative, mirrorable semantics:
    *     capped-jaccard ≤ true jaccard, so the length-ratio pruning
    *     stays lossless.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      shingleN: Int = 3,
      maxPostings: Int = 0): DataFrame = {
    val sets = df
      .select(
        col(idCol).as("id"),
        graft.functions.VectorExprs
          .shingleHashes(
            split(trim(lower(col(textCol))), "\\s+"),
            shingleN,
            Long.MaxValue)
          .as("sh"))
      .select(col("id"), size(col("sh")).as("set_size"), explode(col("sh")).as("shingle"))
    val bounded =
      if (maxPostings <= 0) sets
      else {
        // Drop heavy-hitter shingles (posting list > maxPostings) from the
        // index via an aggregate + anti-join. The heavy list is bounded by
        // Σ|postings|/maxPostings entries — usually tiny, and AQE then
        // broadcasts it — but NOT forcibly broadcast: on a boilerplate-
        // heavy web corpus that bound runs to 10⁸ rows, where a forced
        // broadcast is a driver OOM. The shuffle case keys the anti-join
        // on the same `shingle` the index self-join shuffles on anyway.
        // Deterministic, so an oracle can mirror it.
        val heavy = sets
          .groupBy(col("shingle"))
          .agg(count(lit(1)).as("post_n"))
          .filter(col("post_n") > maxPostings)
          .select(col("shingle"))
        sets.join(heavy, Seq("shingle"), "left_anti")
      }
    // the bounded posting list feeds BOTH self-join sides (and the heavy
    // filter re-derives the shingle pass a third time) — persist it so
    // the compiled shingle hashing and the heavy anti-join run once.
    // Lifetime (r21 ADVICE): the CacheManager holds persisted plans
    // strongly (ContextCleaner only reclaims unreachable RDDs, which
    // registered plans never are), so the cached frame lives until the
    // caller clears it — the bench's resetSharedState /
    // spark.catalog.clearCache(), or an explicit unpersist by a library
    // caller that loops over corpora.
    val boundedP = bounded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = boundedP.select(col("shingle").as("sh_a"), col("id").as("id_a"), col("set_size").as("size_a"))
    val b = boundedP.select(col("shingle").as("sh_b"), col("id").as("id_b"), col("set_size").as("size_b"))
    a.join(
        b,
        col("sh_a") === col("sh_b") && col("id_a") < col("id_b") &&
          col("size_a") * lit(threshold) <= col("size_b") &&
          col("size_b") * lit(threshold) <= col("size_a"))
      .groupBy(col("id_a"), col("id_b"), col("size_a"), col("size_b"))
      .agg(count(lit(1)).as("shared"))
      // floor(x·10⁴+0.5), not round(x, 4): both engines evaluate the SAME
      // binary double, so the 4-dp value is engine-exact even when the
      // rational i/u lands on a .5 rounding boundary (e.g. union 160,
      // odd intersection), where decimal-string vs binary round() differ
      .withColumn(
        "jaccard",
        floor(col("shared") / (col("size_a") + col("size_b") - col("shared")) * 10000 + 0.5)
          / 10000.0)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact n-gram CONTAINMENT pairs — the asymmetric near-dup measure
    * |A∩B| / min(|A|, |B|): detects a document quoted, excerpted, or
    * wholly embedded inside a larger one, which symmetric Jaccard
    * misses (a 50-token quote inside a 5000-token page has Jaccard
    * ~0.01 but containment ~1.0). Output is DIRECTED: (id_contained,
    * id_container, containment 4-dp), smaller set first (ties by id).
    *
    * Containment admits no symmetric length-ratio prune (the contained
    * side may be arbitrarily smaller — that is the point), so instead of
    * a lossy postings cap this is a PPJoin-style prefix-filtered join
    * (Chaudhuri 2006 SSJoin / Xiao 2008 PPJoin, adapted to the overlap
    * bound containment induces):
    *
    *  1. order every document's shingles by one GLOBAL canonical order —
    *     ascending document frequency, ties by shingle value — so each
    *     document's rarest shingles come first and corpus-wide
    *     boilerplate gravitates to the suffix;
    *  2. index only each document's first |d| − ⌈t·|d|⌉ + 1 shingles
    *     (its PREFIX): if C(S ⊆ L) ≥ t then S shares ≥ ⌈t·|S|⌉ shingles
    *     with L, and a set whose whole prefix misses L can share at most
    *     |S| − prefix_len = ⌈t·|S|⌉ − 1 — so probing the prefix against
    *     FULL postings loses no qualifying pair (the filter is lossless;
    *     the threshold is relaxed by 1e-4 so 4-dp round-up survivors are
    *     kept too);
    *  3. verify every candidate pair exactly against the full shingle
    *     sets (one `array_intersect` per candidate) and keep rounded
    *     containment ≥ t.
    *
    * Scale shape: the heavy self-join now runs prefix×full instead of
    * full×full — a boilerplate shingle in every document appears in
    * almost no document's prefix (highest df ⇒ sorts last), so its
    * posting product collapses from |corpus|² to ~0 with NO recall loss,
    * which is exactly the trade the old `maxPostings` cap could not
    * make. Costs one df aggregation plus one per-document sort-agg up
    * front, and one verify join after; every stage keys on shingle or id
    * (bounded hash shuffles, no window over hot keys). At 100 TB,
    * persist the shingle-set frame before calling (it is traversed for
    * postings, prefixes, and both verify sides).
    */
  def ngramContainmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleN: Int = 3): DataFrame = {
    // The shingle-set frame is traversed five times (document-frequency
    // aggregation, prefix build, probe side, and both verification
    // joins); Spark shares no subplans across those branches, so
    // persist it once — the SCALING.md containment contract. Blocks
    // spill to disk under pressure and the ContextCleaner reclaims them
    // when the result frame is dereferenced.
    val sets = df
      .select(
        col(idCol).as("id"),
        graft.functions.VectorExprs
          .shingleHashes(
            split(trim(lower(col(textCol))), "\\s+"),
            shingleN,
            Long.MaxValue)
          .as("sh"))
      .select(col("id"), col("sh"), size(col("sh")).as("set_size"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val postings = sets.select(col("id"), col("set_size"), explode(col("sh")).as("shingle"))
    // canonical order key: global document frequency (rarest first)
    val dfreq = postings.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // relaxed threshold: the final filter keeps pairs whose 4-dp ROUNDED
    // containment reaches t, i.e. true containment ≥ t − 5e-5 — size the
    // prefix for t − 1e-4 so those round-up survivors stay reachable
    val tEff = threshold - 1e-4
    val prefix = postings
      .join(dfreq, "shingle")
      .groupBy(col("id"), col("set_size"))
      .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("ordered"))
      .select(
        col("id"),
        col("set_size"),
        explode(
          slice(
            col("ordered"),
            lit(1),
            greatest(
              lit(1),
              (col("set_size") - ceil(col("set_size") * tEff) + 1).cast("int"))))
          .as("o"))
      .select(col("id"), col("set_size"), col("o.shingle").as("shingle"))
    // candidates: a prefix shingle of the (lexicographically (size, id))
    // smaller set found anywhere in the larger set's full postings
    val probe = postings
      .select(col("shingle").as("sh_l"), col("id").as("id_l"), col("set_size").as("size_l"))
    val cand = prefix
      .select(col("shingle").as("sh_s"), col("id").as("id_s"), col("set_size").as("size_s"))
      .join(
        probe,
        col("sh_s") === col("sh_l") &&
          (col("size_s") < col("size_l") ||
            (col("size_s") === col("size_l") && col("id_s") < col("id_l"))))
      .select(col("id_s"), col("id_l"))
      .distinct()
    // exact verification against the full sets
    cand
      .join(sets.select(col("id").as("id_s"), col("sh").as("sh_s_arr"), col("set_size").as("size_s")), "id_s")
      .join(sets.select(col("id").as("id_l"), col("sh").as("sh_l_arr"), col("set_size").as("size_l")), "id_l")
      .withColumn("shared", size(array_intersect(col("sh_s_arr"), col("sh_l_arr"))))
      .withColumn(
        "containment",
        floor(col("shared") / least(col("size_s"), col("size_l")) * 10000 + 0.5) / 10000.0)
      .filter(col("containment") >= threshold)
      .select(
        col("id_s").as("id_contained"),
        col("id_l").as("id_container"),
        col("containment"))
  }

  /** Exact n-gram Jaccard for verification: |A∩B| / |A∪B| over distinct
    * shingle sets — computed only for candidate pairs.
    */
  def jaccard(textA: Column, textB: Column, n: Int = 3): Column = {
    val a = shingles(textA, n)
    val b = shingles(textB, n)
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, 0.0).otherwise(inter / uni)
  }

  /** Candidate pairs only — the verification path's input: same bucket
    * join as [[minhashCandidates]] but carries nothing through the
    * shuffle except (band, bucket, id). No signature arrays move, and
    * no per-pair signature agreement is computed (the verifier rescores
    * with exact Jaccard anyway).
    */
  def minhashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 64,
      bands: Int = 16,
      shingleN: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val exploded = minhashSigs(df, idCol, textCol, k, shingleN)
      .select(col("id"), explode(lshBands(col("sig"), k, bands)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val bounded = exploded
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bucket"))))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
    // Pair expansion WITHOUT a bucket self-join: a self-join evaluates
    // the whole signature pass once per side (Spark shares no subplans
    // across join branches — r12's q_dedup_minhash regression), where
    // this groupBy rides the window's existing (band, bucket)
    // partitioning with no extra exchange and the signatures are
    // computed exactly once. Memory stays bounded: only buckets the cap
    // already passed (≤ maxBucket ids) are ever collected.
    bounded
      .groupBy(col("band"), col("bucket"))
      .agg(array_sort(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(orderedPairs(col("ids"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  /** All ordered pairs (a &lt; b) of a sorted array, as structs — the
    * in-bucket candidate expansion shared by the LSH paths. One
    * compiled loop per bucket row
    * ([[graft.functions.VectorExprs.SortedPairs]]) — the previous
    * nested transform/slice HOF computed the identical pair set but
    * interpreted per element. O(n²) per bucket with n capped by the
    * caller's bucket bound.
    */
  private def orderedPairs(sorted: Column): Column =
    graft.functions.VectorExprs.sortedPairs(sorted, "id_a", "id_b")

  /** End-to-end MinHash+LSH near-dup detection: candidates from LSH,
    * verified with exact shingle Jaccard ≥ `threshold`.
    */
  def minhashDedupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      k: Int = 64,
      bands: Int = 16,
      shingleN: Int = 3): DataFrame = {
    val spark = df.sparkSession
    val cands = minhashCandidatePairs(df, idCol, textCol, k, bands, shingleN)
    // Verification shingle sets use the FULL 64-bit hash space (no mod-P
    // reduction): set Jaccard over them equals string-set Jaccard up to
    // ~1e-12 collision probability, so the value is oracle-exact, and
    // the compiled set-probe replaces an interpreted per-pair
    // array_intersect walk.
    val hashedRaw = df.select(
      col(idCol).as("id"),
      graft.functions.VectorExprs
        .shingleHashes(split(trim(lower(col(textCol))), "\\s+"), shingleN, Long.MaxValue)
        .as("sh"))
    // The hashed frame feeds BOTH verify joins. SIZE-GATED persist (the
    // MERGE probe's r21 lesson, applied here after the driver measured
    // the unconditional persist 0.89× at bench scale): below one file
    // split's worth of input the corpus is small enough that re-running
    // the compiled shingle pass per side is cheaper than the cache write
    // + columnar encode of the shingle arrays; past it the corpus-sized
    // pass dominates and sharing wins. The gate reads the optimizer's
    // own size estimate of the input subtree against
    // `filesMaxPartitionBytes` — the rule `Similarity.buildIvfIndex`
    // uses — so no job runs, and a raised broadcast threshold (a join
    // setting) does not switch the persist off.
    // NOTE on lifetime (r21 ADVICE): the CacheManager holds persisted
    // plans strongly (ContextCleaner only reclaims unreachable RDDs,
    // which registered plans never are), so when the gate fires the
    // cached frame lives until the caller clears it — the bench's
    // resetSharedState / spark.catalog.clearCache(), or an explicit
    // unpersist by a library caller that loops over corpora.
    val persistPays = df.queryExecution.optimizedPlan.stats.sizeInBytes >
      spark.sessionState.conf.filesMaxPartitionBytes
    val hashed =
      if (persistPays)
        hashedRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else hashedRaw
    cands
      .join(hashed.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(hashed.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn(
        "jaccard",
        // floor-form 4-dp rounding: engine-exact on .5 boundaries (see
        // ngramJaccardPairs)
        floor(
          graft.functions.VectorExprs.jaccardLongs(col("sh_a"), col("sh_b")) * 10000
            + 0.5) / 10000.0)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // ---- simhash -------------------------------------------------------------

  /** 64-bit SimHash over token hashes: per-bit signed tally of all
    * token hashes, sign → bit. Near-dups land within small Hamming
    * distance. Pure column algebra: one constant-shift aggregate per
    * bit (shift amounts must be literals in the functions API), then a
    * fold packing the 64 signs into a long.
    */
  /** Token hashes for simhash — materialize once before the 64 per-bit
    * tallies (same no-CSE-across-aggregates reason as
    * [[shingleHashes]]).
    */
  def tokenHashes(text: Column): Column =
    transform(split(trim(lower(text)), "\\s+"), t => xxhash64(t))

  def simhashFromHashes(hashes: Column): Column = {
    val tallies = (0 until 64).map { i =>
      aggregate(
        hashes,
        lit(0),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1) === 1, 1).otherwise(-1))
    }
    // MSB-first fold: shift-or packs the 64 signs without the ANSI
    // overflow a multiply would hit on the sign bit
    aggregate(
      array(tallies: _*),
      lit(0L),
      (acc, t) => shiftleft(acc, 1).bitwiseOR(when(t > 0, lit(1L)).otherwise(lit(0L))))
  }

  def simhash64(text: Column): Column = simhashFromHashes(tokenHashes(text))

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: bucket on each of four 16-bit signature
    * chunks (pigeonhole: Hamming ≤ 3 ⇒ at least one chunk equal),
    * verify with full Hamming distance ≤ `maxHamming`.
    */
  def simhashDedupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val sigs = df.select(
      col(idCol).as("id"),
      graft.functions.VectorExprs
        .simhash64(split(trim(lower(col(textCol))), "\\s+"))
        .as("sig"))
    simhashPairsFromSigs(sigs, maxHamming, maxBucket, chunkBits = 16)
  }

  /** [[simhashDedupPairs]] with the md5 token hash
    * ([[graft.functions.VectorExprs.SimHashMd5]]): 60-bit signatures
    * chunked 4 × 15 bits. Identical bucketing/verify machinery; the
    * different hash exists so another engine can replay the whole
    * pipeline in SQL (md5 is universal; Spark's xxhash64 is not) —
    * that is what upgrades the simhash METHOD from spec-only to
    * oracle-checked. The xxhash64 variant stays the production default
    * (no per-token MessageDigest work).
    */
  def simhashDedupPairsMd5(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val sigs = df.select(
      col(idCol).as("id"),
      graft.functions.VectorExprs
        .simhashMd5(split(trim(lower(col(textCol))), "\\s+"))
        .as("sig"))
    simhashPairsFromSigs(sigs, maxHamming, maxBucket, chunkBits = 15)
  }

  /** Shared simhash candidate machinery: bucket each signature on four
    * `chunkBits`-wide chunks (pigeonhole over Hamming ≤ 3), cap
    * degenerate buckets, pair within buckets, verify with the full
    * Hamming distance.
    */
  private def simhashPairsFromSigs(
      sigs: DataFrame,
      maxHamming: Int,
      maxBucket: Int,
      chunkBits: Int): DataFrame = {
    val mask = (1L << chunkBits) - 1L
    val chunked = sigs.select(
      col("id"),
      col("sig"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sig"), c * chunkBits).bitwiseAND(mask).as("bucket"))
      }: _*)).as("cb"))
      .select(col("id"), col("sig"), col("cb.chunk").as("chunk"), col("cb.bucket").as("bucket"))
    // Degenerate-content guard (same as the minhash/embedding-LSH paths):
    // a corpus of near-identical-signature docs collapses into one 16-bit
    // bucket and the chunk join goes quadratic without this cap.
    val bounded = chunked
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("chunk"), col("bucket"))))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
    // Same no-self-join expansion as [[minhashCandidatePairs]] — and
    // because the signature rides the collected struct, the Hamming
    // verify needs NO join-back at all: one aggregation on the window's
    // partitioning, pairs + verify as array algebra. Signatures are
    // computed once; memory per bucket is capped structs.
    val pairs = bounded
      .groupBy(col("chunk"), col("bucket"))
      .agg(array_sort(collect_list(struct(col("id"), col("sig")))).as("ms"))
      .filter(size(col("ms")) >= 2)
      .select(explode(flatten(transform(col("ms"), (a, i) =>
        transform(
          slice(col("ms"), i + lit(2), greatest(size(col("ms")) - i - 1, lit(0))),
          b => struct(
            a.getField("id").as("id_a"),
            b.getField("id").as("id_b"),
            hamming64(a.getField("sig"), b.getField("sig")).as("hamming")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), col("p.hamming").as("hamming"))
    pairs
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact-duplicate edges (same normalized content), id_a < id_b — the
    * edge list for cluster-based dedup, as a spanning STAR per
    * fingerprint group: each member linked to the group's minimum id.
    * Connectivity (and therefore [[clusterPairs]]'s components) is
    * identical to the all-pairs edge set, but the output is O(M) per
    * group where the fp self-join emits M² — a 10 M-copy boilerplate
    * group would otherwise produce 10¹⁴ edges. One shuffle (window min
    * over the fingerprint), no join.
    */
  def exactDupPairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = df.select(
      col(idCol).as("id"),
      TextAnalysis.fingerprintMd5(col(textCol)).as("fp"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    fp.withColumn("rep", min(col("id")).over(w))
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
  }

  /** Connected components over a near/exact-dup pair list: every node
    * ends up labeled with the minimum id reachable from it — the
    * canonical "cluster representative" used to keep one document per
    * duplicate group.
    *
    * Iterative min-label propagation (each round: join labels across
    * edges, take the min) until a fixpoint; rounds = graph diameter,
    * which for dup clusters is tiny. Each round is one shuffle join +
    * one aggregate — the standard distributed connected-components
    * shape (large-star/small-star is the published optimization if
    * diameters ever grow).
    */
  def clusterPairs(
      pairs: DataFrame,
      maxIters: Int = 20,
      broadcastEdgeLimit: Long = 1000000L): DataFrame = {
    // Materialize the PAIR list once, before symmetrizing: the naive
    // `pairs UNION swap(pairs)` plan evaluates the pair pipeline in
    // BOTH union branches (Spark does not share subtrees across a
    // union), and for minhash/verify pairs that pipeline is the whole
    // query's dominant cost — a silent 2×.
    // a null id cannot identify a document — malformed pairs (e.g. from
    // an upstream outer join) are dropped, identically on both paths
    val p = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint(true)
    // Broadcast close: dup-pair edge sets are pairs-only (the unpaired
    // bulk of the corpus never enters), so even at 100 TB they are
    // typically MBs. When the pair list fits the driver bound AND ids
    // are integral (exact label-order parity with the SQL min is then
    // trivial), close the components in ONE collect + union-find pass
    // — zero iterative rounds, zero per-round shuffles — and hand the
    // labels back as a broadcastable local relation. Oversized pair
    // sets (or exotic id types) fall through to the iterative
    // propagation below, which remains the scale path.
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = p.schema("src").dataType
    val integralId = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (integralId && p.count() <= broadcastEdgeLimit) {
      // pairs come one-directional already; union-find is insensitive
      // to duplicates and orientation, so collect them as-is
      val half = p
        .select(col("src").cast("long"), col("dst").cast("long"))
        .collect()
      graft.util.Checkpoints.releaseLocal(p)
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      half.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.putIfAbsent(a, a)
        parent.putIfAbsent(b, b)
        if (a != b) {
          val (ra, rb) = (find(a), find(b))
          // attach the LARGER root under the smaller: roots stay the
          // component minimum, matching the SQL min-propagation labels
          if (ra < rb) parent.put(rb, ra)
          else if (rb < ra) parent.put(ra, rb)
        }
      }
      val back: Long => Any = idType match {
        case LongType => l => l
        case IntegerType => l => l.toInt
        case ShortType => l => l.toShort
        case _ => l => l.toByte
      }
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
      parent.keySet().forEach { id =>
        rows.add(org.apache.spark.sql.Row(back(id), back(find(id))))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster_rep", idType, nullable = false)))
      return pairs.sparkSession.createDataFrame(rows, schema)
    }
    // Iterative scale path. Symmetrize from the MATERIALIZED pair list
    // (both union branches now read the checkpoint, not the pipeline)
    // and checkpoint the edge table each round touches: iterative plans
    // otherwise grow a doubling lineage, and the convergence probe
    // would recompute the whole chain every iteration; each round
    // releases its predecessor's blocks so storage stays O(one label
    // table).
    val cachedEdges = p
      .unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    graft.util.Checkpoints.releaseLocal(p)
    // round 1 fused into initialization: with identity labels the first
    // propagation is just "min over self and neighbors" — one aggregate
    // over the edge list, no join, no separate identity-label pass. For
    // the dominant dedup shape (diameter-1 dup clusters) the loop below
    // then runs exactly once, as fixpoint detection.
    var labels = cachedEdges
      .groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("cluster_rep"))
      .select(col("src").as("id"), col("cluster_rep"))
      .localCheckpoint(true)
    // Convergence probe, dispatched on the id TYPE. Integral ids
    // (long/int/scale-0 decimal): labels under min-propagation are
    // MONOTONICALLY non-increasing per node, so the fixpoint is reached
    // exactly when the label sum stops changing — one scalar aggregate
    // per round (decimal(38,0): overflow-free for any id range).
    // Any other id type (string/UUID/md5 ids are a common dedup shape,
    // doubles can alias to equal sums): the decimal cast would THROW
    // under ANSI mode — and with ANSI off it yields NULL, making both
    // sums zero and the loop "converge" after one round with wrong
    // labels — so fall back to an anti-join changed-label probe
    // (null-safe inequality, short-circuits at the first changed row).
    import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}
    val sumProbeSafe = labels.schema("cluster_rep").dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType if d.scale == 0 => true
      case _ => false
    }
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(sum(col("cluster_rep").cast("decimal(38,0)"))).head()
      if (v.isNullAt(0)) java.math.BigDecimal.ZERO else v.getDecimal(0)
    }
    def unchanged(next: DataFrame, prev: DataFrame): Boolean = next
      .join(prev.select(col("id"), col("cluster_rep").as("__prev")), "id")
      .filter(!(col("cluster_rep") <=> col("__prev")))
      .isEmpty
    var prevSum = if (sumProbeSafe) labelSum(labels) else null
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val prev = labels
      val neighborLabels = cachedEdges
        .join(labels, cachedEdges("dst") === labels("id"))
        .select(col("src").as("id"), col("cluster_rep"))
      val nextLazy = labels
        .select(col("id"), col("cluster_rep"))
        .unionByName(neighborLabels)
        .groupBy(col("id"))
        .agg(min(col("cluster_rep")).as("cluster_rep"))
      if (sumProbeSafe) {
        // probe the LAZY plan first: on the detection round (sum stable
        // ⇒ fixpoint, labels == prev) the materializing checkpoint would
        // be pure waste — and for dup graphs the detection round is
        // usually the ONLY loop round (diameter 1 after the fused init).
        // Non-converged rounds recompute once for the checkpoint — a
        // deliberate trade that wins whenever rounds ≈ diameter is small.
        val nextSum = labelSum(nextLazy)
        if (nextSum.compareTo(prevSum) == 0) converged = true
        else {
          prevSum = nextSum
          labels = nextLazy.localCheckpoint(true)
          graft.util.Checkpoints.releaseLocal(prev)
        }
      } else {
        val next = nextLazy.localCheckpoint(true)
        converged = unchanged(next, labels)
        labels = next
        graft.util.Checkpoints.releaseLocal(prev)
      }
      i += 1
    }
    graft.util.Checkpoints.releaseLocal(cachedEdges)
    labels
  }

  /** Canonical-document selection: given near/exact-dup `pairs`
    * (`id_a`, `id_b`) and a per-document score, keep the best-scoring
    * member of every dup cluster (ties broken by lowest id) — the step
    * after dup *detection* that decides which copy survives into the
    * training set. Choosing by quality instead of "first seen" is the
    * difference between keeping the clean article and keeping its
    * boilerplate-wrapped mirror.
    *
    * Output: (cluster_rep, canonical_id, n_members, best_score), one
    * row per cluster. Scale shape: [[clusterPairs]] label propagation
    * over the pair list (pairs only — the unclustered bulk of the
    * corpus never enters), then one hash join against the score table
    * and a per-cluster `row_number` that plans as `WindowGroupLimit`
    * (map-side pruned; clusters are dup groups, so partitions are tiny
    * by construction).
    */
  def canonicalPerCluster(
      pairs: DataFrame,
      scored: DataFrame,
      idCol: String,
      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = clusterPairs(pairs)
    val members = labels.join(scored, labels("id") === scored(idCol))
    val byCluster = Window.partitionBy(col("cluster_rep"))
    val pick = byCluster.orderBy(col(scoreCol).desc, col("id").asc)
    members
      .withColumn("rn", row_number().over(pick))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(
        col("cluster_rep"),
        col("id").as("canonical_id"),
        col("n_members"),
        col(scoreCol).as("best_score"))
  }

  // ---- decontamination -----------------------------------------------------

  /** Benchmark decontamination: flag corpus documents sharing word
    * n-grams with an evaluation set — the pretraining hygiene step that
    * keeps test data out of training corpora (the GPT-3/PaLM 13-gram
    * overlap check, shortened to `shingleN` here). Per document: the
    * count of DISTINCT eval n-grams it contains, and a flag at
    * `minOverlap`.
    *
    * Scale shape: the eval side (benchmarks — MBs, not TBs) collapses
    * to a distinct hashed-shingle set and BROADCASTS; the corpus side
    * is one compiled shingle pass + a broadcast semi-join + a per-doc
    * count. The 100 TB side never shuffles on anything wider than
    * (doc_id, matched-gram).
    */
  def contaminationFlags(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      eval: DataFrame,
      evalTextCol: String,
      shingleN: Int = 3,
      minOverlap: Int = 1): DataFrame = {
    def hashed(df: DataFrame, tc: String, keep: Seq[Column]): DataFrame =
      df.select(
        keep :+ graft.functions.VectorExprs
          .shingleHashes(split(trim(lower(col(tc))), "\\s+"), shingleN, Long.MaxValue)
          .as("sh"): _*)
    val evalGrams = hashed(eval, evalTextCol, Seq.empty)
      .select(explode(col("sh")).as("g"))
      .distinct()
      .withColumn("__hit", lit(1L))
    // single corpus pass: explode shingles, LEFT broadcast-probe the eval
    // set, count hits per doc (per-doc shingles are distinct, so the sum
    // of hits IS the distinct-match count; unmatched and shingle-less
    // docs survive through the outer explode + left join with 0)
    hashed(corpus, textCol, Seq(col(idCol).as("doc_id")))
      .select(col("doc_id"), explode_outer(col("sh")).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_matched"))
      .select(
        col("doc_id"),
        col("n_matched"),
        when(col("n_matched") >= minOverlap, 1).otherwise(0).as("is_contaminated"))
  }

  // ---- embedding near-dup --------------------------------------------------

  /** Embedding-cosine near-dup pairs above `threshold`, brute force —
    * the exact O(N²) baseline, kept ONLY as the small-SF oracle
    * cross-check for [[embeddingNearDupPairsLsh]], which is the plan
    * that runs at corpus scale.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn(
        "cosine",
        round(
          graft.functions.VectorExprs.arrayCosine(col("vec_a"), col("vec_b")),
          6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Embedding-cosine near-dup pairs above `threshold`, LSH-bucketed —
    * the scale path: candidate pairs are vectors sharing a
    * random-hyperplane sign-signature bucket ([[Similarity.lshSignature]])
    * in ANY of `tables` signature tables, verified with exact compiled
    * cosine. Cost is Σ|bucket|² per table instead of N², and only
    * (table, bucket, id) triples move through the candidate shuffle —
    * vectors are joined back onto the (small) verified-candidate set.
    *
    * Recall: a pair at cosine c collides per table with probability
    * (1 − acos(c)/π)^bits; exact duplicates (c = 1) have identical
    * signatures in every table, so recall for them is exactly 1. At the
    * 0.9-threshold near-dup level with auto-sized bits and 8 tables the
    * miss probability is <1%, tunable with (bits, tables). `maxBucket`
    * caps degenerate buckets (e.g. the all-zeros signature of dead
    * embeddings) — the same guardrail as the MinHash path.
    */
  def embeddingNearDupPairsLsh(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      tables: Int = 8,
      bits: Int = -1,
      corpusCount: Long = -1L,
      maxBucket: Int = 10000): DataFrame = {
    val effBits =
      if (bits > 0) bits
      else Similarity.autoBits(if (corpusCount >= 0) corpusCount else df.count())
    val bucketed = df
      .select(
        col(idCol).as("id"),
        explode(array((0 until tables).map { t =>
          struct(
            lit(t).as("tbl"),
            Similarity.lshSignatureCompiled(col(vecCol), t, effBits).as("bucket"))
        }: _*)).as("tb"))
      .select(col("id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val bounded = bucketed
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("tbl"), col("bucket"))))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
    val cands = bounded.select(col("tbl"), col("bucket"), col("id").as("id_a"))
      .join(bounded.select(col("tbl"), col("bucket"), col("id").as("id_b")), Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    cands
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn(
        "cosine",
        round(
          graft.functions.VectorExprs.arrayCosine(col("vec_a"), col("vec_b")),
          6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}
