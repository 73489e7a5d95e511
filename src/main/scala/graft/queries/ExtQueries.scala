package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Clustering, Dedup, Embeddings, LanguageModel, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.sources.Testdata

/** Training-data-pipeline extension queries (the BASELINE north star):
  * text analysis, dedup family, similarity search, multimodal plumbing
  * — over the `documents` and `embeddings` tables, oracle-checked
  * wherever the semantics are SQL-expressible (the probabilistic /
  * non-SQL operators are spec-verified in the ext test suites and
  * exposed here rows-only).
  */
object ExtQueries {

  /** Widen a small-file scan to the session's parallelism: a corpus that
    * fits one parquet file plans as 1-2 input partitions, so a heavy
    * per-row INTERPRETED map stage downstream (higher-order-function
    * scoring, codec decodes) runs on 2 of N cores while the rest idle.
    * SCALE-ADAPTIVE: only fires when the scan has far fewer partitions
    * than the session parallelism (guide §2.5 "input skew: one huge
    * unsplittable file → repartition after the read"); a real many-file
    * corpus keeps its native partitioning and pays no shuffle.
    * Row-distribution-neutral by the repo's oracle discipline (every
    * result is order-independent / tie-broken on unique ids).
    *
    * Applied per call site, NOT inside docs()/embs(): an r21 A/B put the
    * blanket form 0.3-1.4 s SLOWER on the dedup join family (the extra
    * round-robin exchange + 32-partition task overhead outweigh map
    * parallelism when the downstream is join/shuffle-bound), while the
    * map-dominated scorers (langid confusion 1.3 → 0.6 s) win.
    */
  private def widen(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (scanPartitionEstimate(spark, df) * 4 <= target) df.repartition(target) else df
  }

  /** Plan-cheap estimate of a parquet scan's partition count — the same
    * packing arithmetic `FilePartition.maxSplitBytes` applies (files
    * charged size + openCost, chopped at the split size, split size
    * floored by bytes-per-core), computed from the file listing alone.
    * The previous gate read `df.rdd.getNumPartitions`, which forces a
    * full physical planning + RDD DAG build of the scan per call site
    * (and reads the pre-AQE count) — all to make a 1-bit decision
    * (r21 ADVICE). Falls back to `target` (= never widen) when a file's
    * size cannot be looked up locally — unreadable, a non-local scheme,
    * or a path `java.net.URI` rejects (a space in a directory name) —
    * the conservative no-shuffle default.
    *
    * Undercounts self-unions: `Dataset.inputFiles` dedupes files that
    * several union branches scan, so for `corpusNearDups` (the corpus
    * unioned with a perturbed copy of part of itself) the estimate can
    * be about half of the old `rdd.getNumPartitions`.
    */
  private[queries] def scanPartitionEstimate(spark: SparkSession, df: DataFrame): Long = {
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val sizes = df.inputFiles.map { f =>
      try java.nio.file.Files.size(java.nio.file.Paths.get(new java.net.URI(f)))
      catch { case scala.util.control.NonFatal(_) => -1L }
    }
    if (sizes.isEmpty || sizes.exists(_ < 0)) spark.sparkContext.defaultParallelism.toLong
    else {
      val total = sizes.map(_ + openCost).sum
      val bytesPerCore = total / math.max(1, spark.sparkContext.defaultParallelism)
      val maxSplit = math.min(conf.filesMaxPartitionBytes, math.max(openCost, bytesPerCore))
      math.max(1L, (total + maxSplit - 1) / maxSplit)
    }
  }

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.read(spark, sfDir, "documents")

  private def embs(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.read(spark, sfDir, "embeddings")

  /** documents ∪ exact copies (doc_id%7=0, shifted id): exact-dedup input. */
  private def corpusExactDups(d: DataFrame): DataFrame =
    d.unionByName(
      d.filter(col("doc_id") % 7 === 0).withColumn("doc_id", col("doc_id") + 2000000))

  /** documents ∪ near-copies (doc_id%5=0, shifted id, last 2 tokens
    * dropped): near-dup input with known planted pairs.
    *
    * NOT widened here: only the shingle-set consumers (minhash, ngram,
    * canonical) recoup the repartition — the cheap consumers (exact,
    * simhash, substring) measured 0.76-0.83× with a blanket widen in
    * this helper (r22 A/B, 3 alternating legs), so those three widen at
    * their own entry points instead.
    */
  private def corpusNearDups(d: DataFrame): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    d.unionByName(
      d.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", array_join(slice(toks, lit(1), greatest(size(toks) - 2, lit(0))), " ")))
  }

  // ---- text analysis -------------------------------------------------------

  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir).select(
      col("doc_id"),
      length(col("text")).as("n_chars_calc"),
      TextAnalysis.tokenCountWs(col("text")).as("n_tokens_ws"),
      TextAnalysis.tokenCountBpeIsh("text").as("n_tokens_bpe"))

  val textStatsSql: String =
    """SELECT doc_id,
      |  length(text) AS n_chars_calc,
      |  CASE WHEN length(trim(text)) = 0 THEN 0
      |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens_ws,
      |  len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS n_tokens_bpe
      |FROM documents""".stripMargin

  def textQuality(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis
      .qualityFeatures(docs(spark, sfDir), "text")
      .select(
        col("doc_id"),
        (floor(col("punct_ratio") * 10000 + 0.5) / 10000.0).as("punct_ratio"),
        (floor(col("stopword_ratio") * 10000 + 0.5) / 10000.0).as("stopword_ratio"),
        (floor(col("uniq_ratio") * 10000 + 0.5) / 10000.0).as("uniq_ratio"),
        col("quality_score"))

  val textQualitySql: String = {
    val sw = graft.ext.Stopwords.en.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id,
       |  floor(punct_ratio * 10000 + 0.5) / 10000.0 AS punct_ratio,
       |  floor(stopword_ratio * 10000 + 0.5) / 10000.0 AS stopword_ratio,
       |  floor(uniq_ratio * 10000 + 0.5) / 10000.0 AS uniq_ratio,
       |  floor((least(1.0, n_tokens / 100.0) * 0.3
       |        + (1.0 - least(1.0, punct_ratio * 5)) * 0.2
       |        + least(1.0, stopword_ratio * 4) * 0.2
       |        + uniq_ratio * 0.3) * 10000 + 0.5) / 10000.0 AS quality_score
       |FROM (
       |  SELECT doc_id, n_tokens,
       |    CASE WHEN length(text) = 0 THEN 0.0
       |         ELSE CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
       |    CASE WHEN n_tokens = 0 THEN 0.0
       |         ELSE CAST(len(list_filter(toks, t -> list_contains($sw, t))) AS DOUBLE) / n_tokens END AS stopword_ratio,
       |    CASE WHEN n_tokens = 0 THEN 0.0
       |         ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens END AS uniq_ratio
       |  FROM (
       |    SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks,
       |      CASE WHEN length(trim(text)) = 0 THEN 0
       |           ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
       |    FROM documents))""".stripMargin
  }

  /** Character-entropy quality signal
    * ([[graft.ext.TextAnalysis.charEntropy]]): information density per
    * document with a low-entropy verdict — map-only, no explode (see
    * the function's scaladoc for the replace-trick). The SQL replay is
    * generated from the SAME letter list and fold order
    * ([[graft.ext.TextAnalysis.charEntropySqlParts]]).
    */
  def textEntropy(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.charEntropy(docs(spark, sfDir), "text")
      .select(
        col("doc_id"),
        col("n_letters"),
        col("entropy"),
        when(col("entropy") < 2.8, lit("low")).otherwise(lit("ok")).as("verdict"))

  val textEntropySql: String = {
    val (countCols, terms) = TextAnalysis.charEntropySqlParts
    s"""WITH raw AS (SELECT doc_id, lower(text) AS t FROM documents),
       |c AS (
       |  SELECT doc_id,
       |         $countCols
       |  FROM raw),
       |e AS (SELECT c.*, CAST(n_letters AS DOUBLE) AS nd FROM c)
       |SELECT doc_id, CAST(n_letters AS INTEGER) AS n_letters,
       |       CASE WHEN n_letters = 0 THEN 0.0
       |            ELSE round($terms, 4) END AS entropy,
       |       CASE WHEN (CASE WHEN n_letters = 0 THEN 0.0
       |                       ELSE round($terms, 4) END) < 2.8
       |            THEN 'low' ELSE 'ok' END AS verdict
       |FROM e""".stripMargin
  }

  /** Gopher-style repetition filter features (within-document): the
    * quality signal dedup can't provide, over the same documents table.
    */
  def textRepetition(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis
      .repetitionFeatures(docs(spark, sfDir), "text")
      .select(col("doc_id"), col("top_token_ratio"), col("dup_bigram_ratio"), col("is_repetitive"))

  val textRepetitionSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
      |         CASE WHEN length(trim(text)) = 0 THEN 0
      |              ELSE len(regexp_split_to_array(trim(lower(text)), '\s+')) END AS n
      |  FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    CASE WHEN n = 0 THEN 0.0
      |         ELSE floor(CAST(list_max(list_transform(list_distinct(toks),
      |                d -> len(list_filter(toks, tk -> tk = d)))) AS DOUBLE) / n
      |              * 10000 + 0.5) / 10000.0
      |    END AS top_token_ratio,
      |    CASE WHEN n < 2 THEN 0.0
      |         ELSE floor(CAST(n - 1 - len(list_distinct(list_transform(range(1, n),
      |                j -> toks[j] || ' ' || toks[j + 1]))) AS DOUBLE) / (n - 1)
      |              * 10000 + 0.5) / 10000.0
      |    END AS dup_bigram_ratio
      |  FROM t)
      |SELECT doc_id, top_token_ratio, dup_bigram_ratio,
      |       CASE WHEN top_token_ratio > 0.3 OR dup_bigram_ratio > 0.2
      |            THEN 1 ELSE 0 END AS is_repetitive
      |FROM f""".stripMargin

  def textFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir).select(
      col("doc_id"),
      TextAnalysis.fingerprintMd5(col("text")).as("fingerprint"))

  val textFingerprintSql: String =
    """SELECT doc_id,
      |       md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
      |FROM documents""".stripMargin

  /** Language id — the stopword/CJK heuristic, fully oracle-replayed
    * (see [[textLangIdSql]]); accuracy additionally pinned on prose
    * fixtures in TextAnalysisSpec.
    */
  def textLangId(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir).select(
      col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang_pred"))

  /** The n-gram/stopword heuristic is deterministic column algebra —
    * the oracle replays the same stopword-hit ratios, CJK char ratio,
    * and argmax tie order (en>fr>es>de) in DuckDB.
    */
  val textLangIdSql: String =
    """WITH t AS (
      |  SELECT doc_id, text,
      |         regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
      |         CASE WHEN length(text) = 0 THEN 0.0
      |              ELSE CAST(length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
      |                   / length(text) END AS cjk
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, cjk,
      |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','it','that','was','for','on','are','with','as','his','they','at','be','this'], x))) AS DOUBLE) / len(toks) END AS c_en,
      |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> list_contains(['le','la','les','de','des','du','et','un','une','dans','est','pour','que','qui','sur','avec','pas','au','ce','il'], x))) AS DOUBLE) / len(toks) END AS c_fr,
      |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> list_contains(['el','la','los','las','de','del','y','un','una','en','es','por','que','con','para','su','al','lo','como','más'], x))) AS DOUBLE) / len(toks) END AS c_es,
      |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ein','eine','in','ist','von','mit','den','des','dem','nicht','auch','auf','für','sich','im','zu'], x))) AS DOUBLE) / len(toks) END AS c_de
      |  FROM t)
      |SELECT doc_id,
      |  CASE WHEN cjk > 0.05 THEN 'zh'
      |       WHEN greatest(c_en, c_fr, c_es, c_de) <= 0.0 THEN 'und'
      |       WHEN c_en = greatest(c_en, c_fr, c_es, c_de) THEN 'en'
      |       WHEN c_fr = greatest(c_en, c_fr, c_es, c_de) THEN 'fr'
      |       WHEN c_es = greatest(c_en, c_fr, c_es, c_de) THEN 'es'
      |       ELSE 'de' END AS lang_pred
      |FROM s""".stripMargin

  /** Language-ID CONFUSION MATRIX — the eval loop for the heuristic
    * classifier: predicted vs labeled language counts, one hash
    * aggregation over the [[textLangId]] prediction projection. The
    * oracle composes the full langid replay as a subquery, so the
    * matrix is hash-checked end to end (prediction + tabulation).
    */
  def langidConfusion(spark: SparkSession, sfDir: String): DataFrame =
    widen(spark, docs(spark, sfDir))
      .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))

  val langidConfusionSql: String =
    s"""SELECT d.lang, p.lang_pred, count(*) AS n
       |FROM documents d JOIN ($textLangIdSql) p USING (doc_id)
       |GROUP BY 1, 2""".stripMargin

  /** Deterministic train/validation split: hash-bucket each doc id
    * (md5 → first 8 hex digits → mod 100) and assign 80/20. Unlike
    * `sample()`/`randomSplit()`, the assignment is a pure function of
    * the id — stable across runs, engines, partitionings, and corpus
    * growth (a doc never migrates between splits), which is the
    * property a training pipeline needs.
    */
  def trainValSplit(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(
        col("doc_id"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long") % 100)
          .as("bucket"))
      .withColumn("split", when(col("bucket") < 80, "train").otherwise("val"))

  val trainValSplitSql: String =
    """SELECT doc_id,
      |       CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
      |       CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80
      |            THEN 'train' ELSE 'val' END AS split
      |FROM documents""".stripMargin

  /** Deterministic global shuffle into 16 training shards with dense
    * within-shard positions ([[graft.ext.Sampling.shardShuffle]], seed
    * "epoch0") — the reproducible corpus permutation between filtering
    * and sequence packing. Pure md5-of-(seed, id) functions, so the
    * oracle replays it exactly.
    */
  def shardShuffle(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.Sampling
      .shardShuffle(docs(spark, sfDir).select(col("doc_id")), "doc_id", 16, "epoch0")
      .select(col("doc_id"), col("shard"), col("pos"))

  val shardShuffleSql: String = {
    val h = "CAST(('0x' || substring(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    s"""SELECT doc_id,
       |       CAST($h % 16 AS INTEGER) AS shard,
       |       CAST(row_number() OVER (PARTITION BY $h % 16
       |              ORDER BY $h, doc_id) AS BIGINT) AS pos
       |FROM documents""".stripMargin
  }

  /** Token-budget packing of documents into training bins (2048-token
    * budget, 8 hash shards) — deterministic, so fully oracle-checked.
    */
  def packSequences(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis
      .packSequences(
        docs(spark, sfDir).select(
          col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).as("n_tokens")),
        "doc_id",
        "n_tokens",
        budget = 2048,
        shards = 8)
      .select(col("doc_id"), col("n_tokens"), col("shard"), col("pack_bin"))

  val packSequencesSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
      |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard
      |  FROM documents)
      |SELECT doc_id, n_tokens, shard,
      |       CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |                     ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048.0) AS BIGINT)
      |         AS pack_bin
      |FROM t""".stripMargin

  /** PII scrub before training: every 10th document gets a planted
    * email/URL/IP suffix (the raw corpus is synthetic word soup), then
    * the redaction pass must replace exactly those spans — the oracle
    * replays the same shared-regex-subset patterns in DuckDB.
    */
  def piiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val planted = docs(spark, sfDir).withColumn(
      "text2",
      when(
        col("doc_id") % 10 === 0,
        concat(
          col("text"),
          lit(" contact bob@example.com via https://example.com/page?x=1 from 10.0.0.1")))
        .otherwise(col("text")))
    planted.select(
      col("doc_id"),
      TextAnalysis.redactPii(col("text2")).as("clean_text"),
      when(TextAnalysis.redactPii(col("text2")) =!= col("text2"), 1).otherwise(0)
        .as("was_redacted"))
  }

  val piiRedactSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 0
      |         THEN text || ' contact bob@example.com via https://example.com/page?x=1 from 10.0.0.1'
      |         ELSE text END AS text2
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, text2,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(text2, 'https?://[^\s]+', '<URL>', 'g'),
      |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean_text
      |  FROM t)
      |SELECT doc_id, clean_text,
      |       CASE WHEN clean_text <> text2 THEN 1 ELSE 0 END AS was_redacted
      |FROM r""".stripMargin

  /** Deterministic corpus mixing: per-source sampling rates (domain
    * weighting) decided by an id hash — rerunnable, engine-stable.
    */
  def mixSources(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis
      .mixSources(
        docs(spark, sfDir),
        "doc_id",
        "source",
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
        defaultWeight = 0.1)
      .select(col("doc_id"), col("source"))

  val mixSourcesSql: String =
    """SELECT doc_id, source FROM documents
      |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
      |      < (CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
      |              WHEN 'src2' THEN 0.25 ELSE 0.1 END) * 10000""".stripMargin

  // ---- dedup ---------------------------------------------------------------

  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Dedup
      .exactGroups(corpusExactDups(docs(spark, sfDir)), "doc_id", "text")
      .select(col("fingerprint"), col("keep_id"), col("n_copies"))

  val dedupExactSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0)
      |SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
      |       min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM corpus GROUP BY 1""".stripMargin

  /** MinHash+LSH near-dup pairs verified with exact shingle Jaccard.
    * Oracle = ground-truth all-pairs Jaccard ≥ 0.5 (LSH with k=64,
    * b=16 has ~1-3e-8 recall at the planted ~0.95 similarity level).
    */
  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    // widened: the compiled shingle+signature pass is CPU-dense per doc
    // and the documents scan is 1-2 splits at bench scale, so unwidened
    // it runs on 1-2 of N cores (measured: two ~2 s 2-task stages at 32
    // cores; widened A/B 1.30×, guide §2.5/§2.6). No-op once the corpus
    // scan is as wide as the session.
    Dedup.minhashDedupPairs(
      widen(spark, corpusNearDups(docs(spark, sfDir))), "doc_id", "text", 0.5)

  val dedupMinhashSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |         array_to_string(toks[1:greatest(len(toks) - 2, 0)], ' ')
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents WHERE doc_id % 5 = 0)),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |      ELSE list_transform(range(1, len(toks) - 1),
      |                          j -> array_to_string(toks[j:j+2], ' ')) END) AS s
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |        FROM corpus))
      |SELECT id_a, id_b, jaccard FROM (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    floor(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.s, b.s))) * 10000 + 0.5) / 10000.0 AS jaccard
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      |WHERE jaccard >= 0.5""".stripMargin

  /** Exact n-gram Jaccard similarity join (inverted index + lossless
    * length-ratio pruning), with the stop-shingle postings cap ENABLED —
    * the production configuration: a shingle appearing in more than
    * `NgramMaxPostings` documents is boilerplate, and an uncapped
    * posting list costs Σ|postings|² join fanout at corpus scale. The
    * cap is deterministic, so the oracle mirrors it exactly: shared
    * counts over kept shingles, full set sizes in the denominator.
    */
  def dedupNgram(spark: SparkSession, sfDir: String): DataFrame =
    // widened for the same reason as dedupMinhash (A/B 1.28×)
    Dedup.ngramJaccardPairs(
      widen(spark, corpusNearDups(docs(spark, sfDir))), "doc_id", "text", 0.5,
      maxPostings = NgramMaxPostings)

  /** Stop-shingle cap for `q_dedup_ngram` (docs sharing a 3-gram above
    * this are boilerplate; ~4% of the sf0.1 corpus).
    */
  val NgramMaxPostings = 256

  val dedupNgramSql: String =
    s"""WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |         array_to_string(toks[1:greatest(len(toks) - 2, 0)], ' ')
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      |        FROM documents WHERE doc_id % 5 = 0)),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |      ELSE list_transform(range(1, len(toks) - 1),
      |                          j -> array_to_string(toks[j:j+2], ' ')) END) AS s
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      |        FROM corpus)),
      |posting AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |kept AS (
      |  SELECT doc_id, g FROM posting
      |  WHERE g NOT IN (SELECT g FROM posting GROUP BY g
      |                  HAVING count(*) > $NgramMaxPostings)),
      |shared AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sz AS (SELECT doc_id, len(s) AS n FROM sh)
      |SELECT id_a, id_b,
      |       floor(CAST(c AS DOUBLE) / (sa.n + sb.n - c) * 10000 + 0.5) / 10000.0 AS jaccard
      |FROM shared
      |JOIN sz sa ON sa.doc_id = id_a
      |JOIN sz sb ON sb.doc_id = id_b
      |WHERE floor(CAST(c AS DOUBLE) / (sa.n + sb.n - c) * 10000 + 0.5) / 10000.0 >= 0.5""".stripMargin

  /** Asymmetric containment dedup over the planted-near-dup corpus:
    * the trimmed copies are (almost) wholly CONTAINED in their
    * originals — containment 1.0 where symmetric Jaccard reads lower.
    * Directed output. PPJoin prefix filtering + exact verification
    * (see [[Dedup.ngramContainmentPairs]]) makes the result EXACT — all
    * pairs with rounded containment ≥ t, no postings-cap semantics — so
    * the oracle below is the plain brute-force containment join.
    */
  def dedupContainment(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.ngramContainmentPairs(
      corpusNearDups(docs(spark, sfDir)), "doc_id", "text",
      threshold = 0.9, shingleN = 3)

  val dedupContainmentSql: String =
    s"""WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |         array_to_string(toks[1:greatest(len(toks) - 2, 0)], ' ')
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      |        FROM documents WHERE doc_id % 5 = 0)),
      |sh AS MATERIALIZED (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |      ELSE list_transform(range(1, len(toks) - 1),
      |                          j -> array_to_string(toks[j:j+2], ' ')) END) AS s
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      |        FROM corpus)),
      |posting AS MATERIALIZED (SELECT doc_id, unnest(s) AS g FROM sh),
      |shared AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |  FROM posting a JOIN posting b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sz AS MATERIALIZED (SELECT doc_id, len(s) AS n FROM sh),
      |scored AS (
      |  SELECT id_a, id_b, sa.n AS na, sb.n AS nb,
      |         floor(CAST(c AS DOUBLE) / least(sa.n, sb.n) * 10000 + 0.5) / 10000.0 AS containment
      |  FROM shared
      |  JOIN sz sa ON sa.doc_id = id_a
      |  JOIN sz sb ON sb.doc_id = id_b)
      |SELECT CASE WHEN na <= nb THEN id_a ELSE id_b END AS id_contained,
      |       CASE WHEN na <= nb THEN id_b ELSE id_a END AS id_container,
      |       containment
      |FROM scored WHERE containment >= 0.9""".stripMargin

  /** SimHash near-dups — probabilistic bucketing, spec-verified;
    * rows-only here.
    */
  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.simhashDedupPairs(corpusNearDups(docs(spark, sfDir)), "doc_id", "text", maxHamming = 3)

  /** SimHash near-dups with the md5 token hash — same method
    * (4-chunk pigeonhole bucketing, Hamming ≤ 3 verify) over a 60-bit
    * signature whose every step DuckDB replays in SQL, giving the
    * simhash METHOD a full rows+schema+hash oracle; the xxhash64
    * production variant above stays rows-only with its spec-pinned
    * bucketing proof.
    */
  def dedupSimhashMd5(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.simhashDedupPairsMd5(corpusNearDups(docs(spark, sfDir)), "doc_id", "text", maxHamming = 3)

  /** The full simhash pipeline in SQL: 60-bit token hashes (15 md5 hex
    * chars), per-bit signed tallies packed LSB-first, 4 × 15-bit chunk
    * buckets with the same degenerate-bucket cap, pigeonhole pair join,
    * Hamming verify via bit_count(xor).
    */
  val dedupSimhashMd5Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |         array_to_string(toks[1:greatest(len(toks) - 2, 0)], ' ')
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents WHERE doc_id % 5 = 0)),
      |hs AS (
      |  SELECT doc_id,
      |         list_transform(regexp_split_to_array(trim(lower(text)), '\s+'),
      |           t -> CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT)) AS h
      |  FROM corpus),
      |sig AS (
      |  SELECT doc_id,
      |         CAST(list_sum(list_transform(range(0, 60), i ->
      |           CASE WHEN list_sum(list_transform(h, x ->
      |                  CASE WHEN (x >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |                THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sig
      |  FROM hs),
      |ch AS (
      |  SELECT doc_id, sig, c,
      |         (sig >> (c * 15)) & 32767 AS bucket
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS c)),
      |bounded AS (
      |  SELECT * FROM (
      |    SELECT doc_id, sig, c, bucket,
      |           count(*) OVER (PARTITION BY c, bucket) AS bucket_n
      |    FROM ch)
      |  WHERE bucket_n <= 1000)
      |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |       CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
      |FROM bounded a JOIN bounded b ON a.c = b.c AND a.bucket = b.bucket
      |WHERE a.doc_id < b.doc_id
      |  AND bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin

  /** Embedding-cosine near-dup: planted exact copies must come back at
    * cosine 1.0; brute-force both sides.
    */
  def dedupEmbedding(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embs(spark, sfDir)
    val corpus = e.unionByName(
      e.filter(col("vec_id") % 10 === 0).withColumn("vec_id", col("vec_id") + 100000))
    Dedup.embeddingNearDupPairs(corpus, "vec_id", "embedding", 0.9)
  }

  val dedupEmbeddingSql: String =
    """WITH corpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 10 = 0)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                    CAST(b.embedding AS DOUBLE[])), 6) AS cosine
      |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.9""".stripMargin

  /** Embedding-cosine near-dup, LSH-bucketed (the 100 TB plan): same
    * corpus, same threshold, same oracle as `q_dedup_embedding` — the
    * bucketed candidate join must reproduce the brute-force result
    * exactly (planted copies sit at cosine 1.0, where hyperplane-LSH
    * recall is exactly 1).
    *
    * VALIDITY: sharing the brute-force oracle is exact only while the
    * corpus has no organic pairs in [0.9, 1) — true of the shipped
    * testdata at every SF the driver runs (verified empirically at
    * sf0.01 and sf0.1; ExtSpec guards the precondition on sf0.001). On
    * data with organic near-dups below cosine 1.0 this query remains a
    * correct high-recall candidate generator, but the oracle comparison
    * would have to switch to the recall-bounded rows-only check used by
    * `q_similarity_ann`.
    */
  def dedupEmbeddingLsh(spark: SparkSession, sfDir: String): DataFrame = {
    // NOT widened: measured 0.90× with the input widen (r22 A/B) — the
    // bucket join dominates, not the signature pass
    val e = embs(spark, sfDir)
    val corpus = e.unionByName(
      e.filter(col("vec_id") % 10 === 0).withColumn("vec_id", col("vec_id") + 100000))
    Dedup.embeddingNearDupPairsLsh(corpus, "vec_id", "embedding", 0.9)
  }

  /** Deterministic Lloyd k-means over the embeddings table (k=8, two
    * refinement iterations from lowest-id seeds): per-vector cluster
    * assignment plus 6-dp cosine to the winning centroid. Every rule the
    * oracle needs is deterministic — 4-dp integer-scaled centroid means,
    * 6-dp rounded assignment cosine with ties to the lowest cluster id —
    * so DuckDB replays the full two-iteration fit in unrolled SQL and
    * must land on identical clusters.
    */
  def kmeansClusters(spark: SparkSession, sfDir: String): DataFrame =
    Clustering.kmeansAssign(embs(spark, sfDir), "vec_id", "embedding", k = 8, iters = 2)

  /** The unrolled two-iteration Lloyd fit. Stages per iteration:
    * assign (tuple-max over the centroid cross join) → explode dims →
    * exact e4 mean → reassemble centroid lists. Mirrors
    * [[graft.ext.Clustering]] rule for rule.
    */
  val kmeansClustersSql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, e AS c FROM v WHERE vec_id < 8),
      |a1 AS (SELECT vec_id, e,
      |         -struct_extract(max((round(list_cosine_similarity(e, c), 6), -cid)), 2) AS cl
      |       FROM v CROSS JOIN c0 GROUP BY vec_id, e),
      |ex1 AS (SELECT cl, unnest(list_transform(range(1, len(e) + 1),
      |                          i -> {'dim': i - 1, 'v': e[i]}), recursive := true) FROM a1),
      |ag1 AS (SELECT cl, dim, count(v) AS n,
      |               sum(CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS s
      |        FROM ex1 GROUP BY 1, 2),
      |c1 AS (SELECT CAST(cl AS INTEGER) AS cid,
      |              list(CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
      |                             ELSE -((-2 * s + n) // (2 * n)) END AS DOUBLE) / 10000.0
      |                   ORDER BY dim) AS c
      |       FROM ag1 GROUP BY cl),
      |a2 AS (SELECT vec_id, e,
      |         -struct_extract(max((round(list_cosine_similarity(e, c), 6), -cid)), 2) AS cl
      |       FROM v CROSS JOIN c1 GROUP BY vec_id, e),
      |ex2 AS (SELECT cl, unnest(list_transform(range(1, len(e) + 1),
      |                          i -> {'dim': i - 1, 'v': e[i]}), recursive := true) FROM a2),
      |ag2 AS (SELECT cl, dim, count(v) AS n,
      |               sum(CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS s
      |        FROM ex2 GROUP BY 1, 2),
      |c2 AS (SELECT CAST(cl AS INTEGER) AS cid,
      |              list(CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
      |                             ELSE -((-2 * s + n) // (2 * n)) END AS DOUBLE) / 10000.0
      |                   ORDER BY dim) AS c
      |       FROM ag2 GROUP BY cl),
      |fin AS (SELECT vec_id, max((round(list_cosine_similarity(e, c), 6), -cid)) AS b
      |        FROM v CROSS JOIN c2 GROUP BY vec_id, e)
      |SELECT vec_id, CAST(-struct_extract(b, 2) AS INTEGER) AS cluster,
      |       struct_extract(b, 1) AS cosine
      |FROM fin""".stripMargin

  /** SemDeDup-style semantic dedup: the same dup-planted corpus as
    * `q_dedup_embedding`, clustered (k=8, 2 iterations), near-dup pairs
    * detected WITHIN clusters only — O(Σ|cluster|²), not corpus². The
    * oracle replays the identical fit + within-cluster pairing, so this
    * checks the METHOD exactly (planted dups sit at cosine 1.0 where
    * cluster-split recall loss cannot occur).
    */
  def dedupSemantic(spark: SparkSession, sfDir: String): DataFrame = {
    // NOT widened: measured 0.77× with the input widen (r22 A/B, 3
    // alternating legs) — the cluster-scoped pair join dominates and the
    // widen's extra exchange only delays it
    val e = embs(spark, sfDir)
    val corpus = e.unionByName(
      e.filter(col("vec_id") % 10 === 0).withColumn("vec_id", col("vec_id") + 100000))
    Clustering.semanticDedupPairs(corpus, "vec_id", "embedding", 0.9, k = 8, iters = 2)
  }

  val dedupSemanticSql: String =
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings WHERE vec_id % 10 = 0),
      |c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, e AS c FROM v WHERE vec_id < 8),
      |a1 AS (SELECT vec_id, e,
      |         -struct_extract(max((round(list_cosine_similarity(e, c), 6), -cid)), 2) AS cl
      |       FROM v CROSS JOIN c0 GROUP BY vec_id, e),
      |ex1 AS (SELECT cl, unnest(list_transform(range(1, len(e) + 1),
      |                          i -> {'dim': i - 1, 'v': e[i]}), recursive := true) FROM a1),
      |ag1 AS (SELECT cl, dim, count(v) AS n,
      |               sum(CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS s
      |        FROM ex1 GROUP BY 1, 2),
      |c1 AS (SELECT CAST(cl AS INTEGER) AS cid,
      |              list(CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
      |                             ELSE -((-2 * s + n) // (2 * n)) END AS DOUBLE) / 10000.0
      |                   ORDER BY dim) AS c
      |       FROM ag1 GROUP BY cl),
      |a2 AS (SELECT vec_id, e,
      |         -struct_extract(max((round(list_cosine_similarity(e, c), 6), -cid)), 2) AS cl
      |       FROM v CROSS JOIN c1 GROUP BY vec_id, e),
      |ex2 AS (SELECT cl, unnest(list_transform(range(1, len(e) + 1),
      |                          i -> {'dim': i - 1, 'v': e[i]}), recursive := true) FROM a2),
      |ag2 AS (SELECT cl, dim, count(v) AS n,
      |               sum(CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS s
      |        FROM ex2 GROUP BY 1, 2),
      |c2 AS (SELECT CAST(cl AS INTEGER) AS cid,
      |              list(CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
      |                             ELSE -((-2 * s + n) // (2 * n)) END AS DOUBLE) / 10000.0
      |                   ORDER BY dim) AS c
      |       FROM ag2 GROUP BY cl),
      |a3 AS (SELECT vec_id, e,
      |         -struct_extract(max((round(list_cosine_similarity(e, c), 6), -cid)), 2) AS cl
      |       FROM v CROSS JOIN c2 GROUP BY vec_id, e)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |       round(list_cosine_similarity(a.e, b.e), 6) AS cosine
      |FROM a3 a JOIN a3 b ON a.cl = b.cl AND a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.9""".stripMargin

  /** Benchmark decontamination over documents: every 50th document
    * plays the eval set; each corpus doc reports how many distinct eval
    * 3-grams it contains (eval docs flag themselves — the self-match is
    * the sanity anchor; near-dups of eval docs are the real catch).
    */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    Dedup.contaminationFlags(d, "doc_id", "text", d.filter(col("doc_id") % 50 === 0), "text")
  }

  val decontaminateSql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |      ELSE list_transform(range(1, len(toks) - 1),
      |                          j -> array_to_string(toks[j:j+2], ' ')) END) AS s
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |        FROM documents)),
      |ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 50 = 0),
      |grams AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |m AS (SELECT doc_id, count(*) AS n_matched
      |      FROM grams JOIN ev USING (g) GROUP BY doc_id)
      |SELECT s.doc_id,
      |       coalesce(m.n_matched, 0) AS n_matched,
      |       CASE WHEN coalesce(m.n_matched, 0) >= 1 THEN 1 ELSE 0 END AS is_contaminated
      |FROM sh s LEFT JOIN m USING (doc_id)""".stripMargin

  /** Cluster-based exact dedup: a corpus with two extra copies of every
    * 7th document forms 3-node duplicate clusters; connected components
    * over the exact-dup pair edges must label every member with the
    * original id as representative (transitivity exercised by the
    * copy↔copy edges).
    */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val dups = d.filter(col("doc_id") % 7 === 0)
    val corpus = d
      .unionByName(dups.withColumn("doc_id", col("doc_id") + 2000000))
      .unionByName(dups.withColumn("doc_id", col("doc_id") + 4000000))
    Dedup
      .clusterPairs(Dedup.exactDupPairs(corpus, "doc_id", "text"))
      .select(col("id").as("doc_id"), col("cluster_rep"))
  }

  val dedupClustersSql: String =
    """SELECT doc_id, doc_id AS cluster_rep FROM documents WHERE doc_id % 7 = 0
      |UNION ALL
      |SELECT doc_id + 2000000, doc_id FROM documents WHERE doc_id % 7 = 0
      |UNION ALL
      |SELECT doc_id + 4000000, doc_id FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** Incremental ingest dedup: an arriving batch (every 3rd document
    * re-submitted verbatim under a new id + every 4th with genuinely
    * new content) is anti-joined against the existing corpus's
    * fingerprint index — only the new content survives. The per-batch
    * cost is O(batch + index), never corpus², which is the only dedup
    * shape that works batch-over-batch at 100 TB.
    */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val batch = d
      .filter(col("doc_id") % 3 === 0)
      .withColumn("doc_id", col("doc_id") + 3000000)
      .unionByName(
        d.filter(col("doc_id") % 4 === 0)
          .withColumn("doc_id", col("doc_id") + 4000000)
          .withColumn("text", concat(col("text"), lit(" freshly arrived content"))))
    Dedup
      .dedupAgainstCorpus(batch, d, "doc_id", "text")
      .select(col("doc_id"), col("source"))
  }

  val dedupIncrementalSql: String =
    """WITH fp AS (
      |  SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f
      |  FROM documents),
      |batch AS (
      |  SELECT doc_id + 3000000 AS doc_id, source, text
      |  FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 4000000, source, text || ' freshly arrived content'
      |  FROM documents WHERE doc_id % 4 = 0)
      |SELECT doc_id, source FROM batch b
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM fp
      |  WHERE fp.f = md5(lower(regexp_replace(trim(b.text), '\s+', ' ', 'g'))))""".stripMargin

  /** Vocabulary building: global top-25 terms by document frequency
    * (distinct doc per term), ties broken lexicographically.
    */
  def textTopTerms(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), explode(array_distinct(split(trim(lower(col("text"))), "\\s+"))).as("term"))
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("term").asc)
      .limit(25)

  val textTopTermsSql: String =
    """SELECT term, count(DISTINCT doc_id) AS doc_freq
      |FROM (SELECT doc_id,
      |             unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS term
      |      FROM documents)
      |GROUP BY term
      |ORDER BY doc_freq DESC, term ASC
      |LIMIT 25""".stripMargin

  /** JSON-path extraction from the events `props` payload column. */
  def jsonPath(spark: SparkSession, sfDir: String): DataFrame =
    Testdata
      .events(spark, sfDir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("prop_k"))

  val jsonPathSql: String =
    """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k
      |FROM events""".stripMargin

  // ---- similarity search ---------------------------------------------------

  /** Exact cosine top-5 for every 100th vector (brute-force baseline). */
  def similarityTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embs(spark, sfDir)
    Similarity.bruteForceTopK(e.filter(col("vec_id") % 100 === 0), e, "vec_id", "embedding", 5)
  }

  val similarityTopKSql: String =
    """SELECT query_id, neighbor_id, cosine,
      |       CAST(row_number() OVER (PARTITION BY query_id
      |              ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      |FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                      CAST(c.embedding AS DOUBLE[])), 6) AS cosine
      |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      |  WHERE q.vec_id % 100 = 0)
      |QUALIFY rank <= 5""".stripMargin

  /** Truncated-dimension retrieval (the Matryoshka/MRL trade): cosine
    * top-3 on only the FIRST 16 of 64 dimensions, with the full-64-dim
    * cosine of each retrieved neighbor alongside — the cost/recall
    * dial modern embedding stacks expose (a 4× cheaper scan and 4×
    * smaller index against slightly degraded ranking). Truncation is a
    * pure `slice` projection; cosine renormalizes internally, so no
    * separate re-norm pass is needed. Same one-scan broadcast-query
    * shape as [[similarityTopK]].
    */
  def similarityTruncated(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embs(spark, sfDir)
    val sliced = e.select(
      col("vec_id"),
      col("embedding"),
      slice(col("embedding"), 1, 16).as("emb16"))
    val q = sliced
      .filter(col("vec_id") % 100 === 0)
      .select(
        col("vec_id").as("query_id"),
        col("emb16").as("q16"),
        col("embedding").as("qfull"))
    val scored = sliced
      .join(broadcast(q), col("query_id") =!= col("vec_id"))
      .withColumn(
        "cosine_16",
        round(graft.functions.VectorExprs.arrayCosine(col("q16"), col("emb16")), 6))
      .withColumn(
        "cosine_full",
        round(
          graft.functions.VectorExprs.arrayCosine(col("qfull"), col("embedding")),
          6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine_16").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        col("cosine_16"),
        col("cosine_full"),
        col("rank"))
  }

  /** Contrastive hard-negative mining — the training-PAIR-construction
    * pass of an embedding-model pipeline: for each anchor, the top-2
    * most similar neighbors whose 6-dp cosine is UNDER the near-dup
    * bar (0.9) — similar enough to be informative negatives, far
    * enough to not be positives in disguise (mining from the band just
    * below the duplicate threshold is the standard recipe). Same
    * one-scan broadcast-anchor shape as [[similarityTopK]]; the band
    * filter prunes before the rank window.
    */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embs(spark, sfDir)
    val anchors = e
      .filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("a_vec"))
    val scored = e
      .join(broadcast(anchors), col("anchor_id") =!= col("vec_id"))
      .withColumn(
        "cosine",
        round(graft.functions.VectorExprs.arrayCosine(col("a_vec"), col("embedding")), 6))
      .filter(col("cosine") < 0.9)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 2)
      .select(col("anchor_id"), col("vec_id").as("negative_id"), col("cosine"), col("rank"))
  }

  val hardNegativesSql: String =
    """SELECT anchor_id, negative_id, cosine,
      |       CAST(row_number() OVER (PARTITION BY anchor_id
      |              ORDER BY cosine DESC, negative_id) AS INTEGER) AS rank
      |FROM (
      |  SELECT a.vec_id AS anchor_id, c.vec_id AS negative_id,
      |         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                      CAST(c.embedding AS DOUBLE[])), 6) AS cosine
      |  FROM embeddings a JOIN embeddings c ON a.vec_id != c.vec_id
      |  WHERE a.vec_id % 100 = 0)
      |WHERE cosine < 0.9
      |QUALIFY rank <= 2""".stripMargin

  val similarityTruncatedSql: String =
    """SELECT query_id, neighbor_id, cosine_16, cosine_full,
      |       CAST(row_number() OVER (PARTITION BY query_id
      |              ORDER BY cosine_16 DESC, neighbor_id) AS INTEGER) AS rank
      |FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(CAST(q.embedding[1:16] AS DOUBLE[]),
      |                                      CAST(c.embedding[1:16] AS DOUBLE[])), 6) AS cosine_16,
      |         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                      CAST(c.embedding AS DOUBLE[])), 6) AS cosine_full
      |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      |  WHERE q.vec_id % 100 = 0)
      |QUALIFY rank <= 3""".stripMargin

  /** LSH-bucketed ANN. The hyperplane matrix is a pure function of
    * (table, plane, dim) — xxhash64 of literal strings, no data
    * dependence — so the oracle bakes the identical matrix into the SQL
    * as literals ([[annPlaneRows]]) and replays sign-bit bucketing +
    * cosine ranking in DuckDB. Bits are pinned (not auto-sized from the
    * corpus count) so the oracle's matrix matches at every SF; recall
    * under auto-sizing stays spec-pinned in ExtSpec.
    */
  def similarityAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embs(spark, sfDir)
    Similarity.lshTopK(
      e.filter(col("vec_id") % 100 === 0), e, "vec_id", "embedding", 5,
      bits = annBits, tables = annTables)
  }

  /** Hyperplane-LSH parameters pinned for oracle replay: 4 tables ×
    * 4-bit signatures keeps every bucket populated from sf0.001
    * (500 vectors → ~31/bucket) through sf0.1 (2000 → ~125/bucket).
    */
  private val annBits = 4
  private val annTables = 4

  /** The exact plane matrix [[graft.functions.VectorExprs.HyperplaneSig]]
    * derives per row, emitted once as SQL VALUES rows `(tbl, p, w)`:
    * component d of plane p in table t is
    * xxhash64('graft-lsh-&lt;t&gt;-&lt;p&gt;', d) (seed 42, the string hash
    * chaining into the int hash) pmod-mapped into [-1, 1] at 1e-6
    * resolution — every value an exact multiple of 1e-6, so the decimal
    * literals below parse to bit-identical doubles in any engine.
    */
  private def annPlaneRows(dim: Int): String = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.{IntegerType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    (for { t <- 0 until annTables; p <- 0 until annBits } yield {
      val seed = XxHash64Function.hash(
        UTF8String.fromString(s"graft-lsh-$t-$p"), StringType, 42L)
      val comps = (0 until dim).map { d =>
        val h = XxHash64Function.hash(d, IntegerType, seed)
        val e6 = ((h % 2000001L) + 2000001L) % 2000001L - 1000000L
        s"${e6}e-6"
      }
      s"($t, $p, [${comps.mkString(", ")}]::DOUBLE[])"
    }).mkString(",\n    ")
  }

  /** Oracle for `q_similarity_ann`: replay bucketing (sign of
    * vec·plane per table packed into a long), the per-table bucket
    * equi-join, pair dedup, and the 6-dp cosine ranking — candidate
    * sets, not just scores, must coincide for the hash to match.
    */
  val similarityAnnSql: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |planes(tbl, p, w) AS (VALUES
       |    ${annPlaneRows(64)}),
       |sigs AS (
       |  SELECT v.vec_id, planes.tbl,
       |         sum(CASE WHEN list_inner_product(v.e, planes.w) >= 0
       |                  THEN CAST(1 AS BIGINT) << planes.p ELSE 0 END) AS bucket
       |  FROM v CROSS JOIN planes
       |  GROUP BY v.vec_id, planes.tbl),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM sigs q JOIN sigs c ON q.tbl = c.tbl AND q.bucket = c.bucket
       |  WHERE q.vec_id % 100 = 0 AND q.vec_id != c.vec_id)
       |SELECT query_id, neighbor_id,
       |       round(list_cosine_similarity(qv.e, cv.e), 6) AS cosine,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY round(list_cosine_similarity(qv.e, cv.e), 6) DESC,
       |                       neighbor_id) AS INTEGER) AS rank
       |FROM cand
       |JOIN v qv ON qv.vec_id = cand.query_id
       |JOIN v cv ON cv.vec_id = cand.neighbor_id
       |QUALIFY rank <= 5""".stripMargin

  /** IVF ANN (coarse k-means quantizer + nprobe lists) — the second
    * scale path. Training is [[graft.ext.Clustering.kmeansFit]]
    * (lowest-id seeds, exact 4-dp integer-scaled means, 6-dp-rounded
    * assignment) — the same deterministic fit `q_kmeans` already
    * oracle-proves — so DuckDB replays seeds + Lloyd + probe + rank in
    * unrolled SQL and must land on the identical result set.
    */
  def similarityIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embs(spark, sfDir)
    val n = e.count()
    // nlist grows with the corpus (≈1000 vectors/list, min 16): at the
    // oracle SFs this IS 16, so the unrolled-SQL replay stays valid; at
    // rehearsal scale it is what keeps probe work per query flat
    // (fixed nlist=16 measured 50× on 10× data at sf1→sf10)
    val centroids = Clustering.kmeansFit(
      e, "vec_id", "embedding", Similarity.nlistFor(n), iters = 2, corpusCount = n)
    // only the ranking input is widened: the final cosine ranking is
    // CPU-dense per vector and the embeddings scan is a single split at
    // bench scale — unwidened it runs on 1 core (measured: the 1.26 s
    // ranked-join job was a 1-task stage at 32 cores; guide §2.5/§2.6).
    // The count and the training collect read the scan as is: the fit is
    // one collect, which a round-robin exchange would only delay. No-op
    // on an already-wide scan.
    val wide = widen(spark, e)
    Similarity.ivfSearch(
      wide.filter(col("vec_id") % 100 === 0), wide, "vec_id", "embedding", centroids, 5, nprobe = 4)
  }

  /** IVF index PERSISTED then probed ([[Similarity.buildIvfIndex]] /
    * [[Similarity.searchIvfIndex]]): same corpus, params, and
    * deterministic Lloyd as [[similarityIvf]], but the index round-trips
    * through two lake tables (postings hive-partitioned on list_id)
    * between build and search — so it shares q_similarity_ivf's oracle
    * verbatim, and a hash match proves the persisted probe is
    * bit-identical to the live build.
    */
  def similarityIvfPersisted(spark: SparkSession, sfDir: String): DataFrame = {
    // NOT widened: 0.88× with the widen in the r22 A/B — the lake
    // round-trip (manifest commits + postings write/read) dominates, so
    // the extra exchange never pays; the postings write parallelism fix
    // lives in buildIvfIndex's list_id clustering instead
    val e = embs(spark, sfDir)
    val root = graft.util.TempDirs.scratch("ivfidx")
    val n = e.count()
    Similarity.buildIvfIndex(
      e, "vec_id", "embedding", root,
      nlist = Similarity.nlistFor(n), iters = 2, corpusCount = n)
    Similarity.searchIvfIndex(
      e.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", root, 5, nprobe = 4)
  }

  /** Oracle for `q_similarity_ivf`: the [[kmeansClustersSql]] unrolled
    * two-iteration Lloyd fit at nlist=16 (seeds = vec_id &lt; 16, ids
    * being contiguous from 0 in the shipped testdata), then inversion
    * (every vector to its nearest final centroid), per-query top-4
    * probe lists (rounded cosine desc, ties to the lowest list id —
    * the same lexicographic rule Spark's array_sort/reverse/slice
    * applies), and 6-dp cosine ranking within probed lists.
    */
  val similarityIvfSql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, e AS c FROM v WHERE vec_id < 16),
      |a1 AS (SELECT vec_id, e,
      |         -struct_extract(max((round(list_cosine_similarity(e, c), 6), -cid)), 2) AS cl
      |       FROM v CROSS JOIN c0 GROUP BY vec_id, e),
      |ex1 AS (SELECT cl, unnest(list_transform(range(1, len(e) + 1),
      |                          i -> {'dim': i - 1, 'v': e[i]}), recursive := true) FROM a1),
      |ag1 AS (SELECT cl, dim, count(v) AS n,
      |               sum(CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS s
      |        FROM ex1 GROUP BY 1, 2),
      |c1 AS (SELECT CAST(cl AS INTEGER) AS cid,
      |              list(CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
      |                             ELSE -((-2 * s + n) // (2 * n)) END AS DOUBLE) / 10000.0
      |                   ORDER BY dim) AS c
      |       FROM ag1 GROUP BY cl),
      |a2 AS (SELECT vec_id, e,
      |         -struct_extract(max((round(list_cosine_similarity(e, c), 6), -cid)), 2) AS cl
      |       FROM v CROSS JOIN c1 GROUP BY vec_id, e),
      |ex2 AS (SELECT cl, unnest(list_transform(range(1, len(e) + 1),
      |                          i -> {'dim': i - 1, 'v': e[i]}), recursive := true) FROM a2),
      |ag2 AS (SELECT cl, dim, count(v) AS n,
      |               sum(CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS s
      |        FROM ex2 GROUP BY 1, 2),
      |c2 AS (SELECT CAST(cl AS INTEGER) AS cid,
      |              list(CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
      |                             ELSE -((-2 * s + n) // (2 * n)) END AS DOUBLE) / 10000.0
      |                   ORDER BY dim) AS c
      |       FROM ag2 GROUP BY cl),
      |inv AS (SELECT vec_id AS neighbor_id, e AS ce,
      |          -struct_extract(max((round(list_cosine_similarity(e, c), 6), -cid)), 2) AS list_id
      |        FROM v CROSS JOIN c2 GROUP BY vec_id, e),
      |pr AS (SELECT vec_id AS query_id, e AS qe, cid AS list_id,
      |         row_number() OVER (PARTITION BY vec_id
      |           ORDER BY round(list_cosine_similarity(e, c), 6) DESC, cid) AS pr_rank
      |       FROM v CROSS JOIN c2 WHERE vec_id % 100 = 0),
      |cand AS (SELECT pr.query_id, pr.qe, inv.neighbor_id, inv.ce
      |         FROM pr JOIN inv ON pr.list_id = inv.list_id
      |         WHERE pr.pr_rank <= 4 AND pr.query_id != inv.neighbor_id)
      |SELECT query_id, neighbor_id,
      |       round(list_cosine_similarity(qe, ce), 6) AS cosine,
      |       CAST(row_number() OVER (PARTITION BY query_id
      |              ORDER BY round(list_cosine_similarity(qe, ce), 6) DESC,
      |                       neighbor_id) AS INTEGER) AS rank
      |FROM cand
      |QUALIFY rank <= 5""".stripMargin

  // ---- multimodal ----------------------------------------------------------

  /** Binary-column metadata extraction over text-as-bytes payloads. */
  def multimodalMeta(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal
      .attachMetadata(
        docs(spark, sfDir).select(col("doc_id"), col("text").cast("binary").as("payload")),
        "payload")
      .select(
        col("doc_id"),
        col("media_bytes"),
        upper(col("media_magic")).as("media_magic"),
        col("media_sha"))

  val multimodalMetaSql: String =
    """SELECT doc_id,
      |       octet_length(encode(text)) AS media_bytes,
      |       upper(substring(hex(encode(text)), 1, 8)) AS media_magic,
      |       sha256(text) AS media_sha
      |FROM documents""".stripMargin

  /** REAL decode + frame sampling plumbing: multi-frame animated GIFs
    * (parameters closed-form in doc_id, encoded by the JDK's actual GIF
    * sequence writer) go through [[graft.ext.Multimodal.decodeImages]] —
    * `n_frames` is the reader's true `getNumImages(true)` container walk
    * and `gray_sum` frame 0's decoded pixel sum — joined with the
    * deterministic byte-slice frame sampler over the text payloads.
    * (Until r14 this query certified [[graft.ext.Multimodal.decodeStub]];
    * the stub remains only as documented plumbing shape, off the query
    * surface.)
    */
  def multimodalDecode(spark: SparkSession, sfDir: String): DataFrame = {
    val bin = docs(spark, sfDir).select(col("doc_id"), col("text").cast("binary").as("payload"))
    val decoded = Multimodal.decodeImages(
      spark,
      Multimodal.encodeSyntheticGifs(spark, widen(spark, docs(spark, sfDir).select(col("doc_id"))), "doc_id"),
      "payload")
    val frames = Multimodal.frameSample(bin, "doc_id", "payload", 4)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sampled"), max(md5(col("frame_bytes"))).as("max_md5"))
    decoded.join(frames, decoded("media_id") === frames("doc_id"))
      .select(col("media_id"), col("width"), col("height"), col("n_frames"),
        col("gray_sum"), col("n_sampled"), col("max_md5"))
  }

  /** Every decoded quantity is closed-form in doc_id (the GIF fixture's
    * generator params) and the frame digests are md5 over ASCII byte
    * slices, so DuckDB replays all of it: a decode that didn't really
    * walk the GIF container and rasterize frame 0 cannot match.
    */
  val multimodalDecodeSql: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |         greatest(length(text) / 4.0, 1.0) AS flen,
      |         8 + doc_id % 13 AS w, 8 + doc_id % 11 AS h
      |  FROM documents)
      |SELECT doc_id AS media_id,
      |  CAST(w AS INTEGER) AS width,
      |  CAST(h AS INTEGER) AS height,
      |  CAST(1 + doc_id % 5 AS INTEGER) AS n_frames,
      |  CAST(list_sum(list_transform(range(0, w * h),
      |         i -> (31 * doc_id + 7 * (i % w) + 13 * (i // w)) % 256)) AS BIGINT)
      |    AS gray_sum,
      |  CAST(4 AS BIGINT) AS n_sampled,
      |  list_max(list_transform(range(0, 4),
      |    i -> md5(substring(text, CAST(trunc(i * flen + 1) AS INT),
      |                       CAST(trunc(flen) AS INT))))) AS max_md5
      |FROM d""".stripMargin

  /** REAL codec roundtrip: deterministic grayscale images (dimensions
    * and pixels closed-form in doc_id) are encoded by the JDK's actual
    * PNG/BMP/JPEG writers, sniffed, then decoded by
    * [[graft.ext.Multimodal.decodeImages]] — real `ImageIO` decode, not
    * byte arithmetic. The oracle predicts media kind, decoded
    * dimensions, and (for the lossless formats) the exact pixel sum
    * from the generator's parameters alone; a fake decode cannot match
    * it. JPEG is lossy, so its pixel sum is nulled on BOTH sides —
    * dimensions still verify.
    */
  def multimodalDecodeReal(spark: SparkSession, sfDir: String): DataFrame = {
    val enc = Multimodal.encodeSyntheticImages(
      spark, widen(spark, docs(spark, sfDir).select(col("doc_id"))), "doc_id")
    val sniffed = Multimodal
      .attachMetadata(enc, "payload")
      .select(col("media_id"), col("fmt"), col("media_kind"), col("payload"))
    Multimodal.decodeImages(spark, sniffed, "payload")
      .select(
        col("media_id"),
        col("media_kind"),
        col("width"),
        col("height"),
        col("n_frames"),
        col("n_pixels"),
        when(col("fmt") === "jpg", lit(null).cast("long"))
          .otherwise(col("gray_sum")).as("gray_sum"))
  }

  val multimodalDecodeRealSql: String =
    """SELECT doc_id AS media_id,
      |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image/png'
      |       WHEN 1 THEN 'image/bmp' ELSE 'image/jpeg' END AS media_kind,
      |  CAST(8 + doc_id % 13 AS INTEGER) AS width,
      |  CAST(8 + doc_id % 11 AS INTEGER) AS height,
      |  CAST(1 AS INTEGER) AS n_frames,
      |  CAST((8 + doc_id % 13) * (8 + doc_id % 11) AS INTEGER) AS n_pixels,
      |  CASE WHEN doc_id % 3 = 2 THEN NULL
      |       ELSE CAST(list_sum(list_transform(
      |              range(0, (8 + doc_id % 13) * (8 + doc_id % 11)),
      |              i -> (31 * doc_id + 7 * (i % (8 + doc_id % 13))
      |                    + 13 * (i // (8 + doc_id % 13))) % 256)) AS BIGINT)
      |  END AS gray_sum
      |FROM documents""".stripMargin

  /** REAL image resize over the codec-roundtrip fixture: every
    * synthetic image is decoded and nearest-neighbor downsampled to
    * 4×4 by [[graft.ext.Multimodal.resizeImages]]. The oracle replays
    * the sampling grid in SQL — source pixel for target (x, y) is
    * ((x·w) div 4, (y·h) div 4), value from the generator's closed
    * form — so only a real decode-then-sample of the true raster
    * matches; JPEG's lossy sum is nulled on both sides (dimensions
    * still verify).
    */
  def multimodalResize(spark: SparkSession, sfDir: String): DataFrame = {
    val enc = Multimodal.encodeSyntheticImages(
      spark, widen(spark, docs(spark, sfDir).select(col("doc_id"))), "doc_id")
    Multimodal.resizeImages(spark, enc, "payload", 4, 4)
      .select(
        col("media_id"),
        col("resized_w"),
        col("resized_h"),
        when(col("fmt") === "jpg", lit(null).cast("long"))
          .otherwise(col("resized_sum")).as("resized_sum"),
        (length(col("resized_png")) > 0).as("has_payload"))
  }

  val multimodalResizeSql: String =
    """SELECT doc_id AS media_id,
      |  CAST(4 AS INTEGER) AS resized_w,
      |  CAST(4 AS INTEGER) AS resized_h,
      |  CASE WHEN doc_id % 3 = 2 THEN NULL
      |       ELSE CAST(list_sum(list_transform(
      |              range(0, 16),
      |              i -> (31 * doc_id
      |                    + 7 * (((i % 4) * (8 + doc_id % 13)) // 4)
      |                    + 13 * (((i // 4) * (8 + doc_id % 11)) // 4)) % 256)) AS BIGINT)
      |  END AS resized_sum,
      |  true AS has_payload
      |FROM documents""".stripMargin

  /** REAL frame extraction — the keyframe-sampling shape of a video
    * pipeline over the multi-frame container the JDK actually decodes:
    * every image block of each animated-GIF fixture becomes its own row
    * with its decoded dimensions and pixel sum. The oracle laterally
    * unnests the closed-form frame count and replays each frame's pixel
    * formula — per-frame sums differ (the 97·f term), so only a real
    * per-block decode matches every row.
    */
  def multimodalFrames(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.extractFrames(
      spark,
      Multimodal.encodeSyntheticGifs(spark, widen(spark, docs(spark, sfDir).select(col("doc_id"))), "doc_id"),
      "media_id",
      "payload")

  val multimodalFramesSql: String =
    """SELECT doc_id AS media_id,
      |  CAST(f AS INTEGER) AS frame_idx,
      |  CAST(8 + doc_id % 13 AS INTEGER) AS width,
      |  CAST(8 + doc_id % 11 AS INTEGER) AS height,
      |  CAST(list_sum(list_transform(range(0, (8 + doc_id % 13) * (8 + doc_id % 11)),
      |         i -> (31 * doc_id + 7 * (i % (8 + doc_id % 13))
      |               + 13 * (i // (8 + doc_id % 13)) + 97 * f) % 256)) AS BIGINT)
      |    AS gray_sum
      |FROM documents, unnest(range(0, 1 + doc_id % 5)) AS t(f)""".stripMargin

  /** REAL audio roundtrip: closed-form mono 16-bit PCM clips through the
    * JDK's actual WAVE encoder, sniffed (RIFF/WAVE magic), then decoded
    * by [[graft.ext.Multimodal.decodeAudio]] — real `javax.sound.sampled`
    * container parse + PCM frame checksum. The oracle predicts header
    * fields, frame count, and the exact sample sum from the generator
    * params alone; a fake parse cannot match the sum of ((211·id + 37·i)
    * mod 4001) − 2000 over i < 64 + id%97.
    */
  /** Image DEDUP by perceptual hash over real rasters: the seeded
    * fixture plants pixel-identical images under distinct media ids
    * (content keyed on doc_id mod 100), each is decoded and
    * dHash-fingerprinted ([[graft.ext.Multimodal.imageDHash]]), and
    * hash-equal groups ≥ 2 come back — the image twin of
    * `q_dedup_exact`, except equality is established on the DECODED
    * raster (PNG and BMP containers of the same image collide, byte
    * equality would not). Hash-groupBy on the 64-bit fingerprint —
    * exact-dedup scaling, no pair joins. The oracle replays the NN
    * grid + gradient bits closed-form from the seed.
    */
  def imageDedupPhash(spark: SparkSession, sfDir: String): DataFrame = {
    val enc = Multimodal.encodeSyntheticImagesSeeded(
      spark, widen(spark, docs(spark, sfDir).select(col("doc_id"))), "doc_id", 100L)
    Multimodal.imageDHash(spark, enc, "payload")
      .groupBy(col("dhash"))
      .agg(count(lit(1)).as("n_images"), min(col("media_id")).as("min_media_id"))
      .filter(col("n_images") >= 2)
  }

  val imageDedupPhashSql: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 100 AS seed,
      |         8 + (doc_id % 100) % 13 AS w, 8 + (doc_id % 100) % 11 AS h
      |  FROM documents),
      |v AS (
      |  SELECT doc_id,
      |         list_transform(range(0, 72),
      |           i -> (31 * seed + 7 * (((i % 9) * w) // 9)
      |                 + 13 * (((i // 9) * h) // 8)) % 256) AS grid
      |  FROM g),
      |hashed AS (
      |  SELECT doc_id,
      |         list_aggregate(list_transform(range(0, 64),
      |           i -> CASE WHEN grid[CAST((i // 8) * 9 + (i % 8) + 2 AS INTEGER)]
      |                        > grid[CAST((i // 8) * 9 + (i % 8) + 1 AS INTEGER)]
      |                     THEN '1' ELSE '0' END), 'string_agg', '') AS dhash
      |  FROM v)
      |SELECT dhash, count(*) AS n_images, min(doc_id) AS min_media_id
      |FROM hashed GROUP BY dhash HAVING count(*) >= 2""".stripMargin

  /** Windowed audio ENERGY over real decoded PCM
    * ([[graft.ext.Multimodal.audioWindowEnergy]], 32-sample frames) —
    * the framing/feature stage after [[multimodalAudio]]'s header
    * decode. Per-frame Σ sample² is exact integer arithmetic over the
    * fixture's closed-form samples, so the oracle replays every frame's
    * energy — per-frame values differ (the 37·i term), so only a real
    * sample-accurate PCM decode matches all rows.
    */
  def multimodalAudioEnergy(spark: SparkSession, sfDir: String): DataFrame = {
    // NOT widened (r21 A/B 0.67 -> 1.7-1.8 s): WAV encode/decode of tiny
    // PCM clips is cheap per row, so the widen shuffle + 32-task overhead
    // dominates — unlike the ImageIO paths, which win 2x
    val enc = Multimodal.encodeSyntheticWavs(
      spark, docs(spark, sfDir).select(col("doc_id")), "doc_id")
    Multimodal.audioWindowEnergy(spark, enc, "payload", 32)
      .select(col("media_id"), col("window_idx"), col("n_samples"), col("energy"))
  }

  val multimodalAudioEnergySql: String =
    """WITH p AS (SELECT doc_id, 64 + doc_id % 97 AS n FROM documents),
      |w AS (SELECT doc_id, n,
      |             unnest(range(0, (n + 31) // 32)) AS widx
      |      FROM p)
      |SELECT doc_id AS media_id,
      |       CAST(widx AS INTEGER) AS window_idx,
      |       CAST(least(32, n - widx * 32) AS INTEGER) AS n_samples,
      |       CAST(list_sum(list_transform(
      |              range(widx * 32, least(widx * 32 + 32, n)),
      |              i -> ((211 * doc_id + 37 * i) % 4001 - 2000)
      |                   * ((211 * doc_id + 37 * i) % 4001 - 2000))) AS BIGINT) AS energy
      |FROM w""".stripMargin

  def multimodalAudio(spark: SparkSession, sfDir: String): DataFrame = {
    // NOT widened — same A/B as multimodalAudioEnergy (0.94 -> 2.0-2.4 s)
    val enc = Multimodal.encodeSyntheticWavs(
      spark, docs(spark, sfDir).select(col("doc_id")), "doc_id")
    val sniffed = Multimodal
      .attachMetadata(enc, "payload")
      .select(col("media_id"), col("media_kind"), col("payload"))
    Multimodal.decodeAudio(spark, sniffed, "payload")
      .select(
        col("media_id"),
        col("media_kind"),
        col("n_channels"),
        col("sample_rate"),
        col("bits_per_sample"),
        col("n_samples"),
        col("sample_sum"))
  }

  val multimodalAudioSql: String =
    """SELECT doc_id AS media_id,
      |  'audio/wav' AS media_kind,
      |  CAST(1 AS INTEGER) AS n_channels,
      |  CAST(8000 AS INTEGER) AS sample_rate,
      |  CAST(16 AS INTEGER) AS bits_per_sample,
      |  CAST(64 + doc_id % 97 AS BIGINT) AS n_samples,
      |  CAST(list_sum(list_transform(range(0, 64 + doc_id % 97),
      |         i -> (211 * doc_id + 37 * i) % 4001 - 2000)) AS BIGINT) AS sample_sum
      |FROM documents""".stripMargin

  // ---- corpus construction -------------------------------------------------

  /** BLOCKED FUZZY JOIN (record linkage): deterministic typo'd probes
    * (one interior character deleted from every third part name) are
    * matched back against the catalog under edit distance ≤ 1. The
    * blocking key (first char, last char, LENGTH) — first/last survive
    * an interior deletion, and distance ≤ 1 bounds the length gap to
    * ±1, so the catalog side fans out to its three admissible lengths
    * and the join stays a pure equi-join. Recall of the planted match
    * is exactly 1 (lossless blocking), and candidates shrink from
    * Σ (first,last)-block² to Σ (first,last,len)-block² — the length
    * term is what keeps block growth sub-quadratic as the corpus
    * scales (measured: the coarser key ran 6.2× on 10× data; this one
    * ~2×). Verify is Spark's builtin codegen'd BOUNDED `levenshtein`
    * (threshold = 1): the banded DP costs O(len·1) per candidate
    * instead of the full O(len²) matrix, and -1 ("past the bound") is
    * exact, so the kept rows and their distances are identical to the
    * unbounded verify — the r19 rehearsal measured 2.06B candidates at
    * sf10 (avg 1091/probe: 4.1 → 32 → 313 → 647 → 1091 across
    * sf0.001→sf10, sub-linear once the decorrelation suffixes split
    * the (first,last) space), so the verify band is the dominant
    * constant at scale. DuckDB replays the same relation with its
    * unbounded `levenshtein` under the same ≤ 1 predicate.
    */
  def fuzzyJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val parts = Testdata.read(spark, sfDir, "part")
      .select(col("p_partkey"), lower(col("p_name")).as("name"))
    val probes = parts
      .filter(col("p_partkey") % 3 === 0 && length(col("name")) >= 4)
      .withColumn("d", (col("p_partkey") % (length(col("name")) - 2) + 1).cast("int"))
      .select(
        col("p_partkey").as("probe_key"),
        concat(
          expr("substring(name, 1, d)"),
          expr("substring(name, d + 2)")).as("probe"))
      .withColumn("plen", length(col("probe")))
    // CLASS-LEVEL blocking + verify, KEY-LEVEL expansion (same scale
    // design as [[fuzzyJoinDeletes]]'s core, r19): ed(x, y) depends
    // only on the string VALUES, so the Σ block² verify runs once per
    // DISTINCT string pair and the (multiplicity²-sized) output is
    // produced by two exact equi-joins afterwards. On the profiled
    // sf10 corpus (64 base names, multiplicity ~320) this collapses
    // the 2.06B key-level verifies to the ~38k distinct class pairs;
    // a multiplicity-1 corpus degenerates to the direct plan.
    val probeClasses = probes.select(col("probe"), col("plen")).distinct()
      // blocked-join verify work is Σ block², but everything upstream
      // is map-only over one small parquet split — rebalance so the
      // levenshtein probe runs on every core, not the file's one
      // partition (same fix as the q-gram variant; at 100 TB the
      // input's natural splits already provide this). Sized from the
      // session, not a literal: the bench contract is 32 cores today,
      // a cluster session isn't.
      .repartition(spark.sparkContext.defaultParallelism)
    val fanned = parts.select(col("name")).distinct().select(
      col("name"),
      explode(array(
        length(col("name")) - 1,
        length(col("name")),
        length(col("name")) + 1)).as("flen"))
    // a (probe, name) class pair matches at most ONE fan row (the one
    // with flen = plen), so classPairs is distinct by construction and
    // the expansion emits each (probe_key, match_key) exactly once
    val classPairs = probeClasses
      .join(
        fanned,
        col("plen") === col("flen") &&
          substring(col("probe"), 1, 1) === substring(col("name"), 1, 1) &&
          expr("right(probe, 1)") === expr("right(name, 1)"))
      .withColumn("dist", levenshtein(col("probe"), col("name"), 1))
      .filter(col("dist") >= 0)
      .select(col("probe"), col("name"), col("dist"))
    probes
      .drop("plen")
      .join(classPairs, Seq("probe"))
      .join(parts, Seq("name"))
      .select(
        col("probe_key"),
        col("p_partkey").as("match_key"),
        col("dist"))
  }

  val fuzzyJoinSql: String =
    """WITH parts AS (SELECT p_partkey, lower(p_name) AS name FROM part),
      |pr AS (
      |  SELECT p_partkey AS probe_key, name,
      |         CAST(p_partkey % (length(name) - 2) + 1 AS INTEGER) AS d
      |  FROM parts WHERE p_partkey % 3 = 0 AND length(name) >= 4),
      |probes AS (
      |  SELECT probe_key,
      |         substring(name, 1, d) || substring(name, d + 2) AS probe
      |  FROM pr),
      |fanned AS (
      |  SELECT p_partkey, name,
      |         unnest([length(name) - 1, length(name), length(name) + 1]) AS plen
      |  FROM parts)
      |SELECT probe_key, f.p_partkey AS match_key,
      |       CAST(levenshtein(probe, f.name) AS INTEGER) AS dist
      |FROM probes JOIN fanned f
      |  ON length(probe) = f.plen
      | AND substring(probe, 1, 1) = substring(f.name, 1, 1)
      | AND right(probe, 1) = right(f.name, 1)
      |WHERE levenshtein(probe, f.name) <= 1""".stripMargin

  /** Q-GRAM-BLOCKED FUZZY JOIN — the opt-in alternative blocking key for
    * [[fuzzyJoin]], for corpora where the (first, last, length) key
    * leaves oversized blocks (short names, shared prefixes). Ed-Join's
    * prefix filter with GLOBAL GRAM FREQUENCY (rarest-first, gram text
    * as tiebreak) as the total order: each string blocks on its
    * q·d+1 = 4 rarest grams. Prefix-filter recall only needs a
    * CONSISTENT total order across both sides, so the q-gram lemma
    * still makes this LOSSLESS for edit distance ≤ 1 on distinct-gram
    * sets (an edit destroys ≤ q·d = 3 distinct 3-grams, so two matching
    * strings must share a gram inside both 4-gram prefixes) — and
    * unlike the default key it is complete for the FULL ed≤1 relation,
    * including first/last-character edits the (first, last, length) key
    * deliberately gives up (its planted workload only needs interior
    * edits). The oracle is therefore the BRUTE-FORCE levenshtein join,
    * the strongest possible recall check. The frequency order is
    * load-bearing, not a tuning detail: a hash/random total order over
    * a SMALL gram vocabulary (this corpus builds names from ~92
    * dictionary words) puts the globally-first grams into every
    * signature containing them, recreating the giant blocks the filter
    * exists to avoid.
    *
    * Plan shape — the signature stage is MAP-ONLY. Frequencies are one
    * distributed hash aggregation over exploded grams, then COLLECTED:
    * the 3-gram vocabulary is alphabet-bounded (≤ |Σ|³ independent of
    * corpus size — same bounded-driver-structure argument as centroids
    * and codebooks), so it rides into the plan as a map literal and
    * each string's prefix is `transform(grams, g -> (freq[g], g))` →
    * `array_sort` → `slice(.., 1, 4)` over its in-row grams — no
    * per-gram rows, no keyed window, no signature shuffle (the r15
    * version paid two `row_number` window exchanges here). Grams absent
    * from the catalog vocabulary are dropped from the probe's candidate
    * list before ranking (the map-literal equivalent of the former
    * inner join against the freq table). q = 3 (not 2): 2-grams over
    * dictionary words are shared across large catalog fractions. The ±1
    * length band rides INSIDE the equi-join key (catalog side fans to
    * its three admissible lengths, like the default key does). The
    * levenshtein verify runs BEFORE the pair-dedup, so the one dedup
    * exchange carries only true matches (≈|probes| rows), not every
    * candidate pair.
    *
    * Honest selectivity note, measured at sf0.1: this corpus is SHORT
    * two-word names (7–12 chars) over a 78-gram vocabulary where every
    * gram hits 1.4–25% of the catalog, so even the 4-rarest prefix
    * leaves ~24M candidate pairs vs 133M brute — only a 5.5× cut. The
    * verify is therefore the bulk of the work, and because everything
    * upstream of the join is map-only over one small parquet file, the
    * plan would otherwise probe all 24M pairs on the file's ~1 input
    * partition: the explicit `repartition(defaultParallelism)` before the join is what
    * spreads the levenshtein work across cores (28.3 s → 4.1 s cold /
    * 2.3 s warm at sf0.1). At 100 TB the same holds with the input's
    * natural partitioning; the rebalance is only load-bearing when the
    * source collapses to a handful of splits.
    *
    * SCALE LIMIT, measured, and the DISPATCH that retires it: the 5.5×
    * cut does not hold a decade up — at sf1 (10× rows, same vocabulary)
    * blocks grow linearly per gram, candidates quadratically: 372 s
    * standalone, 46× on 10× data. That is a property of the CORPUS
    * (dense tiny vocabulary), not of the plan — so this operator now
    * measures that density from the freq map it already collects (avg
    * block mass of a string's 4-gram prefix) and COST-DISPATCHES to
    * [[fuzzyJoinDeletes]]'s deletion-neighborhood core past
    * [[QGramDispatchBlock]], where candidate volume tracks name
    * multiplicity instead of vocabulary density. Both blockings are
    * lossless for ed ≤ 1, so the dispatch never changes the result
    * (spec-pinned at a forced threshold; the brute oracle still
    * hash-matches either way). The prefix filter remains the plan on
    * corpora where it classically wins — long strings, large sparse
    * gram vocabularies, thresholds d ≥ 2 where deletion neighborhoods
    * blow up combinatorially — and keeps running at oracle scale here,
    * so the correctness gate exercises the real filter, not the
    * fallback.
    */
  def fuzzyJoinQGram(spark: SparkSession, sfDir: String): DataFrame =
    fuzzyJoinQGram(spark, sfDir, QGramDispatchBlock)

  /** Average per-string prefix-block mass above which the prefix filter
    * is COST-DISPATCHED to the deletion-neighborhood plan: an effective
    * prefix filter leaves O(1) candidates per probe; once the 4 rarest
    * grams of an average string already cover hundreds of catalog rows,
    * verify work is block-bound and grows ~N² (the measured 46× on 10×
    * data), while deletion-neighborhood keys stay match-bound. Measured
    * densities on this corpus: sf0.001 = 83, sf0.01 = 840, sf0.1 =
    * 8433, sf1 = 60k, sf10 = 313k — 2000 keeps the genuine
    * prefix-filter plan on sparse corpora and through the oracle scales
    * (the sf0.01 correctness gate verifies the real filter), and flips
    * the dense sf ≥ 0.1 replicas to the scale path. Both plans are
    * lossless for ed ≤ 1, so the dispatch is invisible to the
    * brute-force oracle — a cost-based physical choice, not a semantic
    * one (the Ed-Join vs FastSS pick every record-linkage engine makes
    * by hand, made from the measured gram-frequency map instead).
    */
  val QGramDispatchBlock: Double = 2000.0

  /** Driver-side bound on the collected gram-frequency map (top-K most
    * frequent grams; absent = rare). 64k entries ≈ a few MB as a plan
    * literal — comfortably past any alphabet-bounded domain, fixed cost
    * on open-vocabulary corpora where the full vocabulary is unbounded.
    */
  val QGramFreqCap: Int = 65536

  private[graft] def fuzzyJoinQGram(
      spark: SparkSession, sfDir: String, dispatchAt: Double): DataFrame = {
    val parts = Testdata.read(spark, sfDir, "part")
      .select(col("p_partkey"), lower(col("p_name")).as("name"))
    val probes = parts
      .filter(col("p_partkey") % 3 === 0 && length(col("name")) >= 4)
      .withColumn("d", (col("p_partkey") % (length(col("name")) - 2) + 1).cast("int"))
      .select(
        col("p_partkey").as("probe_key"),
        concat(
          expr("substring(name, 1, d)"),
          expr("substring(name, d + 2)")).as("probe"))
    fuzzyJoinQGramCore(spark, parts, probes, dispatchAt, QGramFreqCap)
  }

  /** The q-gram core over explicit frames — `parts(p_partkey, name)`,
    * `probes(probe_key, probe)` — with the freq-map cap a parameter so
    * the cap's recall-safety is spec-testable on a planted
    * high-cardinality vocabulary (FuzzyJoinDispatchSpec).
    */
  private[graft] def fuzzyJoinQGramCore(
      spark: SparkSession,
      parts: DataFrame,
      probes: DataFrame,
      dispatchAt: Double,
      freqCap: Int): DataFrame = {
    def gramsOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array_distinct(transform(sequence(lit(1), length(c) - 2), i => c.substr(i, lit(3))))
    // BOUNDED collect: only the top-K most frequent grams ride to the
    // driver and into the plan-literal map (deterministic order:
    // count desc, gram asc). On an alphabet-bounded domain (lowercase
    // p_name: ≤ |Σ|³ grams) the cap is never hit and the map is exact;
    // on open-vocabulary text (unicode/CJK 3-gram vocabularies run
    // 10⁸+) the collect stays K entries no matter the corpus. A gram
    // absent from the map is treated as RARE (count 0, rarest rank) —
    // recall-safe: the prefix-filter lemma holds for ANY total order
    // on grams applied consistently to both sides, and (count, gram)
    // with absent→0 is exactly such an order. The prefix computation
    // below never leaves the scan's map stage either way.
    val freqs = parts.select(explode(gramsOf(col("name"))).as("g"))
      .groupBy("g").count()
      .orderBy(col("count").desc, col("g").asc)
      .limit(freqCap)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val freqMap = typedLit(freqs)
    def rankedGrams(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array_sort(
        transform(
          gramsOf(c),
          g => struct(coalesce(element_at(freqMap, g), lit(0L)).as("count"), g.as("g"))))
    // DENSITY PROBE, then dispatch: avg over catalog strings of the
    // total frequency of their 4 rarest grams = the expected block mass
    // an average probe's prefix joins against. Computed over a BOUNDED
    // row sample (the scalar only steers a physical-plan choice; 100k
    // strings estimate it fine at any corpus size), decided on the
    // driver before any join is planned. An empty catalog yields a
    // null avg → 0.0 → prefix path, which correctly returns no pairs.
    val prefixMass = aggregate(
      slice(rankedGrams(col("name")), 1, 4),
      lit(0L),
      (acc, s) => acc + s("count"))
    val avgBlock = Option(parts.limit(100000).select(avg(prefixMass)).head().get(0))
      .map(_.asInstanceOf[Double]).getOrElse(0.0)
    if (avgBlock > dispatchAt)
      return deletesJoinCore(spark, parts, probes)
    def signature(df: DataFrame, keyCol: String, strCol: String): DataFrame =
      df.select(
        col(keyCol), col(strCol),
        explode(
          transform(slice(rankedGrams(col(strCol)), 1, 4), s => s("g"))).as("g"))
    val probeSide = signature(probes, "probe_key", "probe")
      .withColumn("plen", length(col("probe")))
      .repartition(spark.sparkContext.defaultParallelism)
    val catSide = signature(parts, "p_partkey", "name")
      .select(
        col("p_partkey"), col("name"), col("g"),
        explode(array(
          length(col("name")) - 1,
          length(col("name")),
          length(col("name")) + 1)).as("plen"))
    probeSide
      .join(catSide, Seq("g", "plen"))
      // bounded banded-DP verify (see [[fuzzyJoin]]): -1 = past the
      // bound, exact; survivors keep their true distance
      .withColumn("dist", levenshtein(col("probe"), col("name"), 1))
      .filter(col("dist") >= 0)
      .select(
        col("probe_key"),
        col("p_partkey").as("match_key"),
        col("dist"))
      .distinct() // a pair can share up to 4 prefix grams; dist is
                  // deterministic per pair, so this is exactly pair-dedup
  }

  /** DELETION-NEIGHBORHOOD FUZZY JOIN (FastSS / SymSpell blocking) —
    * the SCALE PATH for ed ≤ 1, and the fix for the measured quadratic
    * blowup of the q-gram prefix filter on this corpus (46× on 10×
    * data at sf0.1→sf1: short names over a 78-gram vocabulary where
    * every gram hits 1.4–25% of the catalog leave the prefix filter
    * with ~N²-growing blocks). Each string blocks on
    * K(x) = {x} ∪ del1(x) (every single-character deletion, len+1 keys
    * of ~len chars). LOSSLESS for the FULL ed≤1 relation:
    *
    *   - x = y           → x ∈ K(x) ∩ K(y);
    *   - substitution @i → deleting i from both sides yields the same
    *     string in both neighborhoods;
    *   - insertion/deletion → the shorter string IS a member of the
    *     longer one's neighborhood (and of its own).
    *
    * Keys are near-unique strings, so block sizes track NAME
    * MULTIPLICITY (how many catalog rows share a near-identical name),
    * not vocabulary density — candidate pairs stay proportional to the
    * true match count, which is the floor any join must pay. Measured
    * at sf10 (r19, 64-distinct-name corpus, multiplicity ~320): 290M
    * candidates against a 261M-row true ed≤1 relation — 11% waste,
    * i.e. the blocking is output-optimal and the query is output-bound
    * (the workload's own size, not a plan artifact, sets the runtime). The
    * trade-off against the prefix filter is threshold growth: del-
    * neighborhoods scale C(len, d) keys at distance d (prohibitive
    * past d ≈ 2 on long strings), while prefix filters scale q·d+1 —
    * which is why both variants exist and the scaladocs cross-point.
    * Shares the brute-force levenshtein oracle with the q-gram variant
    * (the strongest recall check); same verify-before-dedup and
    * probe-repartition plan shape.
    */
  def fuzzyJoinDeletes(spark: SparkSession, sfDir: String): DataFrame = {
    val parts = Testdata.read(spark, sfDir, "part")
      .select(col("p_partkey"), lower(col("p_name")).as("name"))
    val probes = parts
      .filter(col("p_partkey") % 3 === 0 && length(col("name")) >= 4)
      .withColumn("d", (col("p_partkey") % (length(col("name")) - 2) + 1).cast("int"))
      .select(
        col("p_partkey").as("probe_key"),
        concat(
          expr("substring(name, 1, d)"),
          expr("substring(name, d + 2)")).as("probe"))
    deletesJoinCore(spark, parts, probes)
  }

  /** The deletion-neighborhood join itself, shared between
    * [[fuzzyJoinDeletes]] and [[fuzzyJoinQGram]]'s density dispatch.
    * `parts` = (p_partkey, name); `probes` = (probe_key, probe).
    */
  private def deletesJoinCore(
      spark: SparkSession, parts: DataFrame, probes: DataFrame): DataFrame = {
    // {x} ∪ del1(x): the string itself plus every one-char deletion
    def delKeys(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array_distinct(concat(
        array(c),
        transform(
          sequence(lit(1), length(c)),
          i => concat(c.substr(lit(1), i - 1), c.substr(i + 1, length(c))))))
    // CLASS-LEVEL blocking + verify, KEY-LEVEL expansion — the
    // high-multiplicity scale design. ed(x, y) depends only on the
    // string VALUES, so block and verify once per DISTINCT string pair
    // and only then expand back to keys. On the r19-profiled sf10
    // corpus (64 base names, multiplicity ~320) the direct key-level
    // join verified 290M candidate rows that collapse to ~38k distinct
    // string pairs and then paid a 261M-row distinct — everything
    // between the two groupBys below is now proportional to DISTINCT
    // strings, and on a multiplicity-1 corpus the plan degenerates to
    // the direct join (the groupBys are no-op-sized, same asymptotics).
    val nameClasses = parts.select(col("name")).distinct()
    val probeClasses = probes.select(col("probe")).distinct()
    // join on xxhash64 of the deletion key, not the ~len-char string
    // itself: an 8-byte long halves the shuffled bytes and makes every
    // sort/hash comparison a single long compare. A hash collision
    // only ADDS a candidate pair, and the levenshtein verify below is
    // load-bearing anyway (key-sharing only bounds ed ≤ 2), so the
    // result is exactly the string-keyed join's.
    val probeSide = probeClasses
      .select(col("probe"), explode(delKeys(col("probe"))).as("k"))
      .select(col("probe"), xxhash64(col("k")).as("kh"))
    val catSide = nameClasses
      .select(col("name"), explode(delKeys(col("name"))).as("k"))
      .select(col("name"), xxhash64(col("k")).as("kh"))
    val classPairs = probeSide
      .join(catSide, Seq("kh"))
      // sharing a deletion variant only bounds ed ≤ 2 — the levenshtein
      // verify is still load-bearing; bounded banded DP (see
      // [[fuzzyJoin]]): -1 = past the bound, exact
      .withColumn("dist", levenshtein(col("probe"), col("name"), 1))
      .filter(col("dist") >= 0)
      .select(col("probe"), col("name"), col("dist"))
      .distinct() // a class pair can share several deletion keys
    // expansion: probe_key is unique per probe row and p_partkey per
    // part row, and classPairs is distinct on (probe, name), so each
    // output (probe_key, match_key) appears EXACTLY once — no final
    // distinct over the (multiplicity²-sized) output. AQE broadcasts
    // classPairs when it is small; on low-multiplicity corpora the
    // joins fall back to shuffles sized like the direct plan's.
    probes
      .join(classPairs, Seq("probe"))
      .join(parts, Seq("name"))
      .select(
        col("probe_key"),
        col("p_partkey").as("match_key"),
        col("dist"))
  }

  /** Brute-force ed≤1 join — the blocking-free ground truth the q-gram
    * prefix filter must reproduce exactly.
    */
  val fuzzyJoinQGramSql: String =
    """WITH parts AS (SELECT p_partkey, lower(p_name) AS name FROM part),
      |pr AS (
      |  SELECT p_partkey AS probe_key, name,
      |         CAST(p_partkey % (length(name) - 2) + 1 AS INTEGER) AS d
      |  FROM parts WHERE p_partkey % 3 = 0 AND length(name) >= 4),
      |probes AS (
      |  SELECT probe_key,
      |         substring(name, 1, d) || substring(name, d + 2) AS probe
      |  FROM pr)
      |SELECT probe_key, p.p_partkey AS match_key,
      |       CAST(levenshtein(probe, p.name) AS INTEGER) AS dist
      |FROM probes CROSS JOIN parts p
      |WHERE levenshtein(probe, p.name) <= 1""".stripMargin

  /** Length-curriculum sample ([[graft.ext.Sampling.curriculumByDecile]]
    * over `n_chars`): keep (d+1)/10 of decile d, so the mix tilts
    * toward long documents while every decile stays represented.
    * Decile boundaries are exact percentiles broadcast as plan
    * literals; membership is the md5 hash rule — see the function
    * scaladoc for why this beats a global `ntile()` at scale.
    */
  def curriculumSample(spark: SparkSession, sfDir: String): DataFrame =
    Sampling
      .curriculumByDecile(docs(spark, sfDir), "doc_id", "n_chars")
      .select(col("doc_id"), col("n_chars"), col("decile"))

  val curriculumSampleSql: String =
    """WITH b AS (
      |  SELECT quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, n_chars,
      |         CAST(len(list_filter((SELECT bs FROM b), x -> n_chars > x)) AS INTEGER) AS decile
      |  FROM documents)
      |SELECT doc_id, n_chars, decile
      |FROM d
      |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
      |      < (decile + 1) * 1000""".stripMargin

  /** Exact-count stratified sample: 50 documents per source,
    * deterministic (md5-hash order within stratum). The rank filter
    * plans as `WindowGroupLimit` so each map task pre-prunes to its
    * local 50 before the shuffle — no stratum ever funnels whole
    * through one reducer.
    */
  def sampleStratified(spark: SparkSession, sfDir: String): DataFrame =
    Sampling
      .stratifiedExact(docs(spark, sfDir), "doc_id", "source", 50)
      .select(col("doc_id"), col("source"), col("sample_rank"))

  /** Weight-proportional 100-document sample (priority sampling): long
    * documents are proportionally likelier, selection is a pure function
    * of doc_id, and the only wide op is a TakeOrderedAndProject top-k.
    * The oracle replays the identical md5-uniform and single IEEE
    * division, so the selected set (and each priority double) is
    * engine-exact.
    */
  def sampleWeighted(spark: SparkSession, sfDir: String): DataFrame =
    Sampling
      .prioritySample(docs(spark, sfDir), "doc_id", length(col("text")), 100)
      .select(col("doc_id"), col("source"), length(col("text")).as("weight"), col("priority"))

  val sampleWeightedSql: String =
    """SELECT doc_id, source, CAST(length(text) AS INTEGER) AS weight,
      |       CAST(length(text) AS DOUBLE) /
      |         (CAST(('0x' || substring(md5(':' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
      |         AS priority
      |FROM documents
      |ORDER BY priority DESC, doc_id
      |LIMIT 100""".stripMargin

  val sampleStratifiedSql: String =
    """SELECT doc_id, source, CAST(rn AS INTEGER) AS sample_rank FROM (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000,
      |               doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 50""".stripMargin

  /** Symmetric int8 quantization of the embedding column (4× storage
    * cut, the FAISS-SQ8 trade): per-vector scale, quantized checksum,
    * and max reconstruction error — all pure map-stage column algebra.
    * floor(x + 0.5) round-half-up on BOTH engines, so the byte values
    * are engine-exact, not approximately equal.
    */
  def embeddingQuantize(spark: SparkSession, sfDir: String): DataFrame =
    embs(spark, sfDir)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("scale", Embeddings.int8Scale(col("v")))
      .withColumn("q", Embeddings.quantizeInt8(col("v"), col("scale")))
      .select(
        col("vec_id"),
        size(col("q")).as("dim"),
        round(col("scale"), 6).as("scale_q"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        round(Embeddings.maxAbsError(col("v"), col("q"), col("scale")), 6).as("max_abs_err"))

  val embeddingQuantizeSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (SELECT vec_id, v,
      |        coalesce(list_max(list_transform(v, x -> abs(x))), 0) / 127.0 AS scale
      |      FROM e),
      |q AS (SELECT vec_id, v, scale,
      |        list_transform(v, x -> CASE WHEN scale = 0 THEN 0
      |          ELSE CAST(least(127, greatest(-127, floor(x / scale + 0.5))) AS INTEGER) END) AS qv
      |      FROM s)
      |SELECT vec_id, CAST(len(qv) AS INTEGER) AS dim, round(scale, 6) AS scale_q,
      |       CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
      |       round(coalesce(list_max(list_transform(range(1, len(v) + 1),
      |               i -> abs(v[i] - qv[i] * scale))), 0), 6) AS max_abs_err
      |FROM q""".stripMargin

  /** Per-label embedding centroids — the k-means / IVF-training update
    * step as a first-class query: posexplode to (label, dim, value),
    * map-side-combined exact integer-scaled sums. Emitted as one SCALAR
    * row per (label, dim) — `(label, dim, n, c)` — rather than the
    * re-assembled `array<double>` ([[Embeddings.groupCentroids]]): the
    * verification harness row-sorts result frames and cannot order
    * array-typed cells, so oracle-checked queries never emit a
    * top-level array column (see QueryShapeSpec).
    */
  def embeddingCentroids(spark: SparkSession, sfDir: String): DataFrame =
    Embeddings.groupCentroidComponents(embs(spark, sfDir), "label", "embedding")

  val embeddingCentroidsSql: String =
    """WITH ex AS (
      |  SELECT label,
      |    unnest(list_transform(range(1, len(embedding) + 1),
      |                          i -> {'dim': i - 1, 'v': embedding[i]}), recursive := true)
      |  FROM embeddings),
      |agg AS (
      |  SELECT label, dim, count(v) AS n,
      |         sum(CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS s
      |  FROM ex GROUP BY 1, 2)
      |SELECT label, CAST(dim AS INTEGER) AS dim, CAST(n AS BIGINT) AS n,
      |  CAST(CASE WHEN n = 0 THEN CAST(NULL AS BIGINT)
      |       WHEN s >= 0 THEN (2 * s + n) // (2 * n)
      |       ELSE -((-2 * s + n) // (2 * n)) END AS DOUBLE) / 10000.0 AS c
      |FROM agg""".stripMargin

  /** Bigram-LM quality scoring (the CCNet-shaped LM filter): train
    * bigram/unigram counts on the corpus, score each document's average
    * negative log-likelihood with add-0.5 smoothing. High = garbled.
    */
  def bigramLm(spark: SparkSession, sfDir: String): DataFrame =
    // NOT widened (r21 A/B 4.1 → 4.5 s): the three model broadcast
    // builds run concurrently, so the 1-task map stages already overlap
    LanguageModel.bigramNll(docs(spark, sfDir), "doc_id", "text", 0.5)

  val bigramLmSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents WHERE length(trim(text)) > 0),
      |grams AS (
      |  SELECT doc_id, t[j] AS w1, t[j + 1] AS w2
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS j FROM toks)),
      |unic AS (SELECT w, count(*) AS c1
      |         FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
      |big AS (SELECT w1, w2, count(*) AS c12 FROM grams GROUP BY 1, 2),
      |v AS (SELECT count(*) AS v FROM unic)
      |SELECT g.doc_id, count(*) AS n_bigrams,
      |       round(avg(-ln((b.c12 + 0.5) / (u.c1 + 0.5 * v.v))), 4) AS avg_nll
      |FROM grams g JOIN big b USING (w1, w2) JOIN unic u ON g.w1 = u.w CROSS JOIN v
      |GROUP BY g.doc_id""".stripMargin

  /** Canonical-doc-per-cluster: minhash near-dup pairs → connected
    * components → keep the highest-quality member of each cluster
    * (quality-score argmax, ties to lowest id). The decision step after
    * dup detection: which copy survives into the training set.
    */
  def dedupCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    // widened for the same reason as dedupMinhash (A/B 1.13×); feeds
    // both the pair detection and the quality scoring
    val corpus = widen(spark, corpusNearDups(docs(spark, sfDir)))
    val pairs = Dedup
      .minhashDedupPairs(corpus, "doc_id", "text", 0.5)
      .select(col("id_a"), col("id_b"))
    val scored = TextAnalysis
      .qualityFeatures(corpus, "text")
      .select(col("doc_id"), col("quality_score"))
    Dedup.canonicalPerCluster(pairs, scored, "doc_id", "quality_score")
  }

  val dedupCanonicalSql: String = {
    val sw = graft.ext.Stopwords.en.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH RECURSIVE corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |         array_to_string(toks[1:greatest(len(toks) - 2, 0)], ' ')
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |        FROM documents WHERE doc_id % 5 = 0)),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |      ELSE list_transform(range(1, len(toks) - 1),
       |                          j -> array_to_string(toks[j:j+2], ' ')) END) AS s
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |        FROM corpus)),
       |pairs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |      floor(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |            / len(list_distinct(list_concat(a.s, b.s))) * 10000 + 0.5) / 10000.0 AS jaccard
       |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |  WHERE jaccard >= 0.5),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |walk(id, lbl) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id),
       |labels AS (SELECT id, min(lbl) AS cluster_rep FROM walk GROUP BY id),
       |quality AS (
       |  SELECT doc_id,
       |    floor((least(1.0, n_tokens / 100.0) * 0.3
       |          + (1.0 - least(1.0, punct_ratio * 5)) * 0.2
       |          + least(1.0, stopword_ratio * 4) * 0.2
       |          + uniq_ratio * 0.3) * 10000 + 0.5) / 10000.0 AS quality_score
       |  FROM (
       |    SELECT doc_id, n_tokens,
       |      CASE WHEN length(text) = 0 THEN 0.0
       |           ELSE CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
       |      CASE WHEN n_tokens = 0 THEN 0.0
       |           ELSE CAST(len(list_filter(toks, t -> list_contains($sw, t))) AS DOUBLE) / n_tokens END AS stopword_ratio,
       |      CASE WHEN n_tokens = 0 THEN 0.0
       |           ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens END AS uniq_ratio
       |    FROM (
       |      SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks,
       |        CASE WHEN length(trim(text)) = 0 THEN 0
       |             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
       |      FROM corpus)))
       |SELECT cluster_rep, canonical_id, n_members, best_score FROM (
       |  SELECT l.cluster_rep, q.doc_id AS canonical_id,
       |         count(*) OVER (PARTITION BY l.cluster_rep) AS n_members,
       |         q.quality_score AS best_score,
       |         row_number() OVER (PARTITION BY l.cluster_rep
       |           ORDER BY q.quality_score DESC, q.doc_id ASC) AS rn
       |  FROM labels l JOIN quality q ON q.doc_id = l.id)
       |WHERE rn = 1""".stripMargin
  }

  /** Fixed-window chunking: 64-token chunks, 16-token overlap — the
    * pre-embedding context splitter. Map-only; no shuffle.
    */
  def chunkDocuments(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.chunkDocuments(docs(spark, sfDir), "doc_id", "text", 64, 16)

  val chunkDocumentsSql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |k AS (
      |  SELECT doc_id, toks,
      |    1 + greatest(0, CAST(trunc((len(toks) - 64 + 47) / 48.0) AS INTEGER)) AS nk
      |  FROM t),
      |c AS (SELECT doc_id, toks, unnest(range(0, nk)) AS ci FROM k)
      |SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
      |       CAST(len(toks[ci * 48 + 1 : ci * 48 + 64]) AS INTEGER) AS n_chunk_tokens,
      |       array_to_string(toks[ci * 48 + 1 : ci * 48 + 64], ' ') AS chunk_text
      |FROM c""".stripMargin

  /** Per-source corpus report card: doc counts, token volume, median
    * doc length, mean quality — the summary table a curation run ends
    * with. One hash aggregation over the quality map stage.
    *
    * `avg_quality` is an exact integer-scaled mean, not `avg(double)`:
    * quality_score is 4-dp by construction, so summing
    * `round(q*10000)` as BIGINT is exact and ORDER-INDEPENDENT — a
    * float `avg` under partial aggregation can flip the 4th decimal vs
    * a single-threaded engine purely from summation order (the
    * r6 oracle mismatch). The 4-dp rounding of the mean is then done in
    * integer arithmetic (half-up on the exact rational s/n) rather than
    * float `round(x, 4)`, which sits on a .5 boundary whenever n
    * divides s accordingly and decimal-string vs binary rounding then
    * disagree across engines.
    */
  def corpusReport(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis
      .qualityFeatures(docs(spark, sfDir), "text")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens_q").cast("long")).as("total_tokens"),
        round(expr("percentile(n_tokens_q, 0.5)"), 4).as("p50_tokens"),
        sum(expr("cast(round(quality_score * 10000) as bigint)")).as("__s"))
      .withColumn(
        "avg_quality",
        expr("(2 * __s + n_docs) DIV (2 * n_docs)").cast("double") / 10000.0)
      .drop("__s")

  val corpusReportSql: String = {
    val sw = graft.ext.Stopwords.en.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT source, count(*) AS n_docs,
       |  CAST(sum(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens,
       |  round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
       |  CAST((2 * sum(CAST(round(quality_score * 10000) AS BIGINT)) + count(*))
       |       // (2 * count(*)) AS DOUBLE) / 10000.0 AS avg_quality
       |FROM (
       |  SELECT source, n_tokens,
       |    floor((least(1.0, n_tokens / 100.0) * 0.3
       |          + (1.0 - least(1.0, punct_ratio * 5)) * 0.2
       |          + least(1.0, stopword_ratio * 4) * 0.2
       |          + uniq_ratio * 0.3) * 10000 + 0.5) / 10000.0 AS quality_score
       |  FROM (
       |    SELECT source, n_tokens,
       |      CASE WHEN length(text) = 0 THEN 0.0
       |           ELSE CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
       |      CASE WHEN n_tokens = 0 THEN 0.0
       |           ELSE CAST(len(list_filter(toks, t -> list_contains($sw, t))) AS DOUBLE) / n_tokens END AS stopword_ratio,
       |      CASE WHEN n_tokens = 0 THEN 0.0
       |           ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens END AS uniq_ratio
       |    FROM (
       |      SELECT source, text, regexp_split_to_array(trim(text), '\\s+') AS toks,
       |        CASE WHEN length(trim(text)) = 0 THEN 0
       |             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
       |      FROM documents)))
       |GROUP BY source""".stripMargin
  }

  /** Chunk-level duplication report (line-dedup analog): over a corpus
    * with planted whole-doc copies, every chunk of a copied document —
    * and of its original — is flagged as corpus-duplicated; organic
    * 32-token repeats in unique docs surface as partial ratios. The
    * per-document dup_chunk_ratio is the boilerplate signal curation
    * thresholds on.
    */
  def chunkDupRatio(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis
      .chunkDupStats(corpusExactDups(docs(spark, sfDir)), "doc_id", "text", 32)

  val chunkDupRatioSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0),
      |t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |      FROM corpus WHERE length(trim(text)) > 0),
      |c AS (SELECT doc_id, toks, unnest(range(0, CAST(ceil(len(toks) / 32.0) AS INTEGER))) AS ci
      |      FROM t),
      |ch AS (SELECT doc_id, array_to_string(toks[ci * 32 + 1 : ci * 32 + 32], ' ') AS chunk
      |       FROM c),
      |f AS (SELECT doc_id, count(*) OVER (PARTITION BY chunk) AS n_occ FROM ch)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
      |  floor(CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
      |        * 10000 + 0.5) / 10000.0 AS dup_chunk_ratio
      |FROM f GROUP BY doc_id""".stripMargin

  /** Per-source quality-threshold selection: keep each source's top 60%
    * of documents by quality score (drop everything at or below the
    * source's 40th-percentile mass) — the "keep the best X% per domain"
    * curation step. Exact and engine-portable by construction: scores
    * are integer-scaled (4-dp quality → e4 bigint), the cumulative
    * distribution runs over the per-(source, score) HISTOGRAM (≤10001
    * distinct values per source, never the row stream), and the only
    * float op is cum/n — a single division of two exact integers that
    * every IEEE engine computes identically. At 100 TB the same plan
    * holds: two hash aggregations, a window over the tiny histogram,
    * and a broadcast cutoff join; the approximate alternative
    * (`approx_percentile` cutoffs) trades this exactness for one fewer
    * aggregation and is NOT needed since the histogram is bounded by
    * the score's 4-dp codomain.
    */
  def qualityThreshold(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // widened: qualityFeatures is a per-doc CPU pass (split + distinct +
    // entropy) over the 1-split documents scan, and this query runs it
    // twice (cutoff build + final filter) — same §2.5/§2.6 rationale as
    // dedupMinhash
    val q = TextAnalysis
      .qualityFeatures(widen(spark, docs(spark, sfDir)), "text")
      .select(
        col("doc_id"),
        col("source"),
        expr("cast(round(quality_score * 10000) as bigint)").as("quality_e4"))
    val hist = q.groupBy(col("source"), col("quality_e4")).agg(count(lit(1)).as("c"))
    // per-source totals from the HISTOGRAM, not a second pass over q —
    // the corpus is scanned exactly twice (cutoff build + final filter)
    val n = hist.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val run = Window
      .partitionBy(col("source"))
      .orderBy(col("quality_e4").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cutoffs = hist
      .withColumn("cum", sum(col("c")).over(run))
      .join(n, "source")
      .filter(col("cum").cast("double") / col("n").cast("double") > 0.4)
      .groupBy(col("source"))
      .agg(min(col("quality_e4")).as("cutoff"))
    q.join(broadcast(cutoffs), "source")
      .filter(col("quality_e4") >= col("cutoff"))
      .select(col("doc_id"), col("source"), col("quality_e4"))
  }

  val qualityThresholdSql: String = {
    val sw = graft.ext.Stopwords.en.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH q AS (
       |  SELECT doc_id, source,
       |    CAST(round(floor((least(1.0, n_tokens / 100.0) * 0.3
       |          + (1.0 - least(1.0, punct_ratio * 5)) * 0.2
       |          + least(1.0, stopword_ratio * 4) * 0.2
       |          + uniq_ratio * 0.3) * 10000 + 0.5) / 10000.0 * 10000) AS BIGINT) AS quality_e4
       |  FROM (
       |    SELECT doc_id, source, n_tokens,
       |      CASE WHEN length(text) = 0 THEN 0.0
       |           ELSE CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
       |      CASE WHEN n_tokens = 0 THEN 0.0
       |           ELSE CAST(len(list_filter(toks, t -> list_contains($sw, t))) AS DOUBLE) / n_tokens END AS stopword_ratio,
       |      CASE WHEN n_tokens = 0 THEN 0.0
       |           ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens END AS uniq_ratio
       |    FROM (
       |      SELECT doc_id, source, text, regexp_split_to_array(trim(text), '\\s+') AS toks,
       |        CASE WHEN length(trim(text)) = 0 THEN 0
       |             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
       |      FROM documents))),
       |hist AS (SELECT source, quality_e4, count(*) AS c FROM q GROUP BY 1, 2),
       |n AS (SELECT source, sum(c) AS n FROM hist GROUP BY 1),
       |th AS (
       |  SELECT source, min(quality_e4) AS cutoff FROM (
       |    SELECT h.source, h.quality_e4,
       |      sum(c) OVER (PARTITION BY h.source ORDER BY h.quality_e4 ASC
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |      n.n AS n
       |    FROM hist h JOIN n ON h.source = n.source)
       |  WHERE CAST(cum AS DOUBLE) / CAST(n AS DOUBLE) > 0.4
       |  GROUP BY source)
       |SELECT q.doc_id, q.source, q.quality_e4
       |FROM q JOIN th ON q.source = th.source
       |WHERE q.quality_e4 >= th.cutoff""".stripMargin
  }

  /** Vocabulary coverage: top-50 terms by occurrence with cumulative
    * corpus share — the "how big must the vocab be" curve. Scale shape:
    * the grand total is one scalar aggregate (map-side combined, 1 row),
    * the top-50 is `orderBy().limit()` (TakeOrderedAndProject — each
    * partition keeps 50, never a global sort), and only then does a
    * window run — over at most 50 rows. At web scale |V| runs to
    * hundreds of millions of distinct tokens; an unpartitioned window
    * over the full vocab table would funnel them through one task.
    */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs(spark, sfDir)
      .filter(length(trim(col("text"))) > 0)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val top = counts.orderBy(col("cnt").desc, col("term").asc).limit(50)
    // constant partition key: the input is ≤50 rows by construction, and
    // an explicit spec keeps this out of the "No Partition Defined" path
    val ord = Window.partitionBy(lit(0)).orderBy(col("cnt").desc, col("term").asc)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(ord).cast("int"))
      .withColumn("cum_share", round(sum(col("cnt")).over(run) / col("total"), 6))
      .select(col("term"), col("cnt"), col("rank"), col("cum_share"))
  }

  val vocabCoverageSql: String =
    """SELECT term, cnt, rank, cum_share FROM (
      |  SELECT term, cnt,
      |    CAST(row_number() OVER (ORDER BY cnt DESC, term ASC) AS INTEGER) AS rank,
      |    round(sum(cnt) OVER (ORDER BY cnt DESC, term ASC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          / sum(cnt) OVER (), 6) AS cum_share
      |  FROM (
      |    SELECT term, count(*) AS cnt
      |    FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |          FROM documents WHERE length(trim(text)) > 0)
      |    GROUP BY term))
      |WHERE rank <= 50""".stripMargin

  /** Product-quantization encode of the embeddings table: m=4
    * subspaces × k=8 centroids, 1 Lloyd refinement round — each 64-dim
    * fp32 vector (256 B) becomes one packed BIGINT code plus its exact
    * 6-dp reconstruction error. Deterministic per
    * [[graft.ext.ProductQuant]]'s contract, so the full train+encode
    * path is oracle-checkable (the oracle unrolls the same per-subspace
    * Lloyd round in SQL).
    */
  private val pqM = 4
  private val pqK = 8
  private val pqDsub = 16

  private def pqBooks(e: DataFrame) =
    graft.ext.ProductQuant.pqFit(e, "vec_id", "embedding", pqM, pqK, iters = 1)

  def embeddingPq(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embs(spark, sfDir)
    graft.ext.ProductQuant.pqEncode(e, "vec_id", "embedding", pqBooks(e), pqK)
  }

  /** The per-subspace PQ train+assign chain as DuckDB CTEs — one Lloyd
    * round mirroring [[graft.ext.ProductQuant.pqFit]] exactly (lowest-k
    * seeds, 6-dp-rounded argmin with min-cid ties, fixed-point 1e-4
    * centroid components). Over an input CTE `src(vec_id, e)` it emits,
    * per subspace j: `<p>sub<j>` (subvectors), `<p>c0<j>` (seed
    * centroids), `<p>a<j>` (seed-round assignment), `<p>ex<j>`/`<p>ag<j>`
    * (component aggregation), `<p>cb<j>` (refined codebook) and
    * `<p>f<j>` (final assignment, b = (-d2_6dp, -cid)). Shared by the
    * `q_pq_encode`, `q_similarity_adc` and `q_similarity_ivfpq` oracles
    * — the cross-engine codebook contract lives in one place.
    */
  private def pqChainCtes(src: String, p: String, m: Int, k: Int, dsub: Int): String = {
    def l2(a: String, b: String): String =
      s"round(list_aggregate(list_transform(range(1, ${dsub + 1}), " +
        s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), 'sum'), 6)"
    (0 until m)
      .map { j =>
        val lo = j * dsub + 1
        val hi = (j + 1) * dsub
        s"""${p}sub$j AS MATERIALIZED (SELECT vec_id, e[$lo:$hi] AS sub FROM $src),
           |${p}c0$j AS (SELECT CAST(vec_id AS INTEGER) AS cid, sub AS c FROM ${p}sub$j WHERE vec_id < $k),
           |${p}a$j AS (SELECT vec_id, sub,
           |         -struct_extract(max((-${l2("sub", "c")}, -cid)), 2) AS cl
           |       FROM ${p}sub$j CROSS JOIN ${p}c0$j GROUP BY vec_id, sub),
           |${p}ex$j AS (SELECT cl, unnest(list_transform(range(1, ${dsub + 1}),
           |                          i -> {'dim': i - 1, 'v': sub[i]}), recursive := true) FROM ${p}a$j),
           |${p}ag$j AS (SELECT cl, dim, count(v) AS n,
           |               sum(CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS s
           |        FROM ${p}ex$j GROUP BY 1, 2),
           |${p}cb$j AS MATERIALIZED (SELECT CAST(cl AS INTEGER) AS cid,
           |              list(CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
           |                             ELSE -((-2 * s + n) // (2 * n)) END AS DOUBLE) / 10000.0
           |                   ORDER BY dim) AS c
           |       FROM ${p}ag$j GROUP BY cl),
           |${p}f$j AS MATERIALIZED (SELECT vec_id, max((-${l2("sub", "c")}, -cid)) AS b
           |       FROM ${p}sub$j CROSS JOIN ${p}cb$j GROUP BY vec_id, sub)""".stripMargin
      }
      .mkString(",\n")
  }

  val embeddingPqSql: String = {
    val code = (0 until pqM)
      .map(j => s"(-struct_extract(f$j.b, 2)) * ${math.pow(pqK, j).toLong}")
      .mkString(" + ")
    val err = (0 until pqM)
      .map(j => s"(-struct_extract(f$j.b, 1))")
      .mkString(" + ")
    val joins = (0 until pqM).map(j => s"JOIN f$j USING (vec_id)").mkString(" ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |${pqChainCtes("v", "", pqM, pqK, pqDsub)}
       |SELECT v.vec_id, CAST($code AS BIGINT) AS code,
       |       round($err, 6) AS recon_d2
       |FROM v $joins""".stripMargin
  }

  /** Oracle for `q_similarity_adc`: replays the SAME one-round PQ
    * codebook in SQL ([[pqChainCtes]], hash-proven by `q_pq_encode`),
    * then scores every corpus vector against each of the 3 lowest-id
    * queries by the ADC sum Σ_j q_sub_j · centroid[code_j] — per-
    * subspace dots summed left-to-right in subspace order, rounded to
    * 6 dp, exactly as [[graft.ext.ProductQuant.adcTopK]]'s driver-side
    * LUT does — and keeps the top-10 (score desc, ties to lowest id).
    */
  val similarityAdcSql: String = {
    def dot(j: Int): String =
      s"list_aggregate(list_transform(range(1, ${pqDsub + 1}), " +
        s"i -> q.e[${j * pqDsub} + i] * cb$j.c[i]), 'sum')"
    val joins = (0 until pqM)
      .map(j =>
        s"JOIN f$j ON f$j.vec_id = v.vec_id " +
          s"JOIN cb$j ON cb$j.cid = -struct_extract(f$j.b, 2)")
      .mkString("\n|")
    val total = (0 until pqM).map(dot).mkString(" + ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |${pqChainCtes("v", "", pqM, pqK, pqDsub)},
       |q AS (SELECT vec_id AS qid, e FROM v ORDER BY vec_id LIMIT 3)
       |SELECT q.qid, v.vec_id, round($total, 6) AS adc_dot
       |FROM q CROSS JOIN v
       |$joins
       |QUALIFY row_number() OVER (PARTITION BY q.qid
       |          ORDER BY adc_dot DESC, v.vec_id ASC) <= 10""".stripMargin
  }

  /** Oracle for `q_similarity_ivfpq`: the full FAISS-shaped composition
    * in SQL — coarse quantizer = the same chain with m=1 over the full
    * 64-dim vectors (prefix `g`), residuals v − coarse_centroid[list],
    * residual PQ codebooks (prefix `r`), then per query the 3 nearest
    * lists by exact driver-order L2 (ties to lowest cid) and the ADC
    * score  q·c_list + Σ_j q_sub_j·residual_centroid[code_j]  rounded
    * to 6 dp — operation-for-operation the arithmetic of
    * [[graft.ext.ProductQuant.ivfAdcTopK]], so the hash must agree.
    */
  val similarityIvfPqSql: String = {
    val nlist = 8
    val nprobe = 3
    def rdot(j: Int): String =
      s"list_aggregate(list_transform(range(1, ${pqDsub + 1}), " +
        s"i -> q.e[${j * pqDsub} + i] * rcb$j.c[i]), 'sum')"
    val joins = (0 until pqM)
      .map(j =>
        s"JOIN rf$j ON rf$j.vec_id = lists.vec_id " +
          s"JOIN rcb$j ON rcb$j.cid = -struct_extract(rf$j.b, 2)")
      .mkString("\n|")
    val resid = (0 until pqM).map(rdot).mkString(" + ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |${pqChainCtes("v", "g", 1, nlist, 64)},
       |lists AS MATERIALIZED (
       |  SELECT vec_id, CAST(-struct_extract(b, 2) AS INTEGER) AS list_id FROM gf0),
       |rv AS MATERIALIZED (
       |  SELECT v.vec_id, list_transform(range(1, 65), i -> v.e[i] - gcb0.c[i]) AS e
       |  FROM v JOIN lists USING (vec_id)
       |         JOIN gcb0 ON gcb0.cid = lists.list_id),
       |${pqChainCtes("rv", "r", pqM, pqK, pqDsub)},
       |q AS (SELECT vec_id AS qid, e FROM v ORDER BY vec_id LIMIT 3),
       |ql AS (
       |  SELECT q.qid, gcb0.cid AS list_id,
       |         list_aggregate(list_transform(range(1, 65),
       |           i -> q.e[i] * gcb0.c[i]), 'sum') AS off,
       |         row_number() OVER (PARTITION BY q.qid ORDER BY
       |           list_aggregate(list_transform(range(1, 65),
       |             i -> (q.e[i] - gcb0.c[i]) * (q.e[i] - gcb0.c[i])), 'sum') ASC,
       |           gcb0.cid ASC) AS pr
       |  FROM q CROSS JOIN gcb0),
       |probes AS (SELECT qid, list_id, off FROM ql WHERE pr <= $nprobe)
       |SELECT q.qid, lists.vec_id, round(probes.off + ($resid), 6) AS adc_dot
       |FROM probes
       |JOIN q ON q.qid = probes.qid
       |JOIN lists ON lists.list_id = probes.list_id
       |$joins
       |QUALIFY row_number() OVER (PARTITION BY q.qid
       |          ORDER BY adc_dot DESC, lists.vec_id ASC) <= 10""".stripMargin
  }

  /** ADC similarity search over the PQ-encoded corpus: the 3 lowest-id
    * vectors as queries, top-10 by asymmetric-distance dot product —
    * probes never touch the raw corpus vectors. Oracle-checked
    * ([[similarityAdcSql]] replays the codebook chain in SQL); parity
    * vs the exact dot product under a lossless codebook is additionally
    * spec-pinned in ProductQuantSpec.
    */
  def similarityAdc(spark: SparkSession, sfDir: String): DataFrame = {
    // widened like similarityIvf (PQ encode + ADC scan are per-vector
    // CPU passes over the 1-split scan)
    val e = widen(spark, embs(spark, sfDir))
    val books = pqBooks(e)
    val encoded = graft.ext.ProductQuant.pqEncode(e, "vec_id", "embedding", books, pqK)
    val qs = e
      .orderBy(col("vec_id"))
      .limit(3)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      .toSeq
    graft.ext.ProductQuant.adcTopK(encoded, "vec_id", books, pqK, qs, 10)
  }

  /** BPE vocabulary induction over the documents corpus: the first 6
    * merge rules (step, lhs, rhs, pair_count) — tokenizer training as
    * an engine job ([[graft.ext.Bpe]]). The oracle unrolls the same 6
    * rounds in SQL: pair counts weighted by word-type frequency, argmax
    * with (count DESC, lhs, rhs) tie-break, and the leftmost-greedy
    * merge replayed positionally (match positions → consecutive-run
    * parity → rebuild).
    */
  private val bpeMerges = 6

  def bpeVocab(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.Bpe.fitDf(spark, docs(spark, sfDir), "text", bpeMerges)

  /** Shared WITH-body for the BPE oracles: w0 (word types + char seqs)
    * through w`merges` (post-merge seqs), all MATERIALIZED (each CTE is
    * referenced ≥3 times per round; plain CTE inlining re-evaluates the
    * whole chain exponentially — 292 s vs 0.3 s measured at sf0.01).
    */
  private def bpeChainSql: String = {
    val rounds = (1 to bpeMerges).map { r =>
      val prev = s"w${r - 1}"
      s"""pc$r AS MATERIALIZED (
         |  SELECT lhs, rhs, sum(cnt) AS c FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(seq)),
         |             i -> {'lhs': seq[i], 'rhs': seq[i + 1]}), recursive := true)
         |    FROM $prev WHERE len(seq) >= 2)
         |  GROUP BY lhs, rhs),
         |top$r AS MATERIALIZED (SELECT lhs, rhs, c FROM pc$r ORDER BY c DESC, lhs ASC, rhs ASC LIMIT 1),
         |pos$r AS MATERIALIZED (
         |  SELECT x.word, x.p FROM
         |    (SELECT word, seq, unnest(range(1, len(seq))) AS p FROM $prev) x
         |    CROSS JOIN top$r t
         |  WHERE x.seq[x.p] = t.lhs AND x.seq[x.p + 1] = t.rhs),
         |run$r AS MATERIALIZED (SELECT word, p,
         |                 p - row_number() OVER (PARTITION BY word ORDER BY p) AS rn
         |          FROM pos$r),
         |keep$r AS MATERIALIZED (SELECT word, p FROM (
         |    SELECT word, p, (p - min(p) OVER (PARTITION BY word, rn)) % 2 = 0 AS k
         |    FROM run$r) WHERE k),
         |w$r AS MATERIALIZED (
         |  SELECT x.word, x.cnt,
         |         list(CASE WHEN k1.p IS NOT NULL THEN x.seq[x.i] || x.seq[x.i + 1]
         |              ELSE x.seq[x.i] END ORDER BY x.i) AS seq
         |  FROM (SELECT word, cnt, seq, unnest(range(1, len(seq) + 1)) AS i FROM $prev) x
         |  LEFT JOIN keep$r k1 ON k1.word = x.word AND k1.p = x.i
         |  LEFT JOIN keep$r k2 ON k2.word = x.word AND k2.p = x.i - 1
         |  WHERE k2.p IS NULL
         |  GROUP BY x.word, x.cnt)""".stripMargin
    }
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT word, count(*) AS cnt,
       |         list_transform(range(1, length(word) + 1), i -> word[i]) AS seq
       |  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
       |        FROM documents)
       |  WHERE length(word) > 0
       |  GROUP BY word),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  val bpeVocabSql: String = {
    val out = (1 to bpeMerges)
      .map(r => s"SELECT $r AS step, lhs, rhs, CAST(c AS BIGINT) AS pair_count FROM top$r")
      .mkString("\nUNION ALL\n")
    s"""$bpeChainSql
       |$out""".stripMargin
  }

  /** BPE ENCODE with the trained vocabulary: per document, the real
    * subword token count under the 6-rule merge table — train + apply
    * in one deterministic query ([[graft.ext.Bpe.encodeCounts]]). The
    * corpus tokenizes by joining each word occurrence to its word-TYPE
    * subword length (the type table is the tokenizer's working set, not
    * the corpus).
    */
  def bpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val rules = graft.ext.Bpe.fit(d, "text", bpeMerges)
    graft.ext.Bpe.encodeCounts(d, "doc_id", "text", rules)
  }

  val bpeEncodeSql: String =
    s"""$bpeChainSql,
       |fin AS MATERIALIZED (SELECT word, len(seq) AS ns FROM w$bpeMerges),
       |dw AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
       |  FROM documents),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_words, CAST(sum(ns) AS BIGINT) AS n_bpe_tokens
       |  FROM (SELECT doc_id, word FROM dw WHERE length(word) > 0) x
       |  JOIN fin USING (word)
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(a.n_words, 0) AS n_words,
       |       coalesce(a.n_bpe_tokens, 0) AS n_bpe_tokens,
       |       CASE WHEN coalesce(a.n_words, 0) = 0 THEN 0.0
       |            ELSE floor(CAST(a.n_bpe_tokens AS DOUBLE)
       |                       / CAST(a.n_words AS DOUBLE) * 10000 + 0.5) / 10000.0
       |       END AS subwords_per_word
       |FROM (SELECT DISTINCT doc_id FROM documents) d
       |LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Repeated-span (exact-substring) duplication stats over the
    * planted-near-dup corpus: any-offset L=8-token repeats, interval-
    * merged per document — the suffix-array dedup measure computed with
    * distributable shingle joins (see [[TextAnalysis.repeatedSpanStats]]).
    */
  def dedupSubstring(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.repeatedSpanStats(
      corpusNearDups(docs(spark, sfDir)), "doc_id", "text", spanTokens = 8)

  val dedupSubstringSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |         array_to_string(toks[1:greatest(len(toks) - 2, 0)], ' ')
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents WHERE doc_id % 5 = 0)),
      |base AS (
      |  SELECT doc_id, toks,
      |         CASE WHEN len(toks) = 1 AND length(toks[1]) = 0 THEN 0
      |              ELSE len(toks) END AS n
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |        FROM corpus)),
      |sh AS (
      |  SELECT doc_id, n, unnest(list_transform(range(0, n - 8 + 1),
      |           i -> {'pos': i, 'sh': array_to_string(toks[i+1:i+8], ' ')}),
      |         recursive := true)
      |  FROM base WHERE n >= 8),
      |cnt AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) >= 2),
      |rep AS (SELECT doc_id, n, pos FROM sh JOIN cnt USING (sh)),
      |cov AS (
      |  SELECT doc_id,
      |         CASE WHEN lead(pos) OVER w IS NULL THEN 8
      |              ELSE least(8, lead(pos) OVER w - pos) END AS cov
      |  FROM rep WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |agg AS (SELECT doc_id, CAST(sum(cov) AS BIGINT) AS rep_tokens FROM cov GROUP BY 1)
      |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
      |       coalesce(a.rep_tokens, 0) AS rep_tokens,
      |       CASE WHEN b.n = 0 THEN 0.0
      |            ELSE floor(CAST(coalesce(a.rep_tokens, 0) AS DOUBLE)
      |                       / CAST(b.n AS DOUBLE) * 10000 + 0.5) / 10000.0
      |       END AS rep_ratio
      |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Full IVF-PQ search (FAISS `IVF8,PQ4`-shaped): coarse quantizer →
    * residual PQ codes → ADC over the 3 probed lists per query.
    * Oracle-checked ([[similarityIvfPqSql]] replays coarse + residual
    * codebooks in SQL); lossless-parity, probed-list containment and
    * determinism are additionally spec-pinned in ProductQuantSpec.
    */
  def similarityIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    // NOT widened: flat-to-negative (0.96×) in the r22 A/B — the
    // codebook fits and probed-list ADC don't recoup the extra exchange
    val e = embs(spark, sfDir)
    val qs = e
      .orderBy(col("vec_id"))
      .limit(3)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      .toSeq
    graft.ext.ProductQuant.ivfAdcTopK(
      e, "vec_id", "embedding",
      nlist = 8, m = pqM, k = pqK, nprobe = 3, queries = qs, topK = 10)
  }

  /** BM25 top-20 lexical retrieval for a fixed three-term query over
    * the documents corpus — the keyword-search baseline next to the
    * embedding index. Query terms are in-vocabulary for the synthetic
    * corpus; scoring is Lucene's +1 idf with k1=1.2, b=0.75.
    */
  private val bm25Terms = Seq("spark", "merge", "vector")

  def bm25Search(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.bm25TopK(docs(spark, sfDir), "doc_id", "text", bm25Terms, 20)

  val bm25SearchSql: String = {
    val perTerm = bm25Terms
      .map(t =>
        s"coalesce(max(CASE WHEN term = '$t' THEN s END), 0.0) AS s_$t")
      .mkString(",\n      |         ")
    val total = bm25Terms.map(t => s"s_$t").mkString(" + ")
    val inList = bm25Terms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""WITH lens AS (
       |  SELECT doc_id,
       |         CASE WHEN length(trim(text)) = 0 THEN 0
       |              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS dl
       |  FROM documents),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM lens),
       |postings AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |p AS (SELECT doc_id, term FROM postings WHERE term IN $inList),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM p GROUP BY 1, 2),
       |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM p GROUP BY 1),
       |scored AS (
       |  SELECT tf.doc_id, tf.term,
       |         ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
       |           * (tf.tf * 2.2)
       |           / (tf.tf + 1.2 * (1.0 - 0.75
       |              + 0.75 * CAST(l.dl AS DOUBLE) / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))) AS s
       |  FROM tf JOIN dfreq d USING (term) JOIN lens l USING (doc_id) CROSS JOIN stats s),
       |agg AS (
       |  SELECT doc_id,
       |         $perTerm
       |  FROM scored GROUP BY doc_id)
       |SELECT doc_id, score,
       |       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
       |FROM (SELECT doc_id, round($total, 4) AS score FROM agg)
       |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
  }

  /** In-engine closed-form model training: a 2-feature linear
    * regression (vocabulary size ~ token count + char length, the
    * Heaps-law-style doc statistic) fit by the NORMAL EQUATIONS in ONE
    * aggregation pass — the cheap-model-distillation shape of a corpus
    * pipeline (fit a linear predictor of an expensive statistic from
    * cheap features, then score/filter with pure column algebra).
    *
    * Determinism discipline: every moment (n, Σx, Σx², Σxy, …) is an
    * EXACT integer sum (features are integers; second moments as
    * decimal(38,0) against overflow at cluster row counts), so
    * aggregation order cannot perturb them; the 3×3 Cramer solve then
    * runs on ONE row of doubles with an expression tree written
    * token-for-token identically in both engines — per-row IEEE
    * arithmetic is reproducible, it is only reordered SUMS of floats
    * that are not. Coefficients and R² round to 6 dp.
    *
    * Scale shape: one map-side-combined aggregation over the corpus
    * (the only corpus-scale stage), then scalar arithmetic on a 1-row
    * frame. The trained model is 3 doubles — broadcastable for scoring
    * at any scale.
    */
  def regressionFit(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val toks = split(trim(col("text")), "\\s+")
    val empty = length(trim(col("text"))) === 0
    val feats = d.select(
      when(empty, 0L).otherwise(size(toks).cast("long")).as("x1"),
      length(col("text")).cast("long").as("x2"),
      when(empty, 0L).otherwise(size(array_distinct(toks)).cast("long")).as("y"))
    val m = feats.agg(
      count(lit(1)).as("n"),
      sum(col("x1")).as("s1"),
      sum(col("x2")).as("s2"),
      sum(col("y")).as("sy"),
      sum((col("x1") * col("x1")).cast("decimal(38,0)")).as("s11"),
      sum((col("x1") * col("x2")).cast("decimal(38,0)")).as("s12"),
      sum((col("x2") * col("x2")).cast("decimal(38,0)")).as("s22"),
      sum((col("x1") * col("y")).cast("decimal(38,0)")).as("s1y"),
      sum((col("x2") * col("y")).cast("decimal(38,0)")).as("s2y"),
      sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
    // the Cramer solve — identical expression tree in the SQL oracle
    m.selectExpr(
      "CAST(n AS DOUBLE) AS n", "CAST(s1 AS DOUBLE) AS s1", "CAST(s2 AS DOUBLE) AS s2",
      "CAST(sy AS DOUBLE) AS sy", "CAST(s11 AS DOUBLE) AS s11",
      "CAST(s12 AS DOUBLE) AS s12", "CAST(s22 AS DOUBLE) AS s22",
      "CAST(s1y AS DOUBLE) AS s1y", "CAST(s2y AS DOUBLE) AS s2y",
      "CAST(syy AS DOUBLE) AS syy")
      .selectExpr(
        "n", "sy", "s1y", "s2y", "syy",
        "n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2) AS det",
        "sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y) AS det0",
        "n * (s1y * s22 - s2y * s12) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2) AS det1",
        "n * (s11 * s2y - s12 * s1y) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2) AS det2")
      .selectExpr(
        "n", "sy", "s1y", "s2y", "syy",
        "det0 / det AS b0", "det1 / det AS b1", "det2 / det AS b2")
      .selectExpr(
        "CAST(n AS BIGINT) AS n_docs",
        "round(b0, 6) AS b0", "round(b1, 6) AS b1", "round(b2, 6) AS b2",
        "round(1.0 - (syy - b0 * sy - b1 * s1y - b2 * s2y) / (syy - sy * sy / n), 6) AS r2")
  }

  val regressionFitSql: String =
    """WITH f AS (
      |  SELECT CASE WHEN length(trim(text)) = 0 THEN 0
      |              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS x1,
      |         length(text) AS x2,
      |         CASE WHEN length(trim(text)) = 0 THEN 0
      |              ELSE len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) END AS y
      |  FROM documents),
      |m AS (
      |  SELECT count(*) AS n, sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
      |         sum(CAST(x1 AS HUGEINT) * x1) AS s11,
      |         sum(CAST(x1 AS HUGEINT) * x2) AS s12,
      |         sum(CAST(x2 AS HUGEINT) * x2) AS s22,
      |         sum(CAST(x1 AS HUGEINT) * y) AS s1y,
      |         sum(CAST(x2 AS HUGEINT) * y) AS s2y,
      |         sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM f),
      |d AS (
      |  SELECT CAST(n AS DOUBLE) AS n, CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
      |         CAST(sy AS DOUBLE) AS sy, CAST(s11 AS DOUBLE) AS s11,
      |         CAST(s12 AS DOUBLE) AS s12, CAST(s22 AS DOUBLE) AS s22,
      |         CAST(s1y AS DOUBLE) AS s1y, CAST(s2y AS DOUBLE) AS s2y,
      |         CAST(syy AS DOUBLE) AS syy
      |  FROM m),
      |c AS (
      |  SELECT n, sy, s1y, s2y, syy,
      |         n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2) AS det,
      |         sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y) AS det0,
      |         n * (s1y * s22 - s2y * s12) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2) AS det1,
      |         n * (s11 * s2y - s12 * s1y) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2) AS det2
      |  FROM d),
      |b AS (
      |  SELECT n, sy, s1y, s2y, syy,
      |         det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
      |  FROM c)
      |SELECT CAST(n AS BIGINT) AS n_docs,
      |       round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2,
      |       round(1.0 - (syy - b0 * sy - b1 * s1y - b2 * s2y) / (syy - sy * sy / n), 6) AS r2
      |FROM b""".stripMargin

  /** Join-key skew diagnostics — the profiling pass that decides
    * whether a key needs salting or AQE skew-splitting BEFORE the
    * 100 TB join runs: per candidate key, the key-count histogram is
    * reduced to n_rows / n_keys / max_cnt / top1_share /
    * skew_factor (= max over mean multiplicity; 1.0 is perfectly
    * uniform). Two-level hash aggregation per key — the histogram is
    * map-side combined and never materialized wide; ratios are exact
    * integers divided once in double, so both engines agree bit for
    * bit.
    */
  def skewProfile(spark: SparkSession, sfDir: String): DataFrame = {
    def profile(table: String, keyCol: String): DataFrame =
      Testdata.read(spark, sfDir, table)
        .groupBy(col(keyCol).as("k"))
        .agg(count(lit(1)).as("cnt"))
        .agg(
          sum(col("cnt")).as("n_rows"),
          count(lit(1)).as("n_keys"),
          max(col("cnt")).as("max_cnt"))
        .select(
          lit(s"$table.$keyCol").as("key_col"),
          col("n_rows"),
          col("n_keys"),
          col("max_cnt"),
          round(col("max_cnt") / col("n_rows").cast("double"), 6).as("top1_share"),
          round((col("max_cnt") * col("n_keys")) / col("n_rows").cast("double"), 6)
            .as("skew_factor"))
    profile("orders", "o_custkey")
      .unionByName(profile("lineitem", "l_partkey"))
      .unionByName(graft.sources.Testdata.events(spark, sfDir)
        .groupBy(col("user_id").as("k"))
        .agg(count(lit(1)).as("cnt"))
        .agg(
          sum(col("cnt")).as("n_rows"),
          count(lit(1)).as("n_keys"),
          max(col("cnt")).as("max_cnt"))
        .select(
          lit("events.user_id").as("key_col"),
          col("n_rows"),
          col("n_keys"),
          col("max_cnt"),
          round(col("max_cnt") / col("n_rows").cast("double"), 6).as("top1_share"),
          round((col("max_cnt") * col("n_keys")) / col("n_rows").cast("double"), 6)
            .as("skew_factor")))
  }

  val skewProfileSql: String =
    """WITH h1 AS (SELECT o_custkey AS k, count(*) AS cnt FROM orders GROUP BY 1),
      |p1 AS (SELECT 'orders.o_custkey' AS key_col, sum(cnt) AS n_rows,
      |              count(*) AS n_keys, max(cnt) AS max_cnt FROM h1),
      |h2 AS (SELECT l_partkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
      |p2 AS (SELECT 'lineitem.l_partkey' AS key_col, sum(cnt) AS n_rows,
      |              count(*) AS n_keys, max(cnt) AS max_cnt FROM h2),
      |h3 AS (SELECT user_id AS k, count(*) AS cnt FROM events GROUP BY 1),
      |p3 AS (SELECT 'events.user_id' AS key_col, sum(cnt) AS n_rows,
      |              count(*) AS n_keys, max(cnt) AS max_cnt FROM h3),
      |u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3)
      |SELECT key_col, CAST(n_rows AS BIGINT) AS n_rows, n_keys, max_cnt,
      |       round(max_cnt / CAST(n_rows AS DOUBLE), 6) AS top1_share,
      |       round((max_cnt * n_keys) / CAST(n_rows AS DOUBLE), 6) AS skew_factor
      |FROM u""".stripMargin

  /** Model scoring pass for [[regressionFit]]: broadcast the 3
    * fitted coefficients (rounded to 6 dp so both engines score from
    * identical inputs) and rank documents by residual — the most
    * NEGATIVE residuals are docs with far less vocabulary than their
    * size predicts, i.e. repetitive/templated text, which is exactly
    * the boilerplate a training-data pipeline wants flagged. Train →
    * broadcast → score is the standard cheap-model filter shape: the
    * scoring side is pure column algebra over one corpus scan.
    */
  def regressionResiduals(spark: SparkSession, sfDir: String): DataFrame = {
    val coef = regressionFit(spark, sfDir).select(col("b0"), col("b1"), col("b2"))
    val d = docs(spark, sfDir)
    val toks = split(trim(col("text")), "\\s+")
    val empty = length(trim(col("text"))) === 0
    d.select(
      col("doc_id"),
      when(empty, 0L).otherwise(size(toks).cast("long")).as("x1"),
      length(col("text")).cast("long").as("x2"),
      when(empty, 0L).otherwise(size(array_distinct(toks)).cast("long")).as("y"))
      .crossJoin(broadcast(coef))
      .withColumn(
        "resid",
        round(col("y") - (col("b0") + col("b1") * col("x1") + col("b2") * col("x2")), 6))
      .orderBy(col("resid").asc, col("doc_id").asc)
      .limit(10)
      .select(col("doc_id"), col("x1").as("n_tokens"), col("y").as("n_distinct"), col("resid"))
  }

  val regressionResidualsSql: String = {
    // reuse the fit's CTE chain, then score every document against the
    // 6-dp-rounded coefficients and keep the 10 most negative residuals
    val fitCtes = regressionFitSql
      .stripPrefix("WITH ")
      .split("\\nSELECT ", 2)(0) // CTE block without the final SELECT
    s"""WITH $fitCtes,
       |coef AS (
       |  SELECT round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2 FROM b),
       |feats AS (
       |  SELECT doc_id,
       |         CASE WHEN length(trim(text)) = 0 THEN 0
       |              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS x1,
       |         length(text) AS x2,
       |         CASE WHEN length(trim(text)) = 0 THEN 0
       |              ELSE len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) END AS y
       |  FROM documents)
       |SELECT doc_id, x1 AS n_tokens, y AS n_distinct,
       |       round(y - (b0 + b1 * x1 + b2 * x2), 6) AS resid
       |FROM feats CROSS JOIN coef
       |ORDER BY resid ASC, doc_id ASC LIMIT 10""".stripMargin
  }

  /** Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009
    * RRF): the BM25 top-20 lexical list and the cosine top-20 vector
    * list (query = vec_id 42's embedding, ranked 6-dp-rounded cosine
    * desc, id asc) are fused by rrf = sum over lists of
    * 1/(60 + rank), top-10 kept — the standard way modern retrieval
    * stacks combine a keyword index with an embedding index without
    * score calibration (ranks, not raw scores, are fused). IDs missing
    * from one list contribute 0 from it (full outer join).
    *
    * Scale shape: both legs end in a driver-bounded top-k
    * (TakeOrderedAndProject), so fusion operates on <= 40 rows — the
    * full-outer join and final sort are trivially broadcast-sized
    * regardless of corpus scale; the corpus-scale work is exactly the
    * two underlying retrieval plans, each already audited.
    */
  def hybridSearchRrf(spark: SparkSession, sfDir: String): DataFrame = {
    val lex = TextAnalysis
      .bm25TopK(docs(spark, sfDir), "doc_id", "text", bm25Terms, 20)
      .select(col("doc_id").as("id"), col("rank").as("rank_lex"))
    val emb = embs(spark, sfDir)
    val qv = emb.filter(col("vec_id") === 42).select(col("embedding").as("q_vec"))
    val scored = emb
      .filter(col("vec_id") =!= 42)
      .crossJoin(broadcast(qv))
      .withColumn(
        "cosine",
        round(
          graft.functions.VectorExprs.arrayCosine(col("q_vec"), col("embedding")),
          6))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(20)
    // rank over the <= 20 survivors only (constant partition key keeps
    // WindowExec off the corpus — the bm25TopK pattern)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    val vec = scored
      .withColumn("rank_vec", row_number().over(w))
      .select(col("vec_id").as("id"), col("rank_vec"))
    lex
      .join(vec, Seq("id"), "full_outer")
      .withColumn(
        "rrf",
        round(
          coalesce(lit(1.0) / (lit(60) + col("rank_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rank_vec")), lit(0.0)),
          6))
      .orderBy(col("rrf").desc, col("id").asc)
      .limit(10)
      .withColumn(
        "fused_rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(lit(0))
            .orderBy(col("rrf").desc, col("id").asc)))
      .select(col("id"), col("rrf"), col("fused_rank"), col("rank_lex"), col("rank_vec"))
  }

  val hybridSearchRrfSql: String = {
    val perTerm = bm25Terms
      .map(t => s"coalesce(max(CASE WHEN term = '$t' THEN s END), 0.0) AS s_$t")
      .mkString(",\n      |         ")
    val total = bm25Terms.map(t => s"s_$t").mkString(" + ")
    val inList = bm25Terms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""WITH lens AS (
       |  SELECT doc_id,
       |         CASE WHEN length(trim(text)) = 0 THEN 0
       |              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS dl
       |  FROM documents),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM lens),
       |postings AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |p AS (SELECT doc_id, term FROM postings WHERE term IN $inList),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM p GROUP BY 1, 2),
       |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM p GROUP BY 1),
       |scored AS (
       |  SELECT tf.doc_id, tf.term,
       |         ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
       |           * (tf.tf * 2.2)
       |           / (tf.tf + 1.2 * (1.0 - 0.75
       |              + 0.75 * CAST(l.dl AS DOUBLE) / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))) AS s
       |  FROM tf JOIN dfreq d USING (term) JOIN lens l USING (doc_id) CROSS JOIN stats s),
       |agg AS (
       |  SELECT doc_id,
       |         $perTerm
       |  FROM scored GROUP BY doc_id),
       |lex AS (
       |  SELECT doc_id AS id,
       |         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank_lex
       |  FROM (SELECT doc_id, round($total, 4) AS score FROM agg)
       |  ORDER BY score DESC, doc_id ASC LIMIT 20),
       |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 42),
       |cos AS (
       |  SELECT vec_id,
       |         round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv.q), 6) AS cosine
       |  FROM embeddings CROSS JOIN qv WHERE vec_id <> 42),
       |vec AS (
       |  SELECT vec_id AS id,
       |         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank_vec
       |  FROM cos ORDER BY cosine DESC, vec_id ASC LIMIT 20),
       |fused AS (
       |  SELECT coalesce(lex.id, vec.id) AS id, rank_lex, rank_vec,
       |         round(coalesce(1.0 / CAST(60 + rank_lex AS DOUBLE), 0.0)
       |               + coalesce(1.0 / CAST(60 + rank_vec AS DOUBLE), 0.0), 6) AS rrf
       |  FROM lex FULL OUTER JOIN vec ON lex.id = vec.id
       |  ORDER BY rrf DESC, id ASC LIMIT 10)
       |SELECT id, rrf,
       |       CAST(row_number() OVER (ORDER BY rrf DESC, id ASC) AS INTEGER) AS fused_rank,
       |       rank_lex, rank_vec
       |FROM fused""".stripMargin
  }

  // --------------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bm25_search" -> (bm25Search _),
    "q_hybrid_search_rrf" -> (hybridSearchRrf _),
    "q_regression_fit" -> (regressionFit _),
    "q_regression_residuals" -> (regressionResiduals _),
    "q_skew_profile" -> (skewProfile _),
    "q_embedding_pq" -> (embeddingPq _),
    "q_similarity_adc" -> (similarityAdc _),
    "q_similarity_ivfpq" -> (similarityIvfPq _),
    "q_dedup_substring" -> (dedupSubstring _),
    "q_dedup_containment" -> (dedupContainment _),
    "q_bpe_vocab" -> (bpeVocab _),
    "q_bpe_encode" -> (bpeEncode _),
    "q_chunk_documents" -> (chunkDocuments _),
    "q_corpus_report" -> (corpusReport _),
    "q_vocab_coverage" -> (vocabCoverage _),
    "q_sample_stratified" -> (sampleStratified _),
    "q_sample_weighted" -> (sampleWeighted _),
    "q_embedding_quantize" -> (embeddingQuantize _),
    "q_embedding_centroids" -> (embeddingCentroids _),
    "q_bigram_lm" -> (bigramLm _),
    "q_dedup_canonical" -> (dedupCanonical _),
    "q_text_stats" -> (textStats _),
    "q_text_quality" -> (textQuality _),
    "q_text_entropy" -> (textEntropy _),
    "q_curriculum_sample" -> (curriculumSample _),
    "q_fuzzy_join" -> (fuzzyJoin _),
    "q_fuzzy_join_qgram" -> (fuzzyJoinQGram _),
    "q_fuzzy_join_deletes" -> (fuzzyJoinDeletes _),
    "q_text_fingerprint" -> (textFingerprint _),
    "q_text_repetition" -> (textRepetition _),
    "q_text_langid" -> (textLangId _),
    "q_langid_confusion" -> (langidConfusion _),
    "q_train_val_split" -> (trainValSplit _),
    "q_shard_shuffle" -> (shardShuffle _),
    "q_pack_sequences" -> (packSequences _),
    "q_pii_redact" -> (piiRedact _),
    "q_mix_sources" -> (mixSources _),
    "q_dedup_exact" -> (dedupExact _),
    "q_dedup_clusters" -> (dedupClusters _),
    "q_dedup_incremental" -> (dedupIncremental _),
    "q_quality_threshold" -> (qualityThreshold _),
    "q_chunk_dup_ratio" -> (chunkDupRatio _),
    "q_decontaminate" -> (decontaminate _),
    "q_text_top_terms" -> (textTopTerms _),
    "q_json_path" -> (jsonPath _),
    "q_dedup_minhash" -> (dedupMinhash _),
    "q_dedup_ngram" -> (dedupNgram _),
    "q_dedup_simhash" -> (dedupSimhash _),
    "q_dedup_simhash_md5" -> (dedupSimhashMd5 _),
    "q_dedup_embedding" -> (dedupEmbedding _),
    "q_dedup_embedding_lsh" -> (dedupEmbeddingLsh _),
    "q_kmeans" -> (kmeansClusters _),
    "q_dedup_semantic" -> (dedupSemantic _),
    "q_similarity_topk" -> (similarityTopK _),
    "q_similarity_truncated" -> (similarityTruncated _),
    "q_hard_negatives" -> (hardNegatives _),
    "q_similarity_ann" -> (similarityAnn _),
    "q_similarity_ivf" -> (similarityIvf _),
    "q_similarity_ivf_persisted" -> (similarityIvfPersisted _),
    "q_multimodal_meta" -> (multimodalMeta _),
    "q_multimodal_decode" -> (multimodalDecode _),
    "q_multimodal_decode_real" -> (multimodalDecodeReal _),
    "q_multimodal_audio" -> (multimodalAudio _),
    "q_multimodal_frames" -> (multimodalFrames _),
    "q_multimodal_resize" -> (multimodalResize _),
    "q_multimodal_audio_energy" -> (multimodalAudioEnergy _),
    "q_image_dedup_phash" -> (imageDedupPhash _))

  val oracleSql: Map[String, String] = Map(
    "q_chunk_documents" -> chunkDocumentsSql,
    "q_corpus_report" -> corpusReportSql,
    "q_vocab_coverage" -> vocabCoverageSql,
    "q_sample_stratified" -> sampleStratifiedSql,
    "q_sample_weighted" -> sampleWeightedSql,
    "q_embedding_quantize" -> embeddingQuantizeSql,
    "q_embedding_centroids" -> embeddingCentroidsSql,
    "q_bigram_lm" -> bigramLmSql,
    "q_dedup_canonical" -> dedupCanonicalSql,
    "q_text_stats" -> textStatsSql,
    "q_text_quality" -> textQualitySql,
    "q_text_entropy" -> textEntropySql,
    "q_curriculum_sample" -> curriculumSampleSql,
    "q_fuzzy_join" -> fuzzyJoinSql,
    "q_fuzzy_join_qgram" -> fuzzyJoinQGramSql,
    "q_fuzzy_join_deletes" -> fuzzyJoinQGramSql,
    "q_text_fingerprint" -> textFingerprintSql,
    "q_text_repetition" -> textRepetitionSql,
    "q_dedup_exact" -> dedupExactSql,
    "q_dedup_clusters" -> dedupClustersSql,
    "q_dedup_incremental" -> dedupIncrementalSql,
    "q_quality_threshold" -> qualityThresholdSql,
    "q_chunk_dup_ratio" -> chunkDupRatioSql,
    "q_decontaminate" -> decontaminateSql,
    "q_text_top_terms" -> textTopTermsSql,
    "q_json_path" -> jsonPathSql,
    "q_dedup_minhash" -> dedupMinhashSql,
    "q_dedup_ngram" -> dedupNgramSql,
    "q_dedup_simhash_md5" -> dedupSimhashMd5Sql,
    "q_dedup_embedding" -> dedupEmbeddingSql,
    "q_kmeans" -> kmeansClustersSql,
    "q_dedup_semantic" -> dedupSemanticSql,
    "q_dedup_embedding_lsh" -> dedupEmbeddingSql,
    "q_similarity_topk" -> similarityTopKSql,
    "q_similarity_truncated" -> similarityTruncatedSql,
    "q_hard_negatives" -> hardNegativesSql,
    "q_similarity_ann" -> similarityAnnSql,
    "q_similarity_ivf" -> similarityIvfSql,
    "q_similarity_ivf_persisted" -> similarityIvfSql,
    "q_multimodal_meta" -> multimodalMetaSql,
    "q_multimodal_decode" -> multimodalDecodeSql,
    "q_multimodal_decode_real" -> multimodalDecodeRealSql,
    "q_multimodal_audio" -> multimodalAudioSql,
    "q_multimodal_frames" -> multimodalFramesSql,
    "q_multimodal_resize" -> multimodalResizeSql,
    "q_multimodal_audio_energy" -> multimodalAudioEnergySql,
    "q_image_dedup_phash" -> imageDedupPhashSql,
    "q_bm25_search" -> bm25SearchSql,
    "q_hybrid_search_rrf" -> hybridSearchRrfSql,
    "q_regression_fit" -> regressionFitSql,
    "q_regression_residuals" -> regressionResidualsSql,
    "q_skew_profile" -> skewProfileSql,
    "q_embedding_pq" -> embeddingPqSql,
    "q_similarity_adc" -> similarityAdcSql,
    "q_similarity_ivfpq" -> similarityIvfPqSql,
    "q_dedup_substring" -> dedupSubstringSql,
    "q_dedup_containment" -> dedupContainmentSql,
    "q_bpe_vocab" -> bpeVocabSql,
    "q_bpe_encode" -> bpeEncodeSql,
    "q_text_langid" -> textLangIdSql,
    "q_langid_confusion" -> langidConfusionSql,
    "q_train_val_split" -> trainValSplitSql,
    "q_shard_shuffle" -> shardShuffleSql,
    "q_pack_sequences" -> packSequencesSql,
    "q_pii_redact" -> piiRedactSql,
    "q_mix_sources" -> mixSourcesSql)
}
