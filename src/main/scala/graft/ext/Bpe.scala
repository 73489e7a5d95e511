package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units",
  * arXiv 1508.07909) — tokenizer TRAINING as an engine job: iteratively
  * merge the most frequent adjacent symbol pair over the corpus's word
  * types.
  *
  * Scale shape: the ONLY corpus-scale pass is the initial word-type
  * count (one explode + one map-side-combined hash agg). Every merge
  * round then runs over the word-TYPE table — Zipf-bounded (a 100 TB
  * corpus has millions of types, not billions of tokens) and cached
  * once. Per round: one pair-count aggregation (weighted by type
  * frequency), a 1-row argmax collect, and a pure-projection merge
  * fold. Nothing corpus-scale ever re-shuffles.
  *
  * Determinism (cross-engine contract): the winning pair ranks by
  * (count DESC, lhs ASC, rhs ASC) — binary string order, identical in
  * Spark and DuckDB; the merge applies LEFTMOST-GREEDY non-overlapping
  * within each word, implemented as a sequential `aggregate` fold whose
  * result provably equals the run-parity positional rule the SQL oracle
  * replays (within a round the merged symbol `lhs+rhs` can never equal
  * `lhs`, so a fresh merge never re-matches as the left of the pair).
  */
object Bpe {

  /** One merge rule: (step, lhs, rhs, pairCount). */
  final case class MergeRule(step: Int, lhs: String, rhs: String, pairCount: Long)

  /** Word types with frequencies — the one corpus-scale aggregation. */
  def wordTypes(corpus: DataFrame, textCol: String): DataFrame =
    corpus
      .select(explode(TextAnalysis.tokensWs(lower(col(textCol)))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  /** Leftmost-greedy merge of (a, b) within a symbol array, as a
    * sequential fold: merge when the accumulator's last element is `a`
    * (and was not itself produced by a merge this step — guaranteed
    * because a+b != a) and the next symbol is `b`.
    */
  private def foldMerge(seq: org.apache.spark.sql.Column, a: String, b: String) =
    aggregate(
      seq,
      array().cast("array<string>"),
      (acc, x) =>
        when(
          size(acc) > 0 && element_at(acc, -1) === a && x === b,
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  private def releaseCheckpoint(df: DataFrame): Unit =
    graft.util.Checkpoints.releaseLocal(df)

  /** Run `merges` BPE rounds; returns the merge table in step order.
    * Stops early when no adjacent pair remains.
    *
    * Scale shape per round: one hash aggregation over the Zipf-bounded
    * word-TYPE table plus a 1-row driver collect (the argmax pair) — the
    * collect is inherent to sequential BPE (each rule depends on the
    * last) and is O(1) per round, never corpus-sized. Each round's
    * eager `localCheckpoint` truncates the fold-expression lineage; the
    * PREVIOUS round's checkpoint blocks are released as soon as the new
    * one materializes, so executor storage stays O(word-type table), not
    * O(merges × word-type table) — the difference between merges=6 and a
    * realistic 30k-merge vocabulary. (r21 A/B: batching checkpoints to
    * every 8th round re-evaluates up to 8 interpreted fold layers under
    * every round's pair-count aggregation and measured 2.2× SLOWER at
    * sf0.1 — the eager per-round checkpoint IS the cheap shape.)
    */
  def fit(
      corpus: DataFrame,
      textCol: String,
      merges: Int,
      driverFitCap: Long = DriverFitTypeCap): Seq[MergeRule] = {
    val words = wordTypes(corpus, textCol).persist()
    try {
      // DRIVER-SIDE FAST PATH (the connected-components union-find
      // precedent applied to tokenizer training): BPE is inherently
      // sequential per rule — each round is an aggregation + a 1-row
      // collect + a fold projection + a checkpoint, ~4 engine jobs of
      // pure fixed cost over a table that is Zipf-BOUNDED (word types,
      // not tokens; the corpus-scale pass already happened in
      // wordTypes). When that table fits the driver bound, run the
      // whole merge loop locally in one collect — zero per-round jobs,
      // zero checkpoint churn (measured: the engine loop was ~20 jobs /
      // several seconds of submission+planning overhead at merges=6;
      // every real tokenizer trainer fits driver-side for this
      // reason). Oversized type tables keep the engine loop, which
      // remains the scale path. The local loop replays the engine
      // rules EXACTLY: code-point symbols, pair counts weighted by
      // type frequency, winner = (count DESC, lhs ASC, rhs ASC) in
      // UTF-8 binary order (Spark's string ordering — Java's
      // String.compareTo is UTF-16 code-unit order and DIVERGES on
      // supplementary characters), leftmost-greedy non-overlapping
      // merge. BpeSpec pins rule-for-rule parity of the two paths.
      if (words.count() <= driverFitCap) {
        return fitLocal(
          words.collect().map(r => (r.getString(0), r.getLong(1))), merges)
      }
      var seqs = words
        .select(
          col("word"),
          col("cnt"),
          expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))").as("seq"))
        .localCheckpoint(true)

      val rules = scala.collection.mutable.ListBuffer.empty[MergeRule]
      var step = 1
      var exhausted = false
      while (step <= merges && !exhausted) {
        val top = seqs
          .filter(size(col("seq")) >= 2)
          .select(
            col("cnt"),
            posexplode(expr(
              "transform(sequence(0, size(seq) - 2), i -> struct(element_at(seq, i + 1) AS lhs, element_at(seq, i + 2) AS rhs))"))
              .as(Seq("__p", "pair")))
          .groupBy(col("pair.lhs").as("lhs"), col("pair.rhs").as("rhs"))
          .agg(sum(col("cnt")).as("c"))
          .orderBy(col("c").desc, col("lhs").asc, col("rhs").asc)
          .limit(1)
          .collect()
        if (top.isEmpty) exhausted = true
        else {
          val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          rules += MergeRule(step, a, b, c)
          val prev = seqs
          seqs = seqs
            .withColumn("seq", foldMerge(col("seq"), a, b))
            .localCheckpoint(true)
          releaseCheckpoint(prev)
          step += 1
        }
      }
      releaseCheckpoint(seqs)
      rules.toSeq
    } finally words.unpersist()
  }

  /** Apply a trained merge table and count subword tokens per document.
    *
    * Scale shape: the merges replay over the word-TYPE table (the
    * tokenizer's working set), one fold projection per rule; the corpus
    * then joins each word OCCURRENCE to its type's subword length — a
    * hash join on the word key (broadcastable when the type table is
    * small) and one per-doc aggregation. The corpus text is never
    * re-folded per rule.
    *
    * Output: (idCol, n_words, n_bpe_tokens, subwords_per_word 4-dp).
    */
  def encodeCounts(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      rules: Seq[MergeRule]): DataFrame = {
    // ONE corpus-scale tokenize+explode: the word-type table derives
    // from the same occurrences frame (wordTypes() would re-scan the
    // corpus a second time for counts this path never uses)
    val occurrences = corpus
      .select(col(idCol), explode(TextAnalysis.tokensWs(lower(col(textCol)))).as("word"))
      .filter(length(col("word")) > 0)
    val types = occurrences
      .select(col("word"))
      .distinct()
      .select(
        col("word"),
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))").as("seq"))
    val merged = rules.foldLeft(types) { case (df, r) =>
      df.withColumn("seq", foldMerge(col("seq"), r.lhs, r.rhs))
    }
    val lens = merged.select(col("word"), size(col("seq")).cast("long").as("ns"))
    val agg = occurrences
      .join(lens, "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("ns")).as("n_bpe_tokens"))
    corpus
      .select(col(idCol)).distinct()
      .join(agg, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
        when(coalesce(col("n_words"), lit(0L)) === 0, lit(0.0)).otherwise(
          floor(
            col("n_bpe_tokens").cast("double") / col("n_words").cast("double")
              * 10000 + 0.5) / 10000.0).as("subwords_per_word"))
  }

  /** Word-type bound for the driver-side [[fit]] fast path: 1M types ×
    * (word + symbol array) is tens of MB on the driver — the same
    * order as the CC union-find bound. Past it the engine loop runs.
    */
  val DriverFitTypeCap: Long = 1L << 20

  /** Unsigned byte-wise UTF-8 comparison — Spark's binary string
    * order, which the engine path's ORDER BY lhs, rhs uses. (Java's
    * String.compareTo orders by UTF-16 code units and disagrees with
    * UTF-8 byte order on supplementary characters.)
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The engine merge loop, replayed locally over a collected word-type
    * table (see [[fit]]'s gate). Symbols start as single CODE POINTS
    * (the engine's `substring(word, i, 1)` counts characters, not
    * UTF-16 units); each round counts adjacent pairs weighted by type
    * frequency, picks (max count, ties to UTF-8-least lhs then rhs),
    * and applies the leftmost-greedy non-overlapping merge — the same
    * fold as [[foldMerge]]: a symbol just produced by this round's
    * merge can never re-match as the pair's left (lhs+rhs != lhs).
    */
  private def fitLocal(types: Array[(String, Long)], merges: Int): Seq[MergeRule] = {
    var seqs: Array[(Array[String], Long)] = types.map { case (w, cnt) =>
      val syms = w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
      (syms, cnt)
    }
    val rules = scala.collection.mutable.ListBuffer.empty[MergeRule]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      seqs.foreach { case (s, cnt) =>
        var i = 0
        while (i < s.length - 1) {
          val p = (s(i), s(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + cnt)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        counts.foreach { case (p, c) =>
          if (best == null || c > best._2 ||
            (c == best._2 && (utf8Lt(p._1, best._1._1) ||
              (p._1 == best._1._1 && utf8Lt(p._2, best._1._2)))))
            best = (p, c)
        }
        val ((a, b), c) = best
        rules += MergeRule(step, a, b, c)
        val ab = a + b
        seqs = seqs.map { case (s, cnt) =>
          if (s.length < 2) (s, cnt)
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            s.foreach { x =>
              if (out.nonEmpty && out.last == a && x == b)
                out(out.length - 1) = ab
              else out += x
            }
            (out.toArray, cnt)
          }
        }
        step += 1
      }
    }
    rules.toSeq
  }

  /** The merge table as a DataFrame — (step, lhs, rhs, pair_count). */
  def fitDf(spark: SparkSession, corpus: DataFrame, textCol: String, merges: Int): DataFrame = {
    import spark.implicits._
    fit(corpus, textCol, merges)
      .toDF("step", "lhs", "rhs", "pair_count")
  }
}
