package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("langId identifies prose in the five supported languages") {
    val fixtures = Seq(
      ("en", "the cat sat on the mat and it was happy with this state of things"),
      ("fr", "le chat est dans la maison et il dort sur le tapis avec les enfants"),
      ("es", "el gato está en la casa y duerme en la alfombra con los niños"),
      ("de", "die katze ist in dem haus und sie schläft auf dem teppich mit den kindern"),
      ("zh", "猫在房子里睡觉 它很开心 今天天气很好"),
      ("und", "zxqv blorp fnord quux")).toDF("expected", "text")
    val out = fixtures.withColumn("pred", TextAnalysis.langId(col("text"))).collect()
    out.foreach(r => assert(r.getAs[String]("pred") == r.getAs[String]("expected"),
      s"text='${r.getAs[String]("text")}'"))
  }

  test("fingerprintMd5 is whitespace/case-normalized; rolling fingerprint is order-sensitive") {
    val df = Seq(
      ("a", "Hello   World"),
      ("b", "hello world"),
      ("c", "world hello")).toDF("id", "t")
    val fp = df.select(col("id"), TextAnalysis.fingerprintMd5(col("t")).as("m"),
      TextAnalysis.fingerprintRolling(col("t")).as("r")).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(fp("a")._1 == fp("b")._1) // normalization collapses case+ws
    assert(fp("b")._1 != fp("c")._1) // order matters for content identity
    assert(fp("b")._2 != fp("c")._2) // rolling hash is order-sensitive
    assert(fp("a")._2 == fp("b")._2)
  }

  test("repetition features flag keyword stuffing and repeated phrases, pass prose") {
    val df = Seq(
      ("stuffed", "buy now buy now buy now buy now buy now"),
      ("loop", ("the same phrase again " * 10).trim),
      ("prose", "a quick brown fox jumps over one lazy dog near the quiet river bank"),
      ("empty", ""),
      ("single", "word")).toDF("id", "text")
    val out = TextAnalysis.repetitionFeatures(df, "text")
      .select(col("id"), col("top_token_ratio"), col("dup_bigram_ratio"), col("is_repetitive"))
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getInt(3)))).toMap
    assert(out("stuffed")._3 == 1 && out("stuffed")._1 == 0.5) // "buy"/"now" are 5 of 10 each
    assert(out("loop")._3 == 1 && out("loop")._2 > 0.8) // repeated 4-word phrase
    assert(out("prose")._3 == 0)
    assert(out("empty") == ((0.0, 0.0, 0)) && out("single") == ((1.0, 0.0, 1)))
  }

  test("redactPii scrubs emails, urls, and ips; leaves clean text and lookalikes intact") {
    val df = Seq(
      (1L, "mail alice.smith+x@sub.example.org today"),
      (2L, "see https://a.example.com/path?q=1#frag and http://b.io"),
      (3L, "server at 192.168.001.1 responded"),
      (4L, "plain text with no identifiers at all"),
      (5L, "not-an-ip 1234.5.6.7 stays put"), // leading run too long for \b..\b? (actually 234.5.6.7 matches after the 1)
      (6L, "url-with-at https://x.io/a@b then done")).toDF("id", "t")
    val out = df.select(col("id"), TextAnalysis.redactPii(col("t")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "mail <EMAIL> today")
    assert(out(2L) == "see <URL> and <URL>")
    assert(out(3L) == "server at <IP> responded")
    assert(out(4L) == "plain text with no identifiers at all")
    assert(out(6L) == "url-with-at <URL> then done") // URL first, so no <EMAIL> inside it
  }

  test("mixSources keeps ~weight fraction per source, deterministically") {
    val df = (1L to 4000L).map(i => (i, s"src${i % 4}")).toDF("id", "src")
    val kept = TextAnalysis.mixSources(
      df, "id", "src", Map("src0" -> 1.0, "src1" -> 0.5), defaultWeight = 0.1)
    val bySrc = kept.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") == 1000L) // weight 1.0 keeps everything
    assert(math.abs(bySrc("src1") - 500L) < 100, s"src1=${bySrc("src1")}")
    assert(math.abs(bySrc.getOrElse("src2", 0L) - 100L) < 50, s"src2=${bySrc.get("src2")}")
    // pure function of (id, weight): identical keep-set on re-run
    val again = TextAnalysis.mixSources(
      df, "id", "src", Map("src0" -> 1.0, "src1" -> 0.5), defaultWeight = 0.1)
    assert(kept.collect().map(_.getLong(0)).sorted.toSeq ==
      again.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("packSequences fills bins to the budget in id order and never splits mid-doc") {
    val df = (1L to 100L).map(i => (i, 100 + (i % 7).toInt * 50)).toDF("id", "toks")
    val out = TextAnalysis.packSequences(df, "id", "toks", budget = 1000, shards = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 100)
    // within a shard, bins are assigned in id order with non-decreasing ids,
    // and each bin STARTS under the budget (a doc may overflow its bin's end
    // - contiguous packing never splits a document)
    out.groupBy(_._3).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._1)
      var running = 0L
      sorted.foreach { case (_, toks, _, bin) =>
        assert(bin == running / 1000, s"bin must be the running-offset bucket")
        running += toks
      }
    }
    // same doc -> same shard/bin on re-run (pure function of the input)
    val again = TextAnalysis.packSequences(df, "id", "toks", budget = 1000, shards = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("quality score favors long diverse prose over punctuation soup") {
    val df = Seq(
      ("good", ("the quick brown fox jumps over the lazy dog and runs through the field " * 4)),
      ("bad", ";;;,,,!!!??? ;;; ,,, !!!")).toDF("id", "text")
    val out = TextAnalysis.qualityFeatures(df, "text")
      .select(col("id"), col("quality_score")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("good") > 0.6 && out("bad") < 0.4)
  }
}

class ChunkDupSpec extends SparkSpec {
  import spark.implicits._

  test("chunkDupStats flags corpus-repeated chunks, not unique ones") {
    val docs = Seq(
      (1L, "a b c d"), // chunks: "a b", "c d"
      (2L, "a b x y"), // shares "a b" with doc 1
      (3L, "p q r s"), // fully unique
      (4L, "e f e f"), // self-repeat: same chunk twice within one doc
      (5L, "a b c")) // partial trailing chunk "c" (ceil division)
      .toDF("id", "text")
    val out = TextAnalysis.chunkDupStats(docs, "id", "text", chunkTokens = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((2L, 0L, 0.0)))
    assert(out(4L) == ((2L, 2L, 1.0)))
    assert(out(5L) == ((2L, 1L, 0.5)))
  }

  test("repeatedSpanStats merges overlapping any-offset repeats; clean and short docs score 0") {
    val docs = Seq(
      // A and B share the 8-token prefix; A's pos-1 shingle also
      // appears in C -> A covers the union [0,8) ∪ [1,9) = 9 tokens
      (1L, "a b c d e f g h x y"),
      (2L, "a b c d e f g h z w"),
      (3L, "b c d e f g h x QQ RR"),
      // self-repeat: the same 8-gram at pos 0 and pos 8
      (4L, "p q r s t u v w p q r s t u v w"),
      (5L, "entirely unique words that never repeat anywhere at all"),
      (6L, "too short")) // < L tokens
      .toDF("doc_id", "text")
    val out = TextAnalysis.repeatedSpanStats(docs, "doc_id", "text", spanTokens = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((10L, 9L, 0.9)), s"A: ${out(1L)}")
    assert(out(2L)._2 == 8L, s"B: ${out(2L)}")
    assert(out(3L)._2 == 8L, s"C: ${out(3L)}")
    assert(out(4L) == ((16L, 16L, 1.0)), s"self-repeat: ${out(4L)}")
    assert(out(5L) == ((9L, 0L, 0.0)), s"clean: ${out(5L)}")
    assert(out(6L) == ((2L, 0L, 0.0)), s"short: ${out(6L)}")
  }

  test("bm25TopK ranks term-dense short docs first and skips non-matching docs") {
    val docs = Seq(
      (1L, "spark spark spark"), // high tf for 'spark', short
      (2L, "spark is a system for large data and more words here padding length"),
      (3L, "nothing relevant at all"), // no query term: must be absent
      (4L, "merge merge"), // rarest-term doc (if 'merge' rarer => higher idf)
      (5L, "spark merge")) // both terms
      .toDF("doc_id", "text")
    val out = TextAnalysis
      .bm25TopK(docs, "doc_id", "text", Seq("spark", "merge"), topK = 10)
      .collect()
    val ids = out.map(_.getLong(0)).toSet
    assert(!ids.contains(3L), "doc without any query term must not appear")
    assert(ids == Set(1L, 2L, 4L, 5L))
    // ranks are 1..n dense and ordered by (score desc, id asc)
    val byRank = out.sortBy(_.getInt(2))
    assert(byRank.map(_.getInt(2)).toSeq == (1 to 4))
    val scores = byRank.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
    // doc 5 covers both terms with short length: must beat the
    // long single-term doc 2
    val rankOf = out.map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(rankOf(5L) < rankOf(2L))
  }

  test("bm25TopK normalizes query-term case (mixed-case query matches lowercased corpus)") {
    val docs = Seq((1L, "Spark merges data"), (2L, "no match here")).toDF("doc_id", "text")
    val out = TextAnalysis
      .bm25TopK(docs, "doc_id", "text", Seq("SPARK", "Spark"), topK = 10)
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L),
      "mixed-case (and case-duplicate) query terms must match the lowercased corpus once")
  }

  test("bm25TopK respects topK with deterministic id tie-break") {
    val docs = (1L to 30L).map(i => (i, "common filler")).toDF("doc_id", "text")
    val out = TextAnalysis
      .bm25TopK(docs, "doc_id", "text", Seq("common"), topK = 7)
      .collect()
    // all scores equal -> ties resolve to the 7 lowest ids
    assert(out.map(_.getLong(0)).sorted.toSeq == (1L to 7L))
  }

  test("hybrid RRF fusion: dense top-10, scores recomputable from the leg ranks") {
    val rows = graft.queries.ExtQueries
      .hybridSearchRrf(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length == 10)
    // fused_rank is dense 1..10 in rrf-desc, id-asc order
    val byRank = rows.sortBy(_.getAs[Int]("fused_rank"))
    assert(byRank.map(_.getAs[Int]("fused_rank")).toSeq == (1 to 10))
    val rrfs = byRank.map(_.getAs[Double]("rrf")).toSeq
    assert(rrfs == rrfs.sorted.reverse, "rrf must be non-increasing down the fused list")
    // every row's rrf must equal 1/(60+rank_lex) + 1/(60+rank_vec) with a
    // missing leg contributing zero — the fusion is pure rank arithmetic
    rows.foreach { r =>
      def leg(c: String): Double =
        if (r.isNullAt(r.fieldIndex(c))) 0.0 else 1.0 / (60 + r.getAs[Int](c))
      val expect = BigDecimal(leg("rank_lex") + leg("rank_vec"))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("rrf") == expect, s"id=${r.getAs[Long]("id")}")
      assert(!(r.isNullAt(r.fieldIndex("rank_lex")) && r.isNullAt(r.fieldIndex("rank_vec"))),
        "a fused row must come from at least one leg")
    }
    // both retrieval modalities must actually contribute to the fused list
    assert(rows.exists(r => !r.isNullAt(r.fieldIndex("rank_lex"))), "no lexical contribution")
    assert(rows.exists(r => !r.isNullAt(r.fieldIndex("rank_vec"))), "no vector contribution")
  }

  test("normal-equations fit recovers an exactly-linear planted relation") {
    import org.apache.spark.sql.functions._
    // doc i: (i+3) distinct tokens (incl. one pad) plus 2 repeats ->
    // x1 = i+5 tokens, y = i+3 distinct, so y = x1 - 2 exactly. The pad
    // token's length varies NON-linearly in i, keeping x2 off the x1
    // affine line (a collinear x2 makes the normal equations singular).
    // All moments are small exact integers, so the double Cramer solve
    // is exact and the fit must return b0=-2, b1=1, b2=0, r2=1 to the
    // last bit.
    val rows = (1 to 10).map { i =>
      val distinctToks = (1 to (i + 2)).map(j => s"t${i}_$j")
      val pad = "x" * ((i * i) % 7 + 1)
      (distinctToks ++ Seq(distinctToks.head, distinctToks.head, pad)).mkString(" ")
    }
    val df = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-regfit").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = graft.queries.ExtQueries.regressionFit(spark, tmp).head()
    assert(r.getAs[Long]("n_docs") == 10)
    assert(r.getAs[Double]("b0") == -2.0, s"b0=${r.getAs[Double]("b0")}")
    assert(r.getAs[Double]("b1") == 1.0, s"b1=${r.getAs[Double]("b1")}")
    assert(r.getAs[Double]("b2") == 0.0, s"b2=${r.getAs[Double]("b2")}")
    assert(r.getAs[Double]("r2") == 1.0, s"r2=${r.getAs[Double]("r2")}")
  }

  test("regression residual scorer surfaces the lowest-vocabulary-for-size docs") {
    val rows = graft.queries.ExtQueries
      .regressionResiduals(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.length == 10)
    val resids = rows.map(_.getAs[Double]("resid")).toSeq
    assert(resids == resids.sorted, "most negative residuals first")
    // flagged docs must actually be vocabulary-deficient: distinct < tokens
    rows.foreach { r =>
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Double]("resid") < 0.0, "a top repetitive doc must under-shoot the fit")
    }
  }

  test("skew profile: exact ratios, uniform key is ~1.0, sum checks out") {
    val rows = graft.queries.ExtQueries
      .skewProfile(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val nRows = r.getAs[Long]("n_rows")
      val nKeys = r.getAs[Long]("n_keys")
      val maxCnt = r.getAs[Long]("max_cnt")
      assert(nKeys <= nRows && maxCnt <= nRows && maxCnt >= nRows / nKeys,
        s"${r.getAs[String]("key_col")}: inconsistent histogram summary")
      // skew_factor = max/mean >= 1 by definition
      assert(r.getAs[Double]("skew_factor") >= 1.0)
      assert(r.getAs[Double]("top1_share") > 0.0 && r.getAs[Double]("top1_share") <= 1.0)
    }
  }
}

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("profile emits one scalar row per column with null/distinct/minmax/len stats") {
    val df = Seq(
      (Some(1L), Some(2.0), Some("ab"), Some(java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))),
      (Some(2L), None, Some("abcd"), None),
      (Some(2L), Some(4.0), None, Some(java.sql.Timestamp.valueOf("2020-01-02 00:00:00"))))
      .toDF("k", "v", "s", "ts")
    val out = graft.operators.Profile.profile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("k", "v", "s", "ts"))
    val k = out("k")
    assert(k.getLong(1) == 3L && k.getLong(2) == 0L && k.getLong(3) == 2L)
    assert(k.getDouble(4) == 1.0 && k.getDouble(5) == 2.0 && k.isNullAt(6))
    val v = out("v")
    assert(v.getLong(2) == 1L && v.getLong(3) == 2L)
    assert(v.getDouble(4) == 2.0 && v.getDouble(5) == 4.0)
    val s = out("s")
    assert(s.getLong(2) == 1L && s.getLong(3) == 2L)
    assert(s.isNullAt(4) && s.isNullAt(5))
    assert(s.getDouble(6) == 3.0) // (2 + 4) / 2
    val ts = out("ts")
    assert(ts.getLong(2) == 1L && ts.getLong(3) == 2L)
    // UTC session: epoch seconds of the two midnights, 86400 apart
    assert(ts.getDouble(5) - ts.getDouble(4) == 86400.0)
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = {
    val base = (0 until 60).map { i =>
      val words = (0 until 40).map(j => s"w${(i * 7 + j * 13) % 97}")
      (i.toLong, words.mkString(" "))
    }
    // planted near-dups: ids 1000+i are copies of i%3==0 docs with last 2 words dropped
    val dups = base.filter(_._1 % 3 == 0).map { case (id, t) =>
      (1000L + id, t.split(" ").dropRight(2).mkString(" "))
    }
    (base ++ dups).toDF("id", "text")
  }

  test("minhash dedup persists its shingle frame past one file split, whatever the broadcast threshold") {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold", "spark.sql.files.maxPartitionBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.catalog.clearCache()
    try {
      val df = corpus
      val estimate = df.queryExecution.optimizedPlan.stats.sizeInBytes
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1g")
      spark.conf.set("spark.sql.files.maxPartitionBytes", (estimate - 1).toString)
      Dedup.minhashDedupPairs(df, "id", "text", 0.5)
      assert(!spark.sharedState.cacheManager.isEmpty, "no cached plan registered")
    } finally {
      spark.catalog.clearCache()
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("minhash LSH finds every planted near-dup pair and estimates jaccard") {
    val pairs = Dedup.minhashDedupPairs(corpus, "id", "text", 0.5).collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 60 by 3).map(i => (i.toLong, 1000L + i)).toSet
    assert(planted.subsetOf(found), s"missing ${planted -- found}")
    pairs.filter(r => planted((r.getLong(0), r.getLong(1))))
      .foreach(r => assert(r.getAs[Double]("jaccard") > 0.8))
  }

  test("containment catches an embedded quote that Jaccard misses; direction is smaller-in-larger") {
    val quote = "the quick brown fox jumps over the lazy dog tonight"
    // diverse filler (unique tokens) so the page's DISTINCT shingle set
    // is large — repeated filler would collapse and inflate Jaccard
    val page = (1 to 40).map(i => s"pre$i").mkString(" ") + " " + quote + " " +
      (1 to 40).map(i => s"post$i").mkString(" ")
    val docs = Seq(
      (1L, page),
      (2L, quote),
      (3L, "completely unrelated words about other things entirely now")).toDF("id", "text")
    val cont = Dedup.ngramContainmentPairs(docs, "id", "text", threshold = 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // the quote's shingles all appear in the page: containment 1.0,
    // directed small -> large
    assert(cont.contains((2L, 1L)), s"got $cont")
    assert(cont((2L, 1L)) == 1.0)
    assert(!cont.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // symmetric Jaccard on the same pair is far below any dedup threshold
    val jac = Dedup.ngramJaccardPairs(docs, "id", "text", threshold = 0.3).collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      "Jaccard should miss the quote-in-page pair at any reasonable threshold")
  }

  test("containment prefix filter loses nothing on hot shingles (no postings cap needed)") {
    // every doc shares one boilerplate sentence — a postings cap of any
    // size below the corpus would drop those shingles from the index and
    // with them any pair whose overlap rides on them. The PPJoin prefix
    // filter must still find the planted contained pair: boilerplate
    // sorts LAST in the df-ascending canonical order, so it stays out of
    // prefixes without being dropped from the probe side.
    val boiler = "all rights reserved by the original publisher of record"
    val quote = "a very specific quoted passage appears embedded right here"
    val filler = (i: Int) => (1 to 30).map(j => s"u${i}x$j").mkString(" ")
    val base = (0 until 30).map(i => (i.toLong, s"${filler(i)} $boiler"))
    val pair = Seq(
      (100L, s"$quote $boiler"), // contained: quote + boilerplate only
      (101L, s"${filler(99)} $quote $boiler ${(1 to 30).map(j => s"v$j").mkString(" ")}"))
    val docs = (base ++ pair).toDF("id", "text")
    val out = Dedup.ngramContainmentPairs(docs, "id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.contains((100L, 101L)), s"hot-shingle contained pair missed: $out")
    assert(out((100L, 101L)) == 1.0, s"got ${out((100L, 101L))}")
    // and the boilerplate alone must NOT fabricate pairs between fillers
    assert(!out.keySet.exists(p => p._1 < 100L && p._2 < 100L), s"got $out")
  }

  test("containment join is exact: agrees with brute-force verification on every pair") {
    val brute = {
      val a = corpus.select(col("id").as("id_a"), col("text").as("text_a"))
      val b = corpus.select(col("id").as("id_b"), col("text").as("text_b"))
      val shA = Dedup.shingles(col("text_a"))
      val shB = Dedup.shingles(col("text_b"))
      val shared = size(array_intersect(shA, shB)).cast("double")
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("na", size(shA))
        .withColumn("nb", size(shB))
        .withColumn(
          "containment",
          floor(shared / least(col("na"), col("nb")) * 10000 + 0.5) / 10000.0)
        .filter(col("containment") >= 0.9)
        .select(
          when(col("na") <= col("nb"), col("id_a")).otherwise(col("id_b")).as("id_contained"),
          when(col("na") <= col("nb"), col("id_b")).otherwise(col("id_a")).as("id_container"),
          col("containment"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    }
    val viaPrefix = Dedup.ngramContainmentPairs(corpus, "id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaPrefix == brute, s"prefix=${viaPrefix.size} pairs, brute=${brute.size}")
    // the planted trimmed copies are contained in their originals
    val planted = (0 until 60 by 3).map(i => (1000L + i, i.toLong)).toSet
    assert(planted.subsetOf(viaPrefix.keySet), s"missing ${planted -- viaPrefix.keySet}")
  }

  test("ngram Jaccard join is exact: agrees with brute-force verification on every pair") {
    val viaIndex = Dedup.ngramJaccardPairs(corpus, "id", "text", 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    // brute-force ground truth via the column-level jaccard over all pairs
    val a = corpus.select(col("id").as("id_a"), col("text").as("text_a"))
    val b = corpus.select(col("id").as("id_b"), col("text").as("text_b"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .withColumn("jaccard", round(Dedup.jaccard(col("text_a"), col("text_b")), 4))
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(viaIndex == exact, s"index-join=${viaIndex.size} pairs, brute=${exact.size}")
    val planted = (0 until 60 by 3).map(i => (i.toLong, 1000L + i)).toSet
    assert(planted.subsetOf(viaIndex.keySet))
  }

  test("simhash buckets recover planted near-dups within hamming distance") {
    val pairs = Dedup.simhashDedupPairs(corpus, "id", "text", maxHamming = 10).collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 60 by 3).map(i => (i.toLong, 1000L + i)).toSet
    // simhash is coarser than minhash; demand high recall, not perfection
    assert((planted & found).size >= (planted.size * 0.8).toInt,
      s"recall too low: ${(planted & found).size}/${planted.size}")
  }

  test("clusterPairs converges over a multi-hop chain to the minimum id") {
    // chain 1-2, 2-3, 3-4 plus isolated pair 10-11: diameter > 1 forces
    // multiple propagation rounds
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.clusterPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("clusterPairs broadcast close and iterative propagation label identically") {
    // same graph through both paths: the driver union-find (default,
    // edges under the broadcast bound) and the iterative min-label
    // propagation (forced via broadcastEdgeLimit = 0, the 100 TB path)
    val rnd = new scala.util.Random(7)
    val pairs = (0 until 300)
      .map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
      .toDF("id_a", "id_b")
    def labelsOf(limit: Long) =
      Dedup.clusterPairs(pairs, broadcastEdgeLimit = limit).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val broadcastClose = labelsOf(1000000L)
    val iterative = labelsOf(0L)
    assert(broadcastClose == iterative,
      s"diverged: ${broadcastClose.toSet.diff(iterative.toSet).take(5)}")
  }

  test("clusterPairs handles string ids (md5/UUID dedup shape) under ANSI mode") {
    // String ids make the integral-sum convergence probe unusable: the
    // decimal cast throws under ANSI (and silently yields NULL with ANSI
    // off, converging one round early with wrong labels). The fallback
    // changed-label probe must still propagate a multi-hop chain to its
    // lexicographic minimum.
    val pairs = Seq(("b", "c"), ("c", "d"), ("d", "e"), ("x", "y"))
      .toDF("id_a", "id_b")
    val labels = Dedup.clusterPairs(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels == Map(
      "b" -> "b", "c" -> "b", "d" -> "b", "e" -> "b", "x" -> "x", "y" -> "x"))
  }

  test("LSH embedding near-dup pairs match the brute-force baseline on planted copies") {
    val rnd = new scala.util.Random(11)
    val base = (0 until 200).map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1).toSeq))
    // planted exact copies (cosine 1.0 -> identical signatures in every
    // table -> LSH recall exactly 1) plus the rest of the corpus
    val dups = base.filter(_._1 % 10 == 0).map { case (id, v) => (1000L + id, v) }
    val corpus = (base ++ dups).toDF("id", "vec")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = pairs(Dedup.embeddingNearDupPairs(corpus, "id", "vec", 0.9))
    val lsh = pairs(Dedup.embeddingNearDupPairsLsh(corpus, "id", "vec", 0.9))
    assert(brute.nonEmpty && lsh == brute, s"lsh=${lsh.size} brute=${brute.size}")
  }

  test("q_dedup_embedding_lsh oracle precondition holds on the shipped testdata") {
    // The LSH query shares the brute-force SQL oracle; that equivalence is
    // only guaranteed when every threshold-crossing pair is a planted copy
    // (cosine 1.0, where hyperplane-LSH recall is exactly 1). Organic pairs
    // in [0.9, 1) would make the oracle check data-dependent. Guard the
    // precondition on the real corpus so a testdata change fails HERE with
    // a message, not downstream as an opaque hash mismatch.
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = e.unionByName(
      e.filter(col("vec_id") % 10 === 0).withColumn("vec_id", col("vec_id") + 100000))
    val organic = Dedup.embeddingNearDupPairs(corpus, "vec_id", "embedding", 0.9)
      .filter(col("cosine") < 0.999999).count()
    assert(organic == 0L,
      s"$organic organic pairs in [0.9, 1) — q_dedup_embedding_lsh's shared " +
        "brute-force oracle is no longer guaranteed exact; see ExtQueries.dedupEmbeddingLsh")
  }

  test("contaminationFlags catches eval docs, their near-copies, and passes clean docs") {
    val corpusDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // the "benchmark" doc
      (2L, "alpha beta gamma delta something else entirely"), // leading 4 tokens shared
      (3L, "totally unrelated words with no overlap at all"),
      (4L, "zeta epsilon delta gamma beta alpha")) // reversed: shares no 3-gram
      .toDF("id", "text")
    val eval = corpusDocs.filter(col("id") === 1L)
    val out = Dedup.contaminationFlags(corpusDocs, "id", "text", eval, "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out(1L) == ((4L, 1))) // self-match: all 4 of its own 3-grams
    assert(out(2L) == ((2L, 1))) // "alpha beta gamma", "beta gamma delta"
    assert(out(3L) == ((0L, 0)))
    assert(out(4L) == ((0L, 0))) // order matters for n-grams
  }

  test("exactDedup keeps lowest id per distinct content") {
    val df = Seq((5L, "x y z"), (2L, "x  Y z"), (9L, "other")).toDF("id", "text")
    val kept = Dedup.exactDedup(df, "id", "text").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 9L))
  }

  test("dedupAgainstCorpus drops normalized matches, keeps new content uncollapsed") {
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("id", "text")
    val batch = Seq(
      (10L, "alpha  BETA"), // normalization (case+whitespace) matches corpus id 1
      (11L, "epsilon zeta"),
      (12L, "epsilon zeta")).toDF("id", "text") // within-batch dup: NOT collapsed here
    val out = Dedup.dedupAgainstCorpus(batch, corpus, "id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(11L, 12L))
  }

  test("exactDupPairs emits a spanning star per fingerprint group, not all pairs") {
    val df = Seq(
      (3L, "same text here"), (1L, "same text here"), (2L, "same text here"),
      (11L, "pair text"), (10L, "pair text"),
      (20L, "unique")).toDF("id", "text")
    val edges = Dedup.exactDupPairs(df, "id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // star around the min id — O(M) edges, never the M² self-join
    assert(edges == Set((1L, 2L), (1L, 3L), (10L, 11L)))
    // connectivity unchanged: clusterPairs yields the same components
    val labels = Dedup.clusterPairs(Dedup.exactDupPairs(df, "id", "text")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("ngram postings cap drops boilerplate-only pairs, keeps true dups") {
    val boiler = (0 until 40).map(j => s"b$j").mkString(" ")
    // 30 docs: 5 unique words + the same 40-word boilerplate tail →
    // pairwise Jaccard ≈ 0.79 purely from boilerplate
    val noise = (0 until 30).map(i =>
      (i.toLong, (0 until 5).map(j => s"u${i}_$j").mkString(" ") + " " + boiler))
    // one true dup pair with unique, boilerplate-free text
    val dup = Seq(
      (500L, (0 until 40).map(j => s"d$j").mkString(" ")),
      (501L, (0 until 40).map(j => s"d$j").mkString(" ")))
    val df = (noise ++ dup).toDF("id", "text")
    val uncapped = Dedup.ngramJaccardPairs(df, "id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size > 100 && uncapped((500L, 501L))) // C(30,2) boilerplate pairs + dup
    val capped = Dedup.ngramJaccardPairs(df, "id", "text", 0.5, maxPostings = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((500L, 501L)), s"capped=$capped")
  }

  test("simhash bucketed pairs equal brute-force Hamming<=3 pairs (pigeonhole recall 1)") {
    val withCopies = corpus.unionByName(
      corpus.filter(col("id") % 5 === 0 && col("id") < 100)
        .withColumn("id", col("id") + 2000L))
    val bucketed = Dedup.simhashDedupPairs(withCopies, "id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigs = withCopies.select(
      col("id"),
      graft.functions.VectorExprs
        .simhash64(split(trim(lower(col("text"))), "\\s+")).as("sig"))
    val a = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .filter(Dedup.hamming64(col("sig_a"), col("sig_b")) <= 3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed.nonEmpty && bucketed == brute,
      s"bucketed=${bucketed.size} brute=${brute.size}")
  }

  test("md5 simhash: bucketed == brute Hamming<=3, and the token hash matches the SQL form") {
    // the oracle-replayable variant must have the same pigeonhole
    // guarantee over its 60-bit / 4×15-chunk geometry
    val withCopies = corpus.unionByName(
      corpus.filter(col("id") % 5 === 0 && col("id") < 100)
        .withColumn("id", col("id") + 2000L))
    val bucketed = Dedup.simhashDedupPairsMd5(withCopies, "id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigs = withCopies.select(
      col("id"),
      graft.functions.VectorExprs
        .simhashMd5(split(trim(lower(col("text"))), "\\s+")).as("sig"))
    val a = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .filter(Dedup.hamming64(col("sig_a"), col("sig_b")) <= 3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed.nonEmpty && bucketed == brute,
      s"bucketed=${bucketed.size} brute=${brute.size}")
    // signatures stay within 60 bits (no sign-bit arithmetic anywhere)
    val sigVals = sigs.collect().map(_.getLong(1))
    assert(sigVals.forall(s => s >= 0L && s < (1L << 60)))
    // compiled token hash == the declarative conv(md5-prefix) column the
    // DuckDB oracle mirrors
    val tok = withCopies.limit(20).select(
      explode(split(trim(lower(col("text"))), "\\s+")).as("t"))
    val mismatch = tok.select(
      graft.functions.VectorExprs.simhashMd5(array(col("t"))).as("compiled"),
      conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("declared"))
      .collect()
    mismatch.foreach { r =>
      // a single token's simhash IS its 60-bit token hash (every tally
      // is the hash bit's sign)
      assert(r.getLong(0) == r.getLong(1), s"token-hash divergence: $r")
    }
  }

  test("simhash bucket cap bounds a degenerate identical-content corpus") {
    // 50 identical docs: every signature equal, all four chunk buckets
    // collapse to one — without the cap this is a quadratic self-join
    val df = (0 until 50).map(i => (i.toLong, "the same words every time")).toDF("id", "text")
    val capped = Dedup.simhashDedupPairs(df, "id", "text", maxHamming = 3, maxBucket = 10)
    assert(capped.count() == 0L) // over-cap buckets dropped entirely, job completes
    val uncapped = Dedup.simhashDedupPairs(df, "id", "text", maxHamming = 3, maxBucket = 1000)
    assert(uncapped.count() == 50L * 49 / 2)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vectors = {
    val rnd = new scala.util.Random(7)
    (0 until 200).map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1).toSeq))
      .toDF("id", "vec")
  }

  test("truncated-dim retrieval: valid ranks, and full cosine bounds the truncated pick") {
    val rows = graft.queries.ExtQueries
      .similarityTruncated(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.nonEmpty)
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rs.length), s"query $q ranks")
      // the list is ordered by TRUNCATED cosine...
      val c16 = sorted.map(_.getAs[Double]("cosine_16")).toSeq
      assert(c16 == c16.sorted.reverse, s"query $q not ordered by cosine_16")
      // ...and both measures stay in [-1, 1]
      rs.foreach { r =>
        assert(math.abs(r.getAs[Double]("cosine_16")) <= 1.0 + 1e-9)
        assert(math.abs(r.getAs[Double]("cosine_full")) <= 1.0 + 1e-9)
      }
    }
  }

  test("hard negatives come from the band just under the dup bar") {
    val rows = graft.queries.ExtQueries
      .hardNegatives(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("cosine") < 0.9, "a hard negative must be below the dup bar")
      assert(r.getAs[Long]("anchor_id") != r.getAs[Long]("negative_id"))
      assert(r.getAs[Int]("rank") <= 2)
    }
    // per anchor, the mined negatives are the TOP of the band (nothing
    // admissible scores higher): re-check against the brute scan
    val brute = graft.queries.ExtQueries.similarityTopK(spark, "/root/testdata/sf0.01")
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
    rows.groupBy(_.getAs[Long]("anchor_id")).foreach { case (a, negs) =>
      val minedBest = negs.map(_.getAs[Double]("cosine")).max
      // any brute top-5 neighbor under the bar must not beat the mined best
      brute.get(a).foreach(_.foreach { b =>
        val c = b.getAs[Double]("cosine")
        if (c < 0.9) assert(c <= minedBest, s"anchor $a: brute $c beats mined $minedBest")
      })
    }
  }

  test("lsh ANN reaches high recall@5 against the brute-force baseline") {
    val qs = vectors.filter(col("id") % 20 === 0)
    val exact = Similarity.bruteForceTopK(qs, vectors, "id", "vec", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(qs, vectors, "id", "vec", 5, bits = 6, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall@5 = $recall")
  }

  test("lsh ANN auto-sizes bits to the corpus: small corpora still yield candidates") {
    // The sf0.01 failure mode: 500 vectors with 12-bit signatures put
    // every vector in a singleton bucket -> zero candidates, zero rows.
    val qs = vectors.filter(col("id") % 20 === 0)
    val auto = Similarity.lshTopK(qs, vectors, "id", "vec", 5) // bits auto
    val perQuery = auto.groupBy("query_id").count().collect()
    assert(perQuery.length == 10, s"every query must return neighbors, got ${perQuery.length}")
    perQuery.foreach(r => assert(r.getLong(1) == 5L, s"query ${r.get(0)} returned ${r.getLong(1)}"))
    assert(Similarity.autoBits(200) == 2)
    assert(Similarity.autoBits(500) == 3)
    assert(Similarity.autoBits(1000000) == 14)
    assert(Similarity.autoBits(1000000000L) == 20) // capped
  }

  test("IVF ANN reaches reasonable recall@5 and beats random probing") {
    val qs = vectors.filter(col("id") % 20 === 0)
    val exact = Similarity.bruteForceTopK(qs, vectors, "id", "vec", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(qs, vectors, "id", "vec", 5, nlist = 8, nprobe = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall@5 = $recall")
    // probing half the lists must examine well under the full corpus
    assert(ivf.nonEmpty)
  }

  test("ANN results are CONTAINED in brute-force top-k': approximation only omits, never invents") {
    // The exactness anchor the recall tests lack: ANN may miss a true
    // neighbor (bucket/probe misses), but every pair it DOES return must
    // be a genuine high-rank neighbor under the exact cosine — i.e. a
    // member of the brute-force top-k' for a modest slack k' > k. A bug
    // that scores candidates with a wrong distance, or leaks
    // out-of-bucket ids, breaks containment even at perfect recall:
    // mis-scored substitutes land at ~uniform true rank (~100 on this
    // 200-vector corpus). k'=40 calibration: the worst honest LSH
    // substitution on this seed is true rank 28 (a query whose buckets
    // held only one high-ranker), so 40 gives margin over honest
    // approximation while sitting far below the random-rank signature.
    val qs = vectors.filter(col("id") % 20 === 0)
    val kPrime = 40
    val exactWide = Similarity.bruteForceTopK(qs, vectors, "id", "vec", kPrime)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(qs, vectors, "id", "vec", 5, bits = 6, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(qs, vectors, "id", "vec", 5, nlist = 8, nprobe = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((lsh -- exactWide).isEmpty,
      s"LSH returned pairs outside brute top-$kPrime: ${(lsh -- exactWide).take(5)}")
    assert((ivf -- exactWide).isEmpty,
      s"IVF returned pairs outside brute top-$kPrime: ${(ivf -- exactWide).take(5)}")
  }

  test("past-cap IVF: broadcast-join argmin is bit-identical to the literal-centroid rule") {
    // Forces nlist > LiteralCentroidCap (256): the fit, the corpus
    // inversion, and the probe selection all take the broadcast-join
    // path. Parity oracle = the literal rule itself, recomputed here
    // via scoredArray — the cap must be where the PLAN changes shape,
    // never where the RESULT changes.
    val rnd = new scala.util.Random(11)
    val dense = (0 until 320)
      .map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1).toSeq))
      .toDF("id", "vec")
    // NULL elements: a vector holding one scores NULL everywhere and
    // lands in cluster 0, whose centroid then has a NULL component
    val withNulls = dense.withColumn("vec",
      transform(col("vec"), (x, j) => when(j === 0 && col("id") % 31 === 0, lit(null)).otherwise(x)))
    Seq(dense -> false, withNulls -> true).foreach { case (corpus, nulls) =>
      val nlist = 280
      val centroids = Clustering.kmeansFit(corpus, "id", "vec", nlist, 1)
      assert(centroids.size > Clustering.LiteralCentroidCap,
        s"fixture must exceed the cap, got ${centroids.size}")
      assert(centroids.exists(_._2.asInstanceOf[Seq[Any]].contains(null)) == nulls,
        "only the NULL-element fixture has a NULL centroid component")

      def scored = Clustering.scoredArray(centroids, col("vec"))

      // assignment parity: (cluster, cosine) per id, bit-exact
      val lit = corpus.select(
          col("id"),
          (-array_max(scored).getField("nc")).cast("int").as("cluster"),
          array_max(scored).getField("s").as("cosine"))
        .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.get(2)))).toMap
      val joined = Clustering.assignByJoin(corpus, "id", "vec", centroids)
        .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.get(2)))).toMap
      assert(joined == lit, "broadcast-join assignment diverged from the literal rule")

      // probe parity: each query's top-nprobe list set, same tie rule
      val qs = corpus.filter(col("id") % 40 === 0)
      val litProbe = qs
        .select(col("id"), explode(slice(reverse(array_sort(scored)), 1, 4)).as("p"))
        .select(col("id"), (-col("p.nc")).cast("int").as("list_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val joinProbe = Clustering.probeByJoin(qs, "id", "vec", centroids, 4)
        .select("id", "list_id")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(joinProbe == litProbe, "broadcast-join probe set diverged from the literal rule")

      // end-to-end past-cap search: well-formed ranked results, and every
      // returned pair is a genuine neighbor under the exact cosine
      val ivf = Similarity.ivfTopK(qs, corpus, "id", "vec", 3, nlist = nlist, nprobe = 8, iters = 1)
        .collect()
      assert(ivf.nonEmpty)
      val exactWide = Similarity.bruteForceTopK(qs, corpus, "id", "vec", 40)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((got -- exactWide).isEmpty,
        s"past-cap IVF returned pairs outside brute top-40: ${(got -- exactWide).take(5)}")
    }
  }

  test("kmeans assignment is partitioning-independent and SemDeDup recovers planted dups") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")

    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Int, Double)] =
      Clustering.kmeansAssign(df, "vec_id", "embedding", k = 4, iters = 2)
        .collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2))))
        .toMap

    // exact integer-scaled centroid means + rounded argmax => identical
    // clusters whatever the physical partitioning (the 100 TB contract)
    val a1 = asMap(e)
    val a8 = asMap(e.repartition(8))
    assert(a1 == a8, "assignment changed under repartitioning")
    assert(a1.values.map(_._1).toSet.subsetOf((0 until 4).toSet))

    // planted exact copies sit at cosine 1.0 -> same cluster, and the
    // within-cluster pass must emit every planted pair
    val corpus = e.unionByName(
      e.filter(col("vec_id") % 10 === 0).withColumn("vec_id", col("vec_id") + 100000))
    val pairs = Clustering
      .semanticDedupPairs(corpus, "vec_id", "embedding", 0.999, k = 4, iters = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val planted = e.filter(col("vec_id") % 10 === 0)
      .select("vec_id").collect().map(_.getLong(0))
      .map(id => (id, id + 100000L)).toSet
    assert(planted.subsetOf(pairs),
      s"missing planted dup pairs: ${(planted -- pairs).take(5)}")
  }

  test("kmeans assignment is a projection: no exchange in the assign stage") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sfDir/embeddings.parquet").exists())
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val centroidsDone = Clustering.kmeansAssign(e, "vec_id", "embedding", k = 4, iters = 1)
    // the final assignment plan reads the corpus once with zero shuffles
    val exchanges = centroidsDone.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 0, s"expected projection-only assignment, found $exchanges exchanges")
  }

  test("a fit with no cluster assigns, dedups and searches zero rows") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("vec", ArrayType(FloatType))))
    def frame(rows: Row*) = spark.createDataFrame(rows.asJava, schema)
    def runs(df: org.apache.spark.sql.DataFrame) = Seq(
      Clustering.kmeansAssign(df, "id", "vec", k = 2, iters = 1),
      Clustering.semanticDedupPairs(df, "id", "vec", 0.9, k = 2, iters = 1),
      Similarity.ivfTopK(df, df, "id", "vec", 3, nlist = 2, nprobe = 1, iters = 1))
    val schemas = runs(frame(Row(1L, Seq(1f, 0f)), Row(2L, Seq(0f, 1f)))).map(_.schema)
    // an empty corpus, and one of only null or empty vectors
    for (corpus <- Seq(frame(), frame(Row(1L, null), Row(2L, Seq.empty[Float]))))
      runs(corpus).zip(schemas).foreach { case (out, expected) =>
        assert(out.collect().isEmpty)
        assert(out.schema.map(f => (f.name, f.dataType)) == expected.map(f => (f.name, f.dataType)))
      }
  }

  test("cosine of identical vectors is 1; orthogonal is 0") {
    val df = Seq(
      (Seq(1f, 0f), Seq(1f, 0f), 1.0),
      (Seq(1f, 0f), Seq(0f, 1f), 0.0)).toDF("a", "b", "expected")
    df.select(round(Similarity.cosine(col("a"), col("b")), 9).as("c"), col("expected"))
      .collect()
      .foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("resizeImages: resized PNG re-decodes to the sampled raster; junk bytes -> nulls") {
    val ids = (1L to 25L).toDF("doc_id")
    val enc = Multimodal.encodeSyntheticImages(spark, ids, "doc_id")
    val out = Multimodal.resizeImages(spark, enc, "payload", 4, 4).collect()
    assert(out.length == 25)
    out.foreach { r =>
      assert(r.getAs[Int]("resized_w") == 4 && r.getAs[Int]("resized_h") == 4)
      // the emitted PNG must itself decode back to a 4x4 raster whose
      // gray sum equals the reported resized_sum (PNG is lossless, so
      // re-encode loses nothing) — the resize is a real raster op, not
      // stats arithmetic
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("resized_png")))
      assert(img.getWidth == 4 && img.getHeight == 4)
      var sum = 0L
      for (y <- 0 until 4; x <- 0 until 4) sum += (img.getRGB(x, y) >> 16) & 0xFF
      assert(sum == r.getAs[Long]("resized_sum"),
        s"media ${r.getAs[Long]("media_id")}: roundtrip sum $sum != ${r.getAs[Long]("resized_sum")}")
    }
    // undecodable payloads yield the null quadruple, not a crash
    val junk = Seq((1L, "not an image at all".getBytes)).toDF("media_id", "payload")
    val j = Multimodal.resizeImages(spark, junk, "payload", 4, 4).head()
    assert(j.isNullAt(j.fieldIndex("resized_png")) && j.isNullAt(j.fieldIndex("resized_sum")))
  }

  test("imageDHash: container-independent (PNG==BMP of same raster), content-sensitive") {
    // one raster (the seed-4 formula image), hand-encoded as BOTH png
    // and bmp: the perceptual hash must collide across containers —
    // byte-level dedup cannot do this
    def raster(seed: Long): java.awt.image.BufferedImage = {
      val w = (8 + seed % 13).toInt
      val h = (8 + seed % 11).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = ((31L * seed + 7L * x + 13L * y) % 256L).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def enc(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, baos)
      baos.toByteArray
    }
    val df = Seq(
      (1L, enc(raster(4), "png")),
      (2L, enc(raster(4), "bmp")),  // same raster, different container
      (3L, enc(raster(5), "png")),  // different content
      (4L, "nope".getBytes)         // junk
    ).toDF("media_id", "payload")
    val out = Multimodal.imageDHash(spark, df, "payload")
      .collect().map(r => r.getLong(0) -> r.getAs[String]("dhash")).toMap
    assert(out(1L) != null && out(1L) == out(2L),
      "same raster must hash identically across PNG and BMP containers")
    assert(out(3L) != out(1L), "different content must (here) hash differently")
    assert(out(1L).length == 64 && out(1L).forall(c => c == '0' || c == '1'))
    assert(out(4L) == null, "junk bytes must yield a null hash")
  }

  test("audioWindowEnergy frames real PCM exactly; junk and wrong formats yield no rows") {
    val ids = (1L to 20L).toDF("doc_id")
    val enc = Multimodal.encodeSyntheticWavs(spark, ids, "doc_id")
    val out = Multimodal.audioWindowEnergy(spark, enc, "payload", 32).collect()
    val byClip = out.groupBy(_.getAs[Long]("media_id"))
    (1L to 20L).foreach { id =>
      val n = (64 + id % 97).toInt
      val frames = byClip(id).sortBy(_.getAs[Int]("window_idx"))
      assert(frames.length == (n + 31) / 32, s"clip $id frame count")
      // frame grid: full windows then the remainder
      assert(frames.map(_.getAs[Int]("n_samples")).sum == n)
      // energies match the generator formula exactly
      frames.foreach { f =>
        val w = f.getAs[Int]("window_idx")
        val expected = (w * 32 until math.min(w * 32 + 32, n)).map { i =>
          val s = ((211L * id + 37L * i) % 4001L - 2000L)
          s * s
        }.sum
        assert(f.getAs[Long]("energy") == expected, s"clip $id window $w")
      }
    }
    // junk bytes: no rows, no crash
    val junk = Seq((99L, "not audio".getBytes)).toDF("media_id", "payload")
    assert(Multimodal.audioWindowEnergy(spark, junk, "payload", 32).count() == 0)
  }

  test("metadata sniffs magic bytes and decode stub is deterministic with declared schema") {
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1A, '\n', 1, 2)
    val wav = "RIFF1234WAVEfmt ".getBytes
    val webp = "RIFF1234WEBPVP8 ".getBytes
    val avi = "RIFF1234AVI LIST".getBytes
    val fakePng = Array[Byte]('P', 'N', 'G', 1, 2, 3, 4, 5, 6, 7) // not the real signature
    val df = Seq(
      (1L, png), (2L, "plain bytes".getBytes), (3L, wav), (4L, webp), (5L, avi), (6L, fakePng)
    ).toDF("id", "payload")
    val meta = Multimodal.attachMetadata(df, "payload").collect()
      .map(r => r.getLong(0) -> r.getAs[String]("media_kind")).toMap
    assert(meta(1L) == "image/png" && meta(2L) == "application/octet-stream")
    assert(meta(3L) == "audio/wav" && meta(4L) == "image/webp" && meta(5L) == "video/avi")
    assert(meta(6L) == "application/octet-stream")

    val d1 = Multimodal.decodeStub(spark, df, "id", "payload").collect().sortBy(_.getLong(0))
    val d2 = Multimodal.decodeStub(spark, df, "id", "payload").collect().sortBy(_.getLong(0))
    assert(d1.toSeq == d2.toSeq)
    assert(d1.head.schema.fieldNames.toSeq ==
      Seq("media_id", "width", "height", "n_frames", "feature"))

    val frames = Multimodal.frameSample(df, "id", "payload", 4)
    assert(frames.filter(col("id") === 1L).count() == 4)

    val resized = Multimodal.resizeStub(
      Multimodal.decodeStub(spark, df, "id", "payload"), maxSide = 16).collect()
    resized.foreach { r =>
      assert(r.getAs[Int]("resized_width") <= 16 && r.getAs[Int]("resized_height") <= 16)
    }
  }

  test("ImageIO decode is real: encode→decode roundtrips dims + pixels; garbage yields nulls") {
    // hand-built 3×2 gray PNG through the real encoder: decode must see
    // the true raster, not anything derived from the byte stream
    val img = new java.awt.image.BufferedImage(3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val vals = Array(Array(10, 20, 30), Array(40, 50, 60))
    for (y <- 0 until 2; x <- 0 until 3) {
      val v = vals(y)(x); img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val df = Seq((1L, baos.toByteArray), (2L, "not an image".getBytes)).toDF("id", "payload")
    val out = Multimodal.decodeImages(spark, df, "payload")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("width") == 3 && out(1L).getAs[Int]("height") == 2)
    assert(out(1L).getAs[Long]("gray_sum") == vals.flatten.sum.toLong)
    assert(out(2L).isNullAt(out(2L).fieldIndex("width")) &&
      out(2L).isNullAt(out(2L).fieldIndex("gray_sum")))

    // synthetic fixture roundtrip: lossless formats reproduce the exact
    // generator pixel sum; JPEG (lossy) still reproduces dimensions
    val ids = (0L until 30L).toDF("doc_id")
    val enc = Multimodal.encodeSyntheticImages(spark, ids, "doc_id")
    val dec = Multimodal.decodeImages(spark, enc, "payload").collect()
    assert(dec.length == 30)
    dec.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val w = (8 + id % 13).toInt
      val h = (8 + id % 11).toInt
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h, s"dims for id=$id")
      assert(r.getAs[Int]("n_frames") == 1, s"still image id=$id must decode as 1 frame")
      if (id % 3 != 2) {
        val expect = (for (y <- 0 until h; x <- 0 until w)
          yield (31L * id + 7L * x + 13L * y) % 256L).sum
        assert(r.getAs[Long]("gray_sum") == expect, s"pixel sum for id=$id fmt=${r.getAs[String]("fmt")}")
      }
    }
  }

  test("WAV roundtrip: real RIFF parse + PCM checksum; garbage and truncation yield nulls") {
    val ids = (0L until 20L).toDF("doc_id")
    val enc = Multimodal.encodeSyntheticWavs(spark, ids, "doc_id")
    Multimodal.attachMetadata(enc, "payload").select("media_kind").collect()
      .foreach(r => assert(r.getString(0) == "audio/wav"))
    val dec = Multimodal.decodeAudio(spark, enc, "payload").collect()
    assert(dec.length == 20)
    dec.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val n = (64 + id % 97).toInt
      assert(r.getAs[Int]("n_channels") == 1 && r.getAs[Int]("sample_rate") == 8000)
      assert(r.getAs[Int]("bits_per_sample") == 16)
      assert(r.getAs[Long]("n_samples") == n.toLong, s"frame count for id=$id")
      val expect = (0 until n).map(i => (211L * id + 37L * i) % 4001L - 2000L).sum
      assert(r.getAs[Long]("sample_sum") == expect, s"sample sum for id=$id")
    }
    // non-audio payload → honest nulls
    val bad = Seq((99L, "not audio at all".getBytes)).toDF("media_id", "payload")
    val badRow = Multimodal.decodeAudio(spark, bad, "payload").collect().head
    assert(badRow.isNullAt(badRow.fieldIndex("n_channels")) &&
      badRow.isNullAt(badRow.fieldIndex("sample_sum")))
  }

  test("frame extraction decodes every GIF image block; undecodable payloads emit no rows") {
    val ids = (0L until 12L).toDF("doc_id")
    val enc = Multimodal.encodeSyntheticGifs(spark, ids, "doc_id")
    val frames = Multimodal.extractFrames(spark, enc, "media_id", "payload").collect()
    assert(frames.length == (0L until 12L).map(id => 1 + id % 5).sum)
    frames.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val f = r.getAs[Int]("frame_idx")
      val w = (8 + id % 13).toInt
      val h = (8 + id % 11).toInt
      val expect = (for (y <- 0 until h; x <- 0 until w)
        yield (31L * id + 7L * x + 13L * y + 97L * f) % 256L).sum
      assert(r.getAs[Long]("gray_sum") == expect, s"frame $f of id=$id")
    }
    val bad = Seq((7L, "junk".getBytes)).toDF("media_id", "payload")
    assert(Multimodal.extractFrames(spark, bad, "media_id", "payload").count() == 0)
  }

  test("animated GIF roundtrip: n_frames is the real container walk, frame 0 lossless") {
    val ids = (0L until 25L).toDF("doc_id")
    val enc = Multimodal.encodeSyntheticGifs(spark, ids, "doc_id")
    // the payloads are real GIFs: magic sniff agrees
    Multimodal.attachMetadata(enc, "payload").select("media_kind").collect()
      .foreach(r => assert(r.getString(0) == "image/gif"))
    val dec = Multimodal.decodeImages(spark, enc, "payload").collect()
    assert(dec.length == 25)
    dec.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val w = (8 + id % 13).toInt
      val h = (8 + id % 11).toInt
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h, s"dims for id=$id")
      // ids 1..4 give 2..5 frames — only a true getNumImages(true) walk
      // of the GIF image blocks can produce these counts
      assert(r.getAs[Int]("n_frames") == (1 + id % 5).toInt, s"frame count for id=$id")
      val expect = (for (y <- 0 until h; x <- 0 until w)
        yield (31L * id + 7L * x + 13L * y) % 256L).sum
      assert(r.getAs[Long]("gray_sum") == expect, s"frame-0 pixel sum for id=$id")
    }
  }
}

/** The q-gram fuzzy join's density dispatch: past QGramDispatchBlock the
  * prefix filter hands off to the deletion-neighborhood core. Both
  * blockings are lossless for ed<=1, so forcing either side of the
  * threshold must produce the identical match set.
  */
class FuzzyJoinDispatchSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("forced prefix-filter and forced dispatch produce the identical ed<=1 match set") {
    assume(new java.io.File(s"$sfDir/part.parquet").exists())
    def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.collect()
        .map(r => (
          r.getAs[Long]("probe_key"),
          r.getAs[Long]("match_key"),
          r.getAs[Int]("dist")))
        .toSet
    val prefix = graft.queries.ExtQueries.fuzzyJoinQGram(spark, sfDir, Double.MaxValue)
    val dispatched = graft.queries.ExtQueries.fuzzyJoinQGram(spark, sfDir, 0.0)
    // the dispatch is observable in the plan: only the prefix path joins
    // through the freq-map literal (element_at); the deletes core has none
    assert(prefix.queryExecution.analyzed.toString.contains("element_at"),
      "forced prefix path must carry the freq-map signature")
    assert(!dispatched.queryExecution.analyzed.toString.contains("element_at"),
      "forced dispatch must plan the deletion-neighborhood core, not the prefix filter")
    val p = asSet(prefix)
    val d = asSet(dispatched)
    assert(p == d, s"dispatch changed the result: only-prefix=${(p -- d).take(5)} only-dispatch=${(d -- p).take(5)}")
    assert(p.nonEmpty, "fixture produced no ed<=1 matches - the parity check would be vacuous")
    // and the dispatched plan is exactly the standalone deletes operator
    assert(d == asSet(graft.queries.ExtQueries.fuzzyJoinDeletes(spark, sfDir)))
  }

  test("freq-map cap is recall-safe: a vocabulary far past the cap still finds every ed<=1 pair") {
    import spark.implicits._
    // planted corpus whose 3-gram vocabulary (≫ the forced cap of 48)
    // models open-vocabulary text: base-36 blocks make most grams
    // near-unique, shared prefixes make a few grams frequent
    val names = (0 until 400).map { i =>
      val rare = java.lang.Long.toString((i.toLong * 2654435761L) % 78364164096L, 36)
      s"doc $rare tail${i % 7}"
    }
    val parts = names.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
      .toDF("p_partkey", "name")
    // probes: every 3rd string with one char deleted (true ed=1 pairs),
    // plus a handful of exact copies (ed=0)
    val probes = names.zipWithIndex.collect {
      case (s, i) if i % 3 == 0 =>
        val d = 1 + (i % (s.length - 2))
        (i.toLong, s.substring(0, d) + s.substring(d + 1))
      case (s, i) if i % 7 == 1 => (i.toLong, s)
    }.toDF("probe_key", "probe")
    val vocab = parts
      .select(explode(array_distinct(
        transform(sequence(lit(1), length(col("name")) - 2),
          k => col("name").substr(k, lit(3))))).as("g"))
      .distinct().count()
    assert(vocab > 480, s"fixture vocabulary too small to exercise the cap: $vocab grams")
    val got = graft.queries.ExtQueries
      .fuzzyJoinQGramCore(spark, parts, probes, dispatchAt = Double.MaxValue, freqCap = 48)
      .collect()
      .map(r => (r.getAs[Long]("probe_key"), r.getAs[Long]("match_key"), r.getAs[Int]("dist")))
      .toSet
    // blocking-free brute-force oracle over the full cross product
    val brute = probes.crossJoin(parts)
      .withColumn("dist", levenshtein(col("probe"), col("name")))
      .filter(col("dist") <= 1)
      .collect()
      .map(r => (r.getAs[Long]("probe_key"), r.getAs[Long]("p_partkey"), r.getAs[Int]("dist")))
      .toSet
    assert(got == brute,
      s"cap lost matches: missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    assert(brute.nonEmpty, "fixture produced no ed<=1 pairs - the check would be vacuous")
  }
}
