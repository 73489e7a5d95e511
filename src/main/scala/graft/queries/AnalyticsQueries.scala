package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Testdata

/** Analytics surface beyond the reference's tumbling windows: sliding
  * and session event-time windows (the other two Structured Streaming
  * window kinds), distinct aggregation, and rollup — each with a DuckDB
  * oracle that reconstructs the same semantics in plain SQL.
  */
object AnalyticsQueries {

  /** Sliding (hopping) window: 30-minute windows every 15 minutes —
    * each event lands in exactly two windows. Oracle unnests the two
    * epoch-aligned starts per row.
    */
  def slidingWindow(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.events(spark, sfDir)
      .groupBy(col("event_type"), window(col("ts"), "30 minutes", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("value")), 4).as("sum_value"))
      .select(
        col("event_type"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("start_window"),
        col("n_rows"),
        col("sum_value"))

  val slidingWindowSql: String =
    """SELECT event_type,
      |       strftime(make_timestamp(s * 1000000), '%Y-%m-%d %H:%M:%S') AS start_window,
      |       count(*) AS n_rows, round(sum(value), 4) AS sum_value
      |FROM (
      |  SELECT event_type, value,
      |         unnest([(CAST(floor(epoch(ts) / 900) AS BIGINT) - 1) * 900,
      |                 CAST(floor(epoch(ts) / 900) AS BIGINT) * 900]) AS s
      |  FROM events)
      |GROUP BY event_type, s""".stripMargin

  /** Session window: per-user sessions closed by a 10-minute
    * inactivity gap (`session_window`). Oracle rebuilds sessions with
    * the classic lag + cumulative-sum island construction.
    */
  def sessionWindow(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("value")), 4).as("sum_value"))
      .select(
        col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_rows"),
        col("sum_value"))

  val sessionWindowSql: String =
    """SELECT user_id,
      |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       strftime(max(ts) + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
      |       count(*) AS n_rows, round(sum(value), 4) AS sum_value
      |FROM (
      |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                   ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM (
      |    SELECT *, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                        <= INTERVAL 10 MINUTE THEN 0 ELSE 1 END AS new_session
      |    FROM events))
      |GROUP BY user_id, session_id""".stripMargin

  /** Distinct aggregation: exact distinct users / types per day. */
  def distinctAgg(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.events(spark, sfDir)
      .groupBy(dayofmonth(col("ts")).as("event_day"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_types"),
        count(lit(1)).as("n_rows"))

  val distinctAggSql: String =
    """SELECT CAST(EXTRACT(day FROM ts) AS INTEGER) AS event_day,
      |       count(DISTINCT user_id) AS n_users,
      |       count(DISTINCT event_type) AS n_types,
      |       count(*) AS n_rows
      |FROM events GROUP BY 1""".stripMargin

  /** Rollup: subtotals per (returnflag, linestatus), per returnflag,
    * and grand total in one pass.
    */
  def rollupAgg(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.read(spark, sfDir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 4).as("sum_qty"), count(lit(1)).as("n_rows"))

  val rollupAggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity), 4) AS sum_qty, count(*) AS n_rows
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** As-of join: each event picks up the close of the latest 15-minute
    * candle that STARTED at-or-before it, per event type. Oracle uses
    * DuckDB's native ASOF JOIN against the same candle subquery.
    */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Testdata.events(spark, sfDir)
    val candles = graft.streaming.Candles
      .candles(events, "ts", "event_id", "event_type", "value")
      .select(
        col("event_type"),
        col("start_window"),
        col("close").as("candle_close"))
    graft.operators.Ops
      .asofJoin(
        events.select(col("event_id"), col("event_type"), col("ts"), col("value")),
        candles,
        "event_type",
        "ts",
        "start_window",
        Seq("candle_close"))
      .select(col("event_id"), col("event_type"), col("value"), col("candle_close"))
  }

  val asofJoinSql: String =
    """WITH candles AS (
      |  SELECT event_type,
      |         make_timestamp(bucket * 900 * 1000000) AS start_window,
      |         struct_extract(max((ts, event_id, value)), 3) AS candle_close
      |  FROM (SELECT *, CAST(floor(epoch(ts) / 900) AS BIGINT) AS bucket FROM events)
      |  GROUP BY event_type, bucket)
      |SELECT e.event_id, e.event_type, e.value, c.candle_close
      |FROM events e ASOF LEFT JOIN candles c
      |  ON e.event_type = c.event_type AND e.ts >= c.start_window""".stripMargin

  /** Forward as-of join: each event picks up the close of the EARLIEST
    * 15-minute candle that started at-or-after it, per event type —
    * [[graft.operators.Ops.asofJoinDirected]] with direction=forward.
    * Oracle is DuckDB's native ASOF JOIN with the inequality flipped.
    */
  def asofForward(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Testdata.events(spark, sfDir)
    val candles = graft.streaming.Candles
      .candles(events, "ts", "event_id", "event_type", "value")
      .select(
        col("event_type"),
        col("start_window"),
        col("close").as("candle_close"))
    graft.operators.Ops
      .asofJoinDirected(
        events.select(col("event_id"), col("event_type"), col("ts"), col("value")),
        candles,
        "event_type",
        "ts",
        "start_window",
        Seq("candle_close"),
        direction = "forward")
      .select(col("event_id"), col("event_type"), col("value"), col("candle_close"))
  }

  val asofForwardSql: String =
    """WITH candles AS (
      |  SELECT event_type,
      |         make_timestamp(bucket * 900 * 1000000) AS start_window,
      |         struct_extract(max((ts, event_id, value)), 3) AS candle_close
      |  FROM (SELECT *, CAST(floor(epoch(ts) / 900) AS BIGINT) AS bucket FROM events)
      |  GROUP BY event_type, bucket)
      |SELECT e.event_id, e.event_type, e.value, c.candle_close
      |FROM events e ASOF LEFT JOIN candles c
      |  ON e.event_type = c.event_type AND e.ts <= c.start_window""".stripMargin

  /** Nearest as-of join with tolerance: each event picks the close of
    * the CLOSEST candle start within ±450 s (half a candle), exact
    * ties resolving backward — the remaining pandas-merge_asof
    * direction, deterministic so the brute-force DuckDB oracle
    * hash-matches.
    */
  def asofNearest(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Testdata.events(spark, sfDir)
    val candles = graft.streaming.Candles
      .candles(events, "ts", "event_id", "event_type", "value")
      .select(
        col("event_type"),
        col("start_window"),
        col("close").as("candle_close"))
    graft.operators.Ops
      .asofJoinDirected(
        events.select(col("event_id"), col("event_type"), col("ts"), col("value")),
        candles,
        "event_type",
        "ts",
        "start_window",
        Seq("candle_close"),
        direction = "nearest",
        toleranceSeconds = Some(450.0))
      .select(col("event_id"), col("event_type"), col("value"), col("candle_close"))
  }

  /** Brute-force nearest-within-tolerance oracle: all (event, candle)
    * pairs within 450 s, argmin on (distance, start_window) — the
    * (d, rts) ascending order makes the exact-tie pick the BACKWARD
    * row, matching the Spark side's rule.
    */
  val asofNearestSql: String =
    """WITH candles AS (
      |  SELECT event_type,
      |         make_timestamp(bucket * 900 * 1000000) AS start_window,
      |         struct_extract(max((ts, event_id, value)), 3) AS candle_close
      |  FROM (SELECT *, CAST(floor(epoch(ts) / 900) AS BIGINT) AS bucket FROM events)
      |  GROUP BY event_type, bucket),
      |pairs AS (
      |  SELECT e.event_id, c.candle_close,
      |         abs(epoch(e.ts) - epoch(c.start_window)) AS d,
      |         epoch(c.start_window) AS rts
      |  FROM events e JOIN candles c ON e.event_type = c.event_type
      |  WHERE abs(epoch(e.ts) - epoch(c.start_window)) <= 450),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY d ASC, rts ASC) AS rn
      |  FROM pairs)
      |SELECT e.event_id, e.event_type, e.value, r.candle_close
      |FROM events e LEFT JOIN ranked r ON e.event_id = r.event_id AND r.rn = 1""".stripMargin

  /** TF-IDF keyword extraction: top-3 terms per document by
    * tf·ln(N/df), ranked on the rounded score with lexicographic
    * tie-break (deterministic across engines).
    */
  def tfidfKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Testdata.read(spark, sfDir, "documents")
    val n = docs.count()
    val terms = docs.select(
      col("doc_id"),
      explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = terms.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(df, "term")
      .withColumn("tfidf", round(col("tf") * log(lit(n.toDouble) / col("df")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rank"))
  }

  val tfidfKeywordsSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT doc_id, term, tfidf,
      |       CAST(row_number() OVER (PARTITION BY doc_id
      |              ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rank
      |FROM (
      |  SELECT tf.doc_id, tf.term,
      |         round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |QUALIFY rank <= 3""".stripMargin

  /** Approximate distinct counting (HLL-sketch register-max merge:
    * order-insensitive, deterministic for a given input). No cross-engine
    * oracle — DuckDB's approx_distinct uses a different sketch — so this
    * is rows-only; the ≤5% relative-error contract vs the exact count is
    * asserted in-query (the output includes both) and by AnalyticsSpec.
    */
  def approxDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))

  /** KMV distinct sketch ([[graft.functions.Sketches.KMinValues]],
    * k = 256 over a 60-bit md5 hash) — the oracle-CHECKABLE
    * approximate-distinct path: the k-min set is a deterministic
    * function of the hashed values, so DuckDB replays the identical
    * estimate (below k distinct the sketch is exact). The shuffle
    * carries ≤ k longs per (group, partition) — sketch scaling, not
    * distinct-key scaling. Exact count emitted alongside for the
    * error-bound check.
    */
  def approxDistinctKmv(spark: SparkSession, sfDir: String): DataFrame = {
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10).cast("long")
    Testdata.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        round(graft.functions.Sketches.kmvDistinct(h, 256), 4).as("kmv_users"),
        countDistinct(col("user_id")).as("exact_users"))
  }

  val approxDistinctKmvSql: String =
    """WITH h AS (
      |  SELECT DISTINCT event_type,
      |         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      |  FROM events WHERE user_id IS NOT NULL),
      |r AS (SELECT event_type, hv,
      |        row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      |      FROM h),
      |s AS (SELECT event_type, count(*) AS n, max(hv) AS kth
      |      FROM r WHERE rn <= 256 GROUP BY event_type),
      |x AS (SELECT event_type, count(DISTINCT user_id) AS exact_users FROM events GROUP BY event_type)
      |SELECT s.event_type,
      |       round(CASE WHEN s.n < 256 THEN CAST(s.n AS DOUBLE)
      |             ELSE 255.0 / (CAST(s.kth AS DOUBLE) / 1152921504606846976.0)
      |             END, 4) AS kmv_users,
      |       x.exact_users
      |FROM s JOIN x USING (event_type)""".stripMargin

  /** GROUPING SETS with grouping_id: the arbitrary-set sibling of cube/
    * rollup (`q_cube_agg`/`q_rollup_agg`) — three explicit levels in ONE
    * Expand+aggregate pass instead of three scans + union. Spark's
    * grouping_id bit convention matches DuckDB's GROUPING() (low bit =
    * rightmost column aggregated), checked by the oracle hash.
    */
  def groupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    Testdata.read(spark, sfDir, "lineitem")
      .createOrReplaceTempView("li_grouping_sets")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |       grouping_id(l_returnflag, l_linestatus) AS gid,
        |       count(*) AS n_rows,
        |       round(sum(l_extendedprice), 4) AS sum_price
        |FROM li_grouping_sets
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin)
  }

  val groupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |       GROUPING(l_returnflag, l_linestatus) AS gid,
      |       count(*) AS n_rows,
      |       round(sum(l_extendedprice), 4) AS sum_price
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin

  /** Distribution-rank window functions over the deterministic
    * (value, event_id) total order: percent_rank / cume_dist (rational
    * k/n doubles — identical division in both engines) plus first /
    * last / nth over the FULL frame (explicit unbounded ROWS frame:
    * last_value under the default frame is just the current row — the
    * classic window-frame trap, pinned here against the oracle).
    */
  def windowRankStats(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    val wf = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    Testdata.events(spark, sfDir)
      .select(
        col("event_type"),
        col("event_id"),
        round(percent_rank().over(w), 4).as("pct_rank"),
        round(cume_dist().over(w), 4).as("cum_dist"),
        first(col("value")).over(wf).as("first_value"),
        last(col("value")).over(wf).as("last_value"),
        nth_value(col("value"), 3).over(wf).as("third_value"))
  }

  val windowRankStatsSql: String =
    """SELECT event_type, event_id,
      |       round(percent_rank() OVER w, 4) AS pct_rank,
      |       round(cume_dist() OVER w, 4) AS cum_dist,
      |       first_value(value) OVER wf AS first_value,
      |       last_value(value) OVER wf AS last_value,
      |       nth_value(value, 3) OVER wf AS third_value
      |FROM events
      |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id),
      |       wf AS (PARTITION BY event_type ORDER BY value, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin

  /** KMV set algebra: distinct-cardinality of the UNION and
    * INTERSECTION of two event streams, estimated from two k-min-set
    * sketches ([[graft.functions.Sketches.KMinSet]]) without ever
    * shuffling distinct keys — the theta-sketch use case. The union
    * sketch is the k smallest of the merged sets (plain array algebra
    * on two ≤k arrays); the fraction of union members present in BOTH
    * sides estimates Jaccard, and inter_est = (c/k)·union_est. Below k
    * distinct hashes everything is exact (sf0.001's 15-user pool takes
    * that branch; larger SFs take the estimator branch — both are
    * oracle-replayed through the same CASE). Division order is kept
    * identical in both engines so the doubles agree bit-for-bit before
    * the 4-dp round; exact countDistinct twins ride along for the
    * error-envelope spec.
    */
  def kmvSetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 64
    val two60 = 1152921504606846976.0 // 2^60
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10).cast("long")
    val ev = Testdata.events(spark, sfDir)
    // partially-overlapping cohorts (every user does every event type in
    // this testdata, so raw streams would overlap fully): even-id
    // clickers vs divisible-by-3 purchasers — true Jaccard 1/6 ÷ 2/3
    val sideA = col("event_type") === "click" && pmod(col("user_id"), lit(2)) === 0
    val sideB = col("event_type") === "purchase" && pmod(col("user_id"), lit(3)) === 0
    def sketchOf(side: org.apache.spark.sql.Column, alias: String): DataFrame =
      ev.filter(side).agg(graft.functions.Sketches.kmvSet(h, k).as(alias))
    val exactUnion = ev
      .filter(sideA || sideB)
      .agg(countDistinct(col("user_id")).as("exact_union"))
    val exactInter = ev
      .filter(sideA || sideB)
      .groupBy(col("user_id"))
      .agg(countDistinct(col("event_type")).as("n_types"))
      .filter(col("n_types") === 2)
      .agg(count(lit(1)).as("exact_inter"))
    sketchOf(sideA, "ska")
      .crossJoin(sketchOf(sideB, "skb"))
      .withColumn("u", slice(array_sort(array_union(col("ska"), col("skb"))), 1, k))
      .withColumn("n_u", size(col("u")))
      .withColumn("kth", when(col("n_u") > 0, element_at(col("u"), col("n_u"))))
      .withColumn("c", size(array_intersect(col("u"), array_intersect(col("ska"), col("skb")))))
      .withColumn(
        "union_raw",
        when(col("n_u") < k, col("n_u").cast("double"))
          .otherwise(lit((k - 1).toDouble) / (col("kth").cast("double") / lit(two60))))
      .withColumn(
        "inter_raw",
        when(col("n_u") < k, col("c").cast("double"))
          .otherwise(col("c") / lit(k.toDouble) * col("union_raw")))
      .crossJoin(broadcast(exactUnion))
      .crossJoin(broadcast(exactInter))
      .select(
        round(col("union_raw"), 4).as("union_est"),
        round(col("inter_raw"), 4).as("inter_est"),
        round(col("c") * lit(1.0) / col("n_u"), 4).as("jaccard"),
        col("exact_union"),
        col("exact_inter"))
  }

  val kmvSetOpsSql: String =
    """WITH ka AS (
      |  SELECT hv FROM (
      |    SELECT DISTINCT CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      |    FROM events WHERE event_type = 'click' AND user_id % 2 = 0)
      |  ORDER BY hv LIMIT 64),
      |kb AS (
      |  SELECT hv FROM (
      |    SELECT DISTINCT CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      |    FROM events WHERE event_type = 'purchase' AND user_id % 3 = 0)
      |  ORDER BY hv LIMIT 64),
      |u AS (
      |  SELECT hv FROM (SELECT hv FROM ka UNION SELECT hv FROM kb)
      |  ORDER BY hv LIMIT 64),
      |stats AS (
      |  SELECT count(*) AS n_u, max(hv) AS kth,
      |         sum(CASE WHEN hv IN (SELECT hv FROM ka)
      |                   AND hv IN (SELECT hv FROM kb) THEN 1 ELSE 0 END) AS c
      |  FROM u),
      |ex_u AS (
      |  SELECT count(DISTINCT user_id) AS exact_union FROM events
      |  WHERE (event_type = 'click' AND user_id % 2 = 0)
      |     OR (event_type = 'purchase' AND user_id % 3 = 0)),
      |ex_i AS (
      |  SELECT count(*) AS exact_inter FROM (
      |    SELECT user_id FROM events
      |    WHERE (event_type = 'click' AND user_id % 2 = 0)
      |       OR (event_type = 'purchase' AND user_id % 3 = 0)
      |    GROUP BY user_id HAVING count(DISTINCT event_type) = 2)),
      |raw AS (
      |  SELECT n_u, c,
      |         CASE WHEN n_u < 64 THEN CAST(n_u AS DOUBLE)
      |              ELSE 63.0 / (CAST(kth AS DOUBLE) / 1152921504606846976.0) END AS union_raw
      |  FROM stats)
      |SELECT round(union_raw, 4) AS union_est,
      |       round(CASE WHEN n_u < 64 THEN CAST(c AS DOUBLE)
      |                  ELSE c / 64.0 * union_raw END, 4) AS inter_est,
      |       round(c * 1.0 / n_u, 4) AS jaccard,
      |       exact_union, exact_inter
      |FROM raw, ex_u, ex_i""".stripMargin

  /** KMV set DIFFERENCE — |A \ B| estimated from the same two k-min
    * sets as [[kmvSetOps]] (the theta-sketch A-not-B operation): for
    * any hash below the union sketch's k-th value, membership in the
    * A-sketch decides membership in A exactly (the A-sketch holds ALL
    * of A's hashes up to its own k-th, which is >= the union's k-th),
    * so diff_est = (|{h in u : h in A, h not in B}| / k) * union_est.
    * Below k distinct hashes the sketches are the full sets and the
    * estimate is exact. Exact anti-join twin rides along for the
    * error-envelope spec. Same bounded-buffer scale shape as the other
    * set ops — no distinct-key shuffle anywhere.
    */
  def kmvDifference(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 64
    val two60 = 1152921504606846976.0 // 2^60
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10).cast("long")
    val ev = Testdata.events(spark, sfDir)
    // same partially-overlapping cohorts as q_kmv_set_ops
    val sideA = col("event_type") === "click" && pmod(col("user_id"), lit(2)) === 0
    val sideB = col("event_type") === "purchase" && pmod(col("user_id"), lit(3)) === 0
    def sketchOf(side: org.apache.spark.sql.Column, alias: String): DataFrame =
      ev.filter(side).agg(graft.functions.Sketches.kmvSet(h, k).as(alias))
    val exactDiff = ev
      .filter(sideA)
      .select(col("user_id"))
      .join(ev.filter(sideB).select(col("user_id")).distinct(), Seq("user_id"), "left_anti")
      .agg(countDistinct(col("user_id")).as("exact_diff"))
    sketchOf(sideA, "ska")
      .crossJoin(sketchOf(sideB, "skb"))
      .withColumn("u", slice(array_sort(array_union(col("ska"), col("skb"))), 1, k))
      .withColumn("n_u", size(col("u")))
      .withColumn("kth", when(col("n_u") > 0, element_at(col("u"), col("n_u"))))
      .withColumn("d", size(array_intersect(col("u"), array_except(col("ska"), col("skb")))))
      .withColumn(
        "union_raw",
        when(col("n_u") < k, col("n_u").cast("double"))
          .otherwise(lit((k - 1).toDouble) / (col("kth").cast("double") / lit(two60))))
      .withColumn(
        "diff_raw",
        when(col("n_u") < k, col("d").cast("double"))
          .otherwise(col("d") / lit(k.toDouble) * col("union_raw")))
      .crossJoin(broadcast(exactDiff))
      .select(
        round(col("diff_raw"), 4).as("diff_est"),
        col("d").cast("long").as("sample_in_diff"), // bigint: DuckDB count(*) FILTER
        col("exact_diff"))
  }

  val kmvDifferenceSql: String =
    """WITH ka AS (
      |  SELECT hv FROM (
      |    SELECT DISTINCT CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      |    FROM events WHERE event_type = 'click' AND user_id % 2 = 0)
      |  ORDER BY hv LIMIT 64),
      |kb AS (
      |  SELECT hv FROM (
      |    SELECT DISTINCT CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      |    FROM events WHERE event_type = 'purchase' AND user_id % 3 = 0)
      |  ORDER BY hv LIMIT 64),
      |u AS (
      |  SELECT hv FROM (SELECT hv FROM ka UNION SELECT hv FROM kb)
      |  ORDER BY hv LIMIT 64),
      |stats AS (
      |  SELECT count(*) AS n_u, max(hv) AS kth,
      |         count(*) FILTER (WHERE hv IN (SELECT hv FROM ka)
      |                            AND hv NOT IN (SELECT hv FROM kb)) AS d
      |  FROM u),
      |ex AS (
      |  SELECT count(DISTINCT user_id) AS exact_diff FROM events
      |  WHERE event_type = 'click' AND user_id % 2 = 0
      |    AND user_id NOT IN (SELECT user_id FROM events
      |                        WHERE event_type = 'purchase' AND user_id % 3 = 0)),
      |raw AS (
      |  SELECT n_u, d,
      |         CASE WHEN n_u < 64 THEN CAST(n_u AS DOUBLE)
      |              ELSE 63.0 / (CAST(kth AS DOUBLE) / 1152921504606846976.0) END AS union_raw
      |  FROM stats)
      |SELECT round(CASE WHEN n_u < 64 THEN CAST(d AS DOUBLE)
      |                  ELSE d / 64.0 * union_raw END, 4) AS diff_est,
      |       d AS sample_in_diff, exact_diff
      |FROM raw, ex""".stripMargin

  /** Count-min frequency sketch over the partkey stream, probed for a
    * fixed key set against exact counts. The d=3 bucket columns use the
    * md5-substring recipe (engine-replayable); the native
    * [[graft.functions.Sketches.CountMinMatrix]] aggregate reduces the
    * whole stream to one 3×1024 counter matrix (map-side merged — the
    * shuffle carries ONE matrix per partition, not one row per key);
    * probing is pure column algebra (`least(element_at(...))`) on the
    * 1-row broadcast sketch. Probe 99999 is absent from the corpus:
    * its exact count is 0 while the sketch may report small positive
    * collision mass — the CMS overestimate-only guarantee on display.
    * All outputs are integer counts, so oracle parity is exact.
    */
  def freqSketchCms(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = 1024
    val d = 3
    def bucket(i: Int, key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      pmod(
        conv(substring(md5(concat_ws(":", lit(i.toString), key.cast("string"))), 1, 15), 16, 10)
          .cast("long"),
        lit(w.toLong))
    val probeKeys = Seq(1L, 17L, 42L, 123L, 1999L, 99999L)
    val keys = Testdata.read(spark, sfDir, "lineitem").select(col("l_partkey"))
    val sketch = keys.agg(
      graft.functions.Sketches
        .cmsSketch((0 until d).map(i => bucket(i, col("l_partkey"))), w)
        .as("sketch"))
    val exact = keys
      .filter(col("l_partkey").isin(probeKeys: _*))
      .groupBy(col("l_partkey").as("e_key"))
      .agg(count(lit(1)).as("exact_n"))
    val estimates = (0 until d).map { i =>
      element_at(col("sketch"), (lit(i * w) + bucket(i, col("probe_key")) + lit(1)).cast("int"))
    }
    probeKeys
      .toDF("probe_key")
      .crossJoin(broadcast(sketch))
      .select(col("probe_key"), least(estimates: _*).as("cms_count"))
      .join(broadcast(exact), col("probe_key") === col("e_key"), "left_outer")
      .select(
        col("probe_key"),
        col("cms_count"),
        coalesce(col("exact_n"), lit(0L)).as("exact_count"))
      .orderBy(col("probe_key"))
  }

  val freqSketchCmsSql: String =
    """WITH ids AS (SELECT unnest(['0', '1', '2']) AS i),
      |probes AS (SELECT unnest([1, 17, 42, 123, 1999, 99999]) AS probe_key),
      |counters AS (
      |  SELECT i, CAST(('0x' || substring(md5(i || ':' || CAST(l_partkey AS VARCHAR)), 1, 15))
      |              AS BIGINT) % 1024 AS b,
      |         count(*) AS c
      |  FROM lineitem CROSS JOIN ids
      |  GROUP BY i, b),
      |probe_buckets AS (
      |  SELECT probe_key, i,
      |         CAST(('0x' || substring(md5(i || ':' || CAST(probe_key AS VARCHAR)), 1, 15))
      |           AS BIGINT) % 1024 AS b
      |  FROM probes CROSS JOIN ids),
      |est AS (
      |  SELECT probe_key, min(coalesce(c, 0)) AS cms_count
      |  FROM probe_buckets LEFT JOIN counters USING (i, b)
      |  GROUP BY probe_key),
      |exact AS (
      |  SELECT l_partkey AS probe_key, count(*) AS exact_count
      |  FROM lineitem WHERE l_partkey IN (1, 17, 42, 123, 1999, 99999)
      |  GROUP BY l_partkey)
      |SELECT e.probe_key, e.cms_count, coalesce(x.exact_count, 0) AS exact_count
      |FROM est e LEFT JOIN exact x USING (probe_key)
      |ORDER BY probe_key""".stripMargin

  /** Heavy-hitter terms per language via the native Misra–Gries summary
    * ([[graft.functions.Sketches.MisraGries]], capacity 64): tokenize,
    * one hash aggregation per language whose shuffle carries a ≤
    * 64-counter summary per (lang, partition) — never the term
    * universe — then the top 10 of each summary. This corpus has 31
    * distinct terms per language, so capacity 64 puts the sketch in its
    * EXACT regime (no decrement can fire) and the oracle replays it as
    * exact counts; HeavyHittersSpec proves the n/(k+1) error bound in
    * the lossy regime the oracle can't reach. The sketch twin of the
    * exact [[ExtQueries.textTopTerms]] — the same pairing discipline as
    * `q_approx_distinct_kmv` next to exact distinct counts.
    */
  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Testdata.read(spark, sfDir, "documents")
      .select(col("lang"), explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
    terms
      .groupBy(col("lang"))
      .agg(graft.functions.Sketches.mgTopK(col("term"), 64).as("mg"))
      .select(col("lang"), posexplode(slice(col("mg"), 1, 10)))
      .select(
        col("lang"),
        (col("pos") + 1).as("rank"),
        col("col.item").as("term"),
        col("col.est").as("freq"))
  }

  val heavyHittersSql: String =
    """WITH t AS (
      |  SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |c AS (SELECT lang, term, count(*) AS freq FROM t GROUP BY 1, 2),
      |r AS (
      |  SELECT lang, term, freq,
      |         row_number() OVER (PARTITION BY lang ORDER BY freq DESC, term) AS rank
      |  FROM c)
      |SELECT lang, CAST(rank AS INTEGER) AS rank, term, freq
      |FROM r WHERE rank <= 10""".stripMargin

  /** JOIN-SIZE ESTIMATION from two count-min sketches (Cormode &
    * Muthukrishnan 2005 §4.2): |A ⋈_k B| = Σ_k c_A(k)·c_B(k) is
    * estimated WITHOUT executing the join as min over hash rows i of
    * Σ_b A[i,b]·B[i,b] — collisions only ADD mass, so the estimate is
    * an overestimate, and taking the min row tightens it. This is the
    * planner-style cardinality probe at 100 TB: each side reduces to a
    * d×w counter matrix (one aggregation, map-side merged), and the
    * inner product is array algebra on two 1-row frames — the join
    * itself never runs. Here: click-user × purchase-user pair count.
    * Everything is exact integer arithmetic → full oracle parity;
    * the true join size rides along for the error-envelope check.
    */
  def joinSizeEstimate(spark: SparkSession, sfDir: String): DataFrame = {
    val w = 1024
    val d = 3
    def bucket(i: Int, key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      pmod(
        conv(substring(md5(concat_ws(":", lit(i.toString), key.cast("string"))), 1, 15), 16, 10)
          .cast("long"),
        lit(w.toLong))
    val ev = Testdata.events(spark, sfDir)
    val sideA = ev.filter(col("event_type") === "click").select(col("user_id"))
    val sideB = ev.filter(col("event_type") === "purchase").select(col("user_id"))
    def sketchOf(df: DataFrame, alias: String): DataFrame =
      df.agg(
        graft.functions.Sketches
          .cmsSketch((0 until d).map(i => bucket(i, col("user_id"))), w)
          .as(alias))
    // true pair count: sum over users of clicks(u) * purchases(u)
    val exact = sideA
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("ca"))
      .join(sideB.groupBy(col("user_id")).agg(count(lit(1)).as("cb")), Seq("user_id"))
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("exact_size"))
    // per hash row: dot product of the two w-wide slices; min over rows
    val rowDots = (0 until d).map { i =>
      aggregate(
        zip_with(
          slice(col("ska"), i * w + 1, w),
          slice(col("skb"), i * w + 1, w),
          (x, y) => x * y),
        lit(0L),
        (acc, v) => acc + v)
    }
    sketchOf(sideA, "ska")
      .crossJoin(sketchOf(sideB, "skb"))
      .crossJoin(broadcast(exact))
      .select(least(rowDots: _*).as("est_size"), col("exact_size"))
  }

  val joinSizeEstimateSql: String =
    """WITH ids AS (SELECT unnest(['0', '1', '2']) AS i),
      |ca AS (
      |  SELECT i, CAST(('0x' || substring(md5(i || ':' || CAST(user_id AS VARCHAR)), 1, 15))
      |              AS BIGINT) % 1024 AS b,
      |         count(*) AS c
      |  FROM events CROSS JOIN ids WHERE event_type = 'click'
      |  GROUP BY i, b),
      |cb AS (
      |  SELECT i, CAST(('0x' || substring(md5(i || ':' || CAST(user_id AS VARCHAR)), 1, 15))
      |              AS BIGINT) % 1024 AS b,
      |         count(*) AS c
      |  FROM events CROSS JOIN ids WHERE event_type = 'purchase'
      |  GROUP BY i, b),
      |dots AS (
      |  SELECT ca.i, sum(ca.c * cb.c) AS dot
      |  FROM ca JOIN cb USING (i, b)
      |  GROUP BY ca.i),
      |est AS (SELECT min(dot) AS est_size FROM dots),
      |exact AS (
      |  SELECT coalesce(sum(a.n * b.n), 0) AS exact_size
      |  FROM (SELECT user_id, count(*) AS n FROM events WHERE event_type = 'click' GROUP BY 1) a
      |  JOIN (SELECT user_id, count(*) AS n FROM events WHERE event_type = 'purchase' GROUP BY 1) b
      |    USING (user_id))
      |SELECT CAST(est_size AS BIGINT) AS est_size, CAST(exact_size AS BIGINT) AS exact_size
      |FROM est, exact""".stripMargin

  /** Discrete median (lower middle element) per group, built from an
    * explicit row_number construction so both engines pick the exact
    * same element — no interpolation-semantics mismatch.
    */
  def medianDisc(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Testdata.events(spark, sfDir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    val counted = events
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
    counted
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("value").as("median_value"), col("n").as("n_rows"))
  }

  val medianDiscSql: String =
    """SELECT event_type, value AS median_value, n AS n_rows
      |FROM (
      |  SELECT event_type, value, event_id,
      |         row_number() OVER (PARTITION BY event_type
      |           ORDER BY value ASC, event_id ASC) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |WHERE rn = (n + 1) // 2""".stripMargin

  /** Analytic window functions over per-user event sequences: lag/lead
    * neighbors, quartile bucketing, and a running cumulative sum — all
    * on the deterministic (ts, event_id) total order.
    */
  def windowAnalytics(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Testdata.events(spark, sfDir)
      .select(
        col("user_id"),
        col("event_id"),
        col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        ntile(4).over(w).as("quartile"),
        round(sum(col("value")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)), 4)
          .as("running_sum"))
  }

  val windowAnalyticsSql: String =
    """SELECT user_id, event_id, value,
      |       lag(value, 1) OVER w AS prev_value,
      |       lead(value, 1) OVER w AS next_value,
      |       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
      |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                              ROWS UNBOUNDED PRECEDING), 4) AS running_sum
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  /** Set operations (§2.7 — absent from the reference, provided as
    * engine surface): customers in the automobile segment UNION those
    * in the building segment, INTERSECTed with high-balance accounts,
    * EXCEPT a nation — all as keys, fully deterministic.
    */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Testdata.read(spark, sfDir, "customer")
    val auto = c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey"))
    val building = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val rich = c.filter(col("c_acctbal") > 1000).select(col("c_custkey"))
    val nation0 = c.filter(col("c_nationkey") === 0).select(col("c_custkey"))
    auto
      .union(building)
      .intersect(rich)
      .except(nation0)
  }

  // parenthesized: SQL gives INTERSECT higher precedence than UNION,
  // while the DataFrame chain evaluates strictly left-to-right
  val setOpsSql: String =
    """((SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      |  UNION
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      | INTERSECT
      | SELECT c_custkey FROM customer WHERE c_acctbal > 1000)
      |EXCEPT
      |SELECT c_custkey FROM customer WHERE c_nationkey = 0""".stripMargin

  /** Custom typed Aggregator (UDAF): weighted average of price by
    * quantity — merges partial (Σvw, Σw) states map-side like any
    * declarative aggregate.
    */
  def weightedAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val wavg = udaf(graft.functions.Aggregators.WeightedAvg)
    Testdata.read(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(wavg(col("l_extendedprice"), col("l_quantity")), 4).as("wavg_price"),
        count(lit(1)).as("n_rows"))
  }

  val weightedAvgSql: String =
    """SELECT l_returnflag,
      |       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS wavg_price,
      |       count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Typed Dataset pipeline: case-class Encoder scan (after a narrow
    * `select`, so column pruning still reaches the parquet scan),
    * lambda filter, groupByKey + mapGroups with order-insensitive
    * per-group math (count / max — exact, so oracle-safe).
    */
  def typedPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Testdata.read(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"), col("l_returnflag"))
      .as[LineitemSlim]
      .filter(li => li.l_quantity > 30.0)
      .groupByKey(_.l_returnflag)
      .mapGroups { (flag, rows) =>
        var n = 0L
        var maxPrice = Double.MinValue
        rows.foreach { li =>
          n += 1
          if (li.l_extendedprice > maxPrice) maxPrice = li.l_extendedprice
        }
        (flag, n, maxPrice)
      }
      .toDF("l_returnflag", "n_big", "max_price")
  }

  val typedPipelineSql: String =
    """SELECT l_returnflag, count(*) AS n_big, max(l_extendedprice) AS max_price
      |FROM lineitem WHERE l_quantity > 30 GROUP BY l_returnflag""".stripMargin

  /** Typed COGROUP reconciliation — the `KeyValueGroupedDataset.cogroup`
    * API surface: per order key, both sides' iterators arrive together
    * and ONE row reports the match status + line totals, including keys
    * present on only one side (the full-outer semantics a typed
    * reconciler needs, here forced by sampling the two sides on
    * different moduli). Line sums are integer cents: cogroup iterators
    * carry no intra-group order, so a float sum would be
    * partitioning-dependent — integer addition is not.
    */
  def cogroupReconcile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = Testdata.read(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .filter(col("o_orderkey") % 2 === 0)
      .as[OrderSlim]
    val lines = Testdata.read(spark, sfDir, "lineitem")
      .select(
        col("l_orderkey"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      .filter(col("l_orderkey") % 3 === 0)
      .as[LineCents]
    orders
      .groupByKey(_.o_orderkey)
      .cogroup(lines.groupByKey(_.l_orderkey)) { (k, os, ls) =>
        val hasOrder = os.nonEmpty
        var n = 0L
        var cents = 0L
        ls.foreach { l => n += 1; cents += l.cents }
        val status =
          if (!hasOrder) "orphan_lines"
          else if (n == 0) "no_lines"
          else "matched"
        Iterator.single((k, status, n, cents))
      }
      .toDF("orderkey", "status", "n_lines", "line_cents")
      .select(
        col("orderkey"), col("status"), col("n_lines"),
        round(col("line_cents") / 100.0, 2).as("line_sum"))
  }

  val cogroupReconcileSql: String =
    """WITH o AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
      |l AS (SELECT l_orderkey,
      |             CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
      |      FROM lineitem WHERE l_orderkey % 3 = 0),
      |la AS (SELECT l_orderkey AS k, count(*) AS n_lines, sum(pc) AS line_cents
      |       FROM l GROUP BY 1)
      |SELECT coalesce(o.o_orderkey, la.k) AS orderkey,
      |       CASE WHEN o.o_orderkey IS NULL THEN 'orphan_lines'
      |            WHEN la.k IS NULL THEN 'no_lines'
      |            ELSE 'matched' END AS status,
      |       coalesce(la.n_lines, 0) AS n_lines,
      |       round(CAST(coalesce(la.line_cents, 0) AS DOUBLE) / 100.0, 2) AS line_sum
      |FROM o FULL OUTER JOIN la ON o.o_orderkey = la.k""".stripMargin

  /** ORC round trip: same rows back through the other columnar format
    * (sources/sinks beyond parquet/CSV/JSON).
    */
  def orcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.util.TempDirs.scratch("orc")
    Testdata.read(spark, sfDir, "part").write.mode("overwrite").orc(dir)
    spark.read
      .orc(dir)
      .filter(col("p_size") >= 25)
      .select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_retailprice"))
  }

  val orcRoundtripSql: String =
    """SELECT p_partkey, p_brand, p_size, p_retailprice
      |FROM part WHERE p_size >= 25""".stripMargin

  /** JSON-lines round trip — the de-facto interchange format for LLM
    * training corpora: write the documents table as .jsonl, read it
    * back with a DECLARED schema (inference over a 100 TB corpus is a
    * full extra pass; production readers always declare). Escaping,
    * unicode, and field order survive the trip (oracle = identity).
    */
  def jsonlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.util.TempDirs.scratch("jsonl")
    val d = Testdata.read(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    d.write.mode("overwrite").json(dir)
    spark.read.schema(d.schema).json(dir)
  }

  val jsonlRoundtripSql: String =
    "SELECT doc_id, lang, source, text FROM documents"

  /** Gzip-compressed JSON-lines roundtrip — the compressed corpus
    * interchange format (.jsonl.gz is how web-scale text corpora
    * actually ship); same declared-schema read discipline as
    * [[jsonlRoundtrip]], the codec rides the writer option.
    */
  def jsonlGzipRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.util.TempDirs.scratch("jsonlgz")
    val d = Testdata.read(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    d.write.mode("overwrite").option("compression", "gzip").json(dir)
    spark.read.schema(d.schema).json(dir)
  }

  val jsonlGzipRoundtripSql: String =
    "SELECT doc_id, lang, source, text FROM documents"

  /** PIPELINE OBSERVABILITY via the Observation API: quality metrics
    * (row count, null-value count, integer-scaled value sum) ride the
    * pipeline's OWN action as an `observe` side-channel — no second
    * scan, the metrics the DLT/expectations pattern reports per run.
    * The observed row IS the query result, so the oracle directly
    * checks that observe-collected metrics equal a real aggregation.
    */
  def observeMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val obs = new org.apache.spark.sql.Observation(
      s"pipe-metrics-${java.util.UUID.randomUUID()}")
    val ev = Testdata.events(spark, sfDir)
      .observe(
        obs,
        count(lit(1)).as("n_rows"),
        count(when(col("value").isNull, lit(1))).as("n_null_value"),
        sum(expr("cast(round(value * 10000) as bigint)")).as("sum_q"))
    ev.write.mode("overwrite").format("noop").save()
    val row = scala.concurrent.Await
      .result(obs.future, scala.concurrent.duration.Duration(60, "seconds"))
    Seq((
      row.getAs[Long]("n_rows"),
      row.getAs[Long]("n_null_value"),
      math.floor(row.getAs[Long]("sum_q") / 10000.0 * 10000 + 0.5) / 10000.0))
      .toDF("n_rows", "n_null_value", "sum_value")
  }

  val observeMetricsSql: String =
    """SELECT count(*) AS n_rows,
      |       count(CASE WHEN value IS NULL THEN 1 END) AS n_null_value,
      |       floor(CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 * 10000 + 0.5) / 10000.0 AS sum_value
      |FROM events""".stripMargin

  /** Calendar gap-filling: a generated date spine left-joined to the
    * facts so empty days surface as zero rows (Jan 31 has no events —
    * it must appear). `sequence` + `explode` generates the spine
    * engine-side; no stored calendar dim needed.
    */
  def gapFill(spark: SparkSession, sfDir: String): DataFrame = {
    val spine = spark.range(1).select(
      explode(sequence(
        lit(java.sql.Date.valueOf("2024-01-01")),
        lit(java.sql.Date.valueOf("2024-01-31")),
        expr("INTERVAL 1 DAY"))).as("day"))
    val events = Testdata.events(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("event_id"))
    spine
      .join(events, Seq("day"), "left")
      .groupBy(col("day"))
      .agg(count(col("event_id")).as("n_events"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n_events"))
  }

  val gapFillSql: String =
    """SELECT strftime(CAST(d AS DATE), '%Y-%m-%d') AS day, count(e.event_id) AS n_events
      |FROM generate_series(DATE '2024-01-01', DATE '2024-01-31', INTERVAL 1 DAY) AS t(d)
      |LEFT JOIN events e ON CAST(e.ts AS DATE) = CAST(d AS DATE)
      |GROUP BY 1""".stripMargin

  /** Deterministic set aggregation: collect_list made order-stable via
    * array_distinct + array_sort (raw collect_list order is
    * partition-arrival-dependent and must never be exposed).
    */
  def collectSet(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.read(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        // Deterministic set aggregation, serialized: the sorted distinct
        // list joined to one string. The serialization is what makes the
        // result oracle-comparable (the driver's pandas hash-compare
        // cannot sort raw array<string> columns).
        array_join(array_sort(array_distinct(collect_list(col("l_linestatus")))), ",")
          .as("statuses"),
        count(lit(1)).as("n_rows"))

  val collectSetSql: String =
    """SELECT l_returnflag,
      |       array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
      |       count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Unpivot (melt): wide per-row metrics to long (metric, value)
    * pairs — the inverse of pivot, one Expand pass, no shuffle.
    */
  def unpivotMetrics(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.read(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric",
        "metric_value")

  val unpivotMetricsSql: String =
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS metric_value FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem""".stripMargin

  /** Explicit window frames: a ROWS-frame moving aggregate (last 4
    * events per user, deterministic total order) and a RANGE frame
    * bounded by the ordering value — the two frame kinds beyond the
    * default. ROWS frames need a total order to be well-defined; the
    * (ts, event_id) tie-break provides it (same in the oracle).
    */
  def movingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rowsFrame = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-3, 0)
    // RANGE frames require a single ordering column
    val rangeFrame = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    Testdata.events(spark, sfDir)
      .select(
        col("user_id"),
        col("event_id"),
        round(sum(col("value")).over(rowsFrame), 4).as("moving_sum_4"),
        round(avg(col("value")).over(rowsFrame), 4).as("moving_avg_4"),
        count(lit(1)).over(rangeFrame).as("n_at_or_before"))
  }

  val movingWindowSql: String =
    """SELECT user_id, event_id,
      |       round(sum(value) OVER w4, 4) AS moving_sum_4,
      |       round(avg(value) OVER w4, 4) AS moving_avg_4,
      |       count(*) OVER (PARTITION BY user_id ORDER BY ts
      |                      RANGE UNBOUNDED PRECEDING) AS n_at_or_before
      |FROM events
      |WINDOW w4 AS (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Cube: all 4 grouping-set combinations over (returnflag,
    * linestatus) plus the grouping_id disambiguator (NULL-vs-subtotal).
    */
  def cubeAgg(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.read(spark, sfDir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        grouping_id(col("l_returnflag"), col("l_linestatus")).cast("int").as("gid"))

  val cubeAggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity), 4) AS sum_qty, count(*) AS n_rows,
      |       CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** Exact interpolated quantiles (percentile ≙ DuckDB quantile_cont)
    * per group — the deterministic complement to approx_percentile.
    */
  def quantiles(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.read(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75"),
        round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))

  val quantilesSql: String =
    """SELECT l_returnflag,
      |       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
      |       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Approximate quantiles from a bottom-k hash sample
    * ([[graft.functions.Sketches.BottomKSample]], k = 128 pairs keyed
    * by a 60-bit md5 hash of event_id) — the SKETCH-scaling complement
    * to [[quantiles]]: exact `percentile` shuffles and sorts every
    * value in the group, while the sample aggregate ships <= k
    * (hash, value) pairs per (group, partition) and the quantile is
    * interpolated over the tiny sample. Unlike `approx_percentile`'s
    * randomized KLL layout, the hash order makes the sample — and the
    * estimate, bit for bit — replayable in any engine (`ORDER BY hv,
    * val LIMIT k`), so this path is fully oracle-checked. Exact
    * quantile twins ride along for the error-envelope spec; sample
    * error is O(1/sqrt(k)) in rank.
    */
  def quantileSketch(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 128
    val h = conv(substring(md5(col("event_id").cast("string")), 1, 15), 16, 10).cast("long")
    val ev = Testdata.events(spark, sfDir)
    val sk = ev
      .groupBy(col("event_type"))
      .agg(graft.functions.Sketches.bottomKSample(h, col("value"), k).as("sample"))
      .select(col("event_type"), explode(col("sample")).as("v"))
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(v, 0.5)"), 4).as("p50_sketch"),
        round(expr("percentile(v, 0.9)"), 4).as("p90_sketch"),
        count(lit(1)).as("sample_n"))
    val exact = ev
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50_exact"),
        round(expr("percentile(value, 0.9)"), 4).as("p90_exact"))
    sk.join(exact, Seq("event_type"))
  }

  val quantileSketchSql: String =
    """WITH p AS (
      |  SELECT DISTINCT event_type,
      |         CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv,
      |         value AS val
      |  FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
      |r AS (SELECT event_type, val,
      |        row_number() OVER (PARTITION BY event_type ORDER BY hv, val) AS rn
      |      FROM p),
      |s AS (SELECT event_type,
      |        round(quantile_cont(val, 0.5), 4) AS p50_sketch,
      |        round(quantile_cont(val, 0.9), 4) AS p90_sketch,
      |        count(*) AS sample_n
      |      FROM r WHERE rn <= 128 GROUP BY event_type),
      |x AS (SELECT event_type,
      |        round(quantile_cont(value, 0.5), 4) AS p50_exact,
      |        round(quantile_cont(value, 0.9), 4) AS p90_exact
      |      FROM events GROUP BY event_type)
      |SELECT s.event_type, s.p50_sketch, s.p90_sketch, s.sample_n, x.p50_exact, x.p90_exact
      |FROM s JOIN x USING (event_type)""".stripMargin

  /** Range (theta) join: orders bucketed into half-open price bands via
    * a non-equi join. The band table is tiny and broadcast, so the
    * plan is a broadcast nested-loop — the right shape for a
    * band-dimension join at any fact-side scale (no shuffle of orders).
    */
  def rangeJoinBands(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      ("band_0_100k", 0.0, 100000.0),
      ("band_100k_200k", 100000.0, 200000.0),
      ("band_200k_300k", 200000.0, 300000.0),
      ("band_300k_plus", 300000.0, Double.MaxValue)).toDF("band", "lo", "hi")
    Testdata.read(spark, sfDir, "orders")
      .join(broadcast(bands), col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 4).as("sum_price"))
  }

  val rangeJoinBandsSql: String =
    """SELECT band, count(*) AS n_orders, round(sum(o_totalprice), 4) AS sum_price
      |FROM orders
      |JOIN (VALUES ('band_0_100k', 0.0, 100000.0),
      |             ('band_100k_200k', 100000.0, 200000.0),
      |             ('band_200k_300k', 200000.0, 300000.0),
      |             ('band_300k_plus', 300000.0, 1e308)) AS bands(band, lo, hi)
      |  ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band""".stripMargin

  /** Pivot: linestatus values become columns (explicit value list — one
    * pass, no value-discovery scan).
    */
  def pivotAgg(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.read(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_quantity")), 4))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")

  val pivotAggSql: String =
    """SELECT l_returnflag,
      |       round(sum(l_quantity) FILTER (l_linestatus = 'F'), 4) AS qty_f,
      |       round(sum(l_quantity) FILTER (l_linestatus = 'O'), 4) AS qty_o
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Per-user ordered event sequences — the behavioral analog of
    * sequence construction for training data: every user's event-type
    * history joined into one ordered string. Scale shape: one hash
    * aggregation with map-side combine; the per-user collect_list is
    * bounded by that user's activity (the natural bound of any
    * history-construction job), and ordering happens inside the already
    * grouped array (array_sort over structs), never as a global sort.
    */
  /** Fixed-point PageRank (3 unrolled power iterations, damping 0.85)
    * over the undirected customer–supplier purchase graph — the
    * iterative-graph workload class (Pregel-style message passing as
    * join + aggregate per round), distinct from every one-shot shape in
    * this file. Edges are the distinct (customer, supplier) pairs
    * linked by an order line, walked in both directions; nodes are
    * namespaced into one key space (custkey·2 / suppkey·2+1).
    *
    * Engine determinism is the design constraint: float PageRank sums
    * diverge across engines on summation order, so ranks live in
    * integer MICRO-UNITS (1.0 ≡ 1,000,000) and every step is exact
    * integer arithmetic — per-edge contribution = rank DIV out_degree,
    * damped update = 150000 + (sum·17) DIV 20 (= 0.15 + 0.85·sum).
    * Integer sums are order-independent, so Spark and DuckDB agree bit
    * for bit and the query is fully hash-checkable — the same
    * fixed-point discipline every float mean in this repo follows.
    *
    * Scale shape: per iteration one edges⋈weights hash join keyed on
    * the source node and one map-side-combined sum keyed on the
    * destination — the standard Pregel round as Catalyst operators;
    * the rank frame stays |V| rows, edges |E|, and nothing iterates on
    * the driver. The |V|-sized frames (per-edge contribution weights,
    * in-mass) are BROADCAST under the same explicit |V| ≤ 2M gate as
    * [[triangleCount]]'s degree frames: their payload is two longs per
    * node, but past the 10 MB autobroadcast threshold (~600k nodes)
    * Catalyst silently flips the edges-side join to sort-merge, which
    * re-sorts all 2|E| cached edge rows twice per iteration — the
    * measured sf10 cliff (330 s → the gated-broadcast plan keeps every
    * iteration a single cached-edge scan). Past the gate the join
    * degrades to shuffle-on-node-key, the correct 10⁹-vertex plan (a
    * real cluster would pre-partition edges by src and let every
    * iteration reuse that exchange). Dangling mass is dropped (both
    * engines identically) — acceptable for a relative-importance
    * ranking.
    */
  def pagerankPurchases(spark: SparkSession, sfDir: String): DataFrame = {
    val micro = 1000000L
    val orders = Testdata.read(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Testdata.read(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    // build the directed edge list in ONE pass: each distinct
    // undirected pair explodes into both directions inline, so the
    // fact-table join + distinct run exactly once and only the final
    // 2·|pairs|-row edge list is cached (the earlier two-frame build —
    // pairs cached, then a two-branch union cached again — wrote 1.5×
    // the rows to cache and re-read the pair blocks twice; the r19
    // phase profile put 91 of sf10's ~130 s in that build). Blocks
    // spill under pressure; ContextCleaner reclaims on dereference.
    val edges = li
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(
        (col("o_custkey") * 2).as("c_node"),
        (col("l_suppkey") * 2 + 1).as("s_node"))
      .distinct()
      .select(explode(array(
        struct(col("c_node").as("src"), col("s_node").as("dst")),
        struct(col("s_node").as("src"), col("c_node").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // deg is referenced in EVERY iteration (the contrib join and the
    // left-join rebase): uncached it re-runs a 2|E|-row groupBy per
    // round — extra full edge shuffles across 3 iterations at sf10.
    // The node set is a PROJECTION of deg (every node of the undirected-
    // doubled edge list appears as a src), so the rebase joins the
    // cached deg frame directly instead of a second full 2|E|-row
    // distinct shuffle and a second |V| cache (r19 build-phase fix).
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the shared frames ONCE (edges via deg's build pass),
    // so every iteration runs against flat cached inputs
    val nV = deg.count()
    // |V|-gated broadcast (payload: two longs per node) — same gate and
    // fallback story as triangleCount's vSized
    def vSized(df: DataFrame): DataFrame =
      if (nV <= 2000000L) broadcast(df) else df
    // the loop frame CARRIES (src, out_deg, rank): rank/out_deg is then a
    // pure projection over the cached round frame, so the per-iteration
    // |V|⋈|V| weights join (and its broadcast build job) is gone — one
    // join + one broadcast + one job fewer per round (r22, VERDICT item 2:
    // the iterative operators' per-round fixed cost is what anti-scales
    // at high core counts, guide §2.2/§1.5). The carried out_deg is one
    // long per node, the same payload the retired broadcast shipped.
    val r0 = deg.select(col("src"), col("out_deg"), lit(micro).as("rank"))
    val ranked = (1 to 3).foldLeft(r0) { (r, i) =>
      // `div` is Spark's INTEGRAL division on longs (≙ DuckDB `//` for
      // non-negatives) — a double `/` + cast could misround when the
      // double error exceeds 1/out_deg at large rank magnitudes
      val weights = r.select(col("src"), expr("rank div out_deg").as("c"))
      val contrib = edges
        .join(vSized(weights), Seq("src"))
        .select(col("dst"), col("c"))
      val inMass = contrib.groupBy(col("dst")).agg(sum(col("c")).as("mass"))
      val next = deg
        .join(vSized(inMass.withColumnRenamed("dst", "src")), Seq("src"), "left")
        .select(
          col("src"),
          col("out_deg"),
          (lit(150000L) + expr("(coalesce(mass, 0L) * 17) div 20")).as("rank"))
        // lineage truncation, the iterative-Spark discipline: each
        // round's |V|-row rank frame is cached so round n+1 plans
        // against a flat cached input instead of the whole history —
        // without this the optimizer replans (and AQE re-shuffles) a
        // tree that doubles per iteration
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // materialize the new rank frame, then retire the previous one:
      // cached frames the loop will never read again are pure GC
      // pressure (r0 is a projection over `deg`, never persisted)
      next.count()
      if (i > 1) r.unpersist(blocking = false)
      next
    }
    ranked
      .orderBy(col("rank").desc, col("src").asc)
      .limit(20)
      .select(col("src").as("node"), col("rank"))
  }

  val pagerankPurchasesSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT o_custkey * 2 AS c_node, l_suppkey * 2 + 1 AS s_node
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS (
      |  SELECT c_node AS src, s_node AS dst FROM pairs
      |  UNION ALL
      |  SELECT s_node AS src, c_node AS dst FROM pairs),
      |nodes AS (SELECT DISTINCT src AS node FROM edges),
      |deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
      |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
      |m1 AS (SELECT e.dst, sum(r.rank // d.out_deg) AS mass
      |       FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
      |       GROUP BY e.dst),
      |r1 AS (SELECT n.node, 150000 + (coalesce(m.mass, 0) * 17) // 20 AS rank
      |       FROM nodes n LEFT JOIN m1 m ON n.node = m.dst),
      |m2 AS (SELECT e.dst, sum(r.rank // d.out_deg) AS mass
      |       FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
      |       GROUP BY e.dst),
      |r2 AS (SELECT n.node, 150000 + (coalesce(m.mass, 0) * 17) // 20 AS rank
      |       FROM nodes n LEFT JOIN m2 m ON n.node = m.dst),
      |m3 AS (SELECT e.dst, sum(r.rank // d.out_deg) AS mass
      |       FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
      |       GROUP BY e.dst),
      |r3 AS (SELECT n.node, 150000 + (coalesce(m.mass, 0) * 17) // 20 AS rank
      |       FROM nodes n LEFT JOIN m3 m ON n.node = m.dst)
      |SELECT CAST(node AS BIGINT) AS node, CAST(rank AS BIGINT) AS rank
      |FROM r3 ORDER BY rank DESC, node ASC LIMIT 20""".stripMargin

  /** Exact TRIANGLE COUNT on the part co-purchase graph (two parts are
    * adjacent when some order contains both), by DEGREE ORIENTATION —
    * the distributed-triangle algorithm of Suri & Vassilvitskii
    * (WWW'11): orient every undirected edge from its (degree, id)-
    * smaller endpoint to the larger, so each triangle is enumerated
    * exactly once (at its smallest-rank vertex) and the wedge join's
    * per-node fan-out is bounded by the oriented out-degree — O(√|E|)
    * even on power-law graphs — instead of the raw degree that makes
    * the hub vertex the "last reducer". The wedge-close step is the
    * EDGE-ITERATOR form, not a wedge join: per-node oriented
    * adjacency lists (|V| rows, Σ|list| = |E| entries), then for each
    * oriented edge (a,b) the triangle count through its lowest-rank
    * pair is |N⁺(a) ∩ N⁺(b)| via `array_intersect` — the Σ d⁺²
    * wedge set is walked inside codegen instead of materialized
    * through a shuffle (the wedge-join variant measured 13.3 s at
    * sf0.1 against ~70M shuffled wedge rows; this plan 5.4 s). Edge
    * derivation is ORDER-LOCAL: ≤ C(items/order, 2) pairs per order
    * before the global distinct, so |E| grows linearly with orders,
    * not quadratically with parts (measured: 116k edges / 414k
    * triangles at sf0.01 → 1.2M / 1.9M at sf0.1 — both ~10×). |V|
    * and |E| are needed for the output row anyway, so their counts
    * double as join-strategy stats: deg broadcasts on the node gate
    * (|V| ≤ 2M — its payload is |V| rows of two longs), the adjacency
    * frames on node AND edge gates (their payload is Σ|nbr| = |E|
    * entries, unbounded by |V| on dense graphs); past either gate the
    * join degrades to shuffle-on-node-key, which is the correct
    * 10⁹-vertex plan.
    */
  def triangleCount(spark: SparkSession, sfDir: String): DataFrame = {
    // canonical undirected edges (p1 < p2); referenced 3× (degrees,
    // orientation, scalar count) — persist like pagerank's edge list.
    // ORDER-LOCAL pair generation: one groupBy(order) collects the
    // sorted distinct part array and expands its C(k,2) pairs map-side
    // (sorted array ⇒ p1 < p2 by construction), replacing the previous
    // distinct + self-join + where shape — identical edge set, one less
    // full shuffle of the part-order table (r21 A/B at sf0.1: 5.8 → 2.9 s
    // for the edge build). The per-order array is bounded by
    // items/order exactly like the join fan-out was, so the shape is
    // unchanged at scale.
    val edges = Testdata.read(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy(col("o")).agg(array_sort(array_distinct(collect_list(col("p")))).as("ps"))
      // C(k,2) expansion as ONE compiled loop per order
      // ([[graft.functions.VectorExprs.SortedPairs]]): the nested
      // transform/slice HOF form computed the identical pair set but
      // interpreted per element, allocating a slice copy + expression
      // walk per inner step (r22 A/B at sf0.1: see OPTIMIZATION_r22.md)
      .select(explode(
        graft.functions.VectorExprs.sortedPairs(col("ps"), "p1", "p2")).as("e"))
      .select(col("e.p1").as("p1"), col("e.p2").as("p2"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEdges = edges.count()
    val deg = edges.select(col("p1").as("n"))
      .unionByName(edges.select(col("p2").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nNodes = deg.count()
    def vSized(df: DataFrame): DataFrame =
      if (nNodes <= 2000000L) broadcast(df) else df
    // the adjacency frames are |V| ROWS but |E| ENTRIES (Σ|nbr list|) —
    // on dense graphs a node-count gate alone could force-broadcast an
    // edge-sized payload past driver/broadcast limits, so adj gates on
    // BOTH counts (deg stays on the node gate: |V| rows of two longs)
    def eSized(df: DataFrame): DataFrame =
      if (nNodes <= 2000000L && nEdges <= 8000000L) broadcast(df) else df
    // acyclic orientation by the (degree, id) total order
    val lowFirst = col("d1") < col("d2") ||
      (col("d1") === col("d2") && col("p1") < col("p2"))
    val oriented = edges
      .join(vSized(deg.select(col("n").as("p1"), col("d").as("d1"))), Seq("p1"))
      .join(vSized(deg.select(col("n").as("p2"), col("d").as("d2"))), Seq("p2"))
      .select(
        when(lowFirst, col("p1")).otherwise(col("p2")).as("src"),
        when(lowFirst, col("p2")).otherwise(col("p1")).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the intersect stage only reads `oriented` — materialize it and
    // retire the raw edge/degree caches so the heavy stage runs against
    // a minimal cached working set (same discipline as pagerank)
    oriented.count()
    edges.unpersist(blocking = false)
    deg.unpersist(blocking = false)
    // adj feeds BOTH sides of the intersect join — past the broadcast
    // gate each unpersisted reference would re-run the |E|-row
    // collect_list shuffle, so cache it once (r19)
    val adj = oriented.groupBy(col("src"))
      .agg(collect_list(col("dst")).as("nbr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // shuffle_hash on the adj build sides, GATED BY |E|: past the
    // broadcast gate a plain join plans sort-merge, and the second SMJ
    // re-SORTS the array-carrying intermediate — at sf1 (12M edges)
    // hashing the |V|-row adj partitions instead measured 1.5× faster
    // (84.4 → 55.3 s A/B). But the build maps hold the ARRAY payload
    // (Σ|nbr| = |E| entries split across partitions), and past ~32M
    // entries the hash-build memory pressure inverts the trade: at
    // 120M edges the same A/B measured SHJ 2× SLOWER than SMJ's
    // sequential merge (426 vs 217 s), so large graphs keep sort-merge
    // — the spill-free plan — which is also the correct 10⁹-edge
    // choice. NESTING MATTERS: on hint merge the OUTERMOST strategy
    // hint wins (broadcast(df).hint("shuffle_hash") plans SHJ, not
    // BHJ — verified on Spark 4.1.2), so broadcast must wrap the
    // shuffle-hash hint, making the hint a no-op whenever eSized
    // broadcasts; oracle/bench scales keep BHJ (PlanAuditSpec pins
    // this), and shuffle volume is identical on every path (r19/r20).
    def hSized(df: DataFrame): DataFrame =
      if (nEdges <= 32000000L) df.hint("shuffle_hash") else df
    val tri = oriented
      .join(eSized(hSized(adj.select(col("src"), col("nbr").as("na")))), Seq("src"))
      .join(eSized(hSized(adj.select(col("src").as("dst"), col("nbr").as("nb")))), Seq("dst"))
      .select(size(array_intersect(col("na"), col("nb"))).as("t"))
      .agg(sum(col("t")).as("t"))
    tri.select(
      lit(nNodes).as("n_nodes"),
      lit(nEdges).as("n_edges"),
      coalesce(col("t"), lit(0L)).as("n_triangles"))
  }

  val triangleCountSql: String =
    """WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |edges AS (SELECT DISTINCT a.p AS p1, b.p AS p2
      |          FROM po a JOIN po b ON a.o = b.o AND a.p < b.p),
      |nodes AS (SELECT p1 AS n FROM edges UNION SELECT p2 FROM edges),
      |tri AS (SELECT count(*) AS c
      |        FROM edges e1
      |        JOIN edges e2 ON e1.p2 = e2.p1
      |        JOIN edges e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
      |       (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
      |       CAST(c AS BIGINT) AS n_triangles
      |FROM tri""".stripMargin

  /** Multi-source BFS HOP DISTANCES on the customer–supplier purchase
    * graph (pagerank's bipartite node space), FRONTIER-style: each
    * round expands only the rows discovered last round (|frontier|,
    * not |V|, drives the join), dedups, and anti-joins the visited
    * set so every vertex is labeled with its MINIMUM hop count — the
    * iterative-Spark shape of a shortest-path/reachability pass
    * (Pregel's BFS special case) with the same lineage-truncation
    * discipline as the pagerank loop. At real scale the per-round
    * cost is O(edges incident to the frontier) + one anti-join
    * against the visited frame; the anti-join is the |V|-sized term,
    * so past `bloomPruneAt` visited rows it is BLOOM-PRE-PRUNED
    * ([[graft.functions.Bloom]], Spark's own runtime-filter expression
    * pair): candidates the visited-set bloom says were NEVER seen skip
    * the anti-join entirely, and only the maybe-seen sliver (true
    * hits + fpp) pays the |V|-sized shuffle — the 10⁹-vertex knob
    * (same as the incremental-dedup index), correctness-neutral
    * because `might_contain = false` is exact and positives still
    * verify through the real anti-join. Retired frames (previous
    * rounds' visited/frontier) are unpersisted once their successor
    * materializes — cached frames the loop will never read again are
    * pure GC pressure. Seeds: customer nodes with key ≤ 5; 3 hops.
    */
  def bfsHops(
      spark: SparkSession,
      sfDir: String,
      bloomPruneAt: Long = 4000000L): DataFrame = {
    val orders = Testdata.read(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Testdata.read(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    // single-pass edge build (same r19 fix as pagerankPurchases): each
    // distinct undirected pair explodes into both directions inline,
    // so the fact-table join + distinct run once and only the final
    // edge list is cached — the two-frame build (pairs cached, union
    // cached again) wrote 1.5× the rows to cache
    val edges = li
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(
        (col("o_custkey") * 2).as("c_node"),
        (col("l_suppkey") * 2 + 1).as("s_node"))
      .distinct()
      .select(explode(array(
        struct(col("c_node").as("src"), col("s_node").as("dst")),
        struct(col("s_node").as("src"), col("c_node").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seeds = edges
      .select(col("src").as("node")).distinct()
      .where(col("node") % 2 === 0 && col("node") <= 10)
    // `visited` is a UNION OF THE CACHED PER-ROUND FRAMES, not a frame
    // re-persisted (and re-counted) every round: each round's `next` is
    // already cached for the frontier, so visited_h = seeds ∪ next_1 ∪ …
    // ∪ next_h reads h+1 cached frames with no new materialization job —
    // the per-round persist+count+unpersist of a growing visited copy
    // was ~3 extra jobs/round of pure bookkeeping (and double-cached
    // every visited row). The union plan grows linearly in the hop
    // bound, which is a constant (3) here and small for any BFS.
    var visited = seeds.withColumn("hop", lit(0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var frontier: DataFrame = visited.select(col("node"))
    // the per-round count is load-bearing twice: it's the Pregel-style
    // convergence check (stop when the frontier drains — a fixed hop
    // bound on an already-exhausted graph would still pay the joins),
    // and it's the join-strategy stat: a small frontier broadcasts, so
    // the |E|-row edge cache streams map-side with NO shuffle; a large
    // frontier (late-round, 10⁹-vertex regime) falls back to the
    // shuffle join. Spark can't infer either from lineage — the
    // frontier is a loop-carried cached frame with no stats.
    var frontierRows = frontier.count()
    var visitedRows = frontierRows
    var h = 1
    while (h <= 3 && frontierRows > 0) {
      val probe = frontier.withColumnRenamed("node", "src")
      val candidates = edges
        .join(if (frontierRows <= 1000000L) broadcast(probe) else probe, Seq("src"))
        .select(col("dst").as("node"))
      var scratch: Option[DataFrame] = None
      val fresh =
        if (visitedRows > bloomPruneAt) {
          // bloom pre-prune: one |visited| pass builds the filter (a
          // driver-held blob, ~10 bits/node), then candidates split into
          // definitely-new (no anti-join at all) and maybe-seen (the
          // true-hit + fpp sliver, which alone pays the |V| anti-join).
          // `expanded` feeds both branches — persist it for the round.
          val cand = candidates.distinct()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          scratch = Some(cand)
          val blob = visited
            .agg(graft.functions.Bloom
              .bloomAgg(xxhash64(col("node")), visitedRows).as("bf"))
            .head.getAs[Array[Byte]](0)
          val maybeSeen = graft.functions.Bloom
            .mightContain(lit(blob), xxhash64(col("node")))
          cand.filter(!maybeSeen)
            .unionByName(cand.filter(maybeSeen).join(visited, Seq("node"), "left_anti"))
        } else if (visitedRows <= 1000000L) {
          // broadcast-sized visited set: anti-join FIRST (a map-side
          // broadcast filter over the raw expansion), distinct after —
          // in late rounds most candidate endpoints are already visited,
          // so the distinct exchange then shuffles only the novel sliver
          // instead of every endpoint incident to the frontier (§2.3
          // shuffle fewer bytes; anti-join and distinct commute). Past
          // the broadcast gate the old order stays: a shuffled anti-join
          // keys on the same `node` the distinct exchanges, so
          // distinct-first rides one exchange of the full candidate set
          // and feeds the anti-join already-partitioned, while
          // anti-first would shuffle the larger pre-distinct set.
          candidates
            .join(broadcast(visited.select(col("node"))), Seq("node"), "left_anti")
            .distinct()
        } else candidates.distinct().join(visited, Seq("node"), "left_anti")
      val next = fresh
        .withColumn("hop", lit(h))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      frontierRows = next.count()
      scratch.foreach(_.unpersist(blocking = false))
      visitedRows += frontierRows
      // every round frame stays cached (it IS part of visited); total
      // cached rows = |V|, the same bound the old re-persisted visited
      // copy held on top of the round frames
      visited = visited.unionByName(next)
      frontier = next.select(col("node"))
      h += 1
    }
    visited
      .groupBy(col("hop").cast("long").as("hop"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("sum_node"))
  }

  val bfsHopsSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT o_custkey * 2 AS c_node, l_suppkey * 2 + 1 AS s_node
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS (
      |  SELECT c_node AS src, s_node AS dst FROM pairs
      |  UNION ALL
      |  SELECT s_node AS src, c_node AS dst FROM pairs),
      |f0 AS (SELECT DISTINCT src AS node FROM edges
      |       WHERE src % 2 = 0 AND src <= 10),
      |v0 AS (SELECT node, 0 AS hop FROM f0),
      |f1 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN f0 ON e.src = f0.node
      |       WHERE e.dst NOT IN (SELECT node FROM v0)),
      |v1 AS (SELECT * FROM v0 UNION ALL SELECT node, 1 FROM f1),
      |f2 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN f1 ON e.src = f1.node
      |       WHERE e.dst NOT IN (SELECT node FROM v1)),
      |v2 AS (SELECT * FROM v1 UNION ALL SELECT node, 2 FROM f2),
      |f3 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN f2 ON e.src = f2.node
      |       WHERE e.dst NOT IN (SELECT node FROM v2)),
      |v3 AS (SELECT * FROM v2 UNION ALL SELECT node, 3 FROM f3)
      |SELECT CAST(hop AS BIGINT) AS hop, CAST(count(*) AS BIGINT) AS n_nodes,
      |       CAST(sum(node) AS BIGINT) AS sum_node
      |FROM v3 GROUP BY hop""".stripMargin

  def userSequences(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            e => e.getField("event_type")),
          ",").as("sequence"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("last_ts"))

  val userSequencesSql: String =
    """SELECT user_id, count(*) AS n_events,
      |       string_agg(event_type, ',' ORDER BY ts, event_id) AS sequence,
      |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
      |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
      |FROM events GROUP BY user_id""".stripMargin

  /** Ordered conversion FUNNEL (signup → click → purchase) in ONE
    * shuffle: per user, collect the (t, type) events time-sorted and
    * FOLD them left-to-right with `aggregate` — first signup, then the
    * first click strictly after it, then the first purchase strictly
    * after that — so stage detection is a single per-row array pass,
    * not the three self-join-the-events-table passes the textbook SQL
    * (and the oracle) spells. Per-user event counts are bounded
    * (corpus-rate × session horizon), so the collected array is small;
    * the global stage counts + median signup→purchase lag reduce in a
    * scalar aggregate. Strict `>` comparisons against the accumulator
    * (never "processed earlier in the sort") keep equal-timestamp
    * semantics identical to the oracle's `t > s` / `t > c` joins.
    */
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val sent = 4102444800L // 2100-01-01, later than any event timestamp
    val ev = Testdata.events(spark, sfDir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("t"), col("event_type").as("et"))
      .filter(col("et").isin("signup", "click", "purchase"))
    val perUser = ev
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("t"), col("et")))).as("evs"))
      .select(expr(
        s"""aggregate(
           |  evs,
           |  named_struct('s', ${sent}L, 'c', ${sent}L, 'p', ${sent}L),
           |  (acc, x) -> CASE
           |    WHEN x.et = 'signup' AND acc.s = ${sent}L
           |      THEN named_struct('s', x.t, 'c', acc.c, 'p', acc.p)
           |    WHEN x.et = 'click' AND acc.s < ${sent}L AND acc.c = ${sent}L AND x.t > acc.s
           |      THEN named_struct('s', acc.s, 'c', x.t, 'p', acc.p)
           |    WHEN x.et = 'purchase' AND acc.c < ${sent}L AND acc.p = ${sent}L AND x.t > acc.c
           |      THEN named_struct('s', acc.s, 'c', acc.c, 'p', x.t)
           |    ELSE acc END)""".stripMargin).as("f"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      count(when(col("f.s") < sent, lit(1))).as("n_signup"),
      count(when(col("f.c") < sent, lit(1))).as("n_click"),
      count(when(col("f.p") < sent, lit(1))).as("n_purchase"),
      round(expr(s"percentile(CASE WHEN f.p < ${sent}L THEN f.p - f.s END, 0.5)"), 4)
        .as("median_lag_sec"))
  }

  val funnelSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_type
      |  FROM events WHERE event_type IN ('signup', 'click', 'purchase')),
      |s AS (SELECT user_id, min(t) AS st FROM e WHERE event_type = 'signup' GROUP BY 1),
      |c AS (SELECT e.user_id, min(t) AS ct
      |      FROM e JOIN s USING (user_id)
      |      WHERE event_type = 'click' AND t > st GROUP BY 1),
      |p AS (SELECT e.user_id, min(t) AS pt
      |      FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND t > ct GROUP BY 1)
      |SELECT (SELECT count(DISTINCT user_id) FROM e) AS n_users,
      |       (SELECT count(*) FROM s) AS n_signup,
      |       (SELECT count(*) FROM c) AS n_click,
      |       (SELECT count(*) FROM p) AS n_purchase,
      |       (SELECT round(quantile_cont(pt - st, 0.5), 4)
      |        FROM p JOIN s USING (user_id)) AS median_lag_sec""".stripMargin

  /** Per-user exponentially-weighted moving average (α = 0.5) of the
    * event value stream — the standard time-decayed feature an online
    * signal pipeline maintains per entity. Sequential by nature, so the
    * whole recurrence runs as ONE in-row `aggregate` fold over the
    * time-sorted collected values (same single-shuffle shape as
    * [[funnel]]): no window-function self-scan, no per-step shuffle.
    * α = 0.5 on purpose: halving is exact in IEEE (exponent decrement),
    * so both engines execute the identical rounding sequence and the
    * fold is bit-reproducible, not just 4-dp-close. Ties in ts break on
    * event_id in both engines.
    */
  def ewmaDecay(spark: SparkSession, sfDir: String): DataFrame =
    Testdata.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        array_sort(collect_list(struct(col("ts"), col("event_id"), col("value")))).as("evs"))
      .select(
        col("user_id"),
        col("n_events"),
        round(
          expr("""aggregate(
                 |  slice(evs, 2, size(evs) - 1),
                 |  element_at(evs, 1).value,
                 |  (acc, x) -> 0.5D * x.value + 0.5D * acc)""".stripMargin), 4)
          .as("ewma"))

  val ewmaDecaySql: String =
    """SELECT user_id, count(*) AS n_events,
      |       round(list_reduce(list(value ORDER BY ts, event_id),
      |                         (acc, x) -> 0.5 * x + 0.5 * acc), 4) AS ewma
      |FROM events GROUP BY user_id""".stripMargin

  /** Event-type TRANSITION matrix (first-order Markov counts): for each
    * user's time-ordered stream, count each consecutive (from → to)
    * event-type pair, with per-from probabilities. `lead()` over a
    * window PARTITIONED BY user — keyed windows scale (each user's
    * slice is one partition's work, never a global sort), unlike the
    * global-ORDER-BY windows this repo avoids. Ties break on event_id
    * in both engines.
    */
  def eventTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Testdata.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type")).agg(sum(col("n")).as("n_from"))
    pairs
      .join(broadcast(totals), Seq("from_type"))
      .select(
        col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("n_from"), 4).as("p"))
  }

  val eventTransitionsSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |c AS (
      |  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, sum(n) AS n_from FROM c GROUP BY 1)
      |SELECT from_type, to_type, n, round(CAST(n AS DOUBLE) / n_from, 4) AS p
      |FROM c JOIN t USING (from_type)""".stripMargin

  /** Equi-width 20-bucket histogram of the event value: range from one
    * tiny (min, max) aggregate folded into the plan as literals, then a
    * map-only bucket projection + hash count — the profiling shape that
    * never sorts and never windows. Bucket arithmetic is the identical
    * IEEE expression on both engines, so edges land identically.
    */
  def histogram(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Testdata.events(spark, sfDir).select(col("value"))
    val r = ev.agg(min(col("value")), max(col("value"))).head()
    val (mn, mx) = (r.getDouble(0), r.getDouble(1))
    val bucket = least(
      floor((col("value") - lit(mn)) * 20.0 / (lit(mx) - lit(mn))).cast("int"),
      lit(19))
    ev.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("bucket"),
        round(lit(mn) + col("bucket") * (lit(mx) - lit(mn)) / 20.0, 4).as("lo"),
        round(lit(mn) + (col("bucket") + 1) * (lit(mx) - lit(mn)) / 20.0, 4).as("hi"),
        col("n"))
  }

  val histogramSql: String =
    """WITH r AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
      |b AS (
      |  SELECT least(CAST(floor((value - mn) * 20.0 / (mx - mn)) AS INTEGER), 19) AS bucket,
      |         mn, mx
      |  FROM events CROSS JOIN r)
      |SELECT bucket,
      |       round(mn + bucket * (mx - mn) / 20.0, 4) AS lo,
      |       round(mn + (bucket + 1) * (mx - mn) / 20.0, 4) AS hi,
      |       count(*) AS n
      |FROM b GROUP BY bucket, mn, mx""".stripMargin

  /** Per-group z-score outliers (3σ): group statistics via ONE hash
    * aggregation broadcast back to the fact rows — never a window over
    * whole groups (a `avg() OVER (PARTITION BY type)` funnels every
    * group through one task at scale; a 5-row stats broadcast does
    * not). Moments are exact integer-scaled sums (4-dp fixed point), so
    * mean/stddev are summation-order-independent and reproduce
    * bit-identically in the oracle engine — the same rule every float
    * mean in this repo follows.
    */
  def outliers(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Testdata.events(spark, sfDir)
      .select(
        col("event_id"), col("event_type"), col("value"),
        expr("cast(round(cast(value as double) * 10000) as bigint)").as("vq"))
    val stats = q
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("vq")).as("s1"),
        // second moment as decimal(38,0): a bigint sum of vq² overflows
        // around n·(max|v|·10⁴)² ≈ 10²¹ — reachable at cluster scale
        sum((col("vq") * col("vq")).cast("decimal(38,0)")).as("s2"))
      .select(
        col("event_type"),
        (col("s1").cast("double") / col("n")).as("mu"),
        sqrt(
          col("s2").cast("double") / col("n") -
            (col("s1").cast("double") / col("n")) * (col("s1").cast("double") / col("n")))
          .as("sigma"))
    q.join(broadcast(stats), Seq("event_type"))
      .withColumn("z", (col("vq").cast("double") - col("mu")) / col("sigma"))
      .filter(abs(col("z")) > 3.0)
      .select(
        col("event_id"),
        col("event_type"),
        round(col("value"), 4).as("value_r"),
        round(col("z"), 4).as("z"))
  }

  val outliersSql: String =
    """WITH q AS (
      |  SELECT event_id, event_type, value,
      |         CAST(round(CAST(value AS DOUBLE) * 10000) AS BIGINT) AS vq
      |  FROM events),
      |st AS (
      |  SELECT event_type, count(*) AS n, sum(vq) AS s1, sum(vq * vq) AS s2
      |  FROM q GROUP BY 1),
      |zs AS (
      |  SELECT event_id, q.event_type, value,
      |         (CAST(vq AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
      |           / sqrt(CAST(s2 AS DOUBLE) / n
      |                  - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS z
      |  FROM q JOIN st USING (event_type))
      |SELECT event_id, event_type, round(value, 4) AS value_r, round(z, 4) AS z
      |FROM zs WHERE abs(z) > 3""".stripMargin

  /** Robust (median/MAD) outlier summary per group — the heavy-tail
    * complement to the 3-sigma z-score filter in [[outliers]]: mean and
    * sigma are themselves corrupted by the outliers being hunted, while
    * median and MAD (median absolute deviation) have a 50% breakdown
    * point, the standard choice for cleaning skewed corpus statistics
    * (doc lengths, scores) before training. x is flagged when
    * |x - med| > 3 * 1.4826 * MAD (1.4826 scales MAD to sigma under
    * normality). Two percentile aggregations with a tiny stats
    * broadcast between them — never a window over whole groups; exact
    * `percentile` matches DuckDB `quantile_cont` bit-for-bit (the
    * [[quantiles]] parity).
    */
  def outlierMad(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Testdata.events(spark, sfDir)
      .select(col("event_type"), col("value"))
    val med = ev
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = ev
      .join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev
      .groupBy(col("event_type"))
      .agg(max(col("med")).as("med"), expr("percentile(adev, 0.5)").as("mad"))
    dev
      .drop("med")
      .join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("adev") > lit(3.0) * lit(1.4826) * col("mad"), lit(1))).as("n_outliers"),
        round(max(col("med")), 4).as("med"),
        round(max(col("mad")), 4).as("mad"))
  }

  val outlierMadSql: String =
    """WITH m AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY event_type),
      |d AS (
      |  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
      |  FROM events e JOIN m USING (event_type)),
      |md AS (
      |  SELECT event_type, max(med) AS med, quantile_cont(adev, 0.5) AS mad
      |  FROM d GROUP BY event_type)
      |SELECT d.event_type, count(*) AS n_total,
      |       count(*) FILTER (WHERE d.adev > 3.0 * 1.4826 * md.mad) AS n_outliers,
      |       round(max(md.med), 4) AS med, round(max(md.mad), 4) AS mad
      |FROM d JOIN md USING (event_type)
      |GROUP BY d.event_type""".stripMargin

  /** Column profiler over `orders` — the ANALYZE-TABLE statistics pass
    * (see [[graft.operators.Profile]]): one aggregation scan, pivoted
    * to a row per column after the aggregate.
    */
  def profileTable(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Profile.profile(
      Testdata.read(spark, sfDir, "orders"))

  val profileTableSql: String = {
    def numCol(c: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
         |  CAST(NULL AS DOUBLE) AS avg_len FROM orders""".stripMargin
    def tsCol(c: String) =
      s"""SELECT '$c', count(*), CAST(count(*) - count($c) AS BIGINT),
         |  CAST(count(DISTINCT $c) AS BIGINT),
         |  CAST(CAST(floor(epoch(min($c))) AS BIGINT) AS DOUBLE),
         |  CAST(CAST(floor(epoch(max($c))) AS BIGINT) AS DOUBLE),
         |  CAST(NULL AS DOUBLE) FROM orders""".stripMargin
    def strCol(c: String) =
      s"""SELECT '$c', count(*), CAST(count(*) - count($c) AS BIGINT),
         |  CAST(count(DISTINCT $c) AS BIGINT),
         |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         |  round(CAST(sum(length($c)) AS DOUBLE) / count($c), 4) FROM orders""".stripMargin
    Seq(
      numCol("o_orderkey"), numCol("o_custkey"), strCol("o_orderstatus"),
      numCol("o_totalprice"), tsCol("o_orderdate"), strCol("o_orderpriority"))
      .mkString("", "\nUNION ALL\n", "")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_profile_table" -> (profileTable _),
    "q_unpivot" -> (unpivotMetrics _),
    "q_moving_window" -> (movingWindow _),
    "q_gap_fill" -> (gapFill _),
    "q_collect_set" -> (collectSet _),
    "q_weighted_avg" -> (weightedAvg _),
    "q_typed_pipeline" -> (typedPipeline _),
    "q_cogroup_reconcile" -> (cogroupReconcile _),
    "q_orc_roundtrip" -> (orcRoundtrip _),
    "q_jsonl_roundtrip" -> (jsonlRoundtrip _),
    "q_cube_agg" -> (cubeAgg _),
    "q_quantiles" -> (quantiles _),
    "q_range_join_bands" -> (rangeJoinBands _),
    "q_pivot_agg" -> (pivotAgg _),
    "q_set_ops" -> (setOps _),
    "q_window_analytics" -> (windowAnalytics _),
    "q_tfidf_keywords" -> (tfidfKeywords _),
    "q_median_disc" -> (medianDisc _),
    "q_approx_distinct" -> (approxDistinct _),
    "q_approx_distinct_kmv" -> (approxDistinctKmv _),
    "q_freq_sketch_cms" -> (freqSketchCms _),
    "q_heavy_hitters" -> (heavyHitters _),
    "q_funnel" -> (funnel _),
    "q_ewma_decay" -> (ewmaDecay _),
    "q_event_transitions" -> (eventTransitions _),
    "q_histogram" -> (histogram _),
    "q_jsonl_gzip" -> (jsonlGzipRoundtrip _),
    "q_observe_metrics" -> (observeMetrics _),
    "q_kmv_set_ops" -> (kmvSetOps _),
    "q_grouping_sets" -> (groupingSets _),
    "q_window_rank_stats" -> (windowRankStats _),
    "q_asof_join" -> (asofJoin _),
    "q_asof_forward" -> (asofForward _),
    "q_asof_nearest" -> (asofNearest _),
    "q_sliding_window" -> (slidingWindow _),
    "q_session_window" -> (sessionWindow _),
    "q_distinct_agg" -> (distinctAgg _),
    "q_rollup_agg" -> (rollupAgg _),
    "q_user_sequences" -> (userSequences _),
    "q_outliers" -> (outliers _),
    "q_outlier_mad" -> (outlierMad _),
    "q_kmv_difference" -> (kmvDifference _),
    "q_quantile_sketch" -> (quantileSketch _),
    "q_pagerank" -> (pagerankPurchases _),
    "q_triangle_count" -> (triangleCount _),
    // GRAFT_BFS_BLOOM_AT lowers the bloom-prune threshold for scale
    // rehearsals: the shipped corpus tops out at ~16k reachable nodes
    // (GenScale copies are disconnected components, seeds live in copy
    // 0), so the 4M default would never trip below ~sf250 — the knob
    // lets the rehearsal run the REAL workload through the bloom path
    // at sf1/sf10 and diff it against the plain anti-join run,
    // hash-checked by the same oracle. Absent env → the 4M default.
    "q_shortest_paths" -> ((s: SparkSession, d: String) =>
      bfsHops(s, d,
        sys.env.get("GRAFT_BFS_BLOOM_AT").map(_.toLong).getOrElse(4000000L))),
    "q_join_size_estimate" -> (joinSizeEstimate _))

  val oracleSql: Map[String, String] = Map(
    "q_profile_table" -> profileTableSql,
    "q_unpivot" -> unpivotMetricsSql,
    "q_moving_window" -> movingWindowSql,
    "q_gap_fill" -> gapFillSql,
    "q_collect_set" -> collectSetSql,
    "q_weighted_avg" -> weightedAvgSql,
    "q_typed_pipeline" -> typedPipelineSql,
    "q_cogroup_reconcile" -> cogroupReconcileSql,
    "q_orc_roundtrip" -> orcRoundtripSql,
    "q_jsonl_roundtrip" -> jsonlRoundtripSql,
    "q_cube_agg" -> cubeAggSql,
    "q_quantiles" -> quantilesSql,
    "q_range_join_bands" -> rangeJoinBandsSql,
    "q_pivot_agg" -> pivotAggSql,
    "q_set_ops" -> setOpsSql,
    "q_window_analytics" -> windowAnalyticsSql,
    "q_tfidf_keywords" -> tfidfKeywordsSql,
    "q_median_disc" -> medianDiscSql,
    "q_approx_distinct_kmv" -> approxDistinctKmvSql,
    "q_freq_sketch_cms" -> freqSketchCmsSql,
    "q_heavy_hitters" -> heavyHittersSql,
    "q_funnel" -> funnelSql,
    "q_ewma_decay" -> ewmaDecaySql,
    "q_event_transitions" -> eventTransitionsSql,
    "q_histogram" -> histogramSql,
    "q_jsonl_gzip" -> jsonlGzipRoundtripSql,
    "q_observe_metrics" -> observeMetricsSql,
    "q_kmv_set_ops" -> kmvSetOpsSql,
    "q_grouping_sets" -> groupingSetsSql,
    "q_window_rank_stats" -> windowRankStatsSql,
    "q_asof_join" -> asofJoinSql,
    "q_asof_forward" -> asofForwardSql,
    "q_asof_nearest" -> asofNearestSql,
    "q_sliding_window" -> slidingWindowSql,
    "q_session_window" -> sessionWindowSql,
    "q_distinct_agg" -> distinctAggSql,
    "q_rollup_agg" -> rollupAggSql,
    "q_user_sequences" -> userSequencesSql,
    "q_outliers" -> outliersSql,
    "q_outlier_mad" -> outlierMadSql,
    "q_kmv_difference" -> kmvDifferenceSql,
    "q_quantile_sketch" -> quantileSketchSql,
    "q_pagerank" -> pagerankPurchasesSql,
    "q_triangle_count" -> triangleCountSql,
    "q_shortest_paths" -> bfsHopsSql,
    "q_join_size_estimate" -> joinSizeEstimateSql)
}

/** Narrow typed view of lineitem for the Dataset[T] pipeline. */
final case class LineitemSlim(
    l_orderkey: Long,
    l_quantity: Double,
    l_extendedprice: Double,
    l_returnflag: String)

/** Typed views for the cogroup reconciliation. */
final case class OrderSlim(o_orderkey: Long, o_totalprice: Double)
final case class LineCents(l_orderkey: Long, cents: Long)
