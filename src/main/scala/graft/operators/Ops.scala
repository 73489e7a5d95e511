package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Param

/** Pure DataFrame → DataFrame operators: the projection / derivation /
  * cleaning surface of the reference (SURVEY §2.2), re-expressed as
  * Catalyst-friendly column expressions.
  *
  * Everything here stays inside whole-stage codegen (no UDFs), so filters
  * and projections compose and push down to the parquet scan. Reference
  * behaviors being reproduced:
  *   - normalize_schema: /root/reference/src/silver/_silver_utils.py:53-64
  *     (silver keeps unexpected extra columns) and
  *     /root/reference/src/gold/_gold_utils.py:49-57 (gold drops them)
  *   - rename_cols: _silver_utils.py:67-72 (tolerant, map-driven)
  *   - handle_string/handle_numeric/handle_null: _silver_utils.py:76-97
  *   - deduplicate: _silver_utils.py:100-104 (latest-per-key via
  *     row_number over a descending order column)
  *   - add_metadata / date parts: _bronze_utils.py:41-57,
  *     ohlcv_1m.py:42-46
  */
object Ops {

  /** Cast columns present in `target` to their target types; add missing
    * columns as typed NULLs. When `keepExtra` (silver semantics) columns
    * not in the target schema are appended after the schema columns; when
    * false (gold semantics) they are dropped. One single `select` — a
    * pure projection, no per-column `withColumn` chains (each of which
    * would add an analysis pass).
    */
  def normalizeSchema(df: DataFrame, target: StructType, keepExtra: Boolean = true): DataFrame = {
    val present = df.columns.toSet
    // try_cast, not cast: under ANSI mode (Spark 4 default) a malformed
    // value must degrade to NULL (and be caught by the downstream dropna)
    // exactly like the reference's non-ANSI PySpark cast, not abort the job
    val schemaCols: Seq[Column] = target.fields.toSeq.map { f =>
      if (present.contains(f.name)) col(f.name).try_cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    val targetNames = target.fieldNames.toSet
    val extraCols: Seq[Column] =
      if (keepExtra) df.columns.toSeq.filterNot(targetNames.contains).map(col)
      else Seq.empty
    df.select(schemaCols ++ extraCols: _*)
  }

  /** Rename only the columns that exist; ignore the rest (tolerant). */
  def renameCols(df: DataFrame, renames: Map[String, String]): DataFrame = {
    val present = df.columns.toSet
    val applicable = renames.filter { case (from, _) => present.contains(from) }
    // withColumnsRenamed does them all in one analysis pass (Spark ≥ 3.4)
    df.withColumnsRenamed(applicable)
  }

  /** Trim the listed string columns. */
  def handleString(df: DataFrame, cols: Seq[String]): DataFrame = {
    val present = df.columns.toSet
    df.withColumns(cols.filter(present.contains).map(c => c -> trim(col(c))).toMap)
  }

  /** Domain rule: non-positive numerics are invalid → NULL. */
  def handleNumeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    val present = df.columns.toSet
    df.withColumns(
      cols.filter(present.contains)
        .map(c => c -> when(col(c) <= 0, lit(null)).otherwise(col(c)))
        .toMap)
  }

  /** Drop rows with NULLs in `dropCols` (all columns when empty), then
    * fill remaining NULLs from `fill`.
    */
  def handleNull(
      df: DataFrame,
      dropCols: Seq[String] = Seq.empty,
      fill: Map[String, Any] = Map.empty): DataFrame = {
    val dropped =
      if (dropCols.isEmpty) df.na.drop()
      else df.na.drop(dropCols)
    if (fill.isEmpty) dropped else dropped.na.fill(fill)
  }

  /** Keep the "latest" row per key: rank by `orderCol` descending (with
    * `tieBreakers` appended for determinism) and keep rank 1.
    *
    * At 100 TB this is a single hash shuffle on the key columns followed
    * by a per-partition sort — no global sort. Skewed keys are handled by
    * AQE; for pathological single-key skew prefer
    * [[graft.ext.Dedup.exactGroups]]-style hash aggregation instead of a
    * full window sort.
    */
  def deduplicate(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      tieBreakers: Seq[String] = Seq.empty): DataFrame = {
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(desc(orderCol) +: tieBreakers.map(desc): _*)
    df.withColumn("__graft_rank", row_number().over(w))
      .filter(col("__graft_rank") === 1)
      .drop("__graft_rank")
  }

  /** Stamp ingestion metadata. `ingestTimestamp` defaults to
    * current_timestamp(); tests pass a fixed instant for determinism.
    * A fixed instant is bound as a [[graft.functions.Param]], so each
    * run's stamp reuses one compiled class. `batchId` is a per-job
    * driver-side constant (reference stamps uuid4() once per run via
    * lit — _bronze_utils.py:55), not per-row; a string literal already
    * reaches generated code by reference.
    */
  def addMetadata(
      df: DataFrame,
      ingestTimestamp: Option[java.sql.Timestamp] = None,
      dateParts: Boolean = true,
      batchId: Option[String] = None): DataFrame = {
    val ts = ingestTimestamp.map(Param.of).getOrElse(current_timestamp())
    val base = df.withColumn("ingest_timestamp", ts)
    val withParts =
      if (dateParts)
        base
          .withColumn("ingest_year", year(col("ingest_timestamp")))
          .withColumn("ingest_month", month(col("ingest_timestamp")))
          .withColumn("ingest_day", dayofmonth(col("ingest_timestamp")))
      else base
    batchId.fold(withParts)(id => withParts.withColumn("batch_id", lit(id)))
  }

  /** Derive partition-friendly date parts from an event timestamp. */
  def datePartCols(df: DataFrame, tsCol: String, prefix: String = "event"): DataFrame =
    df.withColumn(s"${prefix}_year", year(col(tsCol)))
      .withColumn(s"${prefix}_month", month(col(tsCol)))
      .withColumn(s"${prefix}_day", dayofmonth(col(tsCol)))

  /** Decode a Kafka-style envelope: binary/string `value` holding JSON →
    * typed columns (reference: CAST(value AS STRING), from_json,
    * select(data.*) — ohlcv_1m.py:35-37).
    */
  def jsonEnvelopeDecode(df: DataFrame, valueCol: String, schema: StructType): DataFrame =
    df.select(from_json(col(valueCol).cast(StringType), schema).as("data"))
      .select(col("data.*"))

  /** Encode rows into a Kafka-style (key, value) JSON envelope. */
  def jsonEnvelopeEncode(df: DataFrame, keyCols: Seq[String], sep: String = "_"): DataFrame =
    df.select(
      concat_ws(sep, keyCols.map(col): _*).as("key"),
      to_json(struct(df.columns.map(col): _*)).as("value"))

  /** As-of join: attach to each left row the latest right-side payload
    * at-or-before its timestamp, per key — the time-series lookup Spark
    * has no native operator for (quotes→trades, candles→events).
    *
    * Built by composition (preference (a) of the build rules): tag and
    * union both sides, then per key a single ordered window carries the
    * last non-null payload forward (`last(..., ignoreNulls)` over rows
    * unbounded-preceding..current), and left rows are filtered back
    * out. Cost is ONE shuffle+sort on (key, ts) — no range join blowup,
    * no per-row probe — which is also the plan that scales: at 100 TB
    * this is a sort-merge pass, not an O(|L|·|R|) theta join.
    *
    * Right rows must be unique per (key, ts); ties at equal ts resolve
    * inclusively (the right row at exactly left.ts matches, like
    * DuckDB's ASOF JOIN with >=).
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTs: String,
      rightTs: String,
      payloadCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    require(
      payloadCols.intersect(leftCols).isEmpty,
      s"payload columns collide with left columns: ${payloadCols.intersect(leftCols)}")
    val l = payloadCols
      .foldLeft(
        left
          .withColumn("__ts", col(leftTs))
          .withColumn("__tag", lit(1))) { (df, p) =>
        df.withColumn(p, lit(null))
      }
    val r = leftCols
      .filterNot(c => c == keyCol)
      .foldLeft(
        right
          .withColumn("__ts", col(rightTs))
          .withColumn("__tag", lit(0))) { (df, c) =>
        df.withColumn(c, lit(null))
      }
      .drop(rightTs)
    val unioned = l.unionByName(r.select(l.columns.map(col): _*))
    val w = Window
      .partitionBy(col(keyCol))
      .orderBy(col("__ts").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payloadCols.foldLeft(unioned) { (df, p) =>
      df.withColumn(p, last(col(p), ignoreNulls = true).over(w))
    }
    carried
      .filter(col("__tag") === 1)
      .select((leftCols ++ payloadCols).map(col): _*)
  }

  /** Directional as-of join — the full pandas-`merge_asof` surface over
    * the same one-shuffle composition as [[asofJoin]]:
    *
    *   - `backward` (default): latest right row at-or-before left.ts —
    *     identical semantics to [[asofJoin]];
    *   - `forward`: earliest right row at-or-after left.ts (inclusive,
    *     mirrored carry: `first(…, ignoreNulls)` over
    *     current..unbounded-following with right rows ordered AFTER a
    *     left row at equal ts);
    *   - `nearest`: whichever of the two is closer in time; exact ties
    *     resolve BACKWARD (the earlier right row) — deterministic, so
    *     the result stays hash-checkable.
    *
    * `toleranceSeconds` (any direction) nulls the payload when the
    * matched right timestamp is farther than the bound — pandas'
    * `tolerance`, applied AFTER the match so it never changes which
    * row matches, only whether it qualifies.
    *
    * Scale shape: same as [[asofJoin]] — ONE shuffle on the key; the
    * `nearest` variant adds a second window ordering (opposite
    * tie-break) over the SAME partitioning, which plans as an extra
    * in-partition sort, never an extra exchange. The matched right
    * row rides the union as ONE carried struct (matched ts +
    * payload), so every carried field comes from the SAME right row —
    * a right row with a null payload value carries that null, exactly
    * pandas `merge_asof` (per-column ignoreNulls carries would pull a
    * null field from an older/farther row and judge it against the
    * wrong matched timestamp). The nearest pick and the tolerance
    * mask are plain row-local projections.
    */
  def asofJoinDirected(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTs: String,
      rightTs: String,
      payloadCols: Seq[String],
      direction: String = "backward",
      toleranceSeconds: Option[Double] = None): DataFrame = {
    require(
      Set("backward", "forward", "nearest")(direction),
      s"direction must be backward|forward|nearest, got $direction")
    val leftCols = left.columns.toSeq
    require(
      payloadCols.intersect(leftCols).isEmpty,
      s"payload columns collide with left columns: ${payloadCols.intersect(leftCols)}")
    val carryType = StructType(
      StructField("__rts", right.schema(rightTs).dataType) +:
        payloadCols.map(pc => StructField(pc, right.schema(pc).dataType)))
    val l = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__tag", lit(1))
      .withColumn("__carry", lit(null).cast(carryType))
    val r = leftCols
      .filterNot(c => c == keyCol)
      .foldLeft(
        right
          .withColumn("__ts", col(rightTs))
          .withColumn("__tag", lit(0))
          .withColumn(
            "__carry",
            struct(col(rightTs).as("__rts") +: payloadCols.map(col): _*))) { (df, c) =>
        df.withColumn(c, lit(null))
      }
      .drop(rightTs)
    val unioned = l.unionByName(r.select(l.columns.map(col): _*))
    // backward: right row at equal ts sorts BEFORE the left row, so the
    // trailing carry includes it (inclusive >=); forward mirrors with
    // the right row sorting AFTER, so the leading carry includes it
    val wB = Window
      .partitionBy(col(keyCol))
      .orderBy(col("__ts").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window
      .partitionBy(col(keyCol))
      .orderBy(col("__ts").asc, col("__tag").desc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    def carry(back: Boolean): Column =
      if (back) last(col("__carry"), ignoreNulls = true).over(wB)
      else first(col("__carry"), ignoreNulls = true).over(wF)
    val picked = direction match {
      case "backward" => unioned.withColumn("__c", carry(back = true))
      case "forward" => unioned.withColumn("__c", carry(back = false))
      case "nearest" =>
        val both = unioned
          .withColumn("__cb", carry(back = true))
          .withColumn("__cf", carry(back = false))
        // timestamp casts to double = epoch seconds (sub-second exact);
        // tie (equal distance) → backward, the earlier right row
        val db = abs(col("__ts").cast("double") - col("__cb")("__rts").cast("double"))
        val df_ = abs(col("__cf")("__rts").cast("double") - col("__ts").cast("double"))
        val chooseB = col("__cb").isNotNull && (col("__cf").isNull || db <= df_)
        both.withColumn("__c", when(chooseB, col("__cb")).otherwise(col("__cf")))
    }
    // unpack the matched row's fields — all from the same right row
    val unpacked = ("__rts" +: payloadCols).foldLeft(picked) { (d, p) =>
      d.withColumn(p, col("__c")(p))
    }
    val masked = toleranceSeconds match {
      case Some(tol) =>
        val within = col("__rts").isNotNull &&
          abs(col("__ts").cast("double") - col("__rts").cast("double")) <= tol
        payloadCols.foldLeft(unpacked) { (d, p) =>
          d.withColumn(p, when(within, col(p)).otherwise(lit(null)))
        }
      case None => unpacked
    }
    masked
      .filter(col("__tag") === 1)
      .select((leftCols ++ payloadCols).map(col): _*)
  }

  /** Iterated broadcast left equi-join: fold a (small, broadcast) dim
    * onto the fact once per level, renaming the payload column each round
    * and dropping the used code column — the reference's 4-level
    * ICB snowflake flatten (/root/reference/src/gold/dim_company.py:32-43).
    *
    * `levels` maps fact-side key column → suffix for the payload rename.
    * At scale: the dim is broadcast once per level (it is small by
    * construction); the fact side never shuffles.
    */
  def joinDimIterated(
      fact: DataFrame,
      dim: DataFrame,
      dimKey: String,
      payloadCols: Seq[String],
      levels: Seq[(String, String)]): DataFrame =
    levels.foldLeft(fact) { case (acc, (factKey, suffix)) =>
      val renamedDim = payloadCols.foldLeft(dim) { (d, p) =>
        d.withColumnRenamed(p, s"$p$suffix")
      }
      acc
        .join(broadcast(renamedDim), acc(factKey) === renamedDim(dimKey), "left")
        .drop(dimKey)
        .drop(factKey)
    }
}
