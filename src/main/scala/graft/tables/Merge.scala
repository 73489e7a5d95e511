package graft.tables

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Param

/** MERGE INTO rewrites: SCD Type 1 (upsert) and SCD Type 2
  * (close-then-insert versioning), with the exact observable semantics of
  * the reference's two-pass Iceberg MERGEs
  * (/root/reference/src/silver/_silver_utils.py:108-186), expressed as
  * ONE full outer join of target and source per merge, committed
  * atomically through [[LakeTable]].
  *
  * Spark 4 only parses `MERGE INTO` against a DSv2 table that implements
  * row-level operations; with no Iceberg/Delta jars in the environment the
  * idiomatic route is exactly this read-modify-write plan — which is also
  * what those engines execute under the hood (a join between target and
  * source, then a rewrite of matched files). One join means the source
  * is planned, read and shuffled once; a source already hash-partitioned
  * on the keys (a dedup window) feeds the join without a second shuffle.
  *
  * An empty source publishes nothing: the merge's write job observes its
  * source row count, and a zero count drops the written rewrite (see
  * [[LakeTable.overwrite]]'s `batchFlag`), so there is no probe job first.
  *
  * Precondition, for the SCD2 merges: at most one current
  * (`is_current = 1`) row per non-null key in the target; for the SCD1
  * merges: at most one row per non-null key. Every merge keeps it when
  * its source's non-null keys are unique. Under it, each output equals
  * that of the two-pass plan (close pass, then insert pass) as a
  * multiset of rows, also for sources with duplicate or null keys.
  *
  * Two commit granularities:
  *   - `mergeScd1` / `mergeScd2` rewrite the whole table — right for
  *     dimension-sized targets (the reference's use case: ≈30-row
  *     company dim).
  *   - `mergeScd1Partitioned` / `mergeScd2Partitioned` rewrite ONLY the
  *     partitions containing matched target rows or receiving source
  *     rows, via [[LakeTable.replacePartitions]] — the shape that holds
  *     at 100 TB, where a merge touching one day must not copy years of
  *     history.
  */
object Merge {

  private val StartCol = "start_timestamp"
  private val EndCol = "end_timestamp"
  private val CurrentCol = "is_current"
  /** The rewrite's batch flag: marks one output row per joined source row. */
  private val SourceRow = "__graft_source_row"

  /** Stamp SCD2 bookkeeping columns onto a source batch
    * (reference `_add_scd2_cols`, _silver_utils.py:108-113). `at` is
    * bound as a [[Param]], as is the close stamp of [[scd2Rewrite]]: a
    * merge at a new instant reuses the classes of the last one.
    */
  def addScd2Cols(df: DataFrame, at: Timestamp): DataFrame =
    df.withColumn(StartCol, Param.of(at))
      .withColumn(EndCol, lit(null).cast("timestamp"))
      .withColumn(CurrentCol, lit(1))

  /** `t.k = s.k` over every key: a NULL key never matches. */
  private def keysMatch(keyCols: Seq[String]): Column =
    keyCols.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)

  /** The source's data columns in the target's order, plus the flag that
    * tells its rows apart after the outer join.
    */
  private def flagged(source: DataFrame, dataCols: Seq[String]): DataFrame =
    source.select(dataCols.map(col) :+ lit(true).as(SourceRow): _*).alias("s")

  /** The SCD2 rewrite plan over an arbitrary target slice: one full
    * outer join of the target with the stamped source on the keys and
    * `t.is_current = 1`. Each joined row emits its target row (closed
    * when a source row matched and a tracked column differs,
    * null-safely), then its source row when that is new or changed.
    * Historical and null-key rows come through unmatched and unchanged.
    */
  private def scd2Rewrite(
      target: DataFrame,
      stamped: DataFrame,
      keyCols: Seq[String],
      trackedCols: Seq[String],
      at: Timestamp): DataFrame = {
    val dataCols = target.columns.toSeq // includes scd2 bookkeeping cols
    val onCurrent = keysMatch(keyCols) && col(s"t.$CurrentCol") === 1
    val joined = target.alias("t").join(flagged(stamped, dataCols), onCurrent, "full_outer")
    val hasSource = col(s"s.$SourceRow").isNotNull
    // a matched key is non-null on both sides; an unmatched source row
    // has a NULL target key
    val matched = hasSource && col(s"t.${keyCols.head}").isNotNull
    val hasTarget = !hasSource || matched
    val changed = trackedCols.map(c => !(col(s"t.$c") <=> col(s"s.$c"))).reduce(_ || _)
    val close = matched && changed
    val unchanged = matched && !changed
    // the flag marks exactly one output row per source row: the insert,
    // or the untouched target row that made it a no-op
    val targetRow = struct(dataCols.map {
      case EndCol => when(close, Param.of(at)).otherwise(col(s"t.$EndCol")).as(EndCol)
      case CurrentCol => when(close, lit(0)).otherwise(col(s"t.$CurrentCol")).as(CurrentCol)
      case c => col(s"t.$c").as(c)
    } :+ unchanged.as(SourceRow): _*)
    val sourceRow = struct(dataCols.map(c => col(s"s.$c").as(c)) :+ lit(true).as(SourceRow): _*)
    joined
      .select(explode(array(
        when(hasTarget, targetRow),
        when(hasSource && !unchanged, sourceRow))).as("r"))
      .filter(col("r").isNotNull)
      .select("r.*")
  }

  /** The SCD1 rewrite plan: one full outer join on the keys; each row is
    * the source row where one matched, else the target row.
    */
  private def scd1Rewrite(target: DataFrame, source: DataFrame, keyCols: Seq[String]): DataFrame = {
    val dataCols = target.columns.toSeq
    val joined = target.alias("t").join(flagged(source, dataCols), keysMatch(keyCols), "full_outer")
    val hasSource = col(s"s.$SourceRow").isNotNull
    joined.select(
      dataCols.map(c => when(hasSource, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)) :+
        hasSource.as(SourceRow): _*)
  }

  /** SCD Type 2 merge. Reference semantics (SURVEY §2.4) preserved:
    *   - brand-new key → insert one open version;
    *   - existing key, any tracked column differs (null-safely) → the
    *     open target version is closed (`end_timestamp = at`,
    *     `is_current = 0`) and one new open version is inserted;
    *   - existing key, tracked columns identical → source row silently
    *     skipped (no duplicate version);
    *   - historical (`is_current = 0`) rows are never touched.
    *
    * `at` is the merge instant (the reference uses CURRENT_TIMESTAMP();
    * deterministic tests pass a fixed clock). An empty source publishes
    * no version.
    */
  def mergeScd2(
      table: LakeTable,
      source: DataFrame,
      keyCols: Seq[String],
      trackedCols: Seq[String],
      at: Timestamp,
      statsCols: Seq[String] = Seq.empty): Long = {
    val stamped = addScd2Cols(source, at)
    table.liveTip() match {
      case None => table.append(stamped, statsCols = statsCols, skipIfEmpty = true)
      case Some(m) =>
        table.overwrite(
          scd2Rewrite(table.readAt(m), stamped, keyCols, trackedCols, at),
          statsCols = statsCols, batchFlag = Some(SourceRow))
    }
  }

  /** SCD Type 1 merge: upsert — matched keys take all source columns,
    * unmatched target rows survive, unmatched source rows insert
    * (reference merge_scd1, _silver_utils.py:157-186). An empty source
    * publishes no version.
    */
  def mergeScd1(
      table: LakeTable,
      source: DataFrame,
      keyCols: Seq[String],
      statsCols: Seq[String] = Seq.empty): Long = {
    table.liveTip() match {
      case None => table.append(source, statsCols = statsCols, skipIfEmpty = true)
      case Some(m) =>
        table.overwrite(scd1Rewrite(table.readAt(m), source, keyCols),
          statsCols = statsCols, batchFlag = Some(SourceRow))
    }
  }

  /** SCD1 upsert WITH SCHEMA EVOLUTION — the Delta
    * `mergeSchema`/autoMerge stance at the MERGE level (the plain
    * [[mergeScd1]] selects the target's columns from the source and so
    * rejects a drifted source):
    *
    *   - columns NEW in the source are added to the table; surviving
    *     (unmatched) target rows take NULL for them;
    *   - columns MISSING from the source keep their target value on
    *     matched rows (`UPDATE SET *` updates only what the source
    *     carries) and are NULL on inserted rows;
    *   - matched rows take all source-carried columns, unmatched source
    *     rows insert — [[mergeScd1]] semantics otherwise.
    *
    * One full outer join on the keys, as in [[mergeScd1]]: a joined row
    * with a source row emits it, completed with the matched target row's
    * retained columns; one without emits its target row.
    */
  def mergeScd1Evolve(
      table: LakeTable,
      source: DataFrame,
      keyCols: Seq[String],
      statsCols: Seq[String] = Seq.empty): Long = {
    val target = table.liveTip() match {
      case None => return table.append(source, statsCols = statsCols)
      case Some(m) => table.readAt(m)
    }
    val tCols = target.columns.toSeq
    val sCols = source.columns.toSeq
    require(keyCols.forall(sCols.contains), s"source must carry merge keys $keyCols")
    val allCols = tCols ++ sCols.filterNot(tCols.contains) // stable order: target first, then drift
    val joined = target.alias("t").join(flagged(source, sCols), keysMatch(keyCols), "full_outer")
    val hasSource = col(s"s.$SourceRow").isNotNull
    table.overwrite(
      joined.select(allCols.map { c =>
        if (!sCols.contains(c)) col(s"t.$c").as(c) // NULL on inserts
        else if (!tCols.contains(c)) col(s"s.$c").as(c) // NULL on unmatched target rows
        else when(hasSource, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)
      }: _*),
      statsCols = statsCols)
  }

  /** DELETE FROM semantics: atomically rewrite the table keeping only
    * rows where `condition` is not TRUE (Iceberg/Delta row-level delete
    * as a copy-on-write rewrite — right for dimension-sized targets).
    * SQL DELETE keeps NULL-condition rows; a bare `filter(!cond)` would
    * drop them, so survivors are `NOT coalesce(cond, false)`.
    */
  def deleteWhere(table: LakeTable, condition: Column): Long =
    table.overwrite(table.read().filter(!coalesce(condition, lit(false))))

  /** DELETE rewriting only the partitions that contain matching rows;
    * untouched partitions keep their files (the 100 TB shape). A
    * partition whose rows are ALL deleted simply drops out of the new
    * manifest scope.
    */
  def deleteWherePartitioned(table: LakeTable, condition: Column, partCol: String): Long = {
    val target = table.read()
    val affectedRows = target.filter(condition).select(col(partCol).cast("string")).distinct()
    val values = collectCapped(affectedRows, partCol, "deleteWherePartitioned")
    requireDirSafe(values, partCol)
    val affected = values.toSeq.sorted
    if (affected.isEmpty) return table.latestVersion().getOrElse(0L)
    val survivors = target
      .filter(col(partCol).cast("string").isin(affected: _*))
      .filter(!coalesce(condition, lit(false)))
    table.replacePartitions(survivors, affected)
  }

  /** Partitions a merge must rewrite: those holding target rows matched
    * by source keys, plus those receiving source rows. Collected to the
    * driver as dir-name strings (the list is small — it is the whole
    * point of partition-scoped merging).
    */
  private def affectedPartitions(
      target: DataFrame,
      source: DataFrame,
      keyCols: Seq[String],
      partCol: String): Seq[String] = {
    val fromTarget = target
      .join(source.select(keyCols.map(col): _*).distinct(), keyCols, "left_semi")
      .select(col(partCol).cast("string"))
    val fromSource = source.select(col(partCol).cast("string"))
    val values = collectCapped(fromTarget.union(fromSource).distinct(), partCol, "merge")
    requireDirSafe(values, partCol)
    values.toSeq.sorted
  }

  /** Conf key bounding the driver-side affected-partition list. */
  val MaxAffectedPartitionsKey = "graft.merge.maxAffectedPartitions"
  private val DefaultMaxAffectedPartitions = 10000

  /** Materialize the affected-partition values with a LOUD bound: the
    * list (and the `isin` filter built from it) lives on the driver, so
    * a merge touching 10^5+ partitions would build a same-size driver
    * array and predicate. Partition-scoped merging assumes the list is
    * small; past the cap the whole-table path (`mergeScd1`/`mergeScd2`/
    * `deleteWhere`) is the right tool — it never enumerates partitions.
    */
  private def collectCapped(df: DataFrame, partCol: String, op: String): Array[String] = {
    val cap = df.sparkSession.conf
      .getOption(MaxAffectedPartitionsKey).map(_.toInt)
      .getOrElse(DefaultMaxAffectedPartitions)
    val rows = df.limit(cap + 1).collect()
    require(rows.length <= cap,
      s"$op affects more than $cap values of partition column $partCol; " +
        "a partition-scoped rewrite would enumerate them all on the driver. " +
        s"Use the unpartitioned whole-table path instead, or raise $MaxAffectedPartitionsKey.")
    rows.map(r => if (r.isNullAt(0)) null else r.getString(0))
  }

  /** Enforce what partition-scoped rewrites assume: NULL or any value
    * Hive path-escaping would alter can never match the written
    * `col=value` subdir names, so its partition would silently be
    * treated as unaffected. Uses Spark's own escaper as the exact
    * definition of "dir-name-safe".
    */
  private def requireDirSafe(values: Iterable[String], partCol: String): Unit = {
    require(
      !values.exists(_ == null),
      s"partition column $partCol has NULL values; partition-scoped rewrite requires non-null values")
    val unsafe = values.filter(v =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v) != v)
    require(
      unsafe.isEmpty,
      s"partition column $partCol has values needing Hive dir-name escaping " +
        s"(${unsafe.take(3).mkString(", ")}); partition-scoped rewrite requires dir-name-safe values")
  }

  /** SCD1 upsert rewriting only affected partitions. `partCol` must be
    * the table's leading identity-partition column with
    * directory-name-safe values.
    */
  def mergeScd1Partitioned(
      table: LakeTable,
      source: DataFrame,
      keyCols: Seq[String],
      partCol: String): Long = {
    val target = table.liveTip() match {
      case None => return table.append(source, partitionBy = Seq(partCol), skipIfEmpty = true)
      case Some(m) => table.readAt(m)
    }
    val affected = affectedPartitions(target, source, keyCols, partCol)
    val targetAff = target.filter(col(partCol).cast("string").isin(affected: _*))
    table.replacePartitions(scd1Rewrite(targetAff, source, keyCols), affected, Some(SourceRow))
  }

  /** SCD2 merge rewriting only affected partitions (same three-way
    * semantics as [[mergeScd2]]; history in untouched partitions is
    * never copied).
    */
  def mergeScd2Partitioned(
      table: LakeTable,
      source: DataFrame,
      keyCols: Seq[String],
      trackedCols: Seq[String],
      at: Timestamp,
      partCol: String): Long = {
    val stamped = addScd2Cols(source, at)
    val target = table.liveTip() match {
      case None => return table.append(stamped, partitionBy = Seq(partCol), skipIfEmpty = true)
      case Some(m) => table.readAt(m)
    }
    val affected = affectedPartitions(target, stamped, keyCols, partCol)
    val targetAff = target.filter(col(partCol).cast("string").isin(affected: _*))
    table.replacePartitions(
      scd2Rewrite(targetAff, stamped, keyCols, trackedCols, at),
      affected, Some(SourceRow))
  }
}
