package graft.tables

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

/** A minimal lakehouse table: parquet data + a JSON commit log.
  *
  * Rebuilds the Iceberg behaviors the reference relies on
  * (/root/reference/docker/init/lakehouse_init.sql,
  * /root/reference/src/bronze/_bronze_utils.py:60-66) without the Iceberg
  * runtime: atomic append/overwrite commits, snapshot listing, and
  * time-travel reads — the published Delta/Iceberg design (a log of
  * manifests naming immutable data files) at library scale.
  *
  * Layout:
  * {{{
  *   <root>/data/<commit-uuid>/            parquet files (optionally
  *                                         Hive-partitioned subdirs)
  *   <root>/_graft_log/v<00000N>.json      manifest: full list of live
  *                                         commit dirs at version N
  * }}}
  *
  * Every manifest is a *complete* snapshot (lists all live commit dirs),
  * so a reader needs exactly one log file. Commits are atomic via
  * write-to-temp + rename; concurrent writers are out of scope
  * (the reference DAG is sequential — SequentialExecutor,
  * /root/reference/docker-compose.yml:12).
  *
  * Scale note: data files are immutable and listed by manifest, never by
  * directory scan, so reads are O(log) not O(listing) — the property that
  * makes this design work on object stores. Partition columns are
  * preserved through `basePath`, so partition pruning on
  * (ingest_year, ingest_month) style layouts works exactly as with a
  * Hive table.
  */
final class LakeTable(val spark: SparkSession, val root: String) {
  import LakeTable._

  private val logDir: Path = logDirOf(Paths.get(root))
  private val dataDir: Path = Paths.get(root, "data")
  private val dvDir: Path = Paths.get(root, "dv")

  /** Strip the data-dir prefix off a `_metadata.file_path` value so
    * deletion vectors store table-relative file keys (a moved/renamed
    * table keeps its DVs valid). `_metadata.file_path` is rendered by
    * Hadoop's `Path` (`file:/x/y`), which is NOT the `java.nio` URI form
    * (`file:///x/y`) — so the prefix candidates cover the Hadoop
    * rendering, the nio rendering, and the bare filesystem path, longest
    * first, and the match is an exact prefix test via Column APIs (no
    * interpolation into SQL text, so quotes in paths can't break it).
    * [[deleteWhereDV]] asserts at write time that the stripped keys carry
    * no URI scheme, so a renderer drift fails loudly instead of silently
    * storing absolute keys.
    */
  private def stripDataDirPrefix(filePath: Column): Column = {
    val candidates = Seq(
      new org.apache.hadoop.fs.Path(dataDir.toUri).toString,
      dataDir.toUri.toString,
      dataDir.toString)
      .map(p => if (p.endsWith("/")) p else p + "/")
      .distinct
      .sortBy(-_.length)
    candidates.foldLeft(filePath) { (acc, p) =>
      when(filePath.startsWith(p), filePath.substr(lit(p.length + 1), length(filePath)))
        .otherwise(acc)
    }
  }

  // ---- log primitives -----------------------------------------------------

  private def listVersions(): Seq[Path] = manifestFiles(logDir)

  def latestVersion(): Option[Long] = listVersions().lastOption.map(versionOf)

  /** All manifest versions still on disk, ascending — the replayable
    * offset range a CDC consumer may chunk over ([[snapshots]] is the
    * DataFrame ops surface; this is the driver-side primitive).
    */
  def availableVersions(): Seq[Long] = listVersions().map(versionOf)

  /** The manifest of `version`; `NoSuchFileException` when the log
    * holds no such version.
    */
  private[tables] def readManifest(version: Long): Manifest = {
    val p = logDir.resolve(f"v$version%020d.json")
    Manifest.fromJson(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
  }

  /** Publish a manifest version with a true compare-and-swap. An
    * exists-check followed by ATOMIC_MOVE is NOT one: POSIX rename
    * replaces an existing target, so two writers racing past the check
    * would silently drop one commit. `createLink` (like `O_CREAT|O_EXCL`)
    * atomically fails with EEXIST when the version is already taken —
    * the loser gets [[VersionConflictException]] and can re-read and
    * retry (see [[commit]]). This is the same claim-a-version protocol
    * Delta's log store implements over object stores.
    */
  private[tables] def writeManifest(m: Manifest): Unit = {
    Files.createDirectories(logDir)
    val target = logDir.resolve(f"v${m.version}%020d.json")
    val tmp = logDir.resolve(s".tmp-${UUID.randomUUID()}.json")
    Files.write(tmp, m.toJson.getBytes(StandardCharsets.UTF_8))
    try Files.createLink(target, tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new VersionConflictException(m.version, target.toString)
    } finally Files.deleteIfExists(tmp)
  }

  def exists: Boolean = isTable(Paths.get(root))

  def isEmpty: Boolean = liveTip().isEmpty

  /** The latest manifest: one listing of the log and one parse, for a
    * caller that would otherwise check and then read.
    */
  private[tables] def tip(): Option[Manifest] = latestVersion().map(readManifest)

  /** [[tip]] when it lists a commit dir: the version a merge or an
    * incremental read has rows to read from.
    */
  private[tables] def liveTip(): Option[Manifest] = tip().filter(_.commitDirs.nonEmpty)

  // ---- writes -------------------------------------------------------------

  /** The ONE write-side transform every data-writing path shares —
    * derive the hidden-partitioning dir columns (with the source /
    * collision requires and the UTC pin), then project logical column
    * names to PHYSICAL in a single order-free select. Sequential
    * renames would collide on mappings like {c→a, a→a__g2} (rename
    * a→c, then re-add a): the fold creates a duplicate `a` mid-way and
    * the write throws. Targets are distinct because live physical
    * names are unique by construction (the alter path suffixes
    * collisions). Single-sourcing this is what keeps the
    * files-store-physical-names invariant from drifting between
    * writeCommitDir and the compaction rewrite.
    */
  private def deriveDirColsAndProjectPhysical(
      df: DataFrame,
      pspecs: Seq[PartitionSpec],
      colMapping: Map[String, String]): DataFrame = {
    PartitionSpec.requireUtcSession(spark, pspecs)
    val withDirCols = pspecs.filterNot(_.isIdentity).foldLeft(df) { (d, p) =>
      require(d.columns.contains(p.source),
        s"partition transform ${p.spec}: source column ${p.source} is not in the batch")
      require(!d.columns.contains(p.dirCol),
        s"partition transform ${p.spec}: derived dir column ${p.dirCol} collides with a data column")
      d.withColumn(p.dirCol, p.derive(col(p.source)))
    }
    if (colMapping.forall { case (log, phys) =>
        log == phys || !withDirCols.columns.contains(log) })
      withDirCols
    else withDirCols.select(withDirCols.columns.map(n =>
      withDirCols(n).as(colMapping.getOrElse(n, n))): _*)
  }

  /** Write `df`'s rows as a new immutable commit dir; return its relative
    * name plus the batch's (min, max) range for each of `statsCols`.
    *
    * Stats ride the write job itself via `df.observe` (CollectMetrics):
    * min and max fold in as the rows stream to parquet, so declaring
    * stats columns costs zero extra scans — at 100 TB a post-write
    * re-read of the committed files would be a second pass over the
    * whole batch. The max half maintains the table-level incremental
    * watermark; the full (min, max) pair is the commit dir's zonemap
    * entry ([[LakeTable.readBetween]] prunes on it). If the observation
    * did not fire (defensive: metrics are delivered by a listener), fall
    * back to the footer-stats rescan.
    *
    * `batchFlag` names a boolean column of `df` that marks the rows
    * standing for the caller's incoming batch; it is not written. Its
    * count rides the same observe. When the count is zero the batch was
    * empty: the written dir is deleted and no dir name is returned, so
    * the caller publishes nothing. If the observation did not fire the
    * count is unknown, and the dir is kept.
    */
  private def writeCommitDir(
      df: DataFrame,
      partitionBy: Seq[String],
      statsCols: Seq[String] = Seq.empty,
      writeOptions: Map[String, String] = Map.empty,
      constraints: Map[String, String] = Map.empty,
      colMapping: Map[String, String] = Map.empty,
      batchFlag: Option[String] = None)
      : (Option[String], Map[String, (String, String)]) = {
    val commitName = s"commit-${UUID.randomUUID()}"
    val dest = dataDir.resolve(commitName)
    val data = withoutFlag(df, batchFlag)
    val present = statsCols.filter(data.columns.contains)
    present.foreach(c => Stats.requireSupported(data.schema(c).dataType, c))
    // CHECK-constraint violation counts ride the SAME observe as the
    // stats — enforcement costs zero extra scans; a NULL predicate is a
    // violation (SQL CHECK stance, matching Expectations)
    val consSeq = constraints.toSeq.sortBy(_._1)
    requireConstraintColumns(consSeq, data.columns)
    val consAggs = consSeq.map { case (n, p) =>
      sum(when(!coalesce(expr(p), lit(false)), 1L).otherwise(0L)).as(s"__viol_$n")
    }
    val aggs = present.flatMap(c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"))) ++ consAggs ++
      batchFlag.map(f => count_if(col(f)).as("__batch_rows"))
    val obs =
      if (aggs.isEmpty) None
      else Some(new org.apache.spark.sql.Observation(commitName))
    val toWrite = obs match {
      case None => data
      case Some(o) => withoutFlag(df.observe(o, aggs.head, aggs.tail: _*), batchFlag)
    }
    // hidden-partitioning: transform specs derive their physical dir
    // column here (never part of the declared schema); identity writes
    // are byte-identical to the pre-transform behavior
    val pspecs = partitionBy.map(PartitionSpec.parse)
    val physDf = deriveDirColsAndProjectPhysical(toWrite, pspecs, colMapping)
    val writer = physDf.write.mode("overwrite").options(writeOptions)
    val w = if (pspecs.nonEmpty) writer.partitionBy(pspecs.map(_.dirCol): _*) else writer
    // a failed write job leaves its (possibly empty) dir behind: remove it
    try w.parquet(dest.toString)
    catch {
      case scala.util.control.NonFatal(e) =>
        deleteDataDir(commitName)
        throw e
    }
    val (stats, violations, batchRows)
        : (Map[String, (String, String)], Seq[(String, Long)], Option[Long]) = obs match {
      case None => (Map.empty, Seq.empty, None)
      case Some(o) =>
        try {
          val row = scala.concurrent.Await.result(
            o.future, scala.concurrent.duration.Duration(30, "seconds"))
          val st = present.flatMap { c =>
            val mn = Option(row.get(row.fieldIndex(s"__min_$c")))
            val mx = Option(row.get(row.fieldIndex(s"__max_$c")))
            mn.zip(mx).map { case (a, b) =>
              c -> ((Stats.toStringValue(a), Stats.toStringValue(b)))
            }
          }.toMap
          val vi = consSeq.flatMap { case (n, _) =>
            Option(row.get(row.fieldIndex(s"__viol_$n")))
              .map(v => n -> v.asInstanceOf[Long])
              .filter(_._2 > 0)
          }
          (st, vi, batchFlag.map(_ => row.getAs[Long]("__batch_rows")))
        } catch {
          // NonFatal, not just TimeoutException: the parquet data is
          // already on disk at this point, so ANY await/listener failure
          // (interrupt wrappers, metric-delivery errors) must degrade to
          // a rescan of the just-written dir rather than abort and
          // orphan it — and constraints must still be CHECKED, never
          // silently skipped.
          case scala.util.control.NonFatal(_) =>
            // declared schema, not inference: a partitioned commit's
            // partition column would be re-inferred (string -> int),
            // making typed constraint predicates throw inside this
            // fallback and orphan the dir instead of degrading
            // the files store PHYSICAL names — read them as such, then
            // project back to logical so constraint predicates resolve
            val physSchema = StructType(data.schema.fields.map(f =>
              f.copy(name = colMapping.getOrElse(f.name, f.name))))
            val dir = spark.read
              .option("basePath", dest.toString)
              .schema(physSchema)
              .parquet(dest.toString)
              .select(data.schema.fieldNames.map(n =>
                col(colMapping.getOrElse(n, n)).as(n)): _*)
            val vi = consSeq.flatMap { case (n, p) =>
              val bad = dir.filter(!coalesce(expr(p), lit(false))).count()
              if (bad > 0) Some(n -> bad) else None
            }
            (statsOf(Seq(commitName), physSchema, present, colMapping), vi, None)
        }
    }
    if (violations.nonEmpty) {
      // constraint enforcement: the written dir never reaches a
      // manifest — delete it and fail the write loudly
      deleteDataDir(commitName)
      throw new IllegalStateException(
        "CHECK constraint(s) violated by the batch: " +
          violations.map { case (n, c) => s"$n ($c rows)" }.mkString(", "))
    }
    if (batchRows.contains(0L)) {
      // an empty batch: nothing to publish, and no orphan dir left behind
      deleteDataDir(commitName)
      (None, Map.empty)
    } else (Some(commitName), stats)
  }

  /** `df` without its batch-flag column (see [[writeCommitDir]]). */
  private def withoutFlag(df: DataFrame, batchFlag: Option[String]): DataFrame =
    batchFlag.fold(df)(df.drop(_))

  /** A batch that omits a constrained column would read as NULL after
    * schema evolution, and the documented NULL-as-violation CHECK stance
    * rejects that — fail with the standard violation error up front
    * instead of an opaque AnalysisException from `observe` construction.
    */
  private def requireConstraintColumns(
      consSeq: Seq[(String, String)],
      batchCols: Array[String]): Unit = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction, NamedLambdaVariable, UnresolvedNamedLambdaVariable}
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
    // free column references only: a lambda-bound variable (e.g. `t` in
    // `exists(tags, t -> t > 0)`) parses as UnresolvedAttribute before
    // ResolveLambdaVariables runs, and must not be read as a missing
    // batch column
    def freeRefs(e: Expression, bound: Set[String]): Seq[String] = e match {
      case lf: LambdaFunction =>
        val argNames = lf.arguments.flatMap {
          case v: UnresolvedNamedLambdaVariable => v.nameParts.headOption
          case v: NamedLambdaVariable => Seq(v.name)
          case other => Seq(other.name)
        }.map(_.toLowerCase)
        freeRefs(lf.function, bound ++ argNames)
      case ua: UnresolvedAttribute =>
        if (bound.contains(ua.nameParts.head.toLowerCase)) Seq.empty
        else Seq(ua.nameParts.head)
      case other => other.children.flatMap(freeRefs(_, bound))
    }
    consSeq.foreach { case (n, p) =>
      val missing = freeRefs(CatalystSqlParser.parseExpression(p), Set.empty)
        .distinct.filterNot(r => batchCols.exists(_.equalsIgnoreCase(r)))
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"CHECK constraint(s) violated by the batch: $n (batch omits " +
            s"constrained column(s) ${missing.mkString(", ")}; omitted columns " +
            "read as NULL after evolution, and NULL fails CHECK)")
    }
  }

  /** Commit with optimistic concurrency. An APPEND whose claimed
    * version is taken by a concurrent writer is safe to retry: it only
    * ADDS commit dirs, so it re-reads the winner's manifest and layers
    * its (already-written, immutable) dirs on top — no data rewrite,
    * just a fresh manifest race. Non-append ops (overwrite, replace,
    * compaction) computed their output against a snapshot that is now
    * stale, so a conflict surfaces to the caller as
    * [[VersionConflictException]] — the Delta/Iceberg semantics split.
    */
  private def commit(
      op: String,
      newDirs: Seq[String],
      keepExisting: Boolean,
      schema: StructType,
      partitionBy: Seq[String],
      colMax: Map[String, String],
      newDirStats: Seq[Map[String, (String, String)]],
      newDvFiles: Seq[String] = Seq.empty,
      schemaMode: String = "evolve",
      txn: Option[(String, Long)] = None,
      newColMapping: Map[String, String] = Map.empty): Long = {
    val maxRetries = if (op == "append" && keepExisting) 20 else 1
    var attempt = 0
    var result = -1L
    var done = false
    while (!done) {
      attempt += 1
      val prev = latestVersion().map(readManifest)
      // idempotent-writer check INSIDE the claim loop: a replay that
      // races the original (or another replay) re-reads the tip each
      // attempt, so whichever commit lands first makes every other
      // carrier of the same (writer, epoch) a no-op — the Delta
      // txnAppId/txnVersion protocol. The epoch must be strictly newer;
      // equal or older means this exact batch already committed.
      val prevTxns = prev.map(_.txns).getOrElse(Map.empty[String, Long])
      if (txn.exists { case (id, epoch) => prevTxns.get(id).exists(_ >= epoch) }) {
        return prev.map(_.version).getOrElse(-1L)
      }
      val version = prev.map(_.version + 1).getOrElse(0L)
      val existing = if (keepExisting) prev.map(_.commitDirs).getOrElse(Seq.empty) else Seq.empty
      val existingScopes =
        if (keepExisting) prev.map(_.effectiveScopes).getOrElse(Seq.empty) else Seq.empty
      val existingStats =
        if (keepExisting) prev.map(_.effectiveDirStats).getOrElse(Seq.empty) else Seq.empty
      val existingFileStats =
        if (keepExisting) prev.map(_.effectiveFileStats).getOrElse(Seq.empty) else Seq.empty
      val parts = if (partitionBy.nonEmpty) partitionBy else prev.map(_.partitionBy).getOrElse(Seq.empty)
      // re-merge the watermark AND the schema against the CURRENT tip: a
      // losing append retrying with its pre-race schema would otherwise
      // publish a manifest that hides columns a concurrent append evolved
      // in. The re-merge runs under the CALLER's schemaMode — a strict
      // append that loses the race to a writer who evolved the schema
      // must surface SchemaDriftException, not silently evolve past its
      // own contract.
      val effSchema =
        if (op == "append" && keepExisting)
          mergeSchemas(
            prev.flatMap(m => scala.util.Try(
              DataType.fromJson(m.schemaJson).asInstanceOf[StructType]).toOption),
            schema,
            schemaMode)
        else schema
      // an append racing a column DROP/RENAME: the retry's re-merge
      // would re-add the batch's copy of the column as a "new" field
      // with NO fresh physical entry — the dropped/renamed physical
      // data in every old file would resurface under it. The batch's
      // files are already written under the pre-race mapping, so a
      // fresh physical can't be assigned retroactively either: fail
      // LOUDLY (terminally — a plain VersionConflictException would be
      // swallowed by this very retry loop) and let the writer re-run
      // the append against the new schema.
      if (op == "append" && keepExisting) prev.foreach { m =>
        scala.util.Try(DataType.fromJson(m.schemaJson).asInstanceOf[StructType]).toOption
          .foreach { tip =>
            val tipNames = tip.fieldNames.map(_.toLowerCase).toSet
            val used = (tip.fieldNames.map(n => m.colMapping.getOrElse(n, n)) ++ m.droppedCols)
              .map(_.toLowerCase).toSet
            val resurrected = effSchema.fieldNames
              .filterNot(n => tipNames.contains(n.toLowerCase))
              .filterNot(newColMapping.contains)
              .filter(n => used.contains(n.toLowerCase))
            if (resurrected.nonEmpty)
              throw new IllegalStateException(
                s"append to $root raced a column drop/rename: column(s) " +
                  s"${resurrected.mkString(", ")} were dropped or renamed concurrently " +
                  "(re-adding them without a fresh physical name would resurface old " +
                  "file data) — re-run the append against the current schema")
          }
      }
      // sibling race to the resurrect check: a concurrent evolve-append
      // re-introduced the SAME previously dropped/renamed column from a
      // different prev version and committed its own fresh physical name.
      // This batch's files are already written under OUR fresh physical,
      // so folding our entry over the re-read tip's colMapping would
      // silently orphan the winner's column data (its reads turn NULL).
      // Terminal, like the resurrect check — the retry loop must not
      // swallow it; the writer re-runs against the current schema. Equal
      // names (both writers derived the same fresh suffix from the same
      // tip) are consistent and commit fine.
      if (op == "append" && keepExisting) prev.foreach { m =>
        val clashed = newColMapping.collect {
          case (logical, phys) if m.colMapping.get(logical).exists(_ != phys) =>
            s"$logical (this batch: $phys, committed: ${m.colMapping(logical)})"
        }
        if (clashed.nonEmpty)
          throw new IllegalStateException(
            s"append to $root raced a concurrent evolve-append re-introducing " +
              s"column(s) ${clashed.mkString(", ")} under a different fresh " +
              "physical name — committing would orphan the earlier batch's " +
              "column data; re-run the append against the current schema")
      }
      val mergedMax = Stats.merge(prev.map(_.colMax).getOrElse(Map.empty), colMax, effSchema)
      try {
        // deletion vectors: an op that keeps the existing dirs keeps their
        // DVs (plus any new ones); a rewrite read the DV-masked snapshot,
        // so its output has the deletes materialized and DVs reset
        val dvs =
          if (keepExisting) prev.map(_.dvFiles).getOrElse(Seq.empty) ++ newDvFiles
          else newDvFiles
        writeManifest(
          Manifest(
            version, op, System.currentTimeMillis(), existing ++ newDirs, effSchema.json, parts,
            existingScopes ++ newDirs.map(_ => Seq.empty),
            if (keepExisting) mergedMax else colMax,
            existingStats ++ newDirs.indices.map(i => newDirStats.lift(i).getOrElse(Map.empty)),
            existingFileStats ++ newDirs.map(_ => Map.empty[String, Map[String, (String, String)]]),
            dvs,
            // writer watermarks persist across every op (they track writer
            // progress, not data), updated by this commit's own txn if any
            prevTxns ++ txn,
            // CHECK constraints are table properties: they survive every
            // op (add/drop go through their own dedicated commits)
            prev.map(_.constraints).getOrElse(Map.empty),
            // column mapping/drop history is schema metadata: every op
            // carries it (files keep physical names forever); an
            // evolve-append re-introducing a dropped/renamed physical
            // name contributes its fresh-physical entries here
            prev.map(_.colMapping).getOrElse(Map.empty) ++ newColMapping,
            prev.map(_.droppedCols).getOrElse(Seq.empty)))
        result = version
        done = true
      } catch {
        case e: VersionConflictException =>
          if (attempt >= maxRetries) throw e
      }
    }
    result
  }

  /** Manifest-level (min, max) stats for the just-written commit dir:
    * one agg over the NEW files only (parquet footer stats make this
    * near-free), never a scan of the table. The files are read with the
    * physical schema they were written with. Columns without a non-null
    * value are simply absent from the result.
    */
  private def statsOf(
      newDirs: Seq[String],
      physSchema: StructType,
      statsCols: Seq[String],
      colMapping: Map[String, String] = Map.empty): Map[String, (String, String)] = {
    if (statsCols.isEmpty || newDirs.isEmpty) return Map.empty
    val paths = newDirs.map(d => dataDir.resolve(d).toString)
    val batch0 = spark.read.option("basePath", paths.head).schema(physSchema).parquet(paths: _*)
    // files store physical names — project ONLY the probed columns back
    // to their logical names (never a blanket phys→log rename fold: a
    // mapping like {c→a, a→a__g2} collides mid-fold, and an old file
    // still carrying a DROPPED physical column must not resurface under
    // a live logical name)
    val present = statsCols.filter(c => batch0.columns.contains(colMapping.getOrElse(c, c)))
    if (present.isEmpty) return Map.empty
    val batch = batch0.select(present.map(c =>
      batch0(colMapping.getOrElse(c, c)).as(c)): _*)
    present.foreach(c => Stats.requireSupported(batch.schema(c).dataType, c))
    val aggs = present.flatMap(c => Seq(min(col(c)), max(col(c))))
    val row = batch.agg(aggs.head, aggs.tail: _*).head()
    present.zipWithIndex.flatMap { case (c, i) =>
      if (row.isNullAt(2 * i) || row.isNullAt(2 * i + 1)) None
      else Some(c -> ((Stats.toStringValue(row.get(2 * i)), Stats.toStringValue(row.get(2 * i + 1)))))
    }.toMap
  }

  /** Append rows (bronze/gold append sink — K1/K4). Appends to a
    * partitioned table conform to the table's layout even when the caller
    * passes no `partitionBy` (as Hive/Iceberg inserts do): a commit dir
    * without `col=value` subdirs could not be scoped by a later
    * partition-scoped merge.
    *
    * `statsCols` declares watermark columns (timestamp/date/numeric)
    * whose running MAX is maintained in the manifest — Iceberg-style
    * column stats at manifest granularity. Declared once, the set is
    * inherited by every later append/overwrite, and
    * [[incrementalFrom]]'s high-watermark probe becomes a manifest read
    * instead of a full-table aggregation — the difference between a
    * metadata lookup and a 100 TB scan per incremental batch.
    *
    * `skipIfEmpty` opts this call out of publishing an empty batch: the
    * row count rides the write job's own observe (no probe job first),
    * and when it is zero the written dir is deleted and no version is
    * published. The latest version (or -1) is returned then.
    */
  def append(
      df: DataFrame,
      partitionBy: Seq[String] = Seq.empty,
      statsCols: Seq[String] = Seq.empty,
      schemaMode: String = "evolve",
      txn: Option[(String, Long)] = None,
      writeOptions: Map[String, String] = Map.empty,
      skipIfEmpty: Boolean = false): Long = {
    // idempotent-writer fast path BEFORE any data is written: a replayed
    // micro-batch (same writer id, same epoch) must not even land an
    // orphan commit dir. The commit loop re-checks under the CAS, so a
    // concurrent duplicate that slips past this probe is still dropped.
    txn.foreach { case (id, epoch) =>
      if (txnVersion(id).exists(_ >= epoch)) return latestVersion().getOrElse(-1L)
    }
    val prev = latestVersion().map(readManifest)
    // a manifest whose schema doesn't parse (synthetic/corrupted log
    // entry) simply provides no contract to enforce
    val tableSchema = prev.flatMap(m =>
      scala.util.Try(DataType.fromJson(m.schemaJson).asInstanceOf[StructType]).toOption)
    val mergedSchema = mergeSchemas(tableSchema, df.schema, schemaMode)
    val tableParts = prev.map(_.partitionBy).getOrElse(Seq.empty)
    val effParts = if (partitionBy.nonEmpty) partitionBy else tableParts
    val effStats =
      if (statsCols.nonEmpty) statsCols else prev.map(_.colMax.keys.toSeq).getOrElse(Seq.empty)
    // an evolve-append can INTRODUCE columns just like ALTER ADD — a new
    // name that collides with a dropped/renamed PHYSICAL name needs a
    // fresh physical too, or old file data resurfaces under it
    val freshMap = (prev, tableSchema) match {
      case (Some(m), Some(t)) =>
        freshPhysicalFor(m, t, df.schema.fieldNames.filterNot(t.fieldNames.contains).toSeq)
      case _ => Map.empty[String, String]
    }
    val batchFlag = if (skipIfEmpty) Some(AppendFlag) else None
    val (dirOpt, batchStats) = writeCommitDir(
      batchFlag.fold(df)(df.withColumn(_, lit(true))),
      effParts, effStats, writeOptions, prev.map(_.constraints).getOrElse(Map.empty),
      prev.map(_.colMapping).getOrElse(Map.empty) ++ freshMap, batchFlag)
    if (dirOpt.isEmpty) return prev.map(_.version).getOrElse(-1L)
    val dirs = dirOpt.toSeq
    val batchMax = batchStats.map { case (c, (_, mx)) => c -> mx }
    val merged = Stats.merge(prev.map(_.colMax).getOrElse(Map.empty), batchMax, mergedSchema)
    commit("append", dirs, keepExisting = true, mergedSchema, effParts, merged,
      dirs.map(_ => batchStats), schemaMode = schemaMode, txn = txn,
      newColMapping = freshMap)
  }

  /** Highest committed epoch for an idempotent writer id (Delta's
    * `txnVersion(appId)`), or None if the writer never committed. A
    * restarted streaming job probes this to decide whether its first
    * re-delivered batch already landed.
    */
  def txnVersion(writerId: String): Option[Long] =
    latestVersion().map(readManifest).flatMap(_.txns.get(writerId))

  // ---- CHECK constraints --------------------------------------------------

  /** Add a table-level CHECK constraint (Delta `ALTER TABLE ... ADD
    * CONSTRAINT ... CHECK`): `predicate` is a SQL boolean expression
    * over the table's columns. EXISTING data is validated first (one
    * aggregation scan — a constraint the current table violates is
    * rejected, never silently recorded), then the constraint lands as a
    * metadata-only commit and every later write enforces it at zero
    * extra cost — the violation counts ride the write's own `observe`
    * pass, and a violating batch's commit dir is deleted before any
    * manifest references it.
    */
  def addCheckConstraint(name: String, predicate: String): Long = {
    require(name.matches("[A-Za-z0-9._-]{1,64}"), s"unsafe constraint name: $name")
    val v = latestVersion().getOrElse(
      throw new IllegalStateException(s"addCheckConstraint on empty table $root"))
    val m = readManifest(v)
    require(!m.constraints.contains(name), s"constraint $name already exists on $root")
    val bad = read().filter(!coalesce(expr(predicate), lit(false))).count()
    if (bad > 0)
      throw new IllegalStateException(
        s"cannot add CHECK $name: $bad existing rows violate ($predicate)")
    val next = m.copy(
      version = v + 1,
      operation = s"add-constraint($name)",
      timestampMs = System.currentTimeMillis(),
      constraints = m.constraints + (name -> predicate))
    writeManifest(next)
    next.version
  }

  /** Drop a CHECK constraint (metadata-only commit; no-op version bump
    * is avoided when the constraint doesn't exist).
    */
  def dropCheckConstraint(name: String): Long = {
    val v = latestVersion().getOrElse(
      throw new IllegalStateException(s"dropCheckConstraint on empty table $root"))
    val m = readManifest(v)
    if (!m.constraints.contains(name)) return v
    val next = m.copy(
      version = v + 1,
      operation = s"drop-constraint($name)",
      timestampMs = System.currentTimeMillis(),
      constraints = m.constraints - name)
    writeManifest(next)
    next.version
  }

  def checkConstraints(): Map[String, String] =
    latestVersion().map(readManifest).map(_.constraints).getOrElse(Map.empty)

  // ---- write-audit-publish ------------------------------------------------

  /** Handle for a staged (written, UNPUBLISHED) batch — the WAP unit. */
  final case class Staged(
      dir: String,
      schemaJson: String,
      partitionBy: Seq[String],
      stats: Map[String, (String, String)],
      // constraints that were enforced at stage time — publishStaged
      // re-validates only the DRIFT against these (constraints added or
      // changed between stage and publish)
      constraintsAtStage: Map[String, String] = Map.empty,
      // the staged files store PHYSICAL names (writeCommitDir invariant)
      // — readStaged needs the stage-time logical→physical mapping to
      // audit what a post-publish reader would actually see
      colMappingAtStage: Map[String, String] = Map.empty,
      // fresh-physical entries this batch introduced (evolve re-adding a
      // dropped/renamed name) — publishStaged folds them into the manifest
      freshColMapping: Map[String, String] = Map.empty)

  /** WRITE half of write-audit-publish (the Iceberg WAP /
    * `spark.wap.id` pattern): land the batch's parquet as an immutable
    * commit dir WITHOUT publishing a manifest — readers cannot see it,
    * time travel cannot reach it. Audit the staged data via
    * [[readStaged]] (e.g. [[graft.operators.Expectations]]); then
    * [[publishStaged]] makes it visible in one atomic manifest CAS — no
    * second data write, audit-to-publish is metadata-only — or
    * [[abortStaged]] deletes it. A crashed stage is an orphan dir that
    * [[sweepOrphans]] reclaims after the grace window.
    */
  def stageAppend(
      df: DataFrame,
      partitionBy: Seq[String] = Seq.empty,
      statsCols: Seq[String] = Seq.empty): Staged = {
    val prev = latestVersion().map(readManifest)
    val tableSchema = prev.flatMap(m =>
      scala.util.Try(DataType.fromJson(m.schemaJson).asInstanceOf[StructType]).toOption)
    val mergedSchema = mergeSchemas(tableSchema, df.schema, "evolve")
    val tableParts = prev.map(_.partitionBy).getOrElse(Seq.empty)
    val effParts = if (partitionBy.nonEmpty) partitionBy else tableParts
    val effStats =
      if (statsCols.nonEmpty) statsCols else prev.map(_.colMax.keys.toSeq).getOrElse(Seq.empty)
    val enforced = prev.map(_.constraints).getOrElse(Map.empty)
    val freshMap = (prev, tableSchema) match {
      case (Some(m), Some(t)) =>
        freshPhysicalFor(m, t, df.schema.fieldNames.filterNot(t.fieldNames.contains).toSeq)
      case _ => Map.empty[String, String]
    }
    val effMapping = prev.map(_.colMapping).getOrElse(Map.empty) ++ freshMap
    val (dirOpt, batchStats) = writeCommitDir(
      df, effParts, effStats, constraints = enforced, colMapping = effMapping)
    Staged(dirOpt.get, mergedSchema.json, effParts, batchStats, enforced,
      colMappingAtStage = effMapping, freshColMapping = freshMap)
  }

  /** The staged batch exactly as a post-publish reader would see it. */
  def readStaged(s: Staged): DataFrame = {
    val base = dataDir.resolve(s.dir).toString
    val schema = DataType.fromJson(s.schemaJson).asInstanceOf[StructType]
    // the staged files store PHYSICAL names — scan by them and project
    // back to logical, exactly like readSelected, or every renamed
    // column audits as all-NULL
    val mapping = s.colMappingAtStage
    val physSchema =
      if (mapping.isEmpty) schema
      else StructType(schema.fields.map(f => f.copy(name = mapping.getOrElse(f.name, f.name))))
    val raw =
      if (s.partitionBy.isEmpty) spark.read.schema(physSchema).parquet(base)
      else spark.read.option("basePath", base).schema(physSchema).parquet(base)
    raw.select(schema.fieldNames.map(n =>
      col(mapping.getOrElse(n, n)).as(n)): _*) // also drops any derived dir column
  }

  /** AUDIT passed — publish atomically (append semantics, optimistic
    * retry like any append; the data was already written once).
    */
  def publishStaged(s: Staged): Long = {
    val schema = DataType.fromJson(s.schemaJson).asInstanceOf[StructType]
    val batchMax = s.stats.map { case (c, (_, mx)) => c -> mx }
    val prev = latestVersion().map(readManifest)
    // constraints added or changed since stage time were never enforced
    // against this batch (stageAppend checked the set visible THEN;
    // addCheckConstraint validates only published data) — re-validate
    // the drift before making the batch visible. One scan of the staged
    // dir, and only in the drift case; unchanged constraints cost zero.
    val drift = prev.map(_.constraints).getOrElse(Map.empty)
      .filter { case (n, p) => !s.constraintsAtStage.get(n).contains(p) }
      .toSeq.sortBy(_._1)
    if (drift.nonEmpty) {
      val staged = readStaged(s)
      requireConstraintColumns(drift, staged.columns)
      val aggs = drift.map { case (n, p) =>
        sum(when(!coalesce(expr(p), lit(false)), 1L).otherwise(0L)).as(s"__viol_$n")
      }
      val row = staged.agg(aggs.head, aggs.tail: _*).head()
      val violations = drift.flatMap { case (n, _) =>
        Option(row.get(row.fieldIndex(s"__viol_$n")))
          .map(v => n -> v.asInstanceOf[Long]).filter(_._2 > 0)
      }
      if (violations.nonEmpty)
        throw new IllegalStateException(
          "CHECK constraint(s) added since stage time violated by the staged batch: " +
            violations.map { case (n, c) => s"$n ($c rows)" }.mkString(", ") +
            " — abortStaged or drop the constraint")
    }
    val merged = Stats.merge(prev.map(_.colMax).getOrElse(Map.empty), batchMax, schema)
    commit("append", Seq(s.dir), keepExisting = true, schema, s.partitionBy, merged,
      Seq(s.stats), newColMapping = s.freshColMapping)
  }

  /** AUDIT failed — delete the staged dir; nothing was ever visible. */
  def abortStaged(s: Staged): Unit = deleteDataDir(s.dir)

  /** Write-time schema contract. `evolve` (default, the Delta
    * `mergeSchema` stance): new columns are ADDED to the table schema
    * and older files read them as typed NULL; columns the batch omits
    * stay in the table schema (new files read them as NULL) — an append
    * can never silently HIDE an existing column, which is what
    * publishing the batch's own narrower schema used to do. A same-name
    * column with a different type is rejected in both modes: parquet
    * readers cannot reconcile it at scan time, so failing the WRITE is
    * the only loud option. `strict` additionally rejects any field-set
    * difference (the production contract for a curated table).
    */
  private def mergeSchemas(
      prev: Option[StructType],
      batch: StructType,
      mode: String): StructType = prev match {
    case None => batch
    case Some(t) =>
      val byName = t.fields.map(f => f.name -> f).toMap
      val conflicts = batch.fields.filter(f =>
        byName.get(f.name).exists(_.dataType != f.dataType))
      if (conflicts.nonEmpty)
        throw new SchemaDriftException(
          s"append to $root changes column type(s): " +
            conflicts.map(f =>
              s"${f.name}: ${byName(f.name).dataType.sql} -> ${f.dataType.sql}").mkString(", "))
      mode match {
        case "strict" =>
          val tNames = t.fields.map(_.name).toSet
          val bNames = batch.fields.map(_.name).toSet
          if (tNames != bNames)
            throw new SchemaDriftException(
              s"append to $root under strict mode: batch columns " +
                s"${bNames.toSeq.sorted.mkString("[", ",", "]")} != table columns " +
                s"${tNames.toSeq.sorted.mkString("[", ",", "]")}")
          t
        case "evolve" =>
          val newFields = batch.fields.filterNot(f => byName.contains(f.name))
          StructType(t.fields ++ newFields)
        case other =>
          throw new IllegalArgumentException(
            s"unknown schemaMode '$other' (expected evolve|strict)")
      }
  }

  /** `ALTER TABLE ... ADD COLUMNS`: a manifest-ONLY commit carrying the
    * widened schema — no data file is touched or rewritten. Existing
    * parquet files simply lack the new columns, and the read path
    * (`spark.read.schema(manifestSchema)`) surfaces them as NULL —
    * the same metadata-only column add Delta/Iceberg perform. Added
    * columns are forced nullable (existing rows HAVE no value), and
    * name collisions are rejected case-insensitively (the resolver
    * is). CAS-retried like append: losing a race re-reads the tip and
    * re-applies the add against it.
    */
  def alterAddColumns(newFields: Seq[StructField]): Long = {
    require(exists, s"table at $root does not exist")
    var out = -1L
    var done = false
    while (!done) {
      val prev = readManifest(latestVersion().get)
      val schema = DataType.fromJson(prev.schemaJson).asInstanceOf[StructType]
      newFields.foreach { f =>
        require(
          !schema.fieldNames.exists(_.equalsIgnoreCase(f.name)),
          s"ALTER TABLE ADD COLUMNS: column ${f.name} already exists in $root")
        requireNotDerivedDirCol(prev, f.name, "ALTER TABLE ADD COLUMNS")
      }
      val evolved = StructType(schema.fields ++ newFields.map(_.copy(nullable = true)))
      val freshMap = freshPhysicalFor(prev, schema, newFields.map(_.name))
      val m = prev.copy(
        version = prev.version + 1,
        operation = "alter",
        timestampMs = System.currentTimeMillis(),
        schemaJson = evolved.json,
        colMapping = prev.colMapping ++ freshMap)
      try { writeManifest(m); out = m.version; done = true }
      catch { case _: VersionConflictException => () }
    }
    out
  }

  /** Fresh physical names for logical columns a schema change
    * introduces: a new column whose name matches a PHYSICAL name
    * already used by old files (a dropped column, or a renamed
    * column's original name) gets a FRESH physical name — otherwise
    * existing file data would silently resurface under the new
    * logical column. Shared by `ALTER TABLE ADD COLUMNS` and the
    * evolve-append path (a batch can introduce columns too).
    */
  private def freshPhysicalFor(
      prev: Manifest,
      tableSchema: StructType,
      newNames: Seq[String]): Map[String, String] = {
    val usedPhysical =
      (tableSchema.fieldNames.map(n => prev.colMapping.getOrElse(n, n)) ++ prev.droppedCols)
        .map(_.toLowerCase).toSet
    // the generated name must itself be unused — a live column literally
    // named `a__gN` (or a dropped one) would otherwise alias two logical
    // columns onto one physical and fail every later write with a
    // duplicate-column error. Taken set grows as names are assigned so
    // two new columns can never receive the same fresh physical.
    val taken = scala.collection.mutable.Set.empty[String]
    taken ++= usedPhysical
    taken ++= tableSchema.fieldNames.map(_.toLowerCase)
    newNames.collect {
      case n if usedPhysical.contains(n.toLowerCase) =>
        var i = prev.version + 1
        var cand = s"${n}__g$i"
        while (taken.contains(cand.toLowerCase)) { i += 1; cand = s"${n}__g$i" }
        taken += cand.toLowerCase
        n -> cand
    }.toMap
  }

  /** Column names a CHECK predicate references (free attributes, last
    * name part, lowercased) — conservative: lambda-bound variables may
    * appear too, which only makes rename/drop stricter, never unsafe.
    */
  private def constraintReferences(pred: String): Set[String] =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(pred)
      .collect { case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.last.toLowerCase
      }
      .toSet

  private def requireNotPartitionSource(m: Manifest, colName: String, what: String): Unit =
    m.partitionBy.map(PartitionSpec.parse).foreach { p =>
      require(!p.source.equalsIgnoreCase(colName),
        s"$what: $colName is the partition source of ${p.spec} " +
          "(directory layouts record the name; repartition via overwrite first)")
    }

  /** A transform's DERIVED dir column (ts__day, k__bucket) lives in the
    * Hive paths, not the schema — a user column taking that name would
    * read dir values instead of NULL on old rows and collide with the
    * derivation on every later write. Rejected for ADD and RENAME
    * targets (and new fields an evolve-append introduces).
    */
  private def requireNotDerivedDirCol(m: Manifest, colName: String, what: String): Unit =
    m.partitionBy.map(PartitionSpec.parse).filterNot(_.isIdentity).foreach { p =>
      require(!p.dirCol.equalsIgnoreCase(colName),
        s"$what: $colName collides with the derived dir column of ${p.spec} " +
          "(hidden-partitioning paths already use that name)")
    }

  private def requireNotConstrained(m: Manifest, colName: String, what: String): Unit =
    m.constraints.foreach { case (n, pred) =>
      require(!constraintReferences(pred).contains(colName.toLowerCase),
        s"$what: CHECK constraint $n references $colName; drop the constraint first")
    }

  /** `ALTER TABLE ... RENAME COLUMN old TO new` — metadata-only column
    * mapping (Delta name-mapping / the role Iceberg field IDs play):
    * the logical schema renames, `colMapping` records logical→physical,
    * and every immutable parquet file keeps its original column name —
    * old files stay readable under the new name with ZERO data rewrite
    * at any table size. Writes after the rename store the PHYSICAL name
    * too, so the file format stays uniform across commit eras. Stats
    * keys (colMax / dir / file zonemaps) follow the logical name, so
    * watermarks and range pruning survive the rename. Partition sources
    * and constraint-referenced columns are rejected loudly (both are
    * recorded by name). CAS-retried like every metadata commit.
    */
  def alterRenameColumn(oldName: String, newName: String): Long = {
    require(exists, s"table at $root does not exist")
    require(
      newName.nonEmpty && !newName.exists(c => c == '(' || c == ')' || c == '='),
      s"RENAME COLUMN: unsafe new name $newName")
    var out = -1L
    var done = false
    while (!done) {
      val prev = readManifest(latestVersion().get)
      val schema = DataType.fromJson(prev.schemaJson).asInstanceOf[StructType]
      val f = schema.fields.find(_.name.equalsIgnoreCase(oldName)).getOrElse(
        throw new IllegalArgumentException(s"RENAME COLUMN: no column $oldName in $root"))
      require(
        !schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
        s"RENAME COLUMN: column $newName already exists in $root")
      requireNotPartitionSource(prev, f.name, "RENAME COLUMN")
      requireNotConstrained(prev, f.name, "RENAME COLUMN")
      requireNotDerivedDirCol(prev, newName, "RENAME COLUMN")
      val phys = prev.colMapping.getOrElse(f.name, f.name)
      val newSchema = StructType(
        schema.fields.map(x => if (x.name == f.name) x.copy(name = newName) else x))
      def rekey[V](mp: Map[String, V]): Map[String, V] =
        mp.map { case (k, v) => (if (k == f.name) newName else k) -> v }
      val m = prev.copy(
        version = prev.version + 1,
        operation = s"rename-column(${f.name}->$newName)",
        timestampMs = System.currentTimeMillis(),
        schemaJson = newSchema.json,
        colMax = rekey(prev.colMax),
        dirStats = prev.dirStats.map(rekey),
        fileStats = prev.fileStats.map(_.map { case (file, cols) => file -> rekey(cols) }),
        colMapping =
          (prev.colMapping - f.name) ++
            (if (phys != newName) Map(newName -> phys) else Map.empty))
      try { writeManifest(m); out = m.version; done = true }
      catch { case _: VersionConflictException => () }
    }
    out
  }

  /** `ALTER TABLE ... DROP COLUMN` — metadata-only: the logical schema
    * narrows and the column's PHYSICAL name is recorded in
    * `droppedCols` so a later ADD COLUMN of the same name cannot
    * resurface the old file data (it gets a fresh physical name and
    * reads NULL from history — the Delta/Iceberg drop semantics).
    * Time travel before the drop still reads the column. Partition
    * sources and constraint-referenced columns are rejected loudly.
    */
  def alterDropColumn(name: String): Long = {
    require(exists, s"table at $root does not exist")
    var out = -1L
    var done = false
    while (!done) {
      val prev = readManifest(latestVersion().get)
      val schema = DataType.fromJson(prev.schemaJson).asInstanceOf[StructType]
      val f = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"DROP COLUMN: no column $name in $root"))
      require(schema.fields.length > 1, s"DROP COLUMN: cannot drop the only column of $root")
      requireNotPartitionSource(prev, f.name, "DROP COLUMN")
      requireNotConstrained(prev, f.name, "DROP COLUMN")
      val phys = prev.colMapping.getOrElse(f.name, f.name)
      val m = prev.copy(
        version = prev.version + 1,
        operation = s"drop-column(${f.name})",
        timestampMs = System.currentTimeMillis(),
        schemaJson = StructType(schema.fields.filterNot(_.name == f.name)).json,
        colMax = prev.colMax - f.name,
        dirStats = prev.dirStats.map(_ - f.name),
        fileStats = prev.fileStats.map(_.map { case (file, cols) => file -> (cols - f.name) }),
        colMapping = prev.colMapping - f.name,
        droppedCols = (prev.droppedCols :+ phys).distinct)
      try { writeManifest(m); out = m.version; done = true }
      catch { case _: VersionConflictException => () }
    }
    out
  }

  /** Claim an EMPTY table at this root with a true compare-and-swap on
    * version 0: exactly one creator wins (the CTAS create-once
    * guarantee under concurrency); returns false when the table already
    * exists — whether it raced or predates the call.
    */
  def createIfAbsent(schema: StructType, partitionBy: Seq[String] = Seq.empty): Boolean = {
    if (exists) return false
    partitionBy.map(PartitionSpec.parse).foreach { p =>
      require(schema.fieldNames.contains(p.source),
        s"partition source column ${p.source} (of ${p.spec}) is not in the declared schema")
    }
    val m = Manifest(0L, "create", System.currentTimeMillis(), Seq.empty, schema.json, partitionBy)
    try { writeManifest(m); true }
    catch { case _: VersionConflictException => false }
  }

  /** Replace the table contents atomically (merge rewrites land here).
    * Conforms to the table's partition layout and inherits declared
    * stats columns like [[append]] (recomputed from the new contents —
    * an overwrite invalidates the previous running max).
    *
    * `batchFlag` names a boolean column of `df` that marks the rows
    * standing for a merge's source rows; it is not written. Its count
    * is observed inside the write job, and when it is zero the source
    * was empty: the rewrite is dropped and no version is published (the
    * latest version, or -1, is returned).
    */
  def overwrite(
      df: DataFrame,
      partitionBy: Seq[String] = Seq.empty,
      statsCols: Seq[String] = Seq.empty,
      txn: Option[(String, Long)] = None,
      batchFlag: Option[String] = None): Long = {
    txn.foreach { case (id, epoch) =>
      if (txnVersion(id).exists(_ >= epoch)) return latestVersion().getOrElse(-1L)
    }
    val prev = latestVersion().map(readManifest)
    val tableParts = prev.map(_.partitionBy).getOrElse(Seq.empty)
    val effParts = if (partitionBy.nonEmpty) partitionBy else tableParts
    // Union, not either/or: a caller declaring statsCols on a table that
    // predates the declaration must still establish the watermark.
    val effStats =
      (statsCols ++ prev.map(_.colMax.keys.toSeq).getOrElse(Seq.empty)).distinct
    val (dirOpt, batchStats) = writeCommitDir(
      df, effParts, effStats, constraints = prev.map(_.constraints).getOrElse(Map.empty),
      colMapping = prev.map(_.colMapping).getOrElse(Map.empty), batchFlag = batchFlag)
    if (dirOpt.isEmpty) return prev.map(_.version).getOrElse(-1L)
    commit("overwrite", dirOpt.toSeq, keepExisting = false, withoutFlag(df, batchFlag).schema,
      effParts, batchStats.map { case (c, (_, mx)) => c -> mx },
      dirOpt.toSeq.map(_ => batchStats), txn = txn)
  }

  /** Hive-style partition values (`col=value` subdir names) present in
    * a commit dir for the leading partition column.
    */
  private def listPartitionValues(dirName: String): Seq[String] =
    listPartitionEntries(dirName).map(_._2).sorted

  /** Hive-style `(column, value)` subdir pairs of a commit dir — the
    * column half matters when the table's layout changed mid-history:
    * a value compared against the WRONG column's domain (region names
    * vs `ts__day` dates) would prune dirs that hold live rows.
    */
  private def listPartitionEntries(dirName: String): Seq[(String, String)] = {
    val d = dataDir.resolve(dirName)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.contains("="))
        .map { n => val a = n.split("=", 2); (a(0), a(1)) }
        .toSeq
        .sorted
      finally s.close()
    }
  }

  private def dirHasDataFiles(dirName: String): Boolean = {
    val d = dataDir.resolve(dirName)
    Files.isDirectory(d) && {
      val walk = Files.walk(d)
      try walk.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet"))
      finally walk.close()
    }
  }

  /** Partition-scoped replace — the merge path that survives 100 TB:
    * rewrite ONLY the partitions named in `affected` (leading partition
    * column values, as written in the `col=value` dir names). Untouched
    * partitions keep their existing files; the new manifest narrows the
    * scope of every older commit dir so readers skip the replaced
    * partition subdirs. No data outside `affected` is copied or moved.
    * `batchFlag` is [[overwrite]]'s: a merge whose source was empty
    * publishes nothing.
    */
  def replacePartitions(
      df: DataFrame,
      affected: Seq[String],
      batchFlag: Option[String] = None): Long = {
    val prev = latestVersion()
      .map(readManifest)
      .getOrElse(throw new IllegalStateException(s"replacePartitions on empty table $root"))
    require(prev.partitionBy.nonEmpty, "replacePartitions requires a partitioned table")
    // transform layouts are rejected LOUDLY: `affected` carries
    // source-column values, but the dirs are keyed by DERIVED values
    // (ts__day=2024-01, k__bucket=7) — comparing the two domains would
    // leave old dirs un-narrowed (deleted rows stay live) while the new
    // survivors dir scoped empty, silently duplicating every surviving
    // row. Scoping by derived value is a future surface; until then the
    // whole-table merge/overwrite paths are the correct route.
    val p0 = PartitionSpec.parse(prev.partitionBy.head)
    require(p0.isIdentity,
      s"replacePartitions on a transform-partitioned table (${p0.spec}): " +
        "affected values are source-column values but the dir layout is derived — " +
        "use the whole-table merge/overwrite instead")
    val affectedSet = affected.toSet
    val p0Name = p0.dirCol
    val schema = withoutFlag(df, batchFlag).schema

    // a replace batch can INTRODUCE columns (the manifest takes its
    // schema) — a new name colliding with a dropped/renamed PHYSICAL
    // name needs a fresh physical, exactly like append/stage/alter, or
    // the KEPT dirs' immutable files resurface old data under it
    val prevSchema = scala.util.Try(
      DataType.fromJson(prev.schemaJson).asInstanceOf[StructType]).toOption
    val freshMap = prevSchema
      .map(t => freshPhysicalFor(prev, t, schema.fieldNames.filterNot(t.fieldNames.contains).toSeq))
      .getOrElse(Map.empty)
    val effMapping = prev.colMapping ++ freshMap

    val (newDirOpt, newStats) = writeCommitDir(
      df, prev.partitionBy, prev.colMax.keys.toSeq, constraints = prev.constraints,
      colMapping = effMapping, batchFlag = batchFlag)
    if (newDirOpt.isEmpty) return prev.version
    val newDir = newDirOpt.get
    val oldStats = prev.commitDirs.zip(prev.effectiveDirStats).toMap
    val oldFileStats = prev.commitDirs.zip(prev.effectiveFileStats).toMap
    val narrowed = prev.commitDirs.zip(prev.effectiveScopes).flatMap { case (dir, scope) =>
      val eff = if (scope.nonEmpty) scope else listPartitionValues(dir)
      if (eff.isEmpty) {
        // Unknown scope: the dir has no Hive col=value subdirs (a legacy
        // unpartitioned append). Excluding it would silently lose every
        // row outside `affected`; refuse unless it holds no data at all.
        if (dirHasDataFiles(dir))
          throw new IllegalStateException(
            s"commit dir $dir of $root has data but no $p0Name=value layout; " +
              "partition-scoped replace cannot narrow it (rewrite via overwrite/compact first)")
        None
      } else {
        val remaining = eff.filterNot(affectedSet.contains)
        if (remaining.isEmpty) None else Some((dir, remaining))
      }
    }
    // scope the new dir to the partitions it actually wrote: an affected
    // partition whose rows were all deleted has no subdir, and must not
    // be claimed (a reader would try to open a missing path)
    val written = listPartitionValues(newDir).toSet
    val entries = narrowed :+ ((newDir, affected.filter(written.contains).sorted))
    val version = prev.version + 1
    // colMax: the rewritten partitions may have held the old max, and an
    // exact recompute would scan the untouched partitions — keep the stat
    // only when provably still a max (new batch >= previous, observed
    // during the write above), else drop it and let incrementalFrom fall
    // back to the aggregation probe.
    val newMax = newStats.map { case (c, (_, mx)) => c -> mx }
    val keptMax = prev.colMax.flatMap { case (c, old) =>
      newMax.get(c).filter(nv => Stats.geq(nv, old, schema(c).dataType)).map(c -> _)
    }
    writeManifest(
      Manifest(
        version,
        "replacePartitions",
        System.currentTimeMillis(),
        entries.map(_._1),
        schema.json,
        prev.partitionBy,
        entries.map(_._2),
        keptMax,
        // a narrowed dir keeps its old range — the range of a superset of
        // its remaining rows is still a valid (conservative) zonemap
        entries.map { case (d, _) =>
          if (d == newDir) newStats else oldStats.getOrElse(d, Map.empty)
        },
        // per-file zonemaps survive narrowing too: the read path
        // intersects them with the live scope, and files are immutable
        entries.map { case (d, _) =>
          if (d == newDir) Map.empty[String, Map[String, (String, String)]]
          else oldFileStats.getOrElse(d, Map.empty)
        },
        // kept (un-rewritten) dirs keep their deletion vectors; entries
        // pointing at the replaced dirs' files become inert (never match)
        prev.dvFiles,
        prev.txns,
        prev.constraints,
        effMapping,
        prev.droppedCols))
    version
  }

  // ---- reads --------------------------------------------------------------

  /** Read the table at `versionAsOf` (latest when None) — time travel. */
  def read(versionAsOf: Option[Long] = None): DataFrame = {
    val v = versionAsOf.orElse(latestVersion()).getOrElse {
      throw new IllegalStateException(s"table at $root has no commits")
    }
    readAt(readManifest(v))
  }

  /** Every row of the snapshot `m`. */
  private[tables] def readAt(m: Manifest): DataFrame =
    readEntries(m, m.commitDirs.zip(m.effectiveScopes))

  /** Time travel by wall clock (`FOR TIMESTAMP AS OF`): the newest
    * snapshot committed at or before `tsMillis`. Fails loudly when the
    * timestamp predates the table (same stance as Delta/Iceberg — a
    * silent empty read would look like data loss) or when the snapshots
    * covering it were expired.
    */
  def readAsOfTimestamp(tsMillis: Long): DataFrame = readAt(manifestAsOfTimestamp(tsMillis))

  /** The snapshot [[readAsOfTimestamp]] reads, with its failures: the
    * one choice of version SQL `TIMESTAMP AS OF` shares.
    */
  private[tables] def manifestAsOfTimestamp(tsMillis: Long): Manifest = {
    val versions = listVersions()
    if (versions.isEmpty)
      throw new IllegalStateException(s"table at $root has no commits")
    versions
      .map(p => readManifest(versionOf(p)))
      .filter(_.timestampMs <= tsMillis)
      .lastOption
      .getOrElse(throw new IllegalStateException(
        s"no snapshot of $root at or before $tsMillis " +
          "(timestamp predates the table or the snapshot was expired)"))
  }

  /** Assemble a DataFrame over a subset of a manifest's commit dirs. */
  private def readEntries(m: Manifest, entries: Seq[(String, Seq[String])]): DataFrame =
    readSelected(m, entries.map { case (d, s) => (d, s, None) })

  /** Like [[readEntries]] but with an optional explicit file selection
    * per dir (`None` = whole dir/scope) — the file-granularity half of
    * zonemap pruning. Dirs whose selection is empty contribute nothing.
    */
  private def readSelected(
      m: Manifest,
      entries: Seq[(String, Seq[String], Option[Seq[String]])],
      keepRowMeta: Boolean = false): DataFrame = {
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    // column mapping: scan by PHYSICAL name, project back to logical —
    // renamed columns read their original file data, dropped-then-
    // re-added columns read NULL (their fresh physical name is in no
    // old file). Identity mapping compiles to the exact pre-mapping plan.
    val mapping = m.colMapping
    val physSchema =
      if (mapping.isEmpty) schema
      else StructType(schema.fields.map(f => f.copy(name = mapping.getOrElse(f.name, f.name))))
    val live = entries.filter(_._3.forall(_.nonEmpty))
    // deletion vectors join on (table-relative file, row index), so the
    // scan must surface the parquet metadata columns whenever DVs exist
    // (or the caller asked for them)
    val needMeta = keepRowMeta || m.dvFiles.nonEmpty
    def withMeta(df: DataFrame): DataFrame =
      if (!needMeta) df
      else df.select(
        col("*"),
        stripDataDirPrefix(col("_metadata.file_path")).as("__dv_file"),
        col("_metadata.row_index").as("__dv_idx"))
    val base =
      if (live.isEmpty) {
        val df = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        if (!needMeta) df
        else df
          .withColumn("__dv_file", lit(null).cast("string"))
          .withColumn("__dv_idx", lit(null).cast("long"))
      } else if (m.partitionBy.isEmpty && live.forall(_._3.isEmpty)) {
        val paths = live.map { case (d, _, _) => dataDir.resolve(d).toString }
        val raw = withMeta(spark.read.schema(physSchema).parquet(paths: _*))
        if (mapping.isEmpty) raw
        else raw.select(schema.fieldNames.map(n => col(mapping.getOrElse(n, n)).as(n)) ++
          (if (needMeta) Seq(col("__dv_file"), col("__dv_idx")) else Nil): _*)
      } else {
        // Hive-partitioned commits: each commit dir is its own partition
        // root (basePath), so partition columns resolve per commit and the
        // union preserves them. A dir with a narrowed scope (after a
        // partition-scoped merge) reads only its live `col=value` subdirs;
        // a dir with an explicit file selection reads only those files
        // (partition columns still resolve relative to the basePath).
        val p0 = m.partitionBy.headOption.map(s => PartitionSpec.parse(s).dirCol)
        // a transform layout's derived dir column (ts__day=...) is NOT
        // part of the declared schema: project back to it so readers
        // see source columns only (identity layouts + identity mapping:
        // exact no-op projection)
        val projCols = schema.fieldNames.map(n => col(mapping.getOrElse(n, n)).as(n)) ++
          (if (needMeta) Seq(col("__dv_file"), col("__dv_idx")) else Nil)
        live
          .map { case (d, scope, files) =>
            val base = dataDir.resolve(d).toString
            val paths = files match {
              case Some(fs) => fs.map(f => s"$base/$f")
              case None =>
                if (scope.isEmpty) Seq(base)
                else scope.map(v => s"$base/${p0.get}=$v")
            }
            withMeta(spark.read.option("basePath", base).schema(physSchema).parquet(paths: _*))
              .select(projCols: _*)
          }
          .reduce(_ unionByName _)
      }
    // apply deletion vectors: one left-anti hash join against the (small)
    // DV sidecars — entries referencing files a later rewrite dropped are
    // inert (their keys never match)
    val masked =
      if (m.dvFiles.isEmpty) base
      else {
        val dv = spark.read
          .schema(DvSchema)
          .parquet(m.dvFiles.map(f => dvDir.resolve(f).toString): _*)
        base.join(
          dv,
          base("__dv_file") === dv("file_rel") && base("__dv_idx") === dv("row_idx"),
          "left_anti")
      }
    if (keepRowMeta) masked
    else if (needMeta) masked.drop("__dv_file", "__dv_idx")
    else masked
  }

  /** Zonemap-pruned range scan: rows with `colName` in the CLOSED
    * interval [lower, upper] (either bound optional), reading ONLY the
    * commit dirs whose manifest (min, max) range intersects it — the
    * manifest-granularity half of Iceberg/Delta data skipping, on top of
    * whatever footer-level row-group pruning parquet then does inside
    * the surviving dirs. Dirs without a recorded range for `colName`
    * (written before the column was declared in `statsCols`, or all-null
    * batches) are always scanned — pruning is strictly conservative, and
    * NULL rows never satisfy a range predicate, so non-null (min, max)
    * bounds stay correct for dirs that also hold nulls.
    *
    * At 100 TB this is the difference between "scan the month the query
    * asks about" and "scan every commit since table creation" on any
    * time-ordered ingest — without requiring the ingest to have declared
    * a Hive partition layout up front.
    */
  def readBetween(
      colName: String,
      lower: Option[Any],
      upper: Option[Any],
      versionAsOf: Option[Long] = None): DataFrame = {
    val (df, _, _) = readBetweenWithPruneInfo(colName, lower, upper, versionAsOf)
    df
  }

  /** [[readBetween]] plus the prune decision: (result, scanned dirs,
    * skipped dirs) — the observability hook specs and ops tooling use.
    */
  def readBetweenWithPruneInfo(
      colName: String,
      lower: Option[Any],
      upper: Option[Any],
      versionAsOf: Option[Long] = None): (DataFrame, Seq[String], Seq[String]) = {
    val (df, kept, skipped, _) = readBetweenWithFilePruneInfo(colName, lower, upper, versionAsOf)
    (df, kept, skipped)
  }

  /** [[readBetweenWithPruneInfo]] plus the file-granularity decision:
    * (result, scanned dirs, skipped dirs, (files scanned, files skipped))
    * — file counts cover only dirs carrying per-file zonemaps (written by
    * [[compactClustered]]); dirs without them are whole-dir reads.
    */
  def readBetweenWithFilePruneInfo(
      colName: String,
      lower: Option[Any],
      upper: Option[Any],
      versionAsOf: Option[Long] = None): (DataFrame, Seq[String], Seq[String], (Int, Int)) = {
    val v = versionAsOf.orElse(latestVersion()).getOrElse {
      throw new IllegalStateException(s"table at $root has no commits")
    }
    val m = readManifest(v)
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    require(schema.fieldNames.contains(colName), s"no column $colName in table $root")
    val p = zonemapPrune(m, colName, lower, upper, lowerOpen = false)
    val pruned = readSelected(m, p.entries)
    val withLower = lower.map(l => pruned.filter(col(colName) >= lit(l))).getOrElse(pruned)
    val residual = upper.map(u => withLower.filter(col(colName) <= lit(u))).getOrElse(withLower)
    (residual, p.entries.map(_._1), p.skipped, p.files)
  }

  /** The zonemap pruner of [[readBetween]] and of the table form of
    * [[incrementalFrom]]: the commit dirs of `m` that may hold a
    * `colName` value in the interval from `lower` (strict when
    * `lowerOpen`) to `upper`. See [[Pruned]].
    */
  private def zonemapPrune(
      m: Manifest,
      colName: String,
      lower: Option[Any],
      upper: Option[Any],
      lowerOpen: Boolean): Pruned = {
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val dt = schema(colName).dataType
    val lowerS = lower.map(Stats.toStringValue)
    val upperS = upper.map(Stats.toStringValue)
    // overlap test: max >= lower (max > lower when open) && min <= upper.
    // NaN anywhere (a float column whose batch max was NaN — Spark's
    // max() sorts NaN greatest — or a NaN bound) makes every IEEE
    // comparison false, which would SKIP dirs that hold valid rows:
    // treat NaN as "range unknown, must scan" instead.
    def isNaN(s: String): Boolean =
      (dt == org.apache.spark.sql.types.DoubleType ||
        dt == org.apache.spark.sql.types.FloatType) &&
        (s == "NaN" || s == "-NaN")
    def overlaps(mn: String, mx: String): Boolean =
      isNaN(mn) || isNaN(mx) || lowerS.exists(isNaN) || upperS.exists(isNaN) ||
        (lowerS.forall(l => if (lowerOpen) !Stats.geq(l, mx, dt) else Stats.geq(mx, l, dt)) &&
          upperS.forall(u => Stats.geq(u, mn, dt)))
    val entries = m.commitDirs.zip(m.effectiveScopes).zip(m.effectiveDirStats)
      .zip(m.effectiveFileStats)
      .map { case (((d, scope), ds), fs) => (d, scope, ds, fs) }
    // PRUNING THROUGH THE TRANSFORM: when the leading partition spec is
    // a time transform OF THE PROBED COLUMN (days(ts) etc.), narrow
    // each dir's scope to the `ts__day=...` subdir values covering
    // [lower, upper] — dir values are fixed-width ISO prefixes, so the
    // cover is a string-range filter and rows outside it cannot satisfy
    // the predicate (NULL time values land in the Hive default dir,
    // which sorts past every ISO value and is correctly excluded
    // whenever an upper bound exists; NULL never matches a range
    // anyway). A dir whose cover is empty is skipped whole; a dir with
    // no Hive layout info scans conservatively. An unmappable bound
    // type simply contributes no constraint.
    val timeNarrow: Option[(Option[String], Option[String], String)] =
      m.partitionBy.headOption
        .map(PartitionSpec.parse)
        .collect {
          // case-insensitive like requireNotPartitionSource and the
          // schema lookups: readBetween("TS") on a days(ts) layout must
          // not silently lose dir-level pruning (correct, full scan)
          case t: TimePart if t.source.equalsIgnoreCase(colName) =>
            // bounds map in UTC unconditionally — the layout zone is
            // pinned at write (PartitionSpec.requireUtcSession), so a
            // non-UTC reading session still selects the right subdirs
            (lower.flatMap(b => PartitionSpec.timeDirValue(t, b)),
              upper.flatMap(b => PartitionSpec.timeDirValue(t, b)),
              t.dirCol)
        }
        .filter { case (lo, hi, _) => lo.nonEmpty || hi.nonEmpty }
    val narrowed = entries.map { case (d, scope, ds, fs) =>
      timeNarrow match {
        case None => (d, Some(scope), ds, fs)
        case Some((lo, hi, dirCol)) =>
          // cover ONLY subdirs laid out under the CURRENT transform's
          // dir column: a dir written under an older layout (identity
          // or a different transform — layouts may legally change
          // mid-history) has no `dirCol=` subdirs, and string-ranging
          // its unrelated values (region names vs ISO dates) would
          // prune live rows — such dirs scan conservatively instead
          val matching = listPartitionEntries(d)
            .collect { case (c, v) if c == dirCol => v }
          if (matching.isEmpty) (d, Some(scope), ds, fs)
          else {
            val base = if (scope.nonEmpty) matching.filter(scope.contains) else matching
            val cover = base.filter(v => lo.forall(v >= _) && hi.forall(v <= _))
            (d, if (cover.isEmpty) None else Some(cover), ds, fs)
          }
      }
    }
    val (liveDirs, dirPruned) = narrowed.partition(_._2.nonEmpty)
    val (kept, skippedZone) = liveDirs
      .map { case (d, so, ds, fs) => (d, so.get, ds, fs) }
      .partition { case (_, _, stats, _) =>
        stats.get(colName) match {
          case Some((mn, mx)) => overlaps(mn, mx)
          case None => true // no range recorded — must scan
        }
      }
    val skipped = skippedZone.map(_._1) ++ dirPruned.map(_._1)
    // file-granularity pass over the surviving dirs: a dir's file map
    // enumerates every parquet file written to it (dirs are immutable),
    // so selecting from the map is a complete, conservative refinement.
    var scannedFiles = 0
    var skippedFiles = 0
    val refined = kept.map { case (d, scope, _, fs) =>
      if (fs.isEmpty) (d, scope, None: Option[Seq[String]])
      else {
        val inScope =
          if (scope.isEmpty) fs
          else {
            val p0 = PartitionSpec.parse(m.partitionBy.head).dirCol
            fs.filter { case (rel, _) => scope.exists(s => rel.startsWith(s"$p0=$s/")) }
          }
        val surviving = inScope.filter { case (_, cols) =>
          cols.get(colName) match {
            case Some((mn, mx)) => overlaps(mn, mx)
            case None => true // all-null or unrecorded column — must scan
          }
        }
        scannedFiles += surviving.size
        skippedFiles += inScope.size - surviving.size
        (d, scope, Some(surviving.keys.toSeq.sorted))
      }
    }
    Pruned(refined, kept.map(_._3.get(colName)), skipped, (scannedFiles, skippedFiles))
  }

  /** Snapshot history (the reference queries `table.snapshots` —
    * /root/reference/experiments/trino_iceberg_example.sql:40).
    */
  def snapshots(): DataFrame = {
    import spark.implicits._
    listVersions()
      .map(p => readManifest(versionOf(p)))
      .map(m => (m.version, new java.sql.Timestamp(m.timestampMs), m.operation, m.commitDirs.size))
      .toDF("version", "committed_at", "operation", "num_commit_dirs")
  }

  /** Live data files of the current (or pinned) snapshot with size and
    * partition subpath — the `table$files` ops surface (what Iceberg's
    * files metadata table gives you): input to compaction decisions,
    * small-file monitoring, and storage accounting.
    */
  def files(versionAsOf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val v = versionAsOf.orElse(latestVersion()).getOrElse {
      throw new IllegalStateException(s"table at $root has no commits")
    }
    val m = readManifest(v)
    val rows = m.commitDirs.zip(m.effectiveScopes).flatMap { case (d, scope) =>
      val base = dataDir.resolve(d)
      if (!Files.isDirectory(base)) Seq.empty
      else {
        // single traversal: the visitor receives each file's attributes
        // (incl. size) during the walk — no second stat per file
        val p0 = m.partitionBy.headOption.map(s => PartitionSpec.parse(s).dirCol)
        val acc = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        Files.walkFileTree(
          base,
          new java.nio.file.SimpleFileVisitor[Path] {
            override def visitFile(
                p: Path,
                attrs: java.nio.file.attribute.BasicFileAttributes): java.nio.file.FileVisitResult = {
              if (attrs.isRegularFile && p.getFileName.toString.endsWith(".parquet")) {
                val rel = base.relativize(p).toString
                if (scope.isEmpty || p0.forall(c => scope.exists(s => rel.startsWith(s"$c=$s/"))))
                  acc += ((d, rel, attrs.size()))
              }
              java.nio.file.FileVisitResult.CONTINUE
            }
          })
        acc.toSeq
      }
    }
    rows.toDF("commit_dir", "relative_path", "size_bytes")
  }

  /** Row-level DELETE via a deletion vector (Delta DVs / Iceberg
    * position deletes): instead of rewriting every commit dir that holds
    * a matching row, write a tiny sidecar of (table-relative file, row
    * index) keys and mask them at read time with one left-anti hash join.
    * At 100 TB this is the difference between "delete 100 rows" costing
    * a 100-row sidecar write and costing a multi-TB rewrite of every
    * touched file. Reads pay one small-side hash join until the next
    * rewrite (compact/overwrite) MATERIALIZES the deletes — those read
    * the DV-masked snapshot and clear `dvFiles`, exactly like Delta's
    * `OPTIMIZE` rewriting DV'd files. Returns the new version; a
    * predicate matching nothing is a no-op returning the current
    * version.
    */
  def deleteWhereDV(condition: org.apache.spark.sql.Column): Long = {
    val v = latestVersion().getOrElse {
      throw new IllegalStateException(s"deleteWhereDV on empty table $root")
    }
    val m = readManifest(v)
    writeDvSidecar(m, condition) match {
      case None => v
      case Some(name) =>
        val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
        commit("delete-dv", Seq.empty, keepExisting = true, schema, m.partitionBy,
          m.colMax, Seq.empty, newDvFiles = Seq(name))
    }
  }

  /** Write (but do NOT commit) a deletion-vector sidecar for the rows
    * of snapshot `m` matching `condition`; None when nothing matches.
    * The sidecar is invisible until a manifest commit references it —
    * which lets [[deleteWhereDV]] and [[updateWhere]] share it while
    * updateWhere bundles the DV and the rewritten rows into ONE atomic
    * commit (a crash in between leaves only an unreferenced file for
    * [[sweepOrphans]]).
    */
  private def writeDvSidecar(
      m: Manifest,
      condition: org.apache.spark.sql.Column): Option[String] = {
    val hits = readSelected(
      m, m.commitDirs.zip(m.effectiveScopes).map { case (d, s) => (d, s, None) },
      keepRowMeta = true)
      .filter(coalesce(condition, lit(false)))
      .select(col("__dv_file").as("file_rel"), col("__dv_idx").as("row_idx"))
    if (hits.isEmpty) return None
    // table-relative invariant: a DV key carrying a URI scheme means
    // stripDataDirPrefix missed (file_path renderer drift) — fail the
    // delete loudly rather than persist keys that break on table move
    val badKey = hits
      .filter(col("file_rel").rlike("^[A-Za-z][A-Za-z0-9+.-]*:/"))
      .select("file_rel").head(1)
    require(badKey.isEmpty,
      s"deletion-vector key is not table-relative: '${badKey.headOption.map(_.getString(0)).getOrElse("")}'" +
        s" (data dir $dataDir) — _metadata.file_path rendering changed?")
    val name = s"dv-${UUID.randomUUID()}.parquet"
    Files.createDirectories(dvDir)
    // no coalesce(1): each scan task writes its own hit shard (empty
    // tasks emit no file), so a mass delete's 10^9 hits never serialize
    // through one writer; the read side already opens the sidecar as a
    // directory, selective deletes still land a single small file
    hits.write.mode("overwrite").parquet(dvDir.resolve(name).toString)
    Some(name)
  }

  /** Row-level UPDATE, merge-on-read: ONE atomic commit that (a) masks
    * the matching rows' original copies with a deletion-vector sidecar
    * and (b) adds a commit dir holding their updated copies — Iceberg
    * position-delete + data-file semantics. Cost scales with rows
    * MATCHED, not table size: the old copy-on-write route (CASE
    * projection + [[overwrite]]) rewrites every byte of a 100 TB table
    * to change one row; this writes one sidecar and one small dir. The
    * next rewrite (compact/overwrite) materializes the DVs as usual.
    *
    * `assignments` map column name → new-value Column, evaluated
    * against the OLD row (so `price -> col("price") * 2` works) and
    * cast to the declared column type (store-assignment semantics,
    * matching `GraftUpdateCommand`). Unknown columns are rejected.
    * Returns the current version unchanged when nothing matches.
    */
  def updateWhere(
      condition: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Long = {
    val v = latestVersion().getOrElse {
      throw new IllegalStateException(s"updateWhere on empty table $root")
    }
    val m = readManifest(v)
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    assignments.keys.foreach { c =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"UPDATE assigns unknown column $c (table has ${schema.fieldNames.mkString(", ")})")
    }
    // updated copies of the matching rows, declared column order kept;
    // assignment values see the pre-update row
    val updated = read().filter(coalesce(condition, lit(false))).select(
      schema.fields.map { f =>
        assignments.collectFirst {
          case (n, c0) if n.equalsIgnoreCase(f.name) => c0.cast(f.dataType).as(f.name)
        }.getOrElse(col(f.name))
      }.toSeq: _*)
    writeDvSidecar(m, condition) match {
      case None => v
      case Some(dv) =>
        // the sidecar is unreferenced until the commit below lands — on
        // ANY failure after it is written (constraint violation in
        // writeCommitDir, version conflict) delete it instead of leaving
        // an orphan that only a sweepOrphans pass would reclaim
        try {
          val (dirOpt, batchStats) = writeCommitDir(
            updated, m.partitionBy, m.colMax.keys.toSeq, constraints = m.constraints,
            colMapping = m.colMapping)
          commit("update", dirOpt.toSeq, keepExisting = true, schema, m.partitionBy,
            batchStats.map { case (c, (_, mx)) => c -> mx },
            dirOpt.toSeq.map(_ => batchStats), newDvFiles = Seq(dv))
        } catch {
          case t: Throwable =>
            deleteRecursively(dvDir.resolve(dv))
            throw t
        }
    }
  }

  /** Compaction: rewrite the current snapshot as one commit dir (an
    * `overwrite` of the table with itself). Append-heavy histories
    * accumulate commit dirs, each a separate partition-root read —
    * compaction restores O(1) read planning; history stays time-travel
    * readable (old manifests keep their dirs).
    */
  def compact(): Long = {
    val prev = latestVersion().map(readManifest)
    overwrite(read(), prev.map(_.partitionBy).getOrElse(Seq.empty))
  }

  /** Compaction policy: compact when the live snapshot has accumulated
    * more than `maxCommitDirs` commit dirs (append/merge churn). Returns
    * the new version when compaction ran. Call after ingest batches —
    * the object-store small-file policy, driven off the manifest (no
    * listing).
    */
  def compactIfNeeded(maxCommitDirs: Int = 16): Option[Long] = {
    val dirs = latestVersion().map(readManifest(_).commitDirs.size).getOrElse(0)
    if (dirs > maxCommitDirs) Some(compact()) else None
  }

  /** Clustered compaction (Delta `OPTIMIZE ... ZORDER BY (c)` / Iceberg
    * sort-order rewrite, 1-D): rewrite the snapshot range-clustered on
    * `clusterCol` and record a per-FILE (min, max) zonemap in the
    * manifest. A plain [[compact]] collapses the table into one commit
    * dir and with it every dir-level zonemap — range queries degrade to
    * full scans. Here `repartitionByRange` gives each of the
    * `numFiles` output tasks a tight, near-disjoint key range, so
    * [[readBetween]] afterwards prunes at file granularity: a window
    * query on a compacted 100 TB ingest opens the handful of files whose
    * range intersects, not the whole rewrite.
    *
    * Cost model: ONE shuffle write job (the range exchange is the
    * rewrite's data movement) plus one column-pruned stats pass over the
    * fresh files restricted to `clusterCol` and the table's declared
    * stats columns — parquet column pruning makes that a ~1-column read
    * of the new data, the same order as the footer-stats pass Iceberg's
    * rewrite does. History stays time-travel readable.
    */
  def compactClustered(clusterCol: String, numFiles: Int = 32): Long = {
    val df0 = read()
    require(df0.columns.contains(clusterCol), s"no column $clusterCol in table $root")
    compactClusteredBy(col(clusterCol), Seq(clusterCol), numFiles)
  }

  /** [[compactClustered]] on an arbitrary clustering key expression —
    * e.g. [[graft.functions.ZOrder.zorderKey]] over two dimensions, so
    * the per-file zonemaps come out tight on BOTH columns and a range
    * query on either one prunes files. `statsCols` names the columns to
    * record per-file (min, max) for (the table's declared watermark
    * columns are always included).
    */
  def compactClusteredBy(
      key: org.apache.spark.sql.Column,
      statsCols: Seq[String],
      numFiles: Int = 32): Long = {
    require(numFiles >= 1, "numFiles must be >= 1")
    val prev = latestVersion()
      .map(readManifest)
      .getOrElse(throw new IllegalStateException(s"compactClustered on empty table $root"))
    val df = read()
    val declared = (prev.colMax.keys.toSeq ++ statsCols).distinct
    declared.filter(df.columns.contains)
      .foreach(c => Stats.requireSupported(df.schema(c).dataType, c))
    compactClusteredImpl(prev, df, key, declared, numFiles)
  }

  private def compactClusteredImpl(
      prev: Manifest,
      df: DataFrame,
      key: org.apache.spark.sql.Column,
      statsCols: Seq[String],
      numFiles: Int): Long = {

    val commitName = s"commit-${UUID.randomUUID()}"
    val dest = dataDir.resolve(commitName)
    // same write-side transform as writeCommitDir (shared helper: dir
    // derivation incl. collision requires + logical→physical rename) —
    // range-partition FIRST while names are still LOGICAL (`key`
    // references the declared schema); the helper's rename is a
    // projection, so the range partitioning survives it
    val pspecs = prev.partitionBy.map(PartitionSpec.parse)
    val physDf = deriveDirColsAndProjectPhysical(
      df.repartitionByRange(numFiles, key), pspecs, prev.colMapping)
    val writer = physDf.write.mode("overwrite")
    val w = if (pspecs.nonEmpty) writer.partitionBy(pspecs.map(_.dirCol): _*) else writer
    w.parquet(dest.toString)

    // one pass over the fresh files, pruned to the stats columns: per-file
    // (min, max) plus the dir-level fold and the table colMax all come out
    // of the same job. The files carry physical names; stats stay keyed
    // by LOGICAL name (the readBetween probe key).
    def physOf(c: String): String = prev.colMapping.getOrElse(c, c)
    val written = spark.read.option("basePath", dest.toString).schema(physDf.schema)
      .parquet(dest.toString)
    val present = statsCols.filter(c => written.columns.contains(physOf(c)))
    val destAbs = dest.toAbsolutePath
    val fileRows: Array[org.apache.spark.sql.Row] =
      if (present.isEmpty) Array.empty
      else {
        val aggs = present.flatMap(c =>
          Seq(min(col(physOf(c))).as(s"__mn_$c"), max(col(physOf(c))).as(s"__mx_$c")))
        written
          .select((input_file_name().as("__file") +: present.map(c => col(physOf(c)))): _*)
          .groupBy(col("__file"))
          .agg(aggs.head, aggs.tail: _*)
          .collect() // bounded: one row per output file (~numFiles · partitions)
      }
    val types = present.map(c => c -> written.schema(physOf(c)).dataType).toMap
    val fileStatsMap: Map[String, Map[String, (String, String)]] = fileRows.map { r =>
      val raw = r.getString(0)
      val abs = Paths.get(new java.net.URI(raw).getPath).toAbsolutePath
      val rel = destAbs.relativize(abs).toString
      val cols = present.flatMap { c =>
        val mn = Option(r.get(r.fieldIndex(s"__mn_$c")))
        val mx = Option(r.get(r.fieldIndex(s"__mx_$c")))
        mn.zip(mx).map { case (a, b) => c -> ((Stats.toStringValue(a), Stats.toStringValue(b))) }
      }.toMap
      rel -> cols
    }.toMap
    val dirStatsMap: Map[String, (String, String)] = present.flatMap { c =>
      val ranges = fileStatsMap.values.flatMap(_.get(c)).toSeq
      if (ranges.isEmpty) None
      else {
        val dt = types(c)
        val mn = ranges.map(_._1).reduce((a, b) => if (Stats.geq(b, a, dt)) a else b)
        val mx = ranges.map(_._2).reduce((a, b) => if (Stats.geq(a, b, dt)) a else b)
        Some(c -> ((mn, mx)))
      }
    }.toMap
    val newColMax = dirStatsMap.collect {
      case (c, (_, mx)) if prev.colMax.contains(c) => c -> mx
    }

    val version = prev.version + 1
    writeManifest(
      Manifest(
        version, "compactClustered", System.currentTimeMillis(), Seq(commitName),
        df.schema.json, prev.partitionBy, Seq(Seq.empty), newColMax,
        Seq(dirStatsMap), Seq(fileStatsMap), txns = prev.txns,
        constraints = prev.constraints,
        colMapping = prev.colMapping, droppedCols = prev.droppedCols))
    version
  }

  /** Expire old snapshots (Iceberg `expire_snapshots` / Delta VACUUM):
    * drop manifests older than the latest `keepLast` versions and
    * delete data dirs no newer manifest references. Bounds storage
    * growth from append/merge churn; time travel remains available for
    * the kept versions only. Returns the number of commit dirs deleted.
    */
  /** RESTORE the table to a historical snapshot (Delta `RESTORE TABLE
    * ... TO VERSION AS OF` / Iceberg rollback): publishes a NEW version
    * whose content references the target snapshot's commit dirs — a
    * manifest-only operation, zero data copied, history preserved (the
    * rolled-back versions remain time-travelable until expired).
    * Bookkeeping choices, documented because they are semantic:
    *
    *   - idempotent-writer registry (`txns`) keeps the TIP's view
    *     (merged max with the target's): a streaming writer replaying a
    *     batch that committed before the restore stays a no-op —
    *     restore rewinds DATA, not the exactly-once ledger;
    *   - the incremental high-watermark (`colMax`) reverts to the
    *     TARGET's: rows rolled away are no longer "seen", so a
    *     downstream incremental consumer re-ingests them if they land
    *     again — the choice that keeps silver→gold pipelines complete.
    *
    * Fails loudly if the target version was expired. Races surface as
    * [[VersionConflictException]] like every snapshot op.
    */
  def restore(version: Long): Long = {
    val target = readManifest(version) // throws if expired/absent
    val tipV = latestVersion().getOrElse(
      throw new IllegalStateException(s"table at $root has no commits"))
    val tip = readManifest(tipV)
    val txns = (tip.txns.keySet ++ target.txns.keySet).map { k =>
      k -> math.max(tip.txns.getOrElse(k, Long.MinValue), target.txns.getOrElse(k, Long.MinValue))
    }.toMap
    val m = target.copy(
      version = tipV + 1,
      operation = s"restore(v$version)",
      timestampMs = System.currentTimeMillis(),
      txns = txns)
    writeManifest(m)
    m.version
  }

  // ---- snapshot tags (Iceberg refs) ---------------------------------------

  private def tagsDir: Path = logDir.resolve("tags")

  /** Name a snapshot (Iceberg tag): a durable pointer that survives
    * table growth and — because [[expireSnapshots]] protects tagged
    * versions — retention. Creation is atomic-exclusive; an existing
    * tag must be deleted first (tags are immutable pointers, not
    * branches).
    */
  def createTag(name: String, version: Option[Long] = None): Long = {
    require(name.matches("[A-Za-z0-9._-]{1,64}"), s"unsafe tag name: $name")
    val v = version.orElse(latestVersion()).getOrElse(
      throw new IllegalStateException(s"table at $root has no commits"))
    readManifest(v) // tag must point at a live snapshot
    Files.createDirectories(tagsDir)
    try Files.write(
      tagsDir.resolve(name),
      v.toString.getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(s"tag $name already exists on $root")
    }
    v
  }

  def listTags(): Seq[(String, Long)] = {
    if (!Files.isDirectory(tagsDir)) return Seq.empty
    val s = Files.list(tagsDir)
    try s.iterator().asScala.toSeq
      .filter(Files.isRegularFile(_))
      .map(p => p.getFileName.toString ->
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong)
      .sortBy(_._1)
    finally s.close()
  }

  def deleteTag(name: String): Boolean =
    Files.deleteIfExists(tagsDir.resolve(name))

  /** Read the snapshot a tag names. */
  def readTag(name: String): DataFrame = {
    val v = listTags().collectFirst { case (n, ver) if n == name => ver }
      .getOrElse(throw new IllegalStateException(s"no tag $name on $root"))
    read(versionAsOf = Some(v))
  }

  def expireSnapshots(keepLast: Int = 1): Int = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    val versions = listVersions()
    if (versions.length <= keepLast) return 0
    // tagged snapshots are pinned: retention never expires a named ref
    val tagged = listTags().map(_._2).toSet
    val (candidates, keptTail) = versions.splitAt(versions.length - keepLast)
    val (pinned, expired) = candidates.partition(p => tagged.contains(versionOf(p)))
    val kept = pinned ++ keptTail
    if (expired.isEmpty) return 0
    val keptManifests = kept.map(p => readManifest(versionOf(p)))
    val liveDirs = keptManifests.flatMap(_.commitDirs).toSet
    val deadDirs = expired
      .flatMap(p => readManifest(versionOf(p)).commitDirs)
      .toSet
      .diff(liveDirs)
    // deletion-vector sidecars referenced only by expired manifests die
    // with them (same liveness rule as data dirs)
    val liveDvs = keptManifests.flatMap(_.dvFiles).toSet
    val deadDvs = expired
      .flatMap(p => readManifest(versionOf(p)).dvFiles)
      .toSet
      .diff(liveDvs)
    // Manifests first, then the newly-unreferenced data dirs: a crash in
    // between leaves harmless orphan dirs, never an expired manifest
    // pointing at deleted data (which would make versionAsOf on that
    // version silently return partial results instead of failing).
    expired.foreach(Files.deleteIfExists(_))
    deadDirs.foreach(deleteDataDir)
    deadDvs.foreach { f =>
      val p = dvDir.resolve(f)
      if (Files.isDirectory(p)) {
        val walk = Files.walk(p)
        try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        finally walk.close()
      } else Files.deleteIfExists(p)
    }
    deadDirs.size
  }

  private def deleteDataDir(d: String): Unit = deleteRecursively(dataDir.resolve(d))

  private def deleteRecursively(dir: java.nio.file.Path): Unit = {
    if (Files.isDirectory(dir)) {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    } else Files.deleteIfExists(dir)
  }

  /** Reclaim orphan commit dirs: data dirs referenced by NO existing
    * manifest. Two ways they arise — a crash between expireSnapshots'
    * manifest delete and data delete (deadDirs is derived from manifests
    * that still exist, so a later expire can never find them), and a
    * crash between writeCommitDir and its manifest commit. `graceMs`
    * protects the second case's in-flight twin: a dir younger than the
    * grace window may belong to a commit that simply hasn't published
    * its manifest yet (Iceberg's remove_orphan_files has the same
    * age guard). Returns the dirs deleted.
    */
  def sweepOrphans(graceMs: Long = 24L * 3600 * 1000): Seq[String] = {
    if (!Files.isDirectory(dataDir)) return Seq.empty
    val live = listVersions().flatMap(p => readManifest(versionOf(p)).commitDirs).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val listing = Files.list(dataDir)
    val orphans =
      try listing
        .iterator()
        .asScala
        .filter(p => Files.isDirectory(p))
        .filter(p => !live.contains(p.getFileName.toString))
        .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
        .map(_.getFileName.toString)
        .toSeq
        .sorted
      finally listing.close()
    orphans.foreach(deleteDataDir)
    orphans
  }

  /** Commit-granularity delta read: the rows ADDED between manifest
    * version `sinceVersion` and the current snapshot, provided the
    * history in between was strictly additive. Returns
    * `(currentVersion, Some(deltaFrame))` when every commit dir (and its
    * partition scope) from the old snapshot survives unchanged in the
    * new one — then the delta is exactly the new dirs, read directly,
    * without touching any pre-existing data file. Returns `None` for the
    * delta when the diff is not provably additive (overwrite/merge
    * rewrote dirs, a partition-scoped replace narrowed a scope, or the
    * old manifest was expired) — callers must fall back to a full read.
    *
    * This is what makes incremental view maintenance O(new data): a
    * nightly gold refresh over an append-only 100 TB bronze reads the
    * day's commits, not the table.
    */
  def readAddedSince(sinceVersion: Option[Long]): (Long, Option[DataFrame]) = {
    val cur = latestVersion().getOrElse {
      throw new IllegalStateException(s"table at $root has no commits")
    }
    val m = readManifest(cur)
    sinceVersion match {
      case None => (cur, None)
      case Some(v) if v == cur =>
        (cur, Some(readEntries(m, Seq.empty))) // nothing new: empty frame
      case Some(v) =>
        val oldOpt =
          try Some(readManifest(v))
          catch { case scala.util.control.NonFatal(_) => None } // expired manifest
        (cur, oldOpt.flatMap(addedSince(_, m)).map(readEntries(m, _)))
    }
  }

  /** Change data feed between two snapshots (Delta CDF / Iceberg
    * changelog): every row added or removed from `fromVersion` to
    * `toVersion`, tagged `_change_type` = `insert` | `delete` (an update
    * appears as its delete+insert pair, CDF-style). Two cost regimes:
    *
    *   - additive history (appends only): the feed is exactly the added
    *     commit dirs, read directly — O(changed data), no diff
    *   - rewrites in between (overwrite/merge/replace): an exact
    *     multiset `EXCEPT ALL` diff of the two snapshots — O(both
    *     snapshots); correct always, and the regime a caller opts into
    *     by rewriting instead of appending
    *
    * Multiset semantics matter: a merge that collapses duplicate rows
    * must surface the lost copies as deletes, which a set-based EXCEPT
    * would miss.
    */
  def changes(fromVersion: Long, toVersion: Option[Long] = None): DataFrame = {
    val to = toVersion.orElse(latestVersion()).getOrElse {
      throw new IllegalStateException(s"table at $root has no commits")
    }
    require(fromVersion <= to, s"changes($fromVersion, $to): from > to")
    val cur = readManifest(to)
    val old = readManifest(fromVersion)
    addedSince(old, cur) match {
      case Some(added) => readEntries(cur, added).withColumn("_change_type", lit("insert"))
      case None =>
        // the per-version reads apply each side's own deletion vectors
        val before = readAt(old)
        val after = readAt(cur)
        after.exceptAll(before).withColumn("_change_type", lit("insert"))
          .unionByName(before.exceptAll(after).withColumn("_change_type", lit("delete")))
    }
  }

  /** The commit dirs (with their scopes) `cur` holds beyond `old`, when
    * the range between them only added rows: None when it dropped or
    * re-scoped a dir `old` held, or changed the deletion-vector list
    * (deletion vectors remove rows from kept dirs without touching
    * `commitDirs`).
    */
  private def addedSince(old: Manifest, cur: Manifest): Option[Seq[(String, Seq[String])]] = {
    val curScopes = cur.commitDirs.zip(cur.effectiveScopes).toMap
    val additive = old.dvFiles == cur.dvFiles &&
      old.commitDirs.zip(old.effectiveScopes).forall { case (d, s) =>
        curScopes.get(d).contains(s)
      }
    if (!additive) None
    else {
      val oldDirs = old.commitDirs.toSet
      Some(cur.commitDirs.zip(cur.effectiveScopes).filterNot(e => oldDirs.contains(e._1)))
    }
  }

  /** High-watermark incremental scan (S5/S6 —
    * /root/reference/src/silver/_silver_utils.py:35-49): full source when
    * this table is empty, else strictly-greater-than the max of `tsCol`
    * already landed here. The strict `>` (not `>=`) is a documented
    * reference behavior (SURVEY §7.5.5). The comparison is a literal,
    * so it pushes down to the source's scan.
    */
  def incrementalFrom(source: DataFrame, tsCol: String): DataFrame =
    watermark(tsCol).fold(source) { case (hwm, _) => after(source, tsCol, hwm) }

  /** [[incrementalFrom]] over a lake table: the same rows as
    * `incrementalFrom(source.read(), tsCol)`, read from only the
    * source's commit dirs that can hold one, by the manifest's
    * per-dir `tsCol` ranges (the source declares `tsCol` in
    * `statsCols`), the way Iceberg and Delta plan an incremental read:
    *   - a dir whose recorded max is at or below the watermark is
    *     skipped; a dir with no recorded range is read;
    *   - if a read dir may hold a row at or below the watermark (its min
    *     is, or it has no range), the rows are filtered by the literal
    *     `tsCol > watermark`, as in the DataFrame form;
    *   - otherwise every non-null row qualifies, so the filter is
    *     `tsCol IS NOT NULL`: the same rows (stats ignore NULLs, and
    *     `>` drops them) from a predicate that is the same every run, so
    *     the run's plan reuses the last run's compiled classes.
    * The source's column must have the watermark's type for its ranges
    * to be compared; else every dir is read, under the literal filter.
    */
  def incrementalFrom(source: LakeTable, tsCol: String): DataFrame = {
    val m = source.tip().getOrElse {
      throw new IllegalStateException(s"table at ${source.root} has no commits")
    }
    watermark(tsCol) match {
      case None => source.readAt(m)
      case Some((hwm, dt)) =>
        val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
        if (!schema.fields.exists(f => f.name == tsCol && f.dataType == dt))
          after(source.readAt(m), tsCol, hwm)
        else {
          val p = source.zonemapPrune(m, tsCol, Some(hwm), None, lowerOpen = true)
          val hwmS = Stats.toStringValue(hwm)
          val pruned = source.readSelected(m, p.entries)
          val straddles = p.ranges.exists(_.forall { case (mn, _) => Stats.geq(hwmS, mn, dt) })
          if (straddles) after(pruned, tsCol, hwm) else pruned.filter(col(tsCol).isNotNull)
        }
    }
  }

  /** `df`'s rows with `tsCol` strictly above `hwm`, by a literal. */
  private def after(df: DataFrame, tsCol: String, hwm: Any): DataFrame =
    df.filter(col(tsCol) > lit(hwm))

  /** This table's high watermark on `tsCol` and its type, from one read
    * of the tip: the manifest's running max when `statsCols` declared
    * the column (no data file read), else an aggregation over the
    * table. None when the table holds no commit dir or no non-null
    * value.
    */
  private def watermark(tsCol: String): Option[(Any, DataType)] =
    liveTip().flatMap { m =>
      m.colMax.get(tsCol) match {
        case Some(s) =>
          val dt = DataType.fromJson(m.schemaJson).asInstanceOf[StructType](tsCol).dataType
          Some((Stats.fromStringValue(s, dt), dt))
        case None =>
          val agg = readAt(m).agg(max(col(tsCol)))
          val row = agg.head()
          if (row.isNullAt(0)) None else Some((row.get(0), agg.schema.head.dataType))
      }
    }
}

/** A concurrent writer claimed this manifest version first (the CAS in
  * [[LakeTable.writeManifest]] lost the race). Appends auto-retry on
  * it; snapshot-based ops surface it to the caller.
  */
final class VersionConflictException(version: Long, path: String)
  extends IllegalStateException(
    s"concurrent write detected: version $version already exists at $path")

/** An append's schema violates the table's write-time contract (type
  * change, or any drift under `strict` mode) — see
  * `LakeTable.mergeSchemas`.
  */
final class SchemaDriftException(msg: String) extends IllegalArgumentException(msg)

object LakeTable {
  def apply(spark: SparkSession, root: String): LakeTable = new LakeTable(spark, root)

  /** Whether `root` holds a lake table: its log lists a manifest. The
    * one test the SQL catalog, its procedures and [[LakeTable.exists]]
    * share, so a directory whose log holds no manifest is no table to
    * any of them.
    */
  def isTable(root: Path): Boolean = manifestFiles(logDirOf(root)).nonEmpty

  private def logDirOf(root: Path): Path = root.resolve("_graft_log")

  private def versionOf(p: Path): Long =
    p.getFileName.toString.stripPrefix("v").stripSuffix(".json").toLong

  /** The manifest files in `logDir`, by ascending version. */
  private def manifestFiles(logDir: Path): Seq[Path] =
    if (!Files.isDirectory(logDir)) Seq.empty
    else {
      val s = Files.list(logDir)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.matches("v\\d+\\.json"))
        .toSeq
        .sortBy(versionOf)
      finally s.close()
    }

  /** The batch flag `append(skipIfEmpty = true)` adds: every row counts. */
  private val AppendFlag = "__graft_append_row"

  /** A deletion-vector sidecar's rows: a data file, relative to the
    * data dir, and the index of a deleted row in it.
    */
  private val DvSchema = StructType(Seq(
    StructField("file_rel", StringType), StructField("row_idx", LongType)))

  /** Parquet bloom-filter write options for point-lookup columns —
    * pass to `append(writeOptions = ...)`. Each column gets a split-
    * block bloom filter sized for `ndv` expected distinct values in its
    * row groups; on read, Spark's parquet reader (filterPushdown on by
    * default) uses it to skip whole row groups on equality/IN probes
    * that cannot match — the 100 TB needle-in-haystack scan killer that
    * min/max zonemaps can't provide on high-cardinality unsorted keys.
    * Write amplification is ~1.2 MB per column per row group at
    * ndv=1e6 (parquet sizes the bitset from ndv and its default FPP).
    */
  def bloomFilterOptions(cols: Seq[String], ndv: Long = 1000000L): Map[String, String] =
    cols.flatMap { c =>
      Seq(
        s"parquet.bloom.filter.enabled#$c" -> "true",
        s"parquet.bloom.filter.expected.ndv#$c" -> ndv.toString)
    }.toMap

  /** What [[LakeTable.zonemapPrune]] keeps: the read entries (dir,
    * partition scope, file selection with `None` = the whole dir), each
    * kept dir's recorded (min, max) of the probed column (`None` = no
    * range), the skipped dirs, and (files scanned, files skipped) over
    * the dirs that carry per-file ranges.
    */
  private final case class Pruned(
      entries: Seq[(String, Seq[String], Option[Seq[String]])],
      ranges: Seq[Option[(String, String)]],
      skipped: Seq[String],
      files: (Int, Int))

  /** One manifest = one table version. Hand-rolled JSON (no external
    * deps); schema is Spark's own StructType.json.
    */
  final case class Manifest(
      version: Long,
      operation: String,
      timestampMs: Long,
      commitDirs: Seq[String],
      schemaJson: String,
      partitionBy: Seq[String],
      scopes: Seq[Seq[String]] = Seq.empty,
      colMax: Map[String, String] = Map.empty,
      dirStats: Seq[Map[String, (String, String)]] = Seq.empty,
      fileStats: Seq[Map[String, Map[String, (String, String)]]] = Seq.empty,
      dvFiles: Seq[String] = Seq.empty,
      txns: Map[String, Long] = Map.empty,
      constraints: Map[String, String] = Map.empty,
      // column mapping (Delta name-mapping / Iceberg field-ID shape):
      // logical column → PHYSICAL parquet column name. Absent = same.
      // Renames/drops are manifest-only; files are immutable and read
      // by physical name forever.
      colMapping: Map[String, String] = Map.empty,
      // physical names of dropped columns: still present in old files,
      // never resurfaced — a later ADD COLUMN of the same name gets a
      // fresh physical name instead
      droppedCols: Seq[String] = Seq.empty) {

    /** Per-dir partition scope (leading partition column values); empty
      * seq = whole dir. Normalized to commitDirs length.
      */
    def effectiveScopes: Seq[Seq[String]] =
      if (scopes.length == commitDirs.length) scopes
      else commitDirs.map(_ => Seq.empty[String])

    /** Per-dir column (min, max) ranges for the declared stats columns —
      * the zonemap that lets a range scan skip whole commit dirs. Empty
      * map = no stats recorded for that dir (always scanned). Normalized
      * to commitDirs length, so manifests written before this field
      * simply prune nothing.
      */
    def effectiveDirStats: Seq[Map[String, (String, String)]] =
      if (dirStats.length == commitDirs.length) dirStats
      else commitDirs.map(_ => Map.empty[String, (String, String)])

    /** Per-dir, per-FILE column ranges (relative path → col → (min, max))
      * — file-granularity zonemaps written by clustered compaction, where
      * `repartitionByRange` makes each task's output file cover a tight,
      * near-disjoint range. Empty map = no file stats for that dir (dir-
      * level pruning only). Normalized to commitDirs length.
      */
    def effectiveFileStats: Seq[Map[String, Map[String, (String, String)]]] =
      if (fileStats.length == commitDirs.length) fileStats
      else commitDirs.map(_ => Map.empty[String, Map[String, (String, String)]])

    def toJson: String = {
      def qs(s: String) = "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      val scopesJson = effectiveScopes
        .map(sc => sc.map(qs).mkString("[", ",", "]"))
        .mkString("[", ",", "]")
      val colMaxJson = colMax.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${qs(k)}:${qs(v)}" }
        .mkString("{", ",", "}")
      val dirStatsJson = effectiveDirStats
        .map(m => m.toSeq.sortBy(_._1)
          .map { case (c, (mn, mx)) => s"${qs(c)}:[${qs(mn)},${qs(mx)}]" }
          .mkString("{", ",", "}"))
        .mkString("[", ",", "]")
      val fileStatsJson = effectiveFileStats
        .map(byFile => byFile.toSeq.sortBy(_._1)
          .map { case (f, cols) =>
            s"${qs(f)}:" + cols.toSeq.sortBy(_._1)
              .map { case (c, (mn, mx)) => s"${qs(c)}:[${qs(mn)},${qs(mx)}]" }
              .mkString("{", ",", "}")
          }
          .mkString("{", ",", "}"))
        .mkString("[", ",", "]")
      s"""{"version":$version,"operation":${qs(operation)},"timestampMs":$timestampMs,""" +
        s""""commitDirs":[${commitDirs.map(qs).mkString(",")}],""" +
        s""""partitionBy":[${partitionBy.map(qs).mkString(",")}],""" +
        s""""scopes":$scopesJson,""" +
        s""""colMax":$colMaxJson,""" +
        s""""dirStats":$dirStatsJson,""" +
        s""""fileStats":$fileStatsJson,""" +
        s""""dvFiles":[${dvFiles.map(qs).mkString(",")}],""" +
        s""""txns":${txns.toSeq.sortBy(_._1).map { case (k, v) => s"${qs(k)}:$v" }.mkString("{", ",", "}")},""" +
        s""""constraints":${constraints.toSeq.sortBy(_._1).map { case (k, v) => s"${qs(k)}:${qs(v)}" }.mkString("{", ",", "}")},""" +
        s""""colMapping":${colMapping.toSeq.sortBy(_._1).map { case (k, v) => s"${qs(k)}:${qs(v)}" }.mkString("{", ",", "}")},""" +
        s""""droppedCols":[${droppedCols.map(qs).mkString(",")}],""" +
        s""""schema":${qs(schemaJson)}}"""
    }
  }

  /** Serialized manifest stats: timezone-safe string encodings for the
    * watermark column types (timestamps as epoch micros, dates as epoch
    * days — `Timestamp.toString` would shift across driver timezones).
    */
  private[tables] object Stats {
    import org.apache.spark.sql.types._

    def requireSupported(dt: DataType, name: String): Unit = dt match {
      case TimestampType | DateType | LongType | IntegerType | ShortType | ByteType |
          DoubleType | FloatType | _: DecimalType => ()
      case other =>
        throw new IllegalArgumentException(
          s"statsCols column $name has unsupported type ${other.sql} " +
            "(timestamp/date/numeric only)")
    }

    def toStringValue(v: Any): String = v match {
      // floorDiv: for pre-epoch timestamps getTime is negative and plain
      // `/ 1000` truncates toward zero, shifting the epoch-second by one —
      // the watermark would round-trip to a different instant.
      case t: java.sql.Timestamp =>
        (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
      case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
      // java8 datetime API variants (spark.sql.datetime.java8API.enabled)
      case i: java.time.Instant =>
        java.time.temporal.ChronoUnit.MICROS.between(java.time.Instant.EPOCH, i).toString
      case d: java.time.LocalDate => d.toEpochDay.toString
      case o => o.toString
    }

    def fromStringValue(s: String, dt: DataType): Any = dt match {
      case TimestampType =>
        val micros = s.toLong
        val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        t
      case DateType => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(s.toLong))
      case LongType => s.toLong
      case IntegerType => s.toInt
      case ShortType => s.toShort
      case ByteType => s.toByte
      case DoubleType => s.toDouble
      case FloatType => s.toFloat
      case d: DecimalType => new java.math.BigDecimal(s)
      case other =>
        throw new IllegalArgumentException(s"unsupported stats type ${other.sql}")
    }

    def geq(a: String, b: String, dt: DataType): Boolean = dt match {
      // Double.compare, not `>=`: IEEE comparisons against NaN are all
      // false, which would let a NaN dir stat lose both the min and the
      // max fold — serving a metadata MIN/MAX that differs from a real
      // scan (Spark's min/max aggregates order NaN as the largest value).
      case DoubleType | FloatType => java.lang.Double.compare(a.toDouble, b.toDouble) >= 0
      case _: DecimalType => new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)) >= 0
      case _ => a.toLong >= b.toLong // micros / epoch days / integral
    }

    /** Running max: prev manifest's values folded with the new batch's. */
    def merge(
        prev: Map[String, String],
        batch: Map[String, String],
        schema: StructType): Map[String, String] =
      (prev.keySet ++ batch.keySet).flatMap { c =>
        val dt = if (schema.fieldNames.contains(c)) Some(schema(c).dataType) else None
        (prev.get(c), batch.get(c)) match {
          case (Some(p), Some(b)) =>
            dt.map(t => c -> (if (geq(b, p, t)) b else p))
          case (Some(p), None) => Some(c -> p)
          case (None, Some(b)) => Some(c -> b)
          case _ => None
        }
      }.toMap
  }

  object Manifest {
    /** Tiny purpose-built parser for the exact shape `toJson` emits. */
    def fromJson(s: String): Manifest = {
      // Use Spark's bundled Jackson to avoid a hand-rolled parser.
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(s)
      def strings(field: String): Seq[String] = {
        val arr = node.get(field)
        (0 until arr.size()).map(i => arr.get(i).asText())
      }
      val scopes =
        if (!node.has("scopes")) Seq.empty[Seq[String]]
        else {
          val arr = node.get("scopes")
          (0 until arr.size()).map { i =>
            val inner = arr.get(i)
            (0 until inner.size()).map(j => inner.get(j).asText()): Seq[String]
          }
        }
      val colMax =
        if (!node.has("colMax")) Map.empty[String, String]
        else {
          val obj = node.get("colMax")
          val it = obj.fieldNames()
          val b = Map.newBuilder[String, String]
          while (it.hasNext) { val k = it.next(); b += k -> obj.get(k).asText() }
          b.result()
        }
      val dirStats =
        if (!node.has("dirStats")) Seq.empty[Map[String, (String, String)]]
        else {
          val arr = node.get("dirStats")
          (0 until arr.size()).map { i =>
            val obj = arr.get(i)
            val it = obj.fieldNames()
            val b = Map.newBuilder[String, (String, String)]
            while (it.hasNext) {
              val k = it.next()
              val pair = obj.get(k)
              b += k -> ((pair.get(0).asText(), pair.get(1).asText()))
            }
            b.result()
          }
        }
      val fileStats =
        if (!node.has("fileStats")) Seq.empty[Map[String, Map[String, (String, String)]]]
        else {
          val arr = node.get("fileStats")
          (0 until arr.size()).map { i =>
            val byFile = arr.get(i)
            val fit = byFile.fieldNames()
            val fb = Map.newBuilder[String, Map[String, (String, String)]]
            while (fit.hasNext) {
              val f = fit.next()
              val cols = byFile.get(f)
              val cit = cols.fieldNames()
              val cb = Map.newBuilder[String, (String, String)]
              while (cit.hasNext) {
                val c = cit.next()
                val pair = cols.get(c)
                cb += c -> ((pair.get(0).asText(), pair.get(1).asText()))
              }
              fb += f -> cb.result()
            }
            fb.result()
          }
        }
      Manifest(
        node.get("version").asLong(),
        node.get("operation").asText(),
        node.get("timestampMs").asLong(),
        strings("commitDirs"),
        node.get("schema").asText(),
        strings("partitionBy"),
        scopes,
        colMax,
        dirStats,
        fileStats,
        if (node.has("dvFiles")) strings("dvFiles") else Seq.empty,
        if (!node.has("txns")) Map.empty[String, Long]
        else {
          val obj = node.get("txns")
          val it = obj.fieldNames()
          val b = Map.newBuilder[String, Long]
          while (it.hasNext) { val k = it.next(); b += k -> obj.get(k).asLong() }
          b.result()
        },
        if (!node.has("constraints")) Map.empty[String, String]
        else {
          val obj = node.get("constraints")
          val it = obj.fieldNames()
          val b = Map.newBuilder[String, String]
          while (it.hasNext) { val k = it.next(); b += k -> obj.get(k).asText() }
          b.result()
        },
        if (!node.has("colMapping")) Map.empty[String, String]
        else {
          val obj = node.get("colMapping")
          val it = obj.fieldNames()
          val b = Map.newBuilder[String, String]
          while (it.hasNext) { val k = it.next(); b += k -> obj.get(k).asText() }
          b.result()
        },
        if (node.has("droppedCols")) strings("droppedCols") else Seq.empty)
    }
  }
}
