package graft.tables.v2

import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.tables.LakeTable

/** DSv2 catalog over a lake-table root (SURVEY §2.10 deepening): with
  * {{{
  *   spark.sql.catalog.lake      = graft.tables.v2.GraftCatalog
  *   spark.sql.catalog.lake.root = /path/to/warehouse
  * }}}
  * (or [[graft.tables.Catalog.attachSqlCatalog]] setting both at
  * runtime), `SELECT ... FROM lake.<schema>.<table>` resolves through
  * Spark's catalog machinery and reads the table's CURRENT version at
  * each query; it is the one SQL name of a lake table. Namespaces are
  * directories and tables are commit logs, so the catalog is
  * stateless: `loadTable` is a log listing plus one manifest read
  * (schema comes from the manifest JSON — no data files touched). The
  * log itself is [[LakeTable]]'s alone: every check and read here goes
  * through it.
  *
  * Read path: the scan bridges to the engine's own reader via
  * [[V1Scan]] — the batch-read fallback Spark provides exactly so v1
  * relations can live behind DSv2 catalogs — with required-column
  * pruning pushed into the bridge (the scan builds
  * `LakeTable.read().select(pruned)`, so parquet column pruning still
  * applies under it; row-filter pushdown stops at the bridge and Spark
  * re-applies filters above, which keeps semantics exact). Writes stay
  * on the explicit command surface (append/overwrite APIs, INSERT
  * INTO / MERGE INTO via the parser path) — a full DSv2 `BatchWrite`
  * would need an InternalRow-level parquet writer for `ReplaceData`,
  * which has no V1 fallback; the parser-command route delivers the
  * same SQL surface through the one battle-tested commit path.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null, s"catalog $name requires option spark.sql.catalog.$name.root")
  }

  override def name(): String = catalogName

  private def dirOf(namespace: Array[String]): Path =
    GraftCatalog.resolvePath(root, namespace.toSeq)

  // ---- tables --------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = dirOf(namespace)
    if (!Files.isDirectory(d)) throw new NoSuchNamespaceException(namespace)
    val s = Files.list(d)
    try s.iterator().asScala
      .filter(LakeTable.isTable)
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally s.close()
  }

  override def loadTable(ident: Identifier): Table = {
    val p = dirOf(ident.namespace() :+ ident.name())
    // one log listing: the tip both decides that the table exists and
    // gives the table its schema
    LakeTable(SparkSession.active, p.toString).tip() match {
      case Some(m) => return GraftSqlTable.atTip(p.toString, m)
      case None =>
    }
    // Iceberg-style metadata tables: `lake.<ns>.<t>.snapshots` /
    // `.files` — the trailing identifier selects a metadata relation of
    // the table named by the prefix (the reference queries the same
    // surface as Trino's "t$snapshots" / Iceberg's t.snapshots,
    // /root/reference/experiments/trino_iceberg_example.sql:40). A real
    // table named `snapshots` always wins (checked above).
    val kind = ident.name().toLowerCase
    if (GraftMetaTable.kinds.contains(kind) && ident.namespace().nonEmpty) {
      val tp = dirOf(ident.namespace())
      if (LakeTable.isTable(tp)) return new GraftMetaTable(tp.toString, kind)
    }
    throw new NoSuchTableException(ident)
  }

  /** `SELECT ... FROM lake.<ns>.<t> VERSION AS OF <n>` — SQL time
    * travel, pinned to commit `n` exactly like the programmatic
    * `LakeTable.read(versionAsOf = Some(n))` (same manifest, same
    * deletion-vector application). The reference gets this from
    * Iceberg (`/root/reference/experiments/trino_iceberg_example.sql:43`).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = dirOf(ident.namespace() :+ ident.name())
    if (!LakeTable.isTable(p)) throw new NoSuchTableException(ident)
    val v =
      try version.toLong
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"VERSION AS OF expects a numeric snapshot version, got '$version'")
      }
    new GraftSqlTable(p.toString, Some(v))
  }

  /** `SELECT ... FROM lake.<ns>.<t> TIMESTAMP AS OF <ts>` — Spark hands
    * the timestamp in MICROseconds; pin the newest snapshot committed
    * at or before it (the `readAsOfTimestamp` rule: predating the
    * table fails loudly, never a silent empty read).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = dirOf(ident.namespace() :+ ident.name())
    if (!LakeTable.isTable(p)) throw new NoSuchTableException(ident)
    val at = LakeTable(SparkSession.active, p.toString).manifestAsOfTimestamp(timestamp / 1000L)
    new GraftSqlTable(p.toString, Some(at.version))
  }

  /** `CREATE TABLE lake.<ns>.<t> (cols...) [PARTITIONED BY (c, ...)]`:
    * publish a version-0 manifest carrying the declared schema, the
    * declared Hive partition layout (top-level identity columns only —
    * the layout the reference declares on every table,
    * /root/reference/docker/init/lakehouse_init.sql `partitioning =
    * ARRAY['ingest_year','ingest_month']`), and no data dirs — the
    * standard CREATE-then-INSERT flow, with the write-time schema and
    * partition contracts anchored before the first commit: every later
    * INSERT/append inherits `partitionBy` from the manifest. The
    * compare-and-swap on version 0 is [[LakeTable.createIfAbsent]]'s,
    * so of two racing creates exactly one wins.
    */
  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val partCols = GraftCatalog.partitionSpecs(partitions.toSeq).map { s =>
      val p = graft.tables.PartitionSpec.parse(s)
      val canonical = schema.fieldNames.find(_.equalsIgnoreCase(p.source)).getOrElse(
        throw new IllegalArgumentException(
          s"PARTITIONED BY column ${p.source} is not in the column list"))
      graft.tables.PartitionSpec.withSource(p, canonical).spec
    }
    val p = dirOf(ident.namespace() :+ ident.name())
    if (!LakeTable(SparkSession.active, p.toString).createIfAbsent(schema, partCols))
      throw new TableAlreadyExistsException(ident)
    new GraftSqlTable(p.toString)
  }

  /** `ALTER TABLE lake.<ns>.<t>` — the metadata-only DDL surface:
    *   - `ADD COLUMNS (c TYPE, ...)` widens the schema; existing rows
    *     read NULL ([[graft.tables.LakeTable.alterAddColumns]]);
    *   - `RENAME COLUMN old TO new` / `DROP COLUMN c` go through the
    *     manifest column mapping (Delta name-mapping shape): files are
    *     immutable and keep their physical names, the logical schema
    *     changes, zero data rewrite
    *     ([[graft.tables.LakeTable.alterRenameColumn]] /
    *     [[graft.tables.LakeTable.alterDropColumn]]).
    * Every other change class (retype, properties, positions) is
    * rejected loudly.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = dirOf(ident.namespace() :+ ident.name())
    if (!LakeTable.isTable(p)) throw new NoSuchTableException(ident)
    val table = LakeTable(SparkSession.active, p.toString)
    // VALIDATE change KINDS before applying ANY (an unsupported change
    // class must not land after a rename already committed a manifest
    // version), then apply IN DECLARED ORDER — batching consecutive adds
    // preserves order while keeping the common multi-add a single
    // manifest commit, and AddColumn(x) followed by RenameColumn(x→y)
    // works as written instead of the rename racing ahead of a deferred
    // add. NOTE the atomicity contract this actually provides: each
    // sub-change is individually atomic (one manifest commit), but
    // VALUE-level validation of renames/drops (target exists, not a
    // constrained/partition-source column) runs when the deferred thunk
    // applies — a failing rename/drop leaves earlier adds in the same
    // statement committed, like sequential ALTER statements. Full
    // all-or-nothing would need a dry-run resolution of the whole
    // sequence against a projected schema before the first commit.
    val validated: Seq[Either[org.apache.spark.sql.types.StructField, () => Unit]] =
      changes.map {
        case a: TableChange.AddColumn =>
          require(a.fieldNames.length == 1,
            s"ALTER TABLE ADD COLUMNS: nested column ${a.fieldNames.mkString(".")} is not supported")
          require(a.position() == null,
            "ALTER TABLE ADD COLUMNS: FIRST/AFTER positions are not supported")
          require(a.isNullable,
            "ALTER TABLE ADD COLUMNS: new columns must be nullable " +
              "(existing rows have no value for them)")
          Left(org.apache.spark.sql.types.StructField(a.fieldNames.head, a.dataType, nullable = true))
        case r: TableChange.RenameColumn =>
          require(r.fieldNames.length == 1,
            s"ALTER TABLE RENAME COLUMN: nested column ${r.fieldNames.mkString(".")} is not supported")
          Right(() => { table.alterRenameColumn(r.fieldNames.head, r.newName); () })
        case d: TableChange.DeleteColumn =>
          require(d.fieldNames.length == 1,
            s"ALTER TABLE DROP COLUMN: nested column ${d.fieldNames.mkString(".")} is not supported")
          Right(() => { table.alterDropColumn(d.fieldNames.head); () })
        case other =>
          throw new UnsupportedOperationException(
            s"ALTER TABLE: only ADD COLUMNS / RENAME COLUMN / DROP COLUMN are supported " +
              s"on graft tables, got $other")
      }
    val pendingAdds = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.types.StructField]
    def flushAdds(): Unit =
      if (pendingAdds.nonEmpty) { table.alterAddColumns(pendingAdds.toSeq); pendingAdds.clear() }
    validated.foreach {
      case Left(f) => pendingAdds += f
      case Right(apply) => flushAdds(); apply()
    }
    flushAdds()
    new GraftSqlTable(p.toString)
  }

  /** `DROP TABLE lake.<ns>.<t>`: removes the table directory (log,
    * data, deletion vectors). Time-travel history goes with it — the
    * same contract as dropping an Iceberg/Delta table with purge.
    */
  override def dropTable(ident: Identifier): Boolean = {
    val p = dirOf(ident.namespace() :+ ident.name())
    if (!LakeTable.isTable(p)) return false
    import scala.util.Using
    Using.resource(Files.walk(p)) { s =>
      s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
    true
  }

  /** `ALTER TABLE ... RENAME TO ...`: one atomic directory move. Every
    * path inside a table (commit dirs, data, DV sidecars) is RELATIVE
    * to the table root, so the whole history — time travel included —
    * survives the move unchanged.
    */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = dirOf(oldIdent.namespace() :+ oldIdent.name())
    if (!LakeTable.isTable(from)) throw new NoSuchTableException(oldIdent)
    val to = dirOf(newIdent.namespace() :+ newIdent.name())
    if (Files.exists(to))
      throw new TableAlreadyExistsException(newIdent)
    require(Files.isDirectory(to.getParent),
      s"RENAME TABLE: target namespace ${newIdent.namespace().mkString(".")} does not exist")
    Files.move(from, to, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  // ---- procedures ----------------------------------------------------------

  /** `CALL lake.system.<proc>(...)` — table-maintenance procedures
    * ([[GraftProcedures]]): the SQL surface Iceberg exposes as
    * `CALL <cat>.system.expire_snapshots / rewrite_data_files /
    * remove_orphan_files`.
    */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().map(_.toLowerCase).sameElements(GraftProcedures.namespace),
      s"procedures live under $catalogName.system, got ${ident.namespace().mkString(".")}")
    GraftProcedures.load(root, ident.name())
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.map(_.toLowerCase).sameElements(GraftProcedures.namespace))
      GraftProcedures.names.map(n => Identifier.of(GraftProcedures.namespace, n)).toArray
    else Array.empty

  // ---- namespaces ----------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val d = Paths.get(root)
    if (!Files.isDirectory(d)) return Array.empty
    val s = Files.list(d)
    try s.iterator().asScala
      .filter(Files.isDirectory(_))
      .map(p => Array(p.getFileName.toString))
      .toArray
    finally s.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (Files.isDirectory(dirOf(namespace))) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    Files.isDirectory(dirOf(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) new util.HashMap[String, String]()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(
      namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    Files.createDirectories(dirOf(namespace))
    ()
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  /** `DROP NAMESPACE [CASCADE]`: plain drop requires the namespace
    * empty (the SQL-standard RESTRICT default); CASCADE removes the
    * directory with every table — and its time-travel history — in it.
    */
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val d = dirOf(namespace)
    if (!Files.isDirectory(d)) throw new NoSuchNamespaceException(namespace)
    val empty = {
      val s = Files.list(d)
      try !s.iterator().hasNext finally s.close()
    }
    if (!empty && !cascade)
      throw new IllegalStateException(
        s"DROP NAMESPACE: ${namespace.mkString(".")} is not empty (use CASCADE)")
    import scala.util.Using
    Using.resource(Files.walk(d)) { s =>
      s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
    true
  }
}

object GraftCatalog {

  /** DSv2 partition transforms → manifest partition-spec strings
    * ([[graft.tables.PartitionSpec]]): top-level identity columns plus
    * the hidden-partitioning transforms `days/months/years(col)` and
    * `bucket(n, col)`. Anything else (`hours`, `truncate`, nested
    * references) is rejected loudly rather than silently flattened to
    * something with different pruning semantics.
    */
  def partitionSpecs(partitions: Seq[Transform]): Seq[String] =
    partitions.map { t =>
      require(
        t.references.length == 1 && t.references.head.fieldNames.length == 1,
        s"partitioning transform must reference one top-level column, got ${t.describe}")
      val col = t.references.head.fieldNames.head
      t.name match {
        case "identity" => col
        case "days" | "months" | "years" => s"${t.name}($col)"
        case "bucket" =>
          val n = t.arguments.collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.value.isInstanceOf[Int] => l.value.asInstanceOf[Int]
          }.getOrElse(throw new IllegalArgumentException(
            s"bucket transform without a literal bucket count: ${t.describe}"))
          s"bucket($n,$col)"
        case other =>
          throw new IllegalArgumentException(
            s"unsupported partitioning transform $other(${col}) " +
              "(supported: identity, days, months, years, bucket)")
      }
    }

  /** Identifier parts → filesystem path, shared by the catalog and the
    * row-level SQL target resolution ([[graft.plans.GraftMergeParser]])
    * so DML and SELECT always resolve the SAME directory:
    *
    *   - parts are validated as single path components BEFORE any
    *     filesystem operation — a backquoted identifier smuggling
    *     `..` or a separator cannot escape the catalog root (dropTable
    *     deletes recursively; the root is a hard boundary);
    *   - each part resolves case-INsensitively against the existing
    *     directory entries (Spark SQL identifiers are case-insensitive
    *     by default, so `lake.Gold.nation` must reach `root/gold/
    *     nation`, not create a shadow `root/Gold/`); a part with no
    *     existing match keeps its typed spelling (CREATE uses it),
    *     and an ambiguous match (two dirs differing only by case —
    *     someone bypassed the catalog) fails loudly rather than
    *     guessing.
    */
  def resolvePath(root: String, parts: Seq[String]): Path = {
    parts.foreach { part =>
      require(
        part.nonEmpty && part != "." && part != ".." &&
          !part.contains("/") && !part.contains("\\"),
        s"invalid identifier part '$part': must be a single path component")
    }
    parts.foldLeft(Paths.get(root)) { (parent, part) =>
      val exact = parent.resolve(part)
      if (Files.exists(exact) || !Files.isDirectory(parent)) exact
      else {
        val s = Files.list(parent)
        val matches =
          try s.iterator().asScala
            .filter(_.getFileName.toString.equalsIgnoreCase(part))
            .toList
          finally s.close()
        matches match {
          case one :: Nil => one
          case Nil => exact
          case many =>
            throw new IllegalArgumentException(
              s"identifier part '$part' is ambiguous under $parent: " +
                many.map(_.getFileName).mkString(", "))
        }
      }
    }
  }
}

/** A lake table exposed through the DSv2 `Table` interface. Schema is
  * read from the latest manifest (one small JSON file — no data
  * files); the scan defers to `LakeTable.read()` at execution, so
  * every query sees the current snapshot and deletion vectors apply
  * exactly as in the programmatic read path. A `versionAsOf` pin (from
  * `SELECT ... VERSION AS OF n`) fixes both the schema and the scan to
  * that committed snapshot — SQL time travel with the exact semantics
  * of the programmatic `read(versionAsOf = Some(n))`.
  */
final class GraftSqlTable private (
    rootPath: String,
    versionAsOf: Option[Long],
    tipAtLoad: Option[LakeTable.Manifest])
  extends Table with SupportsRead {

  def this(rootPath: String, versionAsOf: Option[Long] = None) = this(rootPath, versionAsOf, None)

  /** Table root on disk (for registry lookups, e.g. the MV rewrite). */
  def root: String = rootPath

  /** Whether this scan is pinned to a historical snapshot — pinned
    * reads must never be rerouted to a current-state materialization.
    */
  def isVersionPinned: Boolean = versionAsOf.isDefined

  override def name(): String =
    versionAsOf.fold(rootPath)(v => s"$rootPath@v$v")

  private lazy val manifest: LakeTable.Manifest = tipAtLoad.getOrElse {
    val t = LakeTable(SparkSession.active, rootPath)
    versionAsOf match {
      case Some(v) =>
        try t.readManifest(v)
        catch {
          case _: java.nio.file.NoSuchFileException =>
            throw new NoSuchTableException(Identifier.of(Array.empty, s"$rootPath VERSION AS OF $v"))
        }
      case None =>
        t.tip().getOrElse(throw new NoSuchTableException(Identifier.of(Array.empty, rootPath)))
    }
  }

  override lazy val schema: StructType =
    DataType.fromJson(manifest.schemaJson).asInstanceOf[StructType]

  /** The manifest's declared layout, reported as the matching DSv2
    * transforms (DESCRIBE TABLE's "Partitioning" section).
    */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.{Expressions => E}
    manifest.partitionBy.map(s => graft.tables.PartitionSpec.parse(s) match {
      case graft.tables.IdentityPart(c) => E.identity(c)
      case graft.tables.DaysPart(c) => E.days(c)
      case graft.tables.MonthsPart(c) => E.months(c)
      case graft.tables.YearsPart(c) => E.years(c)
      case graft.tables.BucketPart(n, c) => E.bucket(n, c)
    }).toArray
  }

  /** On-disk bytes of the pinned snapshot's live commit dirs, walked
    * only UNTIL `limit` is exceeded: exact when the result is ≤ limit,
    * otherwise some value > limit (enough to answer "too big to
    * broadcast" without enumerating a fact table's million files on
    * the driver). Cached per (root, version, limit) — commit dirs are
    * immutable, so a snapshot's size never changes. Feeds broadcast
    * planning ([[graft.plans.LakeBroadcastHint]]): Spark's
    * V1ScanWrapper drops `SupportsReportStatistics`, so without this a
    * 2 KB dimension read through `lake.*` SQL could never
    * auto-broadcast and every catalog-path star join would shuffle its
    * fact side.
    */
  def sizeAtMost(limit: Long): Long = {
    val key = (rootPath, manifest.version, limit)
    GraftSqlTable.sizeCache.get(key) match {
      case Some(v) => v
      case None =>
        var total = 0L
        val dirs = manifest.commitDirs.iterator
        while (dirs.hasNext && total <= limit) {
          val dir = Paths.get(rootPath, "data").resolve(dirs.next())
          if (Files.isDirectory(dir)) {
            Files.walkFileTree(
              dir,
              new java.nio.file.SimpleFileVisitor[Path] {
                override def visitFile(
                    f: Path,
                    attrs: java.nio.file.attribute.BasicFileAttributes)
                    : java.nio.file.FileVisitResult = {
                  total += attrs.size()
                  if (total > limit) java.nio.file.FileVisitResult.TERMINATE
                  else java.nio.file.FileVisitResult.CONTINUE
                }
              })
          }
        }
        if (GraftSqlTable.sizeCache.size > 4096) GraftSqlTable.sizeCache.clear()
        GraftSqlTable.sizeCache.put(key, total)
        total
    }
  }

  lazy val estimatedSizeInBytes: Long = sizeAtMost(Long.MaxValue)

  /** Exact row count of the pinned snapshot from METADATA ONLY: parquet
    * footer record counts summed over the live files (scoped dirs
    * enumerate only their live `col=value` subdirs). The Iceberg
    * "count(*) is a manifest read" behavior, one level down — footers
    * instead of manifest-stored counts, so no manifest format change;
    * at extreme file counts the upgrade path is recording counts at
    * commit time. `None` (fall back to a real scan) whenever deletion
    * vectors exist: DV sidecars may carry inert entries for rewritten
    * files, so a driver-side subtraction is not provably exact. Cached
    * per (root, version) — snapshots are immutable.
    */
  def metadataRowCount(): Option[Long] = {
    if (manifest.dvFiles.nonEmpty) return None
    val key = (rootPath, manifest.version)
    GraftSqlTable.countCache.get(key) match {
      case Some(v) => Some(v)
      case None =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val p0 = manifest.partitionBy.headOption
          .map(s => graft.tables.PartitionSpec.parse(s).dirCol)
        var total = 0L
        manifest.commitDirs.zip(manifest.effectiveScopes).foreach { case (d, scope) =>
          val base = Paths.get(rootPath, "data").resolve(d)
          val roots =
            if (scope.isEmpty) Seq(base)
            else scope.map(v => base.resolve(s"${p0.get}=$v"))
          roots.filter(Files.isDirectory(_)).foreach { r =>
            val walk = Files.walk(r)
            try walk.iterator().asScala
              .filter(f => f.toString.endsWith(".parquet") && Files.isRegularFile(f))
              .foreach { f =>
                val in = org.apache.parquet.hadoop.util.HadoopInputFile
                  .fromPath(new org.apache.hadoop.fs.Path(f.toString), conf)
                val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
                try total += reader.getRecordCount
                finally reader.close()
              }
            finally walk.close()
          }
        }
        if (GraftSqlTable.countCache.size > 4096) GraftSqlTable.countCache.clear()
        GraftSqlTable.countCache.put(key, total)
        Some(total)
    }
  }

  /** Parquet footer statistics types whose min/max round-trip is exact:
    * integral and date physical INT32/INT64 stats. Strings are excluded
    * (parquet-mr may truncate binary stats), floats/doubles are excluded
    * (NaN handling makes footer min/max unreliable as SQL min/max).
    */
  private def footerStatsExact(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
        org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
        org.apache.spark.sql.types.DateType => true
    case _ => false
  }

  /** Per-value footer counts and exact grouped MIN/MAX for the LEADING
    * partition column, the per-partition twin of [[metadataRowCount]] —
    * one footer pass serves `GROUP BY p0` with any mix of
    * `count(*) / min(c) / max(c)` over [[footerStatsExact]] columns.
    * Values come from the `p0=value` subdir names (Hive-unescaped; the
    * caller owns the cast to the column type). No deletion vectors, and
    * a NULL-partition dir (`__HIVE_DEFAULT_PARTITION__`) refuses the
    * whole serve. Footer min/max ignore nulls exactly like SQL min/max;
    * a value whose rows are all-null for `c` serves NULL. A file missing
    * usable statistics for any requested column refuses the whole serve.
    * Cached per (root, version, columns).
    */
  def metadataGroupStats(statCols: Seq[String])
      : Option[Seq[(String, Long, Map[String, Option[(Any, Any)]])]] = {
    val m = manifest
    if (m.dvFiles.nonEmpty || m.partitionBy.isEmpty) return None
    // a transform layout's dir column (ts__day) is not a user column —
    // GROUP BY can never name it, so the metadata serve does not apply
    if (!graft.tables.PartitionSpec.parse(m.partitionBy.head).isIdentity) return None
    statCols.foreach { c =>
      if (!schema.fieldNames.contains(c) || !footerStatsExact(schema(c).dataType)) return None
    }
    val key = (rootPath, m.version, statCols.sorted.mkString(","))
    GraftSqlTable.groupCountCache.get(key) match {
      case Some(v) => v
      case None =>
        val p0 = m.partitionBy.head
        val prefix = s"$p0="
        val conf = new org.apache.hadoop.conf.Configuration()
        val acc = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        // per (value, col): running (min, max) over files' footer stats,
        // as the parquet-reported Comparable (Integer days for dates,
        // Integer for byte/short) — converted to the external type at
        // the end. None = no non-null value seen yet for that pair.
        val ranges = scala.collection.mutable.HashMap
          .empty[(String, String), (Comparable[Any], Comparable[Any])]
        var servable = true
        // a commit dir is only countable per-value if EVERY parquet file
        // in it sits under a `p0=value` subdir of the CURRENT leading
        // partition column. commit() legally lets a table flip from
        // unpartitioned to partitioned (or change partition column)
        // mid-history; those older dirs have no/other `col=` layout and
        // would silently contribute zero rows — refuse the whole serve
        // instead (pushdown can change the plan, never the answer).
        def layoutOk(base: java.nio.file.Path): Boolean = {
          val list = Files.list(base)
          try list.iterator().asScala.forall { p =>
            if (Files.isDirectory(p)) p.getFileName.toString.startsWith(prefix)
            else !p.getFileName.toString.endsWith(".parquet")
          } finally list.close()
        }
        m.commitDirs.zip(m.effectiveScopes).foreach { case (d, scope) =>
          val base = Paths.get(rootPath, "data").resolve(d)
          if (servable && Files.isDirectory(base)) {
            if (!layoutOk(base)) servable = false
            else {
            val valueDirs: Seq[(String, java.nio.file.Path)] =
              if (scope.nonEmpty) scope.map(v => (v, base.resolve(s"$p0=$v")))
              else {
                val list = Files.list(base)
                try list.iterator().asScala
                  .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(prefix))
                  .map { p =>
                    val raw = p.getFileName.toString.stripPrefix(prefix)
                    (org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                      .unescapePathName(raw), p)
                  }.toSeq
                finally list.close()
              }
            valueDirs.foreach { case (v, dir) =>
              if (v == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                    .DEFAULT_PARTITION_NAME) servable = false
              else if (Files.isDirectory(dir)) {
                val walk = Files.walk(dir)
                try walk.iterator().asScala
                  .filter(f => f.toString.endsWith(".parquet") && Files.isRegularFile(f))
                  .foreach { f =>
                    val in = org.apache.parquet.hadoop.util.HadoopInputFile
                      .fromPath(new org.apache.hadoop.fs.Path(f.toString), conf)
                    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
                    try {
                      acc(v) = acc.getOrElse(v, 0L) + reader.getRecordCount
                      if (statCols.nonEmpty) {
                        reader.getFooter.getBlocks.asScala.foreach { block =>
                          val byName = block.getColumns.asScala
                            .map(c => c.getPath.toDotString -> c).toMap
                          statCols.foreach { c =>
                            // footers store PHYSICAL names: look up the
                            // mapped name, never the logical one — a
                            // renamed column's old physical chunk holds a
                            // DIFFERENT logical column's data, and a
                            // re-added column's fresh physical is absent
                            // from old files (→ refuse, fall back to the
                            // scan, which correctly serves NULL)
                            byName.get(m.colMapping.getOrElse(c, c)) match {
                              case None => servable = false // col absent in this file
                              case Some(chunk) =>
                                val st = chunk.getStatistics
                                if (st == null || st.isEmpty) servable = false
                                else if (st.hasNonNullValue) {
                                  val mn = st.genericGetMin.asInstanceOf[Comparable[Any]]
                                  val mx = st.genericGetMax.asInstanceOf[Comparable[Any]]
                                  ranges.get((v, c)) match {
                                    case None => ranges((v, c)) = (mn, mx)
                                    case Some((omn, omx)) =>
                                      ranges((v, c)) = (
                                        if (mn.compareTo(omn) < 0) mn else omn,
                                        if (mx.compareTo(omx) > 0) mx else omx)
                                  }
                                } // else: all-null chunk contributes nothing
                            }
                          }
                        }
                      }
                    } finally reader.close()
                  }
                finally walk.close()
              }
            }
            }
          }
        }
        def toExternal(raw: Any, dt: DataType): Any = dt match {
          case org.apache.spark.sql.types.ShortType => raw.asInstanceOf[Int].toShort
          case org.apache.spark.sql.types.ByteType => raw.asInstanceOf[Int].toByte
          case org.apache.spark.sql.types.DateType =>
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(raw.asInstanceOf[Int].toLong))
          case _ => raw
        }
        val result =
          if (!servable) None
          else Some(acc.toSeq.map { case (v, n) =>
            val colRanges = statCols.map { c =>
              c -> ranges.get((v, c)).map { case (mn, mx) =>
                val dt = schema(c).dataType
                (toExternal(mn, dt), toExternal(mx, dt))
              }
            }.toMap
            (v, n, colRanges)
          })
        if (GraftSqlTable.groupCountCache.size > 4096) GraftSqlTable.groupCountCache.clear()
        GraftSqlTable.groupCountCache.put(key, result)
        result
    }
  }

  /** Exact (min, max) of a column from the manifest's DIR-LEVEL stats —
    * valid ONLY when the stats provably describe exactly the live rows:
    * no deletion vectors, no scope-narrowed dirs (a partition-scoped
    * replace leaves old dir stats WIDER than the surviving rows — safe
    * for pruning, wrong for serving), and every live dir carries stats
    * for the column. Dir stats are exact write-time min/max over
    * non-null values, so under those guards this IS SQL min/max.
    */
  def metadataColRange(colName: String): Option[(Any, Any)] = {
    val m = manifest
    if (m.dvFiles.nonEmpty) return None
    if (m.effectiveScopes.exists(_.nonEmpty)) return None
    if (m.commitDirs.isEmpty) return None
    if (!schema.fieldNames.contains(colName)) return None
    val dt = schema(colName).dataType
    val stats = m.effectiveDirStats
    if (!stats.forall(_.contains(colName))) return None
    import graft.tables.LakeTable.Stats
    val mn = stats.map(_(colName)._1).reduceLeft((a, b) => if (Stats.geq(a, b, dt)) b else a)
    val mx = stats.map(_(colName)._2).reduceLeft((a, b) => if (Stats.geq(a, b, dt)) a else b)
    Some((Stats.fromStringValue(mn, dt), Stats.fromStringValue(mx, dt)))
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
      with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
      private var required: StructType = schema
      private var pushed: Array[sources.Filter] = Array.empty
      private var filtersSeen = false
      // fully-resolved pushed-aggregate result: output schema + rows
      private var aggValues: Option[(StructType, Seq[org.apache.spark.sql.Row])] = None

      /** Metadata-served aggregate pushdown: any combination of
        * COUNT(*) ([[metadataRowCount]] — footer record counts) and
        * MIN/MAX of stats-covered columns ([[metadataColRange]] — dir
        * zonemaps) for GLOBAL aggregates, plus
        * `GROUP BY <leading partition col>` with any mix of COUNT(*) and
        * MIN/MAX of footer-stats-exact columns served from per-value
        * footer counts + statistics ([[metadataGroupStats]]). Guards: no
        * filters anywhere on the scan (we refuse if any were even
        * seen — a residual-filtered aggregate is post-filter); each
        * helper carries its own exactness guards (DVs, narrowed scopes,
        * stats coverage, NULL partitions). Anything unresolvable falls
        * back to the real scan — pushdown can change the plan, never
        * the answer.
        */
      private def resolveAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
          : Option[(StructType, Seq[org.apache.spark.sql.Row])] = {
        import org.apache.spark.sql.connector.expressions.NamedReference
        import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
        if (filtersSeen) return None
        val exprs = agg.aggregateExpressions
        if (exprs.isEmpty) return None
        def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
          e match {
            case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
            case _ => None
          }
        agg.groupByExpressions.toSeq match {
          case Seq() =>
            val resolved: Seq[Option[(String, DataType, Any)]] = exprs.toSeq.map {
              case _: CountStar =>
                metadataRowCount().map(n =>
                  ("count(*)", org.apache.spark.sql.types.LongType: DataType, n: Any))
              case m: Min =>
                fieldOf(m.column).flatMap(c =>
                  metadataColRange(c).map { case (mn, _) =>
                    (s"min($c)", schema(c).dataType, mn) })
              case m: Max =>
                fieldOf(m.column).flatMap(c =>
                  metadataColRange(c).map { case (_, mx) =>
                    (s"max($c)", schema(c).dataType, mx) })
              case _ => None
            }
            if (!resolved.forall(_.isDefined)) None
            else {
              val vals = resolved.map(_.get)
              val out = StructType(vals.map { case (n, dt, _) =>
                org.apache.spark.sql.types.StructField(n, dt, nullable = false)
              })
              Some((out, Seq(org.apache.spark.sql.Row(vals.map(_._3): _*))))
            }
          // GROUP BY the table's leading partition column: the per-value
          // footer counts ARE the group counts (a value's rows live only
          // under its own `p0=value` dirs, so grouping is directory
          // layout, not computation), and per-value footer min/max over
          // stats-exact columns serve grouped MIN/MAX in the same walk.
          // min/max OF the partition column itself is the group value.
          case Seq(g) =>
            // per output expr: Left(()) = count(*), Right(isMin, col)
            val specs: Seq[Option[Either[Unit, (Boolean, String)]]] = exprs.toSeq.map {
              case _: CountStar => Some(Left(()))
              case m: Min => fieldOf(m.column).map(c2 => Right((true, c2)))
              case m: Max => fieldOf(m.column).map(c2 => Right((false, c2)))
              case _ => None
            }
            for {
              c <- fieldOf(g)
              if manifest.partitionBy.headOption.contains(c)
              if specs.forall(_.isDefined)
              statCols = specs.flatMap(_.get.toOption.map(_._2)).filter(_ != c).distinct
              stats <- metadataGroupStats(statCols)
              typed <- typedGroupValues(stats.map(_._1), schema(c).dataType)
            } yield {
              val out = StructType(
                schema(c).copy(nullable = false) +:
                  specs.map(_.get).map {
                    case Left(()) =>
                      org.apache.spark.sql.types.StructField(
                        "count(*)", org.apache.spark.sql.types.LongType, nullable = false)
                    case Right((isMin, c2)) =>
                      // nullable: an all-null group legitimately serves
                      // NULL min/max
                      org.apache.spark.sql.types.StructField(
                        s"${if (isMin) "min" else "max"}($c2)",
                        schema(c2).dataType, nullable = true)
                  })
              val rows = stats.zip(typed).map { case ((_, n, colRanges), v) =>
                org.apache.spark.sql.Row.fromSeq(v +: specs.map(_.get).map {
                  case Left(()) => n: Any
                  case Right((isMin, c2)) =>
                    if (c2 == c) v // min/max of the group col IS the value
                    else colRanges(c2) match {
                      case Some((mn, mx)) => if (isMin) mn else mx
                      case None => null // all rows null for this value
                    }
                })
              }
              (out, rows)
            }
          case _ => None
        }
      }

      /** Dir-name partition values cast back to the column type — only
        * types whose dir-name round trip is exact; anything else refuses
        * the serve (None) rather than risking a lossy parse.
        */
      private def typedGroupValues(
          raw: Seq[String], dt: DataType): Option[Seq[Any]] = {
        import org.apache.spark.sql.types._
        val conv: String => Any = dt match {
          case StringType => identity
          case IntegerType => _.toInt
          case LongType => _.toLong
          case ShortType => _.toShort
          case ByteType => _.toByte
          case BooleanType => _.toBoolean
          case DateType => java.sql.Date.valueOf
          case _ => return None
        }
        scala.util.Try(raw.map(conv)).toOption
      }

      override def supportCompletePushDown(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
        resolveAggregation(agg).isDefined

      override def pushAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
        resolveAggregation(agg) match {
          case some @ Some(_) => aggValues = some; true
          case None => false
        }

      override def pruneColumns(requiredSchema: StructType): Unit = {
        // empty pruning (count(*)) still needs ≥1 column to build rows
        required =
          if (requiredSchema.fields.isEmpty) StructType(schema.fields.take(1))
          else requiredSchema
      }

      /** Predicate pushdown through the bridge: every translatable
        * filter is ALSO applied inside `buildScan()`'s
        * `LakeTable.read().filter(...)` — its own query execution then
        * pushes it into the parquet scan, where row-group min/max stats
        * prune under it (the pruning the reference gets from Iceberg
        * stats). EVERY filter is returned as a residual so Spark
        * re-applies the full predicate above the bridge: pushdown can
        * only prune, never change results — exactness does not depend
        * on the translation.
        */
      override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
        filtersSeen = filtersSeen || filters.nonEmpty
        pushed = filters.filter(f => GraftFilterTranslation.translate(f).isDefined)
        filters
      }

      override def pushedFilters(): Array[sources.Filter] = pushed

      /** The metadata-only aggregate scan: rows from the manifest walk
        * (one for a global aggregate, one per partition value for a
        * pushed GROUP BY), no data file ever opened.
        */
      private def aggScan(out: StructType, rows: Seq[org.apache.spark.sql.Row]): Scan =
        new V1Scan {
          override def readSchema(): StructType = out
          override def toV1TableScan[T <: BaseRelation with TableScan](
              context: SQLContext): T = {
            val rel = new BaseRelation with TableScan {
              override def sqlContext: SQLContext = context
              override def schema: StructType = out
              override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
                context.sparkContext.parallelize(rows, 1)
            }
            rel.asInstanceOf[T]
          }
        }

      override def build(): Scan = aggValues match {
        case Some((out, rows)) => aggScan(out, rows)
        case None => dataScan()
      }

      private def dataScan(): Scan = new V1Scan with SupportsReportStatistics {
        override def readSchema(): StructType = required

        // Honest but currently inert through the V1 bridge: Spark wraps
        // a V1Scan in V1ScanWrapper, which implements only `Scan`, so
        // these stats never reach DataSourceV2ScanRelation.computeStats.
        // Kept for the day the wrapper forwards them; the broadcast
        // decision that matters is made from the TABLE size by
        // [[graft.plans.LakeBroadcastHint]].
        override def estimateStatistics(): Statistics = new Statistics {
          override def sizeInBytes(): java.util.OptionalLong =
            java.util.OptionalLong.of(estimatedSizeInBytes)
          override def numRows(): java.util.OptionalLong =
            java.util.OptionalLong.empty()
        }

        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val filters = pushed
          val rel = new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = required
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
              val t = graft.tables.LakeTable(context.sparkSession, rootPath)
              // manifest-zonemap pruning first: a pushed range/equality
              // on a stats-typed column routes through readBetween, so
              // whole commit dirs (and compaction-clustered FILES) are
              // skipped before parquet even opens a footer — then the
              // remaining pushed filters prune row groups inside the
              // survivors. Conservative everywhere: unstatted dirs scan,
              // and Spark re-applies every filter above the bridge.
              val tableSchema = GraftSqlTable.this.schema
              val statsSupported: String => Boolean = c =>
                tableSchema.fieldNames.contains(c) &&
                  (try {
                    graft.tables.LakeTable.Stats.requireSupported(tableSchema(c).dataType, c)
                    true
                  } catch { case _: IllegalArgumentException => false })
              val base = GraftFilterTranslation
                .rangeBounds(filters.toSeq)
                .find { case (c, _, _) => statsSupported(c) }
                .map { case (c, lo, hi) => t.readBetween(c, lo, hi, versionAsOf) }
                .getOrElse(t.read(versionAsOf))
              filters.flatMap(GraftFilterTranslation.translate)
                .foldLeft(base)(_.filter(_))
                .select(required.fieldNames.map(col).toSeq: _*)
                .rdd
            }
          }
          rel.asInstanceOf[T]
        }
      }
    }
}

/** A metadata relation of a lake table (`lake.ns.t.snapshots` /
  * `lake.ns.t.files`), bridged through the same V1Scan shape as data
  * reads. Schemas are fixed (they mirror `LakeTable.snapshots()` /
  * `files()`); the rows come from manifest JSONs — snapshot listing
  * never touches a data file, and the files listing is a directory
  * walk of the current snapshot's commit dirs.
  */
final class GraftMetaTable(rootPath: String, kind: String)
  extends Table with SupportsRead {

  import org.apache.spark.sql.types._

  override def name(): String = s"$rootPath#$kind"

  override lazy val schema: StructType = kind match {
    case "snapshots" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("committed_at", TimestampType, nullable = true),
      StructField("operation", StringType, nullable = true),
      StructField("num_commit_dirs", IntegerType, nullable = false)))
    case "files" => StructType(Seq(
      StructField("commit_dir", StringType, nullable = true),
      StructField("relative_path", StringType, nullable = true),
      StructField("size_bytes", LongType, nullable = false)))
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = schema

        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val rel = new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = GraftMetaTable.this.schema
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
              val t = graft.tables.LakeTable(context.sparkSession, rootPath)
              val df = kind match {
                case "snapshots" => t.snapshots()
                case "files" => t.files()
              }
              df.rdd
            }
          }
          rel.asInstanceOf[T]
        }
      }
    }
}

object GraftMetaTable {
  val kinds: Set[String] = Set("snapshots", "files")
}

object GraftSqlTable {
  /** The current version of the table at `rootPath`, whose manifest
    * `tip` the caller has already read.
    */
  private[v2] def atTip(rootPath: String, tip: LakeTable.Manifest): GraftSqlTable =
    new GraftSqlTable(rootPath, None, Some(tip))

  // snapshot sizes keyed by (root, version, probe limit) — commit dirs
  // are immutable so entries never go stale; bounded by periodic clear
  private[v2] val sizeCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long), Long]
  // footer-summed row counts keyed by (root, version) — same immutability
  private[v2] val countCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Long]
  // per-partition-value footer counts + exact grouped min/max ranges,
  // keyed by (root, version, requested stat cols); None caches a
  // refused serve
  private[v2] val groupCountCache =
    scala.collection.concurrent.TrieMap.empty[
      (String, Long, String),
      Option[Seq[(String, Long, Map[String, Option[(Any, Any)]])]]]
}

/** `sources.Filter` → `Column` for the V1Scan bridge. Partial by
  * design: an untranslated filter simply isn't pushed (Spark holds
  * every filter as a residual above the bridge either way, so the
  * only cost of a `None` is unpruned row groups, never wrong rows).
  * Dotted/backquoted attribute paths are skipped — V1 filter strings
  * are ambiguous for them.
  */
private[v2] object GraftFilterTranslation {

  def translate(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => ref(a).map(_ === lit(v))
    case sources.EqualNullSafe(a, v) => ref(a).map(_ <=> lit(v))
    case sources.GreaterThan(a, v) => ref(a).map(_ > lit(v))
    case sources.GreaterThanOrEqual(a, v) => ref(a).map(_ >= lit(v))
    case sources.LessThan(a, v) => ref(a).map(_ < lit(v))
    case sources.LessThanOrEqual(a, v) => ref(a).map(_ <= lit(v))
    case sources.In(a, vs) => ref(a).map(_.isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => ref(a).map(_.isNull)
    case sources.IsNotNull(a) => ref(a).map(_.isNotNull)
    case sources.StringStartsWith(a, v) => ref(a).map(_.startsWith(v))
    case sources.StringEndsWith(a, v) => ref(a).map(_.endsWith(v))
    case sources.StringContains(a, v) => ref(a).map(_.contains(v))
    case sources.And(l, r) => for { lc <- translate(l); rc <- translate(r) } yield lc && rc
    case sources.Or(l, r) => for { lc <- translate(l); rc <- translate(r) } yield lc || rc
    case sources.Not(c) => translate(c).map(!_)
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  private def ref(name: String): Option[Column] =
    if (name.contains(".") || name.contains("`")) None else Some(col(name))

  /** Closed-interval bounds per column implied by the pushed filter
    * set (top-level filters are conjuncts). Strict bounds (`>`/`<`)
    * are relaxed to closed ones — zonemap pruning is conservative and
    * the exact predicate is re-applied above, so relaxation can only
    * keep an extra dir, never drop a row. First bound per side wins
    * (ties would need value ordering; any one is a valid prune bound).
    */
  def rangeBounds(filters: Seq[sources.Filter]): Seq[(String, Option[Any], Option[Any])] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, (Option[Any], Option[Any])]
    def boundable(a: String, v: Any): Boolean =
      !a.contains(".") && !a.contains("`") && (v match {
        case null => false
        // NaN bounds can't prune (IEEE comparisons are all false)
        case d: java.lang.Double => !d.isNaN
        case f: java.lang.Float => !f.isNaN
        case _: java.lang.Number | _: java.sql.Timestamp | _: java.sql.Date |
            _: java.time.Instant | _: java.time.LocalDate => true
        case _ => false
      })
    def lower(a: String, v: Any): Unit = if (boundable(a, v)) {
      val (lo, hi) = m.getOrElse(a, (None, None))
      if (lo.isEmpty) m(a) = (Some(v), hi)
    }
    def upper(a: String, v: Any): Unit = if (boundable(a, v)) {
      val (lo, hi) = m.getOrElse(a, (None, None))
      if (hi.isEmpty) m(a) = (lo, Some(v))
    }
    filters.foreach {
      case sources.EqualTo(a, v) => lower(a, v); upper(a, v)
      case sources.GreaterThan(a, v) => lower(a, v)
      case sources.GreaterThanOrEqual(a, v) => lower(a, v)
      case sources.LessThan(a, v) => upper(a, v)
      case sources.LessThanOrEqual(a, v) => upper(a, v)
      case sources.In(a, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[java.lang.Number]) =>
        // an IN list implies the closed interval [min, max] — enough to
        // skip dirs whose range misses the whole list. NaN/Infinity
        // don't parse as BigDecimal: skip the bound, never fail planning.
        try {
          val ds = vs.map(v => new java.math.BigDecimal(v.toString))
          lower(a, vs(ds.indexOf(ds.min)))
          upper(a, vs(ds.indexOf(ds.max)))
        } catch { case _: NumberFormatException => () }
      case _ => ()
    }
    m.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) }
  }
}
