package graft.tables.v2

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Table-maintenance stored procedures, exposed through Spark 4's
  * `ProcedureCatalog` so they run as literal SQL:
  * {{{
  *   CALL lake.system.expire_snapshots(`table` => 'silver.events', keep_last => 2)
  *   CALL lake.system.compact(`table` => 'silver.events')
  *   CALL lake.system.compact_clustered(`table` => 's.t', cluster_by => 'ts')
  *   CALL lake.system.sweep_orphans(`table` => 's.t', grace_ms => 0)
  * }}}
  * — the surface Iceberg ships as `CALL <cat>.system.rewrite_data_files /
  * expire_snapshots / remove_orphan_files` (the reference's catalog
  * advertises exactly those through its Iceberg runtime,
  * /root/reference/docker/spark/conf/spark-defaults.conf). Each
  * procedure is a thin SQL binding over the engine's own maintenance
  * primitives ([[graft.tables.LakeTable.compactIfNeeded]] /
  * [[graft.tables.LakeTable.compactClustered]] /
  * [[graft.tables.LakeTable.expireSnapshots]] /
  * [[graft.tables.LakeTable.sweepOrphans]]) and returns its outcome as
  * one result row through a [[LocalScan]] — counts a maintenance
  * scheduler can alert on, never silent.
  *
  * The `table` argument is catalog-relative (`namespace.table`, the
  * Iceberg convention) and resolves through the same validated,
  * case-insensitive path logic as every other catalog operation
  * ([[GraftCatalog.resolvePath]]) — a procedure argument cannot reach
  * outside the catalog root.
  */
object GraftProcedures {

  /** One graft maintenance procedure: parameter spec + the execution.
    * `bind` is identity — parameters are static; Spark resolves named
    * arguments and fills declared defaults before `call`.
    */
  private final class MaintenanceProcedure(
      procName: String,
      params: Array[ProcedureParameter],
      outSchema: StructType,
      body: (graft.tables.LakeTable, InternalRow) => Array[Any],
      root: String) extends UnboundProcedure with BoundProcedure {

    override def name(): String = procName
    override def description(): String = s"graft maintenance: $procName"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow): util.Iterator[Scan] = {
      val tableName = input.getUTF8String(0).toString
      val parts = tableName.split('.').toSeq
      require(parts.length == 2 && parts.forall(_.nonEmpty),
        s"$procName: `table` must be 'namespace.table' (catalog-relative), got '$tableName'")
      val p = GraftCatalog.resolvePath(root, parts)
      require(graft.tables.LakeTable.isTable(p), s"$procName: no lake table at $tableName")
      val t = graft.tables.LakeTable(SparkSession.active, p.toString)
      val row = new GenericInternalRow(body(t, input))
      val scan = new LocalScan {
        override def readSchema(): StructType = outSchema
        override def rows(): Array[InternalRow] = Array(row)
      }
      util.Collections.singletonList[Scan](scan).iterator()
    }
  }

  private def tableParam: ProcedureParameter =
    ProcedureParameter.in("table", StringType)
      .comment("catalog-relative table name: 'namespace.table'").build()

  val namespace: Array[String] = Array("system")

  val names: Seq[String] = Seq(
    "compact", "compact_clustered", "expire_snapshots", "sweep_orphans",
    "restore", "create_tag", "drop_tag", "add_check_constraint", "drop_check_constraint")

  /** Resolve `lake.system.<name>`; unknown names fail loudly. */
  def load(root: String, name: String): UnboundProcedure = name.toLowerCase match {
    case "compact" =>
      // small-file policy: rewrite the snapshot into one commit dir when
      // more than max_commit_dirs have accumulated (0 forces a rewrite)
      new MaintenanceProcedure(
        "compact",
        Array(
          tableParam,
          ProcedureParameter.in("max_commit_dirs", IntegerType).defaultValue("16")
            .comment("compact only when the snapshot has more commit dirs than this").build()),
        StructType(Seq(
          StructField("compacted", BooleanType, nullable = false),
          StructField("version", LongType, nullable = true))),
        (t, in) => t.compactIfNeeded(in.getInt(1)) match {
          case Some(v) => Array[Any](true, v)
          case None    => Array[Any](false, null)
        },
        root)
    case "compact_clustered" =>
      // Iceberg rewrite_data_files(strategy => 'sort') / Delta OPTIMIZE
      // ZORDER analog: range-cluster the rewrite and record per-file
      // zonemaps, so later range scans skip files inside commit dirs
      new MaintenanceProcedure(
        "compact_clustered",
        Array(
          tableParam,
          ProcedureParameter.in("cluster_by", StringType)
            .comment("column to range-cluster the rewrite on").build(),
          ProcedureParameter.in("num_files", IntegerType).defaultValue("32").build()),
        StructType(Seq(StructField("version", LongType, nullable = false))),
        (t, in) => Array[Any](
          t.compactClustered(in.getUTF8String(1).toString, in.getInt(2))),
        root)
    case "expire_snapshots" =>
      new MaintenanceProcedure(
        "expire_snapshots",
        Array(
          tableParam,
          ProcedureParameter.in("keep_last", IntegerType).defaultValue("1")
            .comment("how many latest snapshots stay time-travel readable").build()),
        StructType(Seq(StructField("expired_snapshots", IntegerType, nullable = false))),
        (t, in) => Array[Any](t.expireSnapshots(in.getInt(1))),
        root)
    case "sweep_orphans" =>
      // remove_orphan_files analog: commit dirs no live manifest
      // references, older than the crash-safety grace window
      new MaintenanceProcedure(
        "sweep_orphans",
        Array(
          tableParam,
          ProcedureParameter.in("grace_ms", LongType).defaultValue("86400000")
            .comment("only sweep dirs older than this (crash-window guard)").build()),
        StructType(Seq(
          StructField("removed_dirs", IntegerType, nullable = false),
          StructField("dirs", StringType, nullable = true))),
        (t, in) => {
          val removed = t.sweepOrphans(in.getLong(1))
          Array[Any](removed.length, UTF8String.fromString(removed.mkString(",")))
        },
        root)
    case "restore" =>
      // Delta RESTORE TABLE ... TO VERSION AS OF / Iceberg rollback:
      // manifest-only republish of a historical snapshot
      new MaintenanceProcedure(
        "restore",
        Array(
          tableParam,
          ProcedureParameter.in("version", LongType)
            .comment("snapshot version to roll the table back to").build()),
        StructType(Seq(StructField("restored_as_version", LongType, nullable = false))),
        (t, in) => Array[Any](t.restore(in.getLong(1))),
        root)
    case "create_tag" =>
      new MaintenanceProcedure(
        "create_tag",
        Array(
          tableParam,
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("version", LongType).defaultValue("-1")
            .comment("snapshot to tag; -1 = latest").build()),
        StructType(Seq(StructField("tagged_version", LongType, nullable = false))),
        (t, in) => Array[Any](
          t.createTag(
            in.getUTF8String(1).toString,
            Some(in.getLong(2)).filter(_ >= 0L))),
        root)
    case "drop_tag" =>
      new MaintenanceProcedure(
        "drop_tag",
        Array(tableParam, ProcedureParameter.in("name", StringType).build()),
        StructType(Seq(StructField("dropped", BooleanType, nullable = false))),
        (t, in) => Array[Any](t.deleteTag(in.getUTF8String(1).toString)),
        root)
    case "add_check_constraint" =>
      new MaintenanceProcedure(
        "add_check_constraint",
        Array(
          tableParam,
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("predicate", StringType)
            .comment("SQL boolean expression every row must satisfy").build()),
        StructType(Seq(StructField("version", LongType, nullable = false))),
        (t, in) => Array[Any](
          t.addCheckConstraint(
            in.getUTF8String(1).toString, in.getUTF8String(2).toString)),
        root)
    case "drop_check_constraint" =>
      new MaintenanceProcedure(
        "drop_check_constraint",
        Array(tableParam, ProcedureParameter.in("name", StringType).build()),
        StructType(Seq(StructField("version", LongType, nullable = false))),
        (t, in) => Array[Any](t.dropCheckConstraint(in.getUTF8String(1).toString)),
        root)
    case other =>
      throw new RuntimeException(
        s"procedure system.$other not found; graft provides ${names.mkString(", ")}")
  }
}
