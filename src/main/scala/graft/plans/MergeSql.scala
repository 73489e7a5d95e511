package graft.plans

import org.apache.spark.sql.{GraftSqlInternals, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedIdentifier, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** `MERGE INTO` as SQL over [[graft.tables.LakeTable]] targets — the
  * SQL surface of the reference's entire merge layer
  * (`/root/reference/src/silver/_silver_utils.py:136-149,176-183`,
  * Iceberg `MERGE INTO`). Spark parses MERGE for any relation but
  * EXECUTES it only against DSv2 tables implementing row-level
  * operations; a `lake.<ns>.<t>` table is read-only to Spark, so the
  * statement is intercepted at the PARSER (before analysis binds the
  * clause expressions to a scan: the merge must read the CURRENT
  * table version at run time) and rewritten to
  * [[GraftMergeIntoCommand]], which plans the
  * standard copy-on-write rewrite — the same join-and-replace shape
  * Iceberg/Delta execute under their MERGE — and commits atomically
  * through `LakeTable.overwrite`.
  *
  * Supported surface (the reference's, plus conditions):
  *   - `WHEN MATCHED [AND cond] THEN UPDATE SET *` / explicit
  *     assignments / `DELETE`, first-match-wins across clauses;
  *   - `WHEN NOT MATCHED [AND cond] THEN INSERT *` / explicit
  *     assignments (unassigned columns become NULL);
  *   - `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE` explicit
  *     assignments / `DELETE` — the full-sync surface (delete or
  *     deactivate target rows absent from the source; the reference's
  *     SCD2 close pass, `_silver_utils.py:136-142`, is the degenerate
  *     form). By-source clauses see ONLY the target: they are evaluated
  *     over the target alone, before the join, so a source reference
  *     fails resolution loudly — the Delta/SQL-standard rule, enforced
  *     by plan shape;
  *   - arbitrary `ON` condition.
  * Schema evolution is rejected
  * loudly. A target row matching multiple source rows is an error
  * (the SQL-standard / Delta / Iceberg cardinality rule), raised by the
  * rewrite's write job from the same one join, with no probe before it.
  *
  * The parser delegates to Spark's and rewrites only row-level
  * statements whose target is a lake-table name; everything else
  * passes straight through.
  */
class GraftMergeParser(session: SparkSession, delegate: ParserInterface)
  extends ParserInterface {

  /** The table root a `<catalog>.<ns>.<table>` name resolves to, when
    * `<catalog>` is an attached [[graft.tables.v2.GraftCatalog]]: such
    * a name is always a valid target (INSERT may create it). Resolution
    * shares the catalog's own identifier→path rules (case-insensitive
    * against existing dirs, traversal-checked), so DML and SELECT can
    * never land on different directories. Any other name is not ours.
    */
  private def rootFor(nameParts: Seq[String]): Option[String] = nameParts match {
    case Seq(cat, schema, table) =>
      val impl =
        try session.conf.get(s"spark.sql.catalog.$cat")
        catch { case _: Exception => null }
      if (impl != classOf[graft.tables.v2.GraftCatalog].getName) None
      else {
        val root = session.conf.get(s"spark.sql.catalog.$cat.root")
        Some(graft.tables.v2.GraftCatalog.resolvePath(root, Seq(schema, table)).toString)
      }
    case _ => None
  }

  override def parsePlan(sqlText: String): LogicalPlan =
    delegate.parsePlan(sqlText) match {
      case m: MergeIntoTable => rewriteMerge(m)
      case i: InsertIntoStatement => rewriteInsert(i)
      case d: DeleteFromTable => rewriteDelete(d)
      case u: UpdateTable => rewriteUpdate(u)
      case c: CreateTableAsSelect => rewriteCtas(c)
      case t: TruncateTable => rewriteTruncate(t)
      case a: AddCheckConstraint => rewriteAddConstraint(a)
      case d: DropConstraint => rewriteDropConstraint(d)
      case other => other
    }

  /** `ALTER TABLE t ADD CONSTRAINT name CHECK (pred)` — the Delta-style
    * DDL twin of `CALL lake.system.add_check_constraint`: validates
    * existing data, then records the predicate in the manifest so every
    * later write path enforces it. Spark 4 parses the statement natively
    * ([[AddCheckConstraint]]); only lake-table names are
    * intercepted, everything else flows to the stock analyzer.
    */
  private def rewriteAddConstraint(a: AddCheckConstraint): LogicalPlan = {
    val partsOpt = a.child.collectFirst { case UnresolvedRelation(parts, _, _) => parts }
    partsOpt.flatMap(rootFor) match {
      case None => a
      case Some(root) =>
        val cc = a.checkConstraint
        require(
          cc.userProvidedCharacteristic == ConstraintCharacteristic(None, None),
          "graft ADD CONSTRAINT supports no ENFORCED/RELY characteristic clause")
        // the grammar makes the constraint name optional (Spark invents
        // one at resolution time, which never runs for this command) —
        // a null name would register an unaddressable, undroppable
        // constraint in the manifest, so require an explicit one
        require(
          cc.userProvidedName != null && cc.userProvidedName.nonEmpty,
          "graft ADD CONSTRAINT requires an explicit constraint name " +
            "(ALTER TABLE t ADD CONSTRAINT <name> CHECK (...))")
        GraftAddConstraintCommand(root, cc.userProvidedName, cc.condition)
    }
  }

  /** `ALTER TABLE t DROP CONSTRAINT [IF EXISTS] name`. */
  private def rewriteDropConstraint(d: DropConstraint): LogicalPlan = {
    val partsOpt = d.child match {
      case org.apache.spark.sql.catalyst.analysis.UnresolvedTable(parts, _, _) => Some(parts)
      case _ => None
    }
    partsOpt.flatMap(rootFor) match {
      case None => d
      case Some(root) =>
        require(!d.cascade, "graft DROP CONSTRAINT does not support CASCADE")
        GraftDropConstraintCommand(root, d.name, d.ifExists)
    }
  }

  /** `TRUNCATE TABLE` on a lake-table name: one
    * empty-snapshot commit (the same shape as `DELETE FROM t` with no
    * WHERE) — history stays time-travel readable, no DV per row.
    */
  private def rewriteTruncate(t: TruncateTable): LogicalPlan = {
    val nameParts = t.table match {
      case org.apache.spark.sql.catalyst.analysis.UnresolvedTable(parts, _, _) => parts
      case _ => return t
    }
    rootFor(nameParts) match {
      case None => t
      case Some(root) =>
        GraftDeleteFromCommand(root, nameParts.last, new SqlExprPayload(Literal.TrueLiteral))
    }
  }

  /** `CREATE TABLE lake.<ns>.<t> [IF NOT EXISTS] AS SELECT ...` — CTAS
    * as sugar over the engine's own commit path: the SELECT resolves at
    * run time and its one `append` both creates the table and anchors
    * the schema contract (manifest v0 carries the query schema), the
    * same end state as CREATE-then-INSERT in one atomic commit.
    */
  private def rewriteCtas(c: CreateTableAsSelect): LogicalPlan = {
    val nameParts = c.name match {
      case UnresolvedIdentifier(parts, _) if parts.length == 3 => parts
      case _ => return c
    }
    rootFor(nameParts) match {
      case None => c
      case Some(root) =>
        val partCols = graft.tables.v2.GraftCatalog.partitionSpecs(c.partitioning)
        // unsupported spec clauses fail LOUDLY —
        // silently dropping TBLPROPERTIES/LOCATION would let the user
        // believe they took effect
        c.tableSpec match {
          case s: UnresolvedTableSpec =>
            require(
              s.properties.isEmpty && s.location.isEmpty && s.serde.isEmpty &&
                s.constraints.isEmpty && !s.external,
              "graft CTAS supports no TBLPROPERTIES/LOCATION/SERDE/constraints/EXTERNAL clause")
            require(
              s.provider.forall(_.equalsIgnoreCase("parquet")),
              s"graft CTAS stores parquet; USING ${s.provider.getOrElse("")} is not supported")
          case _ => ()
        }
        GraftCtasCommand(root, new SqlPlanPayload(c.query), c.ignoreIfExists, partCols)
    }
  }

  /** Target of a row-level statement: bare name or `name AS alias`,
    * both still unresolved at parse time.
    */
  private def targetOf(plan: LogicalPlan): Option[(Seq[String], String)] = plan match {
    case SubqueryAlias(id, UnresolvedRelation(parts, _, _)) => Some((parts, id.name))
    case UnresolvedRelation(parts, _, _) => Some((parts, parts.last))
    case _ => None
  }

  private def rejectSubqueries(statement: String, exprs: Seq[Expression]): Unit =
    require(
      !exprs.exists(_.exists(_.isInstanceOf[SubqueryExpression])),
      s"graft $statement does not support subqueries")

  /** `DELETE FROM` a lake-table name — routed to the
    * deletion-vector path ([[graft.tables.LakeTable.deleteWhereDV]]):
    * merge-on-read, so a 100-row delete costs a 100-key sidecar, never
    * a snapshot rewrite. A bare `DELETE FROM t` (condition literally
    * true) is a truncate: one empty-snapshot commit, no DV over every
    * row. History stays time-travel readable either way.
    */
  private def rewriteDelete(d: DeleteFromTable): LogicalPlan = {
    val (nameParts, alias) = targetOf(d.table).getOrElse(return d)
    rootFor(nameParts) match {
      case None => d
      case Some(root) =>
        rejectSubqueries("DELETE", Seq(d.condition))
        GraftDeleteFromCommand(root, alias, new SqlExprPayload(d.condition))
    }
  }

  /** `UPDATE ... SET ... [WHERE ...]` a lake-table name —
    * the copy-on-write rewrite (per-column CASE projection over the
    * current snapshot, atomic overwrite commit), the same shape
    * Spark-on-Delta plans for UPDATE without deletion vectors.
    */
  private def rewriteUpdate(u: UpdateTable): LogicalPlan = {
    val (nameParts, alias) = targetOf(u.table).getOrElse(return u)
    rootFor(nameParts) match {
      case None => u
      case Some(root) =>
        rejectSubqueries("UPDATE", u.assignments.map(_.value) ++ u.condition)
        GraftUpdateCommand(root, alias, new UpdateSqlPayload(u.assignments, u.condition))
    }
  }

  /** `INSERT INTO` / `INSERT OVERWRITE` a lake-table name —
    * the reference's first-load statement
    * (`/root/reference/src/silver/_silver_utils.py:130-135`). A
    * non-existent target is created by the first insert (the reference
    * pre-creates via engine DDL; here the commit log IS the table).
    */
  private def rewriteInsert(ins: InsertIntoStatement): LogicalPlan = {
    val nameParts = ins.table match {
      case UnresolvedRelation(parts, _, _) => parts
      case _ => return ins
    }
    rootFor(nameParts) match {
      case None => ins
      case Some(root) =>
        require(
          ins.partitionSpec.isEmpty && !ins.ifPartitionNotExists,
          "graft INSERT INTO does not support a PARTITION spec")
        GraftInsertIntoCommand(
          root, ins.userSpecifiedCols, new SqlPlanPayload(ins.query), ins.overwrite, ins.byName)
    }
  }

  private def rewriteMerge(m: MergeIntoTable): LogicalPlan = {
    // target: bare name or `name AS alias` — both still unresolved here
    val (nameParts, targetAlias) = m.targetTable match {
      case SubqueryAlias(id, UnresolvedRelation(parts, _, _)) => (parts, id.name)
      case UnresolvedRelation(parts, _, _) => (parts, parts.last)
      case _ => return m
    }
    rootFor(nameParts) match {
      case None => m // not ours: Spark's own (DSv2) path / error applies
      case Some(root) =>
        require(
          !m.withSchemaEvolution,
          "graft MERGE INTO does not support WITH SCHEMA EVOLUTION")
        // `UPDATE SET *` is meaningless without a source row to copy
        // from — reject at parse, like Delta (the grammar admits it)
        require(
          !m.notMatchedBySourceActions.exists(_.isInstanceOf[UpdateStarAction]),
          "WHEN NOT MATCHED BY SOURCE cannot UPDATE SET * (no source row to copy)")
        // normalize the source under a known qualifier for SET * / INSERT *
        val (source, sourceAlias) = m.sourceTable match {
          case s @ SubqueryAlias(id, _) => (s: LogicalPlan, id.name)
          case u @ UnresolvedRelation(parts, _, _) => (u: LogicalPlan, parts.last)
          case other => (SubqueryAlias("__graft_src", other): LogicalPlan, "__graft_src")
        }
        GraftMergeIntoCommand(
          root, targetAlias, sourceAlias,
          new MergeSqlPayload(
            source, m.mergeCondition, m.matchedActions, m.notMatchedActions,
            m.notMatchedBySourceActions))
    }
  }

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** The parsed merge body, deliberately a PLAIN class (not a Product):
  * TreeNode reflection collects Expression/LogicalPlan constructor
  * fields of a command as its own expressions and the analyzer would
  * try (and fail) to resolve them against a childless leaf — these
  * trees must stay opaque until [[GraftMergeIntoCommand.run]] builds
  * the rewrite plan they resolve inside.
  */
final class MergeSqlPayload(
    val source: LogicalPlan,
    val condition: Expression,
    val matchedActions: Seq[MergeAction],
    val notMatchedActions: Seq[MergeAction],
    val notMatchedBySourceActions: Seq[MergeAction] = Seq.empty) extends Serializable

/** Same opacity trick for a single plan (see [[MergeSqlPayload]]). */
final class SqlPlanPayload(val plan: LogicalPlan) extends Serializable

/** Same opacity trick for a single expression (see [[MergeSqlPayload]]). */
final class SqlExprPayload(val expr: Expression) extends Serializable

/** Same opacity trick for UPDATE's assignments + condition. */
final class UpdateSqlPayload(
    val assignments: Seq[Assignment],
    val condition: Option[Expression]) extends Serializable

/** Shared bits of the DELETE/UPDATE commands: qualifier handling and
  * assignment-key resolution against the target schema.
  */
private[plans] object RowLevelSql {

  /** Strip the target alias/table qualifier off attribute references
    * (`t.bal` → `bal`): DELETE's condition is evaluated as a Column
    * filter over the table's own read (no alias in scope there). The
    * same alias-over-column precedence Spark's resolver applies.
    */
  def stripQualifier(e: Expression, alias: String): Expression = e.transform {
    case a: UnresolvedAttribute
        if a.nameParts.length >= 2 && a.nameParts(a.nameParts.length - 2).equalsIgnoreCase(alias) =>
      UnresolvedAttribute(Seq(a.nameParts.last))
  }

  /** The assignment value for target column `c`, if any clause sets it. */
  def assignmentFor(assigns: Seq[Assignment], c: String): Option[Expression] =
    assigns.collectFirst {
      case Assignment(k: UnresolvedAttribute, v) if k.nameParts.last.equalsIgnoreCase(c) => v
    }

  /** Every SET key must name exactly one target column, once. */
  def validateAssignments(assigns: Seq[Assignment], schema: StructType, root: String): Unit = {
    val names = assigns.map {
      case Assignment(k: UnresolvedAttribute, _) => k.nameParts.last
      case Assignment(other, _) =>
        throw new IllegalArgumentException(
          s"UPDATE SET key must be a column reference, got $other")
    }
    val have = schema.fields.map(_.name.toLowerCase).toSet
    names.foreach { n =>
      require(
        have.contains(n.toLowerCase),
        s"UPDATE SET column '$n' is not in the target schema of $root " +
          s"(${schema.fields.map(_.name).mkString(", ")})")
    }
    require(
      names.map(_.toLowerCase).distinct.length == names.length,
      s"UPDATE assigns the same column twice (${names.mkString(", ")})")
  }
}

/** The executable DELETE: merge-on-read via the deletion-vector
  * sidecar — [[graft.tables.LakeTable.deleteWhereDV]] writes (file,
  * row-index) keys for matching rows and reads mask them with one
  * small-side anti join, so delete cost scales with rows DELETED, not
  * table size. SQL semantics preserved: rows whose condition evaluates
  * NULL are kept (deleteWhereDV coalesces to false). `DELETE FROM t`
  * with no WHERE truncates via one empty overwrite commit instead of
  * enumerating every row id into a DV.
  */
/** Executable `ALTER TABLE ... ADD CONSTRAINT ... CHECK`: one full-scan
  * validation of existing data (the only data read DDL ever needs), then
  * a metadata-only manifest commit. Enforcement from then on rides the
  * write-side observe pass — zero extra scans per batch.
  */
final case class GraftAddConstraintCommand(
    root: String,
    name: String,
    predicate: String) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val table = graft.tables.LakeTable(spark, root)
    require(table.exists, s"ALTER TABLE target at $root does not exist")
    table.addCheckConstraint(name, predicate)
    Seq.empty
  }
}

/** Executable `ALTER TABLE ... DROP CONSTRAINT` (metadata-only). */
final case class GraftDropConstraintCommand(
    root: String,
    name: String,
    ifExists: Boolean) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val table = graft.tables.LakeTable(spark, root)
    require(table.exists, s"ALTER TABLE target at $root does not exist")
    if (!ifExists) require(
      table.checkConstraints().contains(name),
      s"constraint $name does not exist on $root (use DROP CONSTRAINT IF EXISTS)")
    table.dropCheckConstraint(name)
    Seq.empty
  }
}

final case class GraftDeleteFromCommand(
    root: String,
    targetAlias: String,
    payload: SqlExprPayload) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val table = graft.tables.LakeTable(spark, root)
    require(table.exists, s"DELETE FROM target at $root does not exist")
    RowLevelSql.stripQualifier(payload.expr, targetAlias) match {
      case Literal.TrueLiteral => table.overwrite(table.read().limit(0))
      case cond => table.deleteWhereDV(GraftSqlInternals.column(cond))
    }
    Seq.empty
  }
}

/** The executable UPDATE: copy-on-write — one per-column
  * `CASE WHEN cond THEN value ELSE old END` projection over the
  * current snapshot, committed atomically through
  * `LakeTable.overwrite` (which re-inherits the table's partition
  * layout). Zero joins, one scan+write; rows whose condition evaluates
  * NULL keep their old values (CASE falls through to ELSE), and
  * assigned values are cast to the declared column type so an UPDATE
  * can never silently evolve the schema.
  */
final case class GraftUpdateCommand(
    root: String,
    targetAlias: String,
    payload: UpdateSqlPayload) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val table = graft.tables.LakeTable(spark, root)
    require(table.exists, s"UPDATE target at $root does not exist")
    val targetDf = table.read()
    val schema = targetDf.schema
    RowLevelSql.validateAssignments(payload.assignments, schema, root)
    payload.condition match {
      case Some(cond0) =>
        // WHERE present: merge-on-read — one atomic commit masking the
        // matched rows with a deletion vector and appending their
        // updated copies. Cost scales with rows matched, never with
        // table size (the copy-on-write projection below rewrites the
        // WHOLE table, which at 100 TB is a non-starter for a
        // selective UPDATE). Store-assignment casts applied inside
        // updateWhere.
        val cond = GraftSqlInternals.column(
          RowLevelSql.stripQualifier(cond0, targetAlias))
        val assigns = schema.fields.flatMap { f =>
          RowLevelSql.assignmentFor(payload.assignments, f.name).map(v =>
            f.name -> GraftSqlInternals.column(
              RowLevelSql.stripQualifier(v, targetAlias)))
        }.toMap
        table.updateWhere(cond, assigns)
      case None =>
        // unconditional UPDATE touches every row anyway: copy-on-write
        // (one clean rewrite) beats masking 100% of the table with DVs
        val aliasT = SubqueryAlias(targetAlias, targetDf.queryExecution.analyzed)
        def tAttr(c: String) = UnresolvedAttribute(Seq(targetAlias, c))
        val cols = schema.fields.map { f =>
          val e = RowLevelSql.assignmentFor(payload.assignments, f.name) match {
            case Some(v) => Cast(v, f.dataType): Expression
            case None => tAttr(f.name): Expression
          }
          Alias(e, f.name)()
        }
        table.overwrite(GraftSqlInternals.ofRows(spark, Project(cols.toSeq, aliasT)))
    }
    Seq.empty
  }
}

/** `INSERT INTO [OVERWRITE]` a lake table: resolves the SELECT at run
  * time, conforms it to the target schema (positional with casts, or
  * by-name for `INSERT ... BY NAME`; an explicit column list fills the
  * unlisted columns with typed NULLs), and commits through
  * `LakeTable.append`/`overwrite`. A missing target is created by the
  * first insert.
  */
final case class GraftInsertIntoCommand(
    root: String,
    userSpecifiedCols: Seq[String],
    payload: SqlPlanPayload,
    overwrite: Boolean,
    byName: Boolean) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val table = graft.tables.LakeTable(spark, root)
    var df = GraftSqlInternals.ofRows(spark, payload.plan)
    if (userSpecifiedCols.nonEmpty) {
      require(
        df.columns.length == userSpecifiedCols.length,
        s"INSERT column list has ${userSpecifiedCols.length} columns but the query " +
          s"produces ${df.columns.length}")
      df = df.toDF(userSpecifiedCols: _*)
    }
    // conformance applies whenever the table EXISTS — including a
    // freshly CREATEd empty one, whose declared schema must govern
    // positional mapping (otherwise INSERT would silently evolve it)
    if (table.exists) {
      val schema = table.read().schema
      df =
        if (userSpecifiedCols.nonEmpty || byName) {
          // by-name conformance; columns the insert omits become typed NULL
          val have = df.columns.map(_.toLowerCase).toSet
          schema.fields.foreach { f =>
            if (!have.contains(f.name.toLowerCase) && userSpecifiedCols.isEmpty)
              throw new IllegalArgumentException(
                s"INSERT BY NAME is missing target column ${f.name}")
          }
          df.select(schema.fields.map { f =>
            if (have.contains(f.name.toLowerCase)) col(f.name).cast(f.dataType).as(f.name)
            else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
          }.toSeq: _*)
        } else {
          require(
            df.columns.length == schema.fields.length,
            s"INSERT query produces ${df.columns.length} columns, target has " +
              s"${schema.fields.length} (use an explicit column list or BY NAME)")
          df.select(df.columns.zip(schema.fields).map { case (c, f) =>
            col(c).cast(f.dataType).as(f.name)
          }.toSeq: _*)
        }
    }
    if (overwrite) table.overwrite(df) else table.append(df)
    Seq.empty
  }
}

/** The executable CTAS: CAS-claim version 0 with the query's analyzed
  * schema (exactly ONE creator can win — concurrent CTAS on the same
  * name fails loudly instead of both appending), then load the query
  * result as the first data commit. A pre-existing target throws (or
  * no-ops under IF NOT EXISTS — the query is then never executed,
  * matching Spark's CTAS semantics).
  */
final case class GraftCtasCommand(
    root: String,
    payload: SqlPlanPayload,
    ignoreIfExists: Boolean,
    partitionBy: Seq[String] = Seq.empty) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val table = graft.tables.LakeTable(spark, root)
    val df = GraftSqlInternals.ofRows(spark, payload.plan) // analysis only here
    val partCols = partitionBy.map { s =>
      val p = graft.tables.PartitionSpec.parse(s)
      val canonical = df.schema.fieldNames.find(_.equalsIgnoreCase(p.source)).getOrElse(
        throw new IllegalArgumentException(
          s"PARTITIONED BY column ${p.source} is not in the query output"))
      graft.tables.PartitionSpec.withSource(p, canonical).spec
    }
    if (!table.createIfAbsent(df.schema, partCols)) {
      if (ignoreIfExists) return Seq.empty
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, root))
    }
    table.append(df) // inherits the manifest's partitionBy
    Seq.empty
  }
}


/** The executable MERGE: reads the target's CURRENT snapshot, applies
  * the clause semantics as one declarative plan, and commits through
  * `LakeTable.overwrite` (atomic manifest swap — the same commit the
  * programmatic `Merge.mergeScd1/2` rewrites use).
  *
  * Plan shape (all Catalyst-declarative, no driver row handling), one
  * join for every clause combination:
  *   - the target carries a row id plus its NOT MATCHED BY SOURCE clause
  *     index and values, evaluated over the target alone; the source
  *     carries a row id (its marker) plus its NOT MATCHED clause index
  *     and values, evaluated over the source alone. Each family sees only
  *     its own side: a source reference in a by-source clause fails
  *     analysis, and an unqualified name resolves to that side;
  *   - one FULL OUTER join on the merge condition yields matched,
  *     target-only and source-only rows;
  *   - a window numbers the source rows each target row matched;
  *   - one projection applies the MATCHED clauses and picks each row's
  *     values by its kind; DELETE rows and source rows no insert clause
  *     takes are filtered out. Every assigned value is cast to its
  *     declared column type (store assignment, as in
  *     [[GraftUpdateCommand]] / Delta / Iceberg).
  * A target row matching more than one source row fails the write with
  * `raise_error` when MATCHED clauses exist (the SQL-standard / Delta /
  * Iceberg cardinality rule) and is kept once when none do. The result
  * replaces the whole table, so an empty source still publishes a
  * version.
  */
final case class GraftMergeIntoCommand(
    root: String,
    targetAlias: String,
    sourceAlias: String,
    payload: MergeSqlPayload) extends LeafRunnableCommand {

  // Internal columns. Each clause family's index column `c` carries its
  // per-target-column values as `c_<column position>`.
  private val TargetRowId = "__graft_tid"
  private val SourceRowId = "__graft_sid"
  private val MatchNumber = "__graft_match"
  private val MatchedClause = "__graft_matched"
  private val BySourceClause = "__graft_by_source"
  private val InsertClause = "__graft_insert"
  private val Ambiguous = "MERGE INTO: a target row matches multiple source rows " +
    "(ambiguous merge — the SQL cardinality rule Iceberg/Delta also enforce)"

  override def run(spark: SparkSession): Seq[Row] = {
    val table = graft.tables.LakeTable(spark, root)
    require(
      table.exists,
      s"MERGE INTO target at $root does not exist; load it first (append/INSERT)")
    val targetDf = table.read()
    val fields = targetDf.schema.fields.toSeq.zipWithIndex
    def ref(c: String) = UnresolvedAttribute(Seq(c))
    def tAttr(c: String) = UnresolvedAttribute(Seq(targetAlias, c))
    def sAttr(c: String) = UnresolvedAttribute(Seq(sourceAlias, c))
    def withColumns(cols: Seq[NamedExpression], p: LogicalPlan): LogicalPlan =
      Project(UnresolvedStar(None) +: cols, p)
    def firstOf(branches: Seq[(Expression, Expression)], otherwise: Expression): Expression =
      if (branches.isEmpty) otherwise else CaseWhen(branches, otherwise)

    // `base` plus, as column `clause`, the index of the first of
    // `actions` whose condition holds under `guard` (-1: none), then each
    // target column's value under that clause, cast to the declared
    // type; `kept` is the value where the clause assigns none
    def withClause(
        base: LogicalPlan,
        clause: String,
        actions: Seq[MergeAction],
        guard: Expression,
        kept: StructField => Expression): LogicalPlan = {
      val index = firstOf(
        actions.zipWithIndex.map { case (a, i) =>
          (And(guard, a.condition.getOrElse(Literal.TrueLiteral)), Literal(i))
        },
        Literal(-1))
      val values = fields.map { case (f, j) =>
        val assigned = actions.zipWithIndex.flatMap { case (a, i) =>
          val v = a match {
            case _: UpdateStarAction | _: InsertStarAction => Some(sAttr(f.name))
            case UpdateAction(_, assigns, _) => RowLevelSql.assignmentFor(assigns, f.name)
            case InsertAction(_, assigns) => RowLevelSql.assignmentFor(assigns, f.name)
            case _ => None
          }
          v.map(e => (EqualTo(ref(clause), Literal(i)): Expression, Cast(e, f.dataType): Expression))
        }
        Alias(firstOf(assigned, kept(f)), s"${clause}_$j")()
      }
      withColumns(values, withColumns(Seq(Alias(index, clause)()), base))
    }
    def deleted(clause: String, actions: Seq[MergeAction]): Expression =
      actions.zipWithIndex.collect { case (_: DeleteAction, i) => Literal(i): Expression } match {
        case Seq() => Literal.FalseLiteral
        case idxs => In(ref(clause), idxs)
      }

    val targetSide = withClause(
      withColumns(
        Seq(Alias(MonotonicallyIncreasingID(), TargetRowId)()),
        SubqueryAlias(targetAlias, targetDf.queryExecution.analyzed)),
      BySourceClause, payload.notMatchedBySourceActions, Literal.TrueLiteral, f => tAttr(f.name))
    val sourceSide = withClause(
      withColumns(Seq(Alias(MonotonicallyIncreasingID(), SourceRowId)()), payload.source),
      InsertClause, payload.notMatchedActions, Literal.TrueLiteral,
      f => Literal.create(null, f.dataType))
    val joined = Join(targetSide, sourceSide, FullOuter, Some(payload.condition), JoinHint.NONE)

    val (tid, sid) = (ref(TargetRowId), ref(SourceRowId))
    val matched = And(IsNotNull(tid), IsNotNull(sid))
    val targetOnly = IsNull(sid)
    // unmatched source rows have no target row id: each gets a partition
    // of its own rather than sharing the null key's
    val matchNumber = WindowExpression(
      RowNumber(),
      WindowSpecDefinition(
        Seq(tid, If(IsNull(tid), sid, Literal.create(null, LongType))),
        Seq(SortOrder(sid, Ascending)),
        UnspecifiedFrame))
    val numbered = withClause(
      withColumns(Seq(Alias(matchNumber, MatchNumber)()), joined),
      MatchedClause, payload.matchedActions, matched, f => tAttr(f.name))

    // a target row matched more than once has a row numbered 2 or more:
    // the write fails there under MATCHED clauses, else the row is dropped
    val repeat = GreaterThan(ref(MatchNumber), Literal(1))
    val keepMatched =
      if (payload.matchedActions.isEmpty) Not(repeat)
      else If(
        repeat,
        UnresolvedFunction("raise_error", Seq(Literal(Ambiguous)), false),
        Not(deleted(MatchedClause, payload.matchedActions)))
    val keep = CaseWhen(
      Seq(
        matched -> keepMatched,
        targetOnly -> Not(deleted(BySourceClause, payload.notMatchedBySourceActions))),
      GreaterThanOrEqual(ref(InsertClause), Literal(0)))
    val cols = fields.map { case (f, j) =>
      Alias(
        CaseWhen(
          Seq(
            matched -> ref(s"${MatchedClause}_$j"),
            targetOnly -> ref(s"${BySourceClause}_$j")),
          ref(s"${InsertClause}_$j")),
        f.name)()
    }
    table.overwrite(GraftSqlInternals.ofRows(spark, Project(cols, Filter(keep, numbered))))
    Seq.empty
  }
}
