package graft.plans

import org.apache.spark.sql.{GraftSqlInternals, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.Count
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.tables.{Catalog, LakeTable}

/** The one-join SQL `MERGE INTO` against the probe-and-union command it
  * replaced ([[ProbedMergeInto]], copied below).
  *
  * Each run builds one random target twice, then runs one random MERGE
  * statement through the session against one copy and through the old
  * command against the other. Targets and sources carry duplicate and
  * null keys and null values, and a source may be empty; statements mix
  * conditional, unconditional and DELETE clauses of all three families
  * under equi, null-safe and non-equi `ON` conditions. Either both runs
  * fail with the cardinality error and leave their tables as they were,
  * or both tables hold the same rows as a multiset.
  */
class MergeSqlEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private def forAllSeeded[A](gen: Gen[A], runs: Int)(body: A => Unit): Unit =
    (1 to runs).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  /** (key, value, tag) */
  private type Rec = (Option[Int], Option[Long], String)

  private val recGen: Gen[Rec] = for {
    k <- Gen.frequency(1 -> Gen.const(None), 4 -> Gen.chooseNum(1, 4).map(Some(_)))
    v <- Gen.frequency(1 -> Gen.const(None), 3 -> Gen.chooseNum(1L, 3L).map(Some(_)))
    w <- Gen.oneOf("a", "b")
  } yield (k, v, w)

  private val matched = Seq(
    "WHEN MATCHED AND s.v IS NULL THEN DELETE",
    "WHEN MATCHED AND t.v > s.v THEN UPDATE SET v = t.v + s.v, w = 'upd'",
    "WHEN MATCHED THEN UPDATE SET *",
    "WHEN MATCHED THEN DELETE")
  // unqualified names resolve to the source here
  private val notMatched = Seq(
    "WHEN NOT MATCHED AND s.v > 1 THEN INSERT *",
    "WHEN NOT MATCHED AND w = 'b' THEN INSERT (k, w) VALUES (k, 'ins')",
    "WHEN NOT MATCHED THEN INSERT (k, v, w) VALUES (s.k, s.v * 10, s.w)")
  // and to the target here
  private val bySource = Seq(
    "WHEN NOT MATCHED BY SOURCE AND t.v IS NULL THEN DELETE",
    "WHEN NOT MATCHED BY SOURCE AND v > 2 THEN UPDATE SET w = 'gone'",
    "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = v + 100",
    "WHEN NOT MATCHED BY SOURCE THEN DELETE")
  private val equiConditions = Seq("t.k = s.k", "t.k = s.k AND t.w = s.w", "t.k <=> s.k")
  private val nonEquiConditions = Seq("t.k > s.k - 1 AND t.k < s.k + 1", "t.k >= s.k")

  private case class Run(
      target: List[Rec],
      source: List[Rec],
      on: String,
      families: Seq[Seq[String]]) {
    def statement(name: String): String =
      s"MERGE INTO $name t USING s_eq s ON $on ${families.flatten.mkString(" ")}"
  }

  private def clausesGen(menu: Seq[String], chosen: Boolean): Gen[Seq[String]] =
    if (!chosen) Gen.const(Seq.empty)
    else
      Gen.chooseNum(1, 2).flatMap(Gen.pick(_, menu))
        .flatMap(p => Gen.oneOf(p.toSeq.permutations.toSeq))
        .map { cs =>
          // the grammar lets only a family's last clause omit its condition
          val (conditional, bare) = cs.partition(_.contains(" AND "))
          conditional ++ bare.take(1)
        }

  private val runGen: Gen[Run] = for {
    target <- Gen.chooseNum(0, 6).flatMap(Gen.listOfN(_, recGen))
    source <- Gen.frequency(1 -> Gen.const(0), 5 -> Gen.chooseNum(1, 6)).flatMap(Gen.listOfN(_, recGen))
    on <- Gen.frequency(3 -> Gen.oneOf(equiConditions), 2 -> Gen.oneOf(nonEquiConditions))
    // which families appear: any non-empty subset
    shape <- Gen.chooseNum(1, 7)
    m <- clausesGen(matched, (shape & 1) != 0)
    n <- clausesGen(notMatched, (shape & 2) != 0)
    b <- clausesGen(bySource, (shape & 4) != 0)
  } yield Run(target, source, on, Seq(m, n, b))

  private def rows(t: LakeTable): Map[Seq[Any], Int] =
    t.read().collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, g) => r -> g.size }

  /** The cardinality error, or None when the merge committed. */
  private def outcome(merge: => Unit): Option[String] =
    try { merge; None }
    catch {
      case e: Exception if e.getMessage.contains("multiple source rows") => Some("ambiguous")
    }

  test("the one-join MERGE INTO equals the probed command as multisets of rows") {
    val seen = scala.collection.mutable.Set.empty[String]
    val parser = new GraftMergeParser(spark, CatalystSqlParser)
    forAllSeeded(runGen, 40) { run =>
      val cat = Catalog(spark, scratchDir("sqleq"))
      cat.attachSqlCatalog()
      val current = cat.table("s", "t_eq_current")
      val oracle = cat.table("s", "t_eq_oracle")
      Seq(current, oracle).foreach(_.append(run.target.toDF("k", "v", "w")))
      run.source.toDF("k", "v", "w").createOrReplaceTempView("s_eq")
      val before = rows(current)

      val got = outcome(spark.sql(run.statement("lake.s.t_eq_current")))
      val want = outcome(parser.parsePlan(run.statement("lake.s.t_eq_oracle")) match {
        case c: GraftMergeIntoCommand =>
          ProbedMergeInto(c.root, c.targetAlias, c.sourceAlias, c.payload).run(spark)
      })
      val what = s"${run.statement("t")}\n target ${run.target}\n source ${run.source}"
      assert(got == want, s"$what:\n one join: $got\n probed: $want")
      if (got.nonEmpty) {
        seen += "ambiguous"
        assert(rows(current) == before && rows(oracle) == before, s"$what: a failed merge changed a table")
      } else {
        seen += "committed"
        assert(rows(current) == rows(oracle),
          s"$what:\n one join: ${rows(current)}\n probed: ${rows(oracle)}")
      }

      Seq("target" -> run.target, "source" -> run.source).foreach { case (side, recs) =>
        val keys = recs.flatMap(_._1)
        if (keys.distinct.size < keys.size) seen += s"duplicate $side keys"
        if (recs.exists(_._1.isEmpty)) seen += s"null $side keys"
        if (recs.exists(_._2.isEmpty)) seen += s"null $side values"
      }
      if (run.source.isEmpty) seen += "empty source"
      if (nonEquiConditions.contains(run.on)) seen += "non-equi ON"
      val Seq(m, n, b) = run.families
      if (m.isEmpty && n.isEmpty) seen += "by-source clauses only"
      Seq("matched" -> m, "not matched" -> n, "by source" -> b).foreach { case (family, cs) =>
        if (cs.exists(_.contains(" AND "))) seen += s"conditional $family"
        if (cs.exists(_.endsWith("DELETE"))) seen += s"DELETE $family"
      }
    }
    val cases = Set(
      "ambiguous", "committed", "empty source", "non-equi ON", "by-source clauses only",
      "conditional matched", "conditional not matched", "conditional by source",
      "DELETE matched", "DELETE by source") ++
      Seq("target", "source").flatMap(s => Seq(s"duplicate $s keys", s"null $s keys", s"null $s values"))
    assert(cases.subsetOf(seen), s"the generated runs never covered ${cases -- seen}")
  }
}

/** The command before the one-join plan, verbatim but for its name. */
private final case class ProbedMergeInto(
    root: String,
    targetAlias: String,
    sourceAlias: String,
    payload: MergeSqlPayload) extends LeafRunnableCommand {

  private def source = payload.source
  private def condition = payload.condition
  private def matchedActions = payload.matchedActions
  private def notMatchedActions = payload.notMatchedActions

  private val MatchedCol = "__graft_matched"
  private val ClauseCol = "__graft_clause"
  private val TidCol = "__graft_tid"

  override def run(spark: SparkSession): Seq[Row] = {
    val table = graft.tables.LakeTable(spark, root)
    require(
      table.exists,
      s"MERGE INTO target at $root does not exist; load it first (append/INSERT)")
    val targetDf = table.read()
    val targetSchema = targetDf.schema
    val targetPlan = targetDf.queryExecution.analyzed
    def aliasT = SubqueryAlias(targetAlias, targetPlan)
    def tAttr(c: String) = UnresolvedAttribute(Seq(targetAlias, c))
    def sAttr(c: String) = UnresolvedAttribute(Seq(sourceAlias, c))
    val clauseRef = UnresolvedAttribute(Seq(ClauseCol))

    def assignmentFor(assigns: Seq[Assignment], c: String): Option[Expression] =
      assigns.collectFirst {
        case Assignment(k: UnresolvedAttribute, v) if k.nameParts.last.equalsIgnoreCase(c) => v
      }

    // ---- cardinality rule: no target row may match >1 source row ----
    // Two enforcement shapes, picked by SOURCE SIZE (the scale knob):
    //
    //  - Broadcast-sized source (the overwhelmingly common OLTP-ish
    //    merge): a separate eager probe join. Both probe and rewrite
    //    broadcast the source and stream the target, so the "extra" join
    //    costs one more broadcast build of an already-small side —
    //    measured cheaper at bench scale than any sharing machinery
    //    (persisting the joined frame regressed q_merge_sql 1.0 → 2.5 s:
    //    cache write + columnar encode + an extra shuffle-agg job dwarf a
    //    second broadcast join over 10k rows).
    //
    //  - Past the broadcast threshold (the 100 TB shape, where the
    //    matched join is a full shuffle of both sides): the matched-side
    //    join is built ONCE with a synthetic target row id, PERSISTED,
    //    the probe counts rows per id over the cached frame (a left-outer
    //    join emits exactly one row per unmatched target row, so >1 rows
    //    per id ⟺ multiple source matches), and the clause rewrite then
    //    consumes the SAME cached frame — Delta's discipline of deriving
    //    the rule from the merge join itself, removing the second full
    //    scan+shuffle of both sides. MergeSqlSpec pins the shared join.
    def requireUnambiguous(joined: org.apache.spark.sql.DataFrame): Unit = {
      val ambiguous = joined
        .groupBy(col(TidCol))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("__graft_cnt"))
        .filter(col("__graft_cnt") > 1)
        .limit(1)
      require(
        ambiguous.isEmpty,
        "MERGE INTO: a target row matches multiple source rows " +
          "(ambiguous merge — the SQL cardinality rule Iceberg/Delta also enforce)")
    }
    def tWithId = Project(
      Seq(UnresolvedStar(None), Alias(MonotonicallyIncreasingID(), TidCol)()),
      aliasT)
    def eagerProbe(): Unit = {
      val probe = Aggregate(
        Seq(UnresolvedAttribute(Seq(TidCol))),
        Seq(Alias(Count(Seq(Literal(1))).toAggregateExpression(), "cnt")()),
        Join(tWithId, source, Inner, Some(condition), JoinHint.NONE))
      val ambiguous = GraftSqlInternals.ofRows(spark, probe)
        .filter(col("cnt") > 1)
        .limit(1)
      require(
        ambiguous.isEmpty,
        "MERGE INTO: a target row matches multiple source rows " +
          "(ambiguous merge — the SQL cardinality rule Iceberg/Delta also enforce)")
    }
    // size gate from the optimizer's own estimate of the source subtree
    // (no execution): exactly the stat the planner will use to pick the
    // join strategy, so "probe re-joins cheaply" and "the join would
    // broadcast" coincide
    val sourceBroadcastable: Boolean = {
      val thr = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      thr > 0 && GraftSqlInternals.ofRows(spark, source)
        .queryExecution.optimizedPlan.stats.sizeInBytes <= thr
    }
    val sharedJoins = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.DataFrame]
    // one try/finally covers EVERY exit from the first persist() to the
    // overwrite: requireUnambiguous throws on ambiguous merges AFTER the
    // join is persisted (and any failure building the rest of the plan
    // lands here too) — without this the cached target×source join leaked
    // in the CacheManager for the session lifetime on those paths
    try {

      // ---- matched side: target vs source, clause-indexed ----
      val bySourceActions = payload.notMatchedBySourceActions

      def passthroughAll(p: LogicalPlan): LogicalPlan =
        Project(targetSchema.fields.map(f => Alias(tAttr(f.name), f.name)()).toSeq, p)

      // the clause machinery one action family shares: first-match-wins
      // CASE index (optionally guarded, for the matched marker), DELETE
      // rows filtered, then a per-column projection where every assigned
      // value is cast to the DECLARED column type (store-assignment, as
      // in GraftUpdateCommand / Delta / Iceberg): a widening expression
      // like `t.k + 1` on an INT column must store as INT, not coerce
      // the CASE output and drift the schema. `starFor` supplies the
      // SET * value per column (None for by-source, which has no source
      // row — rejected at parse anyway).
      def clauseRewrite(
          base: LogicalPlan,
          actions: Seq[MergeAction],
          guard: Option[Expression],
          starFor: Option[String => Expression]): LogicalPlan = {
        val clauseIdx = CaseWhen(
          actions.zipWithIndex.map { case (a, i) =>
            val cond = a.condition.getOrElse(Literal(true))
            (guard.map(g => And(g, cond): Expression).getOrElse(cond), Literal(i))
              : (Expression, Expression)
          },
          Some(Literal(-1)))
        val withClause = Project(
          Seq(UnresolvedStar(None), Alias(clauseIdx, ClauseCol)()),
          base)
        val deleteIdxs = actions.zipWithIndex.collect { case (_: DeleteAction, i) => i }
        val filtered = deleteIdxs.foldLeft[LogicalPlan](withClause) { (p, i) =>
          Filter(Not(EqualTo(clauseRef, Literal(i))), p)
        }
        val cols = targetSchema.fields.map { f =>
          val branches = actions.zipWithIndex.flatMap {
            case (_: UpdateStarAction, i) =>
              starFor.map(s => (EqualTo(clauseRef, Literal(i)): Expression,
                Cast(s(f.name), f.dataType): Expression))
            case (UpdateAction(_, assigns, _), i) =>
              assignmentFor(assigns, f.name)
                .map(v => (EqualTo(clauseRef, Literal(i)): Expression,
                  Cast(v, f.dataType): Expression))
            case _ => None
          }
          val e =
            if (branches.isEmpty) tAttr(f.name): Expression
            else CaseWhen(branches, Some(tAttr(f.name)))
          Alias(e, f.name)()
        }
        Project(cols.toSeq, filtered)
      }

      val updatedPart: LogicalPlan =
        if (bySourceActions.isEmpty) {
          if (matchedActions.isEmpty) passthroughAll(aliasT)
          else {
            // one LEFT OUTER join carries both matched rows (clauses
            // apply, marker-guarded) and unmatched ones (passthrough);
            // broadcast-sized sources probe eagerly and re-join (cheap),
            // larger sources build the join once, persist, probe, rewrite
            val sourceAug = Project(
              Seq(UnresolvedStar(None), Alias(Literal(true), MatchedCol)()),
              source)
            val guard = Some(
              EqualNullSafe(UnresolvedAttribute(Seq(MatchedCol)), Literal(true)): Expression)
            if (sourceBroadcastable) {
              eagerProbe()
              clauseRewrite(
                Join(aliasT, sourceAug, LeftOuter, Some(condition), JoinHint.NONE),
                matchedActions, guard = guard, starFor = Some(sAttr))
            } else {
              val joined = GraftSqlInternals.ofRows(
                spark,
                Join(tWithId, sourceAug, LeftOuter, Some(condition), JoinHint.NONE)).persist()
              sharedJoins += joined
              requireUnambiguous(joined)
              clauseRewrite(
                joined.queryExecution.analyzed,
                matchedActions, guard = guard, starFor = Some(sAttr))
            }
          }
        } else {
          // by-source clauses split the matched side in two over the SAME
          // join keys: matched rows (inner join — probed for ≤1 source
          // match over its own persisted output — or semi when no matched
          // action exists, which is duplicate-proof without a probe) and
          // target-only rows (anti join). The anti branch's output has no
          // source columns AT ALL, so a by-source clause referencing the
          // source fails resolution loudly — the Delta/SQL rule enforced
          // by plan shape. At scale: two joins sharing one shuffle key
          // set (or one broadcast source), each side scanned once.
          val matchedBranch: LogicalPlan =
            if (matchedActions.isEmpty)
              passthroughAll(Join(aliasT, source, LeftSemi, Some(condition), JoinHint.NONE))
            else if (sourceBroadcastable) {
              eagerProbe()
              clauseRewrite(
                Join(aliasT, source, Inner, Some(condition), JoinHint.NONE),
                matchedActions, guard = None, starFor = Some(sAttr))
            } else {
              val joined = GraftSqlInternals.ofRows(
                spark,
                Join(tWithId, source, Inner, Some(condition), JoinHint.NONE)).persist()
              sharedJoins += joined
              requireUnambiguous(joined)
              clauseRewrite(
                joined.queryExecution.analyzed,
                matchedActions, guard = None, starFor = Some(sAttr))
            }
          val bySourceBranch = clauseRewrite(
            Join(aliasT, source, LeftAnti, Some(condition), JoinHint.NONE),
            bySourceActions, guard = None, starFor = None)
          Union(matchedBranch, bySourceBranch)
        }

      // ---- insert side: source LEFT ANTI target ----
      val insertPart: Option[LogicalPlan] =
        if (notMatchedActions.isEmpty) None
        else {
          val anti = Join(source, aliasT, LeftAnti, Some(condition), JoinHint.NONE)
          val insIdx = CaseWhen(
            notMatchedActions.zipWithIndex.map { case (a, i) =>
              (a.condition.getOrElse(Literal(true)): Expression, Literal(i): Expression)
            },
            Some(Literal(-1)))
          val withClause = Project(
            Seq(UnresolvedStar(None), Alias(insIdx, ClauseCol)()),
            anti)
          val filtered = Filter(GreaterThanOrEqual(clauseRef, Literal(0)), withClause)
          val cols = targetSchema.fields.map { f =>
            val branches = notMatchedActions.zipWithIndex.flatMap {
              case (_: InsertStarAction, i) =>
                Some((EqualTo(clauseRef, Literal(i)): Expression,
                  Cast(sAttr(f.name), f.dataType): Expression))
              case (InsertAction(_, assigns), i) =>
                Some((EqualTo(clauseRef, Literal(i)): Expression,
                  assignmentFor(assigns, f.name)
                    .map(v => Cast(v, f.dataType): Expression)
                    .getOrElse(Literal.create(null, f.dataType))))
              case _ => None
            }
            Alias(CaseWhen(branches, Some(Literal.create(null, f.dataType))), f.name)()
          }
          Some(Project(cols.toSeq, filtered))
        }

      val result = insertPart match {
        case Some(ins) => Union(updatedPart, ins)
        case None => updatedPart
      }
      table.overwrite(GraftSqlInternals.ofRows(spark, result))
    } finally sharedJoins.foreach(_.unpersist(blocking = false))
    Seq.empty
  }
}
