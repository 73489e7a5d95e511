package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.types.{ByteType, Decimal, DecimalType, IntegerType, LongType, ShortType}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}

import graft.tables.{IncrementalAggView, LakeTable}
import graft.tables.v2.GraftSqlTable

/** Registry of incrementally-maintained aggregate views available for
  * TRANSPARENT QUERY REWRITE (the Oracle/BigQuery/Databricks
  * "materialized-view routing" feature): a query that aggregates the
  * SOURCE table in a shape the view already stores is rerouted by
  * [[MatViewRewrite]] to scan the (group-cardinality-sized) view
  * instead of the raw table — at 100 TB the difference between a full
  * fact scan and a metadata-sized read, with zero query changes.
  *
  * Keyed by the source table's normalized root path, which is what a
  * DSv2 catalog scan ([[GraftSqlTable]]) exposes to the optimizer.
  */
object MatViews {

  final case class Spec(
      source: LakeTable,
      view: IncrementalAggView,
      keyCols: Seq[String],
      minMaxCols: Seq[String],
      // columns whose ×10⁴-scaled exact sums the view maintains; SUMs
      // over these reroute only when bit-preserving (integral input, or
      // decimal with scale ≤ 4 — see mapExpr)
      sumCols: Seq[String] = Seq.empty)

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, Spec]()

  def norm(root: String): String =
    java.nio.file.Paths.get(root).toAbsolutePath.normalize.toString

  def register(spec: Spec): Unit = registry.put(norm(spec.source.root), spec)
  def lookup(sourceRoot: String): Option[Spec] = Option(registry.get(norm(sourceRoot)))
  def clear(): Unit = registry.clear()
}

/** Catalyst optimizer rule: reroute exact-match aggregates over a
  * registered source table to its materialized aggregate view.
  *
  * A rewrite fires only when ALL of the following hold — each guard is
  * a correctness condition, not an optimization choice:
  *
  *   - the aggregate's input is a bare scan of the registered source
  *     (modulo aliases and column-pruning projections), NOT a
  *     version-pinned time-travel scan (the view holds current state);
  *   - the view is FRESH: its refresh high-watermark equals the
  *     source's latest committed version — one manifest-metadata check,
  *     no data read. A stale view silently serving old rows would be a
  *     wrong answer, so staleness falls through to the raw scan;
  *   - the grouping keys are exactly the view's key columns, and every
  *     output is a group key, `count(*)` (the view's exact `n_rows`
  *     long), `min`/`max` of a declared min/max column (exact under
  *     the view's least/greatest merge), or `sum` of a declared sum
  *     column whose input type makes reconstruction from the ×10⁴
  *     integer state bit-preserving (integral, or decimal scale ≤ 4).
  *     `sum(double)` is deliberately NOT rewritten: the view stores
  *     exact integer-scaled sums while a raw `sum(double)` accumulates
  *     float error, so substituting one for the other could change
  *     low-order bits — only bit-preserving rewrites are admissible.
  *
  * The replacement is a Project over the view's scan that re-aliases
  * view columns to the ORIGINAL output attribute ids, so parent
  * operators resolve unchanged.
  */
object MatViewRewrite extends Rule[LogicalPlan] {

  private def sourceTable(p: LogicalPlan): Option[GraftSqlTable] = p match {
    case SubqueryAlias(_, c) => sourceTable(c)
    case Project(projList, c) if projList.forall(_.isInstanceOf[AttributeReference]) =>
      sourceTable(c)
    case r: DataSourceV2Relation => r.table match {
      case t: GraftSqlTable if !t.isVersionPinned => Some(t)
      case _ => None
    }
    case s: DataSourceV2ScanRelation => s.relation.table match {
      case t: GraftSqlTable if !t.isVersionPinned => Some(t)
      case _ => None
    }
    case _ => None
  }

  private def isFresh(spec: MatViews.Spec): Boolean =
    spec.view.refreshedThrough().exists(v => spec.source.latestVersion().contains(v))

  /** Peel alias/pruning layers and pull out at most the conjunction of
    * the Filters sitting between the Aggregate and the scan. A filter
    * over GROUP-KEY columns commutes with the group partition, so the
    * aggregate-over-filtered-source equals filter-over-view exactly —
    * still bit-preserving. Non-key filters refuse the rewrite (they
    * select WITHIN groups, which the view state cannot replay).
    */
  private def peelFilters(p: LogicalPlan): (Option[Expression], LogicalPlan) = p match {
    case SubqueryAlias(_, c) => peelFilters(c)
    case Project(projList, c) if projList.forall(_.isInstanceOf[AttributeReference]) =>
      peelFilters(c)
    case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, c) =>
      val (inner, base) = peelFilters(c)
      (inner.map(And(cond, _)).orElse(Some(cond)), base)
    case other => (None, other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(_, _, child, _) =>
      val (filterCond, base) = peelFilters(child)
      (for {
        table <- sourceTable(base)
        spec <- MatViews.lookup(table.root)
        if isFresh(spec)
        rewritten <- tryRewrite(agg, spec, filterCond)
      } yield rewritten).getOrElse(agg)
  }

  private def tryRewrite(
      agg: Aggregate,
      spec: MatViews.Spec,
      filterCond: Option[Expression]): Option[LogicalPlan] = {
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference => a
      case _ => return None
    }
    if (groupAttrs.map(_.name).toSet != spec.keyCols.toSet) return None
    // the view's RAW state table: key cols + n_rows + min_/max_ columns
    val viewPlan = spec.view.view.read().queryExecution.analyzed
    val vOut = viewPlan.output.map(a => a.name -> a).toMap
    val groupNames = groupAttrs.map(_.name).toSet
    // a WHERE is servable only when it is deterministic, subquery-free,
    // and touches group-key columns exclusively — then it remaps 1:1
    // onto the view's key attributes and filters view ROWS (= groups)
    val viewChild: LogicalPlan = filterCond match {
      case None => viewPlan
      case Some(cond) =>
        if (!cond.deterministic) return None
        if (cond.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]))
          return None
        var refused = false
        val remapped = cond.transform {
          case a: AttributeReference =>
            vOut.get(a.name) match {
              case Some(v) if spec.keyCols.contains(a.name) && v.dataType == a.dataType => v
              case _ => refused = true; a
            }
        }
        if (refused) return None
        org.apache.spark.sql.catalyst.plans.logical.Filter(remapped, viewPlan)
    }
    val mapped: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
      mapExpr(ne, vOut, groupNames, spec) match {
        case Some(e) => e
        case None => return None
      }
    }
    Some(Project(mapped, viewChild))
  }

  private def mapExpr(
      ne: NamedExpression,
      vOut: Map[String, Attribute],
      groupNames: Set[String],
      spec: MatViews.Spec): Option[NamedExpression] = ne match {
    case a: AttributeReference if groupNames(a.name) =>
      vOut.get(a.name)
        .filter(_.dataType == a.dataType)
        .map(v => Alias(v, a.name)(exprId = a.exprId))
    case al @ Alias(a: AttributeReference, name) if groupNames(a.name) =>
      vOut.get(a.name)
        .filter(_.dataType == a.dataType)
        .map(v => Alias(v, name)(exprId = al.exprId))
    case al @ Alias(
          AggregateExpression(Count(Seq(Literal(1, _))), _, false, None, _), name) =>
      vOut.get("n_rows").map(v => Alias(v, name)(exprId = al.exprId))
    case al @ Alias(
          AggregateExpression(Min(c: AttributeReference), _, false, None, _), name)
        if spec.minMaxCols.contains(c.name) =>
      vOut.get(s"min_${c.name}")
        .filter(_.dataType == c.dataType)
        .map(v => Alias(v, name)(exprId = al.exprId))
    case al @ Alias(
          AggregateExpression(Max(c: AttributeReference), _, false, None, _), name)
        if spec.minMaxCols.contains(c.name) =>
      vOut.get(s"max_${c.name}")
        .filter(_.dataType == c.dataType)
        .map(v => Alias(v, name)(exprId = al.exprId))
    // SUM routes only when reconstruction from the ×10⁴ integer state is
    // BIT-PRESERVING: integral inputs (the state is exactly 10⁴ × the true
    // long sum, so one exact integral division recovers it) and decimals
    // with scale ≤ 4 (every value ×10⁴ is an integer, so no rounding ever
    // happened). sum(double)/sum(float) stay refused — the raw scan
    // accumulates float error the exact state doesn't share, and a rewrite
    // may change the plan, never the answer.
    case al @ Alias(
          AggregateExpression(s: Sum, _, false, None, _), name) =>
      s.child match {
        case c: AttributeReference if spec.sumCols.contains(c.name) =>
          vOut.get(s"s_${c.name}_e4").flatMap { state =>
            val tenK = Literal(Decimal(10000), DecimalType(5, 0))
            c.dataType match {
              case ByteType | ShortType | IntegerType | LongType =>
                // Sum(integral) has LongType output, as does IntegralDivide
                Some(Alias(IntegralDivide(state, tenK), name)(exprId = al.exprId))
              case d: DecimalType
                  if d.scale <= 4 &&
                    d.precision - d.scale <=
                      graft.tables.IncrementalAggView.MaxSumIntDigits =>
                // the shared MaxSumIntDigits bound keeps routing in
                // lockstep with the refresh guard: a column the view-state
                // ×10⁴ product could have overflowed on never routes
                // exact decimal division (value needs ≤ 4 fraction digits,
                // the quotient scale keeps ≥ 6), cast back to Sum's type
                Some(Alias(Cast(Divide(state, tenK), s.dataType), name)(exprId = al.exprId))
              case _ => None
            }
          }
        case _ => None
      }
    case _ => None
  }
}
