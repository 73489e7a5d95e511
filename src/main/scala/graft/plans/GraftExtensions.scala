package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

import graft.functions.VectorExprs

/** Catalyst optimizer rule: strength-reduce the declarative
  * higher-order dot product
  * {{{ aggregate(zip_with(a, b, (x, y) => x * y), 0.0d, (acc, v) => acc + v) }}}
  * into the compiled [[VectorExprs.ArrayDot]] loop. Interpreted HOFs
  * evaluate a lambda expression tree per element — measured 9× slower
  * on the similarity hot paths — so users who write the idiomatic
  * column-algebra form get the compiled loop automatically.
  *
  * Semantics preserved exactly: ArrayDot mirrors zip_with's
  * pad-with-NULL behavior (unequal lengths → NULL, NULL element →
  * NULL) and accumulates sequentially in index order, so results are
  * bit-identical. Exact widening casts (`transform(a, _.cast(double))`
  * over float/double arrays) are stripped and folded into the loop.
  */
object HofDotStrengthReduction extends Rule[LogicalPlan] {

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t, _) => Some(t)
    case _ => None
  }

  /** transform(arr, x => cast(x as double)) over float/double arrays is
    * an exact widening — fold it into ArrayDot's own element read.
    */
  private def stripExactCast(e: Expression): Expression = e match {
    case ArrayTransform(
          arr,
          LambdaFunction(Cast(v: NamedLambdaVariable, DoubleType, _, _), Seq(v2), _))
        if v.fastEquals(v2) &&
          elemType(arr).exists(t => t == FloatType || t == DoubleType) =>
      arr
    case other => other
  }

  private def sameVars(ops: Seq[Expression], vars: Seq[NamedExpression]): Boolean =
    ops.length == 2 && vars.length == 2 &&
      ((ops(0).fastEquals(vars(0)) && ops(1).fastEquals(vars(1))) ||
        // * and + are bitwise-commutative on doubles, so either operand order matches
        (ops(0).fastEquals(vars(1)) && ops(1).fastEquals(vars(0))))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
          ZipWith(l, r, LambdaFunction(Multiply(x, y, _), zipVars, _)),
          Literal(0.0, DoubleType),
          LambdaFunction(Add(a1, a2, _), mergeVars, _),
          LambdaFunction(fin: NamedLambdaVariable, Seq(finV), _))
        if sameVars(Seq(x, y), zipVars) && sameVars(Seq(a1, a2), mergeVars) &&
          fin.fastEquals(finV) =>
      VectorExprs.ArrayDot(stripExactCast(l), stripExactCast(r))
  }
}

/** Catalyst optimizer rule: hint small `lake.*` catalog scans as
  * broadcast-able. Spark's V1ScanWrapper drops the scan's
  * `SupportsReportStatistics`, so a DSv2-catalog read always computes
  * stats as `defaultSizeInBytes` (= huge) and JoinSelection sort-merges
  * every catalog-path join — even a 2 KB dimension against a TB fact
  * table. This rule reads the snapshot size straight from the table's
  * manifest (one metadata walk, cached per table instance) and attaches
  * a BROADCAST hint to join sides whose scan is provably under
  * `spark.sql.autoBroadcastJoinThreshold`.
  *
  * Conservative on purpose: only sides that are a bare scan (modulo
  * column-pruning Projects, Filters and aliases — all size-reducing)
  * qualify; any explicit user hint on the join is left untouched; the
  * threshold `-1` (broadcast disabled) disables the rule too. A hint
  * can only change the JOIN STRATEGY, never results.
  */
object LakeBroadcastHint extends Rule[LogicalPlan] {

  import org.apache.spark.sql.catalyst.plans.logical._
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  private def scanBytes(p: LogicalPlan): Option[Long] = p match {
    case SubqueryAlias(_, c) => scanBytes(c)
    case Project(_, c) => scanBytes(c)
    case Filter(_, c) => scanBytes(c)
    // pre-pushdown shape (injectOptimizerRule runs in the operator batch)
    case r: DataSourceV2Relation => r.table match {
      case t: graft.tables.v2.GraftSqlTable => Some(t.sizeAtMost(conf.autoBroadcastJoinThreshold))
      case _ => None
    }
    // post-pushdown shape (a plan whose scans were already pushed down)
    case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
      s.relation.table match {
        case t: graft.tables.v2.GraftSqlTable => Some(t.sizeAtMost(conf.autoBroadcastJoinThreshold))
        case _ => None
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val threshold = conf.autoBroadcastJoinThreshold
    if (threshold <= 0) return plan
    plan.transform {
      case j @ Join(l, r, _, _, JoinHint.NONE) =>
        val lSmall = scanBytes(l).exists(_ <= threshold)
        val rSmall = scanBytes(r).exists(_ <= threshold)
        if (!lSmall && !rSmall) j
        else j.copy(hint = JoinHint(
          if (lSmall) Some(HintInfo(Some(BROADCAST))) else None,
          if (rSmall) Some(HintInfo(Some(BROADCAST))) else None))
    }
  }
}

/** `SparkSessionExtensions` entry point — preference order (c) of the
  * build rules: engine behavior injected at session build time via
  * {{{ spark.sql.extensions=graft.plans.GraftExtensions }}}
  * (or `builder.withExtensions(new GraftExtensions)`). Registers the
  * compiled vector functions as SQL-visible builtins and installs the
  * HOF strength-reduction optimizer rule.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => HofDotStrengthReduction)
    ext.injectOptimizerRule(_ => LakeBroadcastHint)
    ext.injectOptimizerRule(_ => MatViewRewrite)
    // MERGE INTO over lake tables: intercepted at the parser (see
    // MergeSql.scala for why analysis-time interception is too late)
    ext.injectParser((session, delegate) => new GraftMergeParser(session, delegate))
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction(
        (
          FunctionIdentifier(name),
          new ExpressionInfo(classOf[VectorExprs.ArrayCosine].getName, name),
          (exprs: Seq[Expression]) => builder(exprs)))
    }
  }
}

object GraftExtensions {

  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      require(
        exprs.length == n,
        s"$name expects $n argument(s), got ${exprs.length}")
      build(exprs)
    }

  private[plans] val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_array_cosine" -> arity("graft_array_cosine", 2)(e => VectorExprs.ArrayCosine(e(0), e(1))),
    "graft_array_dot" -> arity("graft_array_dot", 2)(e => VectorExprs.ArrayDot(e(0), e(1))),
    "graft_array_l2sq" -> arity("graft_array_l2sq", 2)(e => VectorExprs.ArrayL2Sq(e(0), e(1))),
    "graft_jaccard_longs" -> arity("graft_jaccard_longs", 2)(e => VectorExprs.JaccardLongs(e(0), e(1))),
    "graft_simhash64" -> arity("graft_simhash64", 1)(e => VectorExprs.SimHash64(e.head)),
    "graft_bloom_might_contain" -> arity("graft_bloom_might_contain", 2)(e =>
      VectorExprs.BloomMightContain(e(0), e(1))))
}
