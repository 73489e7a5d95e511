package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlInternals.column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.DataType

/** A bound parameter: a constant whose value reaches generated code
  * through the plan's reference array, never through the Java source.
  *
  * A [[Literal]] of a primitive type (a timestamp is a `long` of
  * micros) is inlined into the generated source, and the codegen cache
  * is keyed by that source, so a plan stamped with a new instant each
  * run compiles a new class each run. A `Param` in the same place
  * compiles once: same-shaped plans share one class and differ only in
  * the object they pass it. It is not foldable, so the optimizer keeps
  * it (and whatever is computed from it) out of the source too; the
  * cost is that a filter on a `Param` does not push down to a scan, so
  * a predicate that should prune stays a literal.
  *
  * `value` is the internal Catalyst value ([[Param.of]] converts an
  * external one); `toString` and `sql` print it as a literal would, so
  * plan dumps stay readable.
  */
final case class Param(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = value == null
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null) ExprCode.forNullValue(dataType)
    else {
      val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
      val unboxed =
        if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${CodeGenerator.javaType(dataType)}Value()"
        else ref
      ExprCode.forNonNullValue(JavaCode.expression(unboxed, dataType))
    }

  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql
}

object Param {
  /** `value` bound as a parameter: takes what `lit` takes for a scalar. */
  def of(value: Any): Column = {
    val l = Literal(value)
    column(Param(l.value, l.dataType))
  }
}
