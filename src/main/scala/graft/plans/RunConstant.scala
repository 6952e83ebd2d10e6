package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode, TrueLiteral}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.DataType

object RunConstant {

  /** `c`, bound as a run constant: the value it folds to in each query
    * is passed to the generated class at run time instead of being
    * written into its source. A per-run stamp (`current_timestamp()`,
    * a run id literal) then leaves the generated source the same from
    * run to run, so the codegen cache serves every run after the
    * first. The values are exactly those of `c`. */
  def apply(c: Column): Column =
    ColumnBridge.column(new RunConstant(ColumnBridge.expression(c)))
}

/** A value constant within one query but not across queries.
  *
  * The optimizer folds a constant expression into a literal, and
  * codegen writes a literal's value into the class source. So a value
  * that changes per run — `current_timestamp()`, which the optimizer
  * replaces by a fresh timestamp literal in every query, or a run id —
  * makes every run generate a new class, and Janino compiles it
  * (about 25 ms a class). This node is not foldable, so it survives
  * optimization around its folded child. Its codegen binds that
  * child's value as a `references[]` entry, as [[HashExpressions]] and
  * [[AdcExpressions]] bind their arrays; the class source names only
  * the entry's index. A child that is still not foldable after
  * optimization (a data-dependent run id) is passed to its own
  * codegen unchanged. */
case class RunConstant(child: Expression) extends UnaryExpression {

  override def foldable: Boolean = false
  override def nullable: Boolean = child.nullable
  override def dataType: DataType = child.dataType
  override def prettyName: String = "run_constant"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!child.foldable) child.genCode(ctx)
    else child.eval(null) match {
      case null =>
        ExprCode(code = EmptyBlock, isNull = TrueLiteral,
          value = JavaCode.defaultLiteral(dataType))
      case v =>
        val javaType = CodeGenerator.javaType(dataType)
        val ref = ctx.addReferenceObj("runConstant", v,
          CodeGenerator.boxedType(dataType))
        // a boxed primitive unboxes through its `<primitive>Value()`
        val value =
          if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()"
          else ref
        ExprCode(code = EmptyBlock, isNull = FalseLiteral,
          value = JavaCode.expression(value, dataType))
    }

  override protected def withNewChildInternal(newChild: Expression): RunConstant =
    copy(child = newChild)
}
