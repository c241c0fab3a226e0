package graft.functions

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A query parameter: a constant that reaches generated code as a
  * runtime value, not as source text.
  *
  * Spark inlines an integer `Literal` into whole-stage-codegen Java, so
  * a lookup issued with a new parameter set generates new source, misses
  * the codegen cache and pays a Janino compile (tens of ms per class).
  * `Param`'s `doGenCode` reads its value from the generated class's
  * `references` array (the way a string literal already does), so the
  * source is the same for every value and compiles once per plan shape.
  *
  * Not foldable, so ConstantFolding leaves it in place; deterministic,
  * so a filter over partition columns still prunes partitions (pruning
  * evaluates it through `eval`). Literal-only rewrites skip it: parquet
  * filter pushdown and manifest-stats pruning need a `Literal`. Equality
  * and canonicalization keep the value, so plans for different values
  * are never taken for each other. Not a SQL function.
  */
case class Param(value: Any, dataType: DataType) extends LeafExpression {

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = s"param($value)"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    ev.copy(isNull = FalseLiteral,
      code = code"${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;")
  }
}

object Param {
  /** `v` as a parameter column, converted the way `lit(v)` converts it. */
  def of(v: Any): Column = {
    val l = Literal(v)
    GraftPlanBridge.columnOf(Param(l.value, l.dataType))
  }
}
