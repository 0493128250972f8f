package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

/** A JVM kernel as a Catalyst expression: the one idiom of graft's
  * native unary expressions (text, similarity and hygiene kernels).
  *
  * A subclass supplies `dataType`, `prettyName`, `withNewChildInternal`
  * and `compute(in: I)` with its concrete return type. This base
  * evaluates `compute` null-safely, interpreted and in generated code: a
  * null input yields null without calling it. The generated Java calls
  * the subclass's typed `compute` on the node itself (one reference
  * object per use), so a primitive result (`Double`, `Long`, `Int`)
  * stays unboxed and the kernel runs inside whole-stage codegen.
  * NativeExprSpec pins generated ≡ interpreted for every subclass.
  */
trait NativeUnary[I] extends UnaryExpression {

  def compute(in: I): Any

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[I])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj(prettyName, this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.compute($c);")
  }
}
