package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: 64-bit polynomial rolling hash of a
  * string (document fingerprinting primitive). Stays inside
  * whole-stage codegen via a static-call `doGenCode`, so it runs at
  * built-in-function speed — no UDF serialization, no codegen break.
  */
case class RollingHashExpr(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    RollingHashExpr.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHashExpr.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingHashExpr =
    copy(child = newChild)
}

object RollingHashExpr {
  /** h = 31*h + byte over UTF-8 bytes, seeded with a large prime. */
  def hash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) {
      h = 31L * h + bytes(i)
      i += 1
    }
    h
  }
}
