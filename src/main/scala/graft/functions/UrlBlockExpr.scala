package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.{UrlFilterKernel, UrlFilterRules}

/** Codegen block-flag expressions over a URL column, the scan-side
  * kernels of [[graft.pipeline.UrlFilter]]. The rule set rides a
  * [[Broadcast]] — the expression serializes the HANDLE into the task
  * binary and each executor materializes the set once, exactly the
  * broadcast-hash-join shipping model without the join: flagging is an
  * O(host labels) hash-set walk inside whole-stage codegen, zero
  * shuffle at any corpus size. */
abstract class UrlBlockedExprBase extends UnaryExpression {
  def rules: Broadcast[UrlFilterRules]

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "STRING input") { case StringType => }
  override def dataType: DataType = BooleanType

  /** The kernel method name on [[UrlFilterKernel]] this flag calls. */
  protected def kernelMethod: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("urlFilterRules", rules,
      classOf[Broadcast[UrlFilterRules]].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.pipeline.UrlFilterKernel.$kernelMethod(
         |  $a.toString(),
         |  (graft.pipeline.UrlFilterRules) $ref.value());""".stripMargin)
  }
}

case class UrlBlockedHostExpr(child: Expression, rules: Broadcast[UrlFilterRules])
    extends UrlBlockedExprBase {
  override def prettyName: String = "url_blocked_host"
  override protected def kernelMethod: String = "hostBlocked"
  override protected def withNewChildInternal(c: Expression): UrlBlockedHostExpr =
    copy(child = c)
  override def nullSafeEval(a: Any): Any =
    UrlFilterKernel.hostBlocked(a.asInstanceOf[UTF8String].toString, rules.value)
}

object UrlBlockedHostExpr {
  def apply(url: Column, rules: Broadcast[UrlFilterRules]): Column =
    bridge.column(UrlBlockedHostExpr(bridge.expression(url), rules))
}

case class UrlBlockedTermExpr(child: Expression, rules: Broadcast[UrlFilterRules])
    extends UrlBlockedExprBase {
  override def prettyName: String = "url_blocked_term"
  override protected def kernelMethod: String = "termBlocked"
  override protected def withNewChildInternal(c: Expression): UrlBlockedTermExpr =
    copy(child = c)
  override def nullSafeEval(a: Any): Any =
    UrlFilterKernel.termBlocked(a.asInstanceOf[UTF8String].toString, rules.value)
}

object UrlBlockedTermExpr {
  def apply(url: Column, rules: Broadcast[UrlFilterRules]): Column =
    bridge.column(UrlBlockedTermExpr(bridge.expression(url), rules))
}
