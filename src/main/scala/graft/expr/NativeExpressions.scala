package graft.expr

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hottest scalar string kernels — the
  * tier above a Scala UDF (SURVEY.md §7.4): no Row/Scala-object conversion,
  * and `doGenCode` splices a static call straight into whole-stage-codegen'd
  * stages instead of breaking the codegen region the way a UDF does.
  *
  * Served as Columns: [[Placeholder.isPlaceholderFast]] and
  * `Curation.normalizeTextCol`.
  */
object NativeKernels {
  // static entry points referenced from generated code — must take/return
  // codegen-native types (UTF8String/boolean)
  def isPlaceholder(s: UTF8String): Boolean = Placeholder.isPlaceholder(s.toString)
  def normalizeText(s: UTF8String): UTF8String =
    UTF8String.fromString(TextNorm.normalize(s.toString))
}

// `Serializable` is kept on both expressions below: a case class
// (Serializable) whose nearest superclass has constructor params but is NOT
// serializable fails Java DEserialization on executors with "no valid
// constructor" — the driver-side LocalRelation fast path in unit tests
// never serializes the plan, so only a real multi-task job exposes it.

/** P5 as a codegen expression: `is_placeholder(str)` — single compiled call
  * instead of the ~12-regex composed Column form. */
case class IsPlaceholder(child: Expression)
    extends UnaryExpression with Serializable {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.isPlaceholder(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.NativeKernels.isPlaceholder($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "is_placeholder"
}

/** Unicode normalization as a codegen expression: `normalize_text(str)` —
  * the [[TextNorm]] kernel spliced into the codegen region as a static call
  * (no Row↔Scala conversion, no region break). */
case class NormalizeText(child: Expression)
    extends UnaryExpression with Serializable {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.normalizeText(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.NativeKernels.normalizeText($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "normalize_text"
}
