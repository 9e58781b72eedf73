package graft.catalyst

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Native Catalyst expression for gzip decode (SURVEY.md §4.3 candidate 1):
  * unlike the scalar-UDF form, this participates in whole-stage codegen, so
  * the Kinesis-payload decode fuses into the scan→filter pipeline instead
  * of breaking the generated loop at a UDF boundary.
  *
  * Null or undecodable input → null (the A8 dead-letter contract — corrupt
  * payloads must not fail a 100 TB job).
  */
case class GunzipExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean  = true
  override def prettyName: String = "graft_gunzip"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires BINARY input, got ${child.dataType.catalogString}"
      )
  }

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.GzipCodec.gunzipOrNull(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c => s"""
        ${ev.value} = graft.functions.GzipCodec.gunzipOrNull($c);
        ${ev.isNull} = ${ev.value} == null;
      """
    )

  override protected def withNewChildInternal(newChild: Expression): GunzipExpression =
    copy(child = newChild)
}
