package graft.catalyst

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.json.{JacksonParser, JSONOptions}
import org.apache.spark.sql.catalyst.util.{FailureSafeParser, PermissiveMode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MapType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.GzipCodec

/** The fused Kinesis-payload decode: gzip bytes → JSON document → struct
  * in one pass over bytes. The payload inflates into this thread's reused
  * [[graft.functions.GunzipDecoder]] buffer, and Spark's own
  * `JacksonParser` + `FailureSafeParser` (built as `from_json` builds them:
  * PERMISSIVE, the corrupt-record column `_corrupt`, the session time
  * zone) parse those bytes through Jackson's byte parser. The chain it
  * replaces, `from_json(decode(graft_gunzip(x), 'UTF-8'))`, copied the
  * document into a `String` and a `UTF8String`, then decoded the UTF-8 a
  * second time through a `Reader` to tokenize chars.
  *
  * Verdicts, each a row of `schema` (never a failed batch):
  *  - null input or a payload the gunzip rejects: all fields null,
  *    `_corrupt = "UNDECODABLE"`;
  *  - a document Jackson rejects (malformed JSON, invalid UTF-8): the
  *    fields `from_json` keeps from before the error, and `_corrupt` =
  *    the document's bytes;
  *  - an empty document: null, as `from_json` returns.
  */
case class GunzipJsonExpression(
    child: Expression,
    schema: StructType,
    timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  override def dataType: DataType = GunzipJsonExpression.asNullable(schema)
  override def nullable: Boolean  = true
  override def prettyName: String = "graft_gunzip_json"
  override protected def flatArguments: Iterator[Any] = Iterator(child)
  override def sql: String = s"$prettyName(${child.sql})"

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Some(timeZoneId))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires BINARY input, got ${child.dataType.catalogString}")
    else if (!schema.exists(f => f.name == GunzipJsonExpression.Corrupt && f.dataType == StringType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a STRING field ${GunzipJsonExpression.Corrupt} in ${schema.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  // Built once per deserialized copy of the plan, i.e. per task.
  @transient private lazy val kernel = new GunzipJsonExpression.Kernel(
    dataType.asInstanceOf[StructType],
    timeZoneId.getOrElse(SQLConf.get.sessionLocalTimeZone))

  /** The verdict row for one payload (the generated code's entry point). */
  def decode(gz: Array[Byte]): InternalRow = kernel.decode(gz)

  override def eval(input: InternalRow): Any =
    decode(child.eval(input).asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("gunzipJson", this)
    val c    = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      InternalRow ${ev.value} = $self.decode(${c.isNull} ? null : ${c.value});
      boolean ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): GunzipJsonExpression =
    copy(child = newChild)
}

object GunzipJsonExpression {

  /** The corrupt-record column every schema must carry. */
  val Corrupt = "_corrupt"

  /** `schema` with every level nullable, as `from_json` returns it. */
  private def asNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType  => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType    => MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
    case other         => other
  }

  private final class Kernel(schema: StructType, timeZoneId: String) {
    private val options = new JSONOptions(
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> Corrupt), timeZoneId, Corrupt)
    private var length = 0
    private val parser = {
      val jackson = new JacksonParser(
        StructType(schema.filterNot(_.name == Corrupt)), options, allowArrayAsStructs = false)
      val open = (f: JsonFactory, doc: Array[Byte]) => f.createParser(doc, 0, length): JsonParser
      // the corrupt-record text, built only when a document fails
      val text = (doc: Array[Byte]) => UTF8String.fromBytes(java.util.Arrays.copyOf(doc, length))
      new FailureSafeParser[Array[Byte]](
        doc => jackson.parse(doc, open, text), PermissiveMode, schema, Corrupt)
    }
    private val undecodable = {
      val r = new GenericInternalRow(schema.length)
      r.update(schema.fieldIndex(Corrupt), UTF8String.fromString("UNDECODABLE"))
      r
    }

    def decode(gz: Array[Byte]): InternalRow =
      if (gz == null) undecodable
      else {
        val d = GzipCodec.decoder
        try {
          length = d.inflate(gz)
          if (length < 0) undecodable
          else {
            val rows = parser.parse(d.buffer)
            if (rows.hasNext) rows.next() else null
          }
        } finally d.release()
      }
  }
}
