package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** A scalar-UDF gunzip over `java.util.zip.GZIPInputStream`, written
  * independently of [[GzipCodec]]: the reference the engine's decoder and
  * the native expressions are checked against. Test-only — it has no
  * decompression cap. */
object DecodeUdf {

  /** `java.util.zip.GZIPInputStream` over the whole payload; null where
    * it throws. */
  def gunzipBytes(bytes: Array[Byte]): Array[Byte] =
    if (bytes == null) null
    else
      try {
        val in  = new GZIPInputStream(new ByteArrayInputStream(bytes))
        val out = new ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n   = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toByteArray
      } catch { case _: IOException => null }

  /** Gunzip a binary column; malformed input → null (A8 tolerance). */
  val gunzip: UserDefinedFunction = udf((bytes: Array[Byte]) => gunzipBytes(bytes))

  /** Full Kinesis-payload decode: base64 string → gunzip → UTF-8 JSON.
    * Any stage failing (bad base64, bad gzip) yields null. */
  def decodePayload(b64: Column): Column =
    decode(gunzip(Decode.fromBase64(b64)), "UTF-8")
}
