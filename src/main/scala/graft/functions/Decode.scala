package graft.functions

import java.io.ByteArrayOutputStream
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Payload decode surface (SURVEY.md §2.A A3/A4).
  *
  * The reference consumes Kinesis records whose payloads are
  * base64-delivered, gzip-compressed JSON (reference: README.md:2; the
  * Kinesis/Arc delivery contract). Base64 is a Spark built-in
  * (`base64`/`unbase64`, codegen'd); gunzip is [[GzipCodec]], reached
  * through the native expressions [[graft.catalyst.GunzipExpression]]
  * and, for the Arc envelope, the fused gunzip → JSON decode
  * [[graft.catalyst.GunzipJsonExpression]]; both are capped at
  * [[GzipCodec.MaxDecompressedBytes]] per record.
  */
object Decode {

  /** Gzip a binary column (test/roundtrip support; sinks may emit gzip). */
  val gzip: UserDefinedFunction = udf { (bytes: Array[Byte]) =>
    if (bytes == null) null
    else {
      val out = new ByteArrayOutputStream()
      val gz  = new GZIPOutputStream(out)
      gz.write(bytes)
      gz.close()
      out.toByteArray
    }
  }

  /** Kinesis payloads arrive base64-encoded. Decoding is null-tolerant
    * (`try_to_binary`) — invalid base64 must dead-letter, not fail the
    * batch (A8). */
  def fromBase64(str: Column): Column = try_to_binary(str, lit("base64"))
}
