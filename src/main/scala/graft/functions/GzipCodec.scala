package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import java.util.zip.GZIPInputStream

/** JVM gzip decode helper, called from the `graft.gunzip` catalog function
  * and the codegen path of [[graft.catalyst.GunzipExpression]] (Scala
  * object methods emit static forwarders, so generated Java can call this
  * directly). */
object GzipCodec {

  /** Decompression ceiling per record. Kinesis payloads are untrusted; a
    * gzip bomb (KBs expanding to GBs) would OOM the executor — an Error the
    * A8 dead-letter contract (catch IOException, route, continue) cannot
    * contain. Past the cap the record is treated as corrupt (null). */
  val MaxDecompressedBytes: Int = 64 << 20

  def gunzipOrNull(bytes: Array[Byte]): Array[Byte] =
    if (bytes == null) null
    else
      try {
        val in  = new GZIPInputStream(new ByteArrayInputStream(bytes))
        val out = new ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n   = in.read(buf)
        while (n >= 0) {
          if (out.size() + n > MaxDecompressedBytes) return null
          out.write(buf, 0, n)
          n = in.read(buf)
        }
        out.toByteArray
      } catch { case _: IOException => null }
}
