package graft.functions

import java.util.zip.{CRC32, DataFormatException, Inflater}

/** The engine's one gunzip. Every gzip decode — the `graft.gunzip` catalog
  * function, the codegen path of [[graft.catalyst.GunzipExpression]] and the
  * fused payload decode [[graft.catalyst.GunzipJsonExpression]] — runs
  * through this thread's [[GunzipDecoder]] (Scala object methods emit
  * static forwarders, so generated Java can call this directly). */
object GzipCodec {

  /** Decompression ceiling per record. Kinesis payloads are untrusted; a
    * gzip bomb (KBs expanding to GBs) would OOM the executor — an Error the
    * A8 dead-letter contract (catch IOException, route, continue) cannot
    * contain. Past the cap the record is treated as corrupt (null). */
  val MaxDecompressedBytes: Int = 64 << 20

  /** Output buffer a decoder keeps between records. */
  private[functions] val RetainedBytes: Int = 64 << 10

  // Many task threads call the static entry points at once; one decoder
  // (native Inflater, CRC, output buffer) per thread, reset per record.
  private val decoders = ThreadLocal.withInitial[GunzipDecoder](() => new GunzipDecoder)

  /** This thread's decoder. Its buffer holds the last inflate's output
    * until the thread's next inflate. */
  def decoder: GunzipDecoder = decoders.get()

  def gunzipOrNull(bytes: Array[Byte]): Array[Byte] =
    if (bytes == null) null
    else {
      val d = decoder
      val n = d.inflate(bytes)
      val out = if (n < 0) null else java.util.Arrays.copyOf(d.buffer, n)
      d.release()
      out
    }
}

/** A reusable gzip decoder with the member semantics of the JDK's gzip
  * input stream (`java.util.zip`), over an in-memory payload: header
  * flags FEXTRA, FNAME, FCOMMENT and FHCRC; the CRC32 + ISIZE trailer
  * check; concatenated members, with trailing bytes after a member ignored
  * unless they open with a valid header (then they must decode as a
  * member). It inflates the whole payload in one `Inflater` call chain
  * into a growable buffer instead of streaming it through 512-byte reads.
  * Not thread-safe: one per thread. */
final class GunzipDecoder {
  import GunzipDecoder._

  private val inflater = new Inflater(true)
  private val crc      = new CRC32
  private var out      = new Array[Byte](GzipCodec.RetainedBytes)

  /** The last [[inflate]]'s output, in `buffer(0 until n)`. */
  def buffer: Array[Byte] = out

  /** Drop a buffer a large record grew, so it is not kept for the next. */
  def release(): Unit =
    if (out.length > GzipCodec.RetainedBytes) out = new Array[Byte](GzipCodec.RetainedBytes)

  /** Inflate every member of `gz` into [[buffer]]; the decoded length, or
    * -1 where the JDK's gzip stream would throw, or past
    * [[GzipCodec.MaxDecompressedBytes]]. */
  def inflate(gz: Array[Byte]): Int = {
    val total = gz.length
    var pos   = header(gz, 0)
    if (pos < 0) return -1
    var len = 0
    while (true) {
      inflater.reset()
      inflater.setInput(gz, pos, total - pos)
      val start = len
      try {
        while (!inflater.finished()) {
          if (len == out.length) {
            if (len > GzipCodec.MaxDecompressedBytes) return -1
            out = java.util.Arrays.copyOf(out,
              math.min(len.toLong * 2, GzipCodec.MaxDecompressedBytes + 1L).toInt)
          }
          val n = inflater.inflate(out, len, out.length - len)
          if (n == 0 && (inflater.needsInput() || inflater.needsDictionary())) return -1
          len += n
        }
      } catch { case _: DataFormatException => return -1 }
      if (len > GzipCodec.MaxDecompressedBytes) return -1
      crc.reset()
      crc.update(out, start, len - start)
      val end = total - inflater.getRemaining
      if (end + 8 > total || u32(gz, end) != crc.getValue ||
          u32(gz, end + 4) != (inflater.getBytesWritten & 0xffffffffL)) return -1
      // bytes after a trailer are a further member only if they open with
      // a valid header; otherwise they are ignored
      pos = header(gz, end + 8)
      if (pos < 0) return len
    }
    len
  }

  /** End offset of the member header at `at`, or -1 where
    * the JDK's gzip stream fails to read a header. */
  private def header(gz: Array[Byte], at: Int): Int = {
    val total = gz.length
    if (at + 10 > total || u16(gz, at) != 0x8b1f || gz(at + 2) != 8) return -1
    val flg = gz(at + 3) & 0xff
    var p   = at + 10
    if ((flg & FEXTRA) != 0) {
      if (p + 2 > total) return -1
      p += 2 + u16(gz, p)
      if (p > total) return -1
    }
    if ((flg & FNAME) != 0) { p = zeroTerminated(gz, p); if (p < 0) return -1 }
    if ((flg & FCOMMENT) != 0) { p = zeroTerminated(gz, p); if (p < 0) return -1 }
    if ((flg & FHCRC) != 0) {
      if (p + 2 > total) return -1
      crc.reset()
      crc.update(gz, at, p - at)
      if (u16(gz, p) != (crc.getValue & 0xffff).toInt) return -1
      p += 2
    }
    p
  }
}

private object GunzipDecoder {
  private val FHCRC    = 2
  private val FEXTRA   = 4
  private val FNAME    = 8
  private val FCOMMENT = 16

  private def u16(b: Array[Byte], at: Int): Int = (b(at) & 0xff) | (b(at + 1) & 0xff) << 8

  private def u32(b: Array[Byte], at: Int): Long =
    (u16(b, at) | u16(b, at + 2).toLong << 16) & 0xffffffffL

  /** Offset past the zero byte ending the field at `at`, or -1. */
  private def zeroTerminated(b: Array[Byte], at: Int): Int = {
    var p = at
    while (p < b.length && b(p) != 0) p += 1
    if (p < b.length) p + 1 else -1
  }
}
