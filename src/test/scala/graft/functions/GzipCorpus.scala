package graft.functions

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater}

import scala.util.Random

/** Labelled gzip payloads covering every member-format path a gunzip has
  * to agree with `java.util.zip.GZIPInputStream` on: each header flag,
  * header CRC, bad magic and method, truncated deflate, CRC32 and ISIZE
  * trailer mismatches, concatenated members, trailing garbage (including
  * garbage that opens with a valid header), empty and random payloads.
  * Built by hand from raw deflate, so no case depends on the encoder
  * under test. */
object GzipCorpus {
  val FHCRC = 2; val FEXTRA = 4; val FNAME = 8; val FCOMMENT = 16

  def deflateRaw(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) { val n = d.deflate(buf); out.write(buf, 0, n) }
    d.end()
    out.toByteArray
  }

  private def le(v: Long, n: Int): Array[Byte] = Array.tabulate(n)(i => (v >>> (8 * i)).toByte)

  /** A member header with the given flags; `hcrcDelta` skews its CRC16. */
  def header(flags: Int, hcrcDelta: Int = 0): Array[Byte] = {
    val b = new ByteArrayOutputStream()
    b.write(Array[Byte](0x1f, 0x8b.toByte, 8, flags.toByte, 1, 2, 3, 4, 0, 3))
    if ((flags & FEXTRA) != 0) { b.write(le(5, 2)); b.write(Array[Byte](1, 2, 3, 4, 5)) }
    if ((flags & FNAME) != 0) b.write("name.json\u0000".getBytes("ISO-8859-1"))
    if ((flags & FCOMMENT) != 0) b.write("a comment\u0000".getBytes("ISO-8859-1"))
    if ((flags & FHCRC) != 0) {
      val c = new CRC32; c.update(b.toByteArray)
      b.write(le((c.getValue + hcrcDelta) & 0xffff, 2))
    }
    b.toByteArray
  }

  /** One gzip member of `data`; the deltas skew its trailer fields. */
  def member(data: Array[Byte], flags: Int = 0, hcrcDelta: Int = 0,
      crcDelta: Long = 0, isizeDelta: Long = 0): Array[Byte] = {
    val c = new CRC32; c.update(data)
    header(flags, hcrcDelta) ++ deflateRaw(data) ++
      le(c.getValue + crcDelta, 4) ++ le(data.length.toLong + isizeDelta, 4)
  }

  /** Every class, over `docs` (the decoded contents to wrap). */
  def cases(docs: Seq[Array[Byte]], seed: Long): Seq[(String, Array[Byte])] = {
    val rnd = new Random(seed)
    val d0  = docs.head
    val out = Seq.newBuilder[(String, Array[Byte])]
    docs.zipWithIndex.foreach { case (d, i) =>
      val m = member(d)
      out += s"plain $i" -> m
      out += s"crc mismatch $i" -> member(d, crcDelta = 1)
      out += s"isize mismatch $i" -> member(d, isizeDelta = 1)
      out += s"two members $i" -> (m ++ member(docs((i + 1) % docs.length), FNAME))
      out += s"member + empty member $i" -> (m ++ member(Array.emptyByteArray))
      Seq(1, 3, m.length / 2, m.length - 9, m.length - 4, m.length - 1).filter(_ > 0).foreach(n =>
        out += s"truncated $i at $n" -> m.take(n))
      Seq(1, 2, 9, 18, 19, 30).foreach { n =>
        out += s"member + $n garbage $i" -> (m ++ Array.fill(n)(rnd.nextInt(256).toByte))
        out += s"member + $n zeros $i" -> (m ++ new Array[Byte](n))
      }
    }
    (0 until 32).foreach(f => out += s"flags $f" -> member(d0, f))
    out += "reserved flag bit" -> member(d0, 0x20)
    out += "bad header crc" -> member(d0, FHCRC, hcrcDelta = 1)
    out += "bad magic" -> { val m = member(d0); m(1) = 0x8c.toByte; m }
    out += "bad method" -> { val m = member(d0); m(2) = 7; m }
    out += "header only" -> header(FNAME)
    out += "unterminated name" -> header(0).updated(3, FNAME.toByte).++("name".getBytes("ISO-8859-1"))
    out += "empty payload" -> Array.emptyByteArray
    out += "empty content" -> member(Array.emptyByteArray)
    (0 until 12).foreach(i => out += s"random $i" -> Array.fill(rnd.nextInt(80))(rnd.nextInt(256).toByte))
    out += "header + junk deflate" -> (header(0) ++ Array.fill(100)((0x80 | rnd.nextInt(128)).toByte))
    // a member whose deflate data ends at assorted offsets of
    // GZIPInputStream's 512-byte read buffer, followed by a valid header
    // and a few bytes: a header after a trailer opens a member that must
    // decode, however much of it the stream had buffered
    (0 until 24).foreach { i =>
      val big = member(Array.fill(420 + rnd.nextInt(700))(rnd.nextInt(256).toByte))
      out += s"header after member + ${i % 9} bytes ($i)" ->
        (big ++ header(0) ++ Array.fill(i % 9)(rnd.nextInt(256).toByte))
    }
    out.result()
  }
}
