package graft.functions

import java.util.zip.GZIPInputStream

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** The engine's one gunzip against `java.util.zip.GZIPInputStream`
  * ([[DecodeUdf.gunzipBytes]]): the same bytes wherever the stream decodes,
  * null wherever it throws. */
class GzipCodecSpec extends AnyFunSuite {

  private def docs(rnd: Random): Seq[Array[Byte]] = Seq(
    """{"type":"story","operation":"insert","id":"1"}""".getBytes("UTF-8"),
    ("unicode: été 你好 " * 40).getBytes("UTF-8"),
    Array.fill(3000)(rnd.nextInt(256).toByte), // incompressible, spans reads
    Array.fill(20000)('a'.toByte))

  private def agree(label: String, gz: Array[Byte]): Unit = {
    val expected = DecodeUdf.gunzipBytes(gz)
    val got      = GzipCodec.gunzipOrNull(gz)
    if (expected == null) assert(got == null, s"$label: GZIPInputStream throws, decoder returned bytes")
    else {
      assert(got != null, s"$label: GZIPInputStream decodes, decoder returned null")
      assert(java.util.Arrays.equals(got, expected), s"$label: bytes differ")
    }
  }

  test("decoder equals GZIPInputStream on every member-format class") {
    val rnd   = new Random(7)
    val cases = GzipCorpus.cases(docs(rnd), seed = 7)
    cases.foreach { case (label, gz) => agree(label, gz) }
    def outcome(prefix: String) =
      cases.filter(_._1.startsWith(prefix)).map(c => DecodeUdf.gunzipBytes(c._2) != null).toSet
    // the corpus reaches both verdicts where they exist
    assert(outcome("crc mismatch") === Set(false))
    assert(outcome("isize mismatch") === Set(false))
    assert(outcome("truncated") === Set(false))
    assert(outcome("two members") === Set(true))
    assert(outcome("flags") === Set(true))
    assert(outcome("member + 1 garbage") === Set(true))
    assert(outcome("header after member") === Set(false))
    assert(GzipCodec.gunzipOrNull(null) == null)
  }

  test("fuzz: mutated and truncated multi-member streams agree with GZIPInputStream") {
    val rnd  = new Random(11)
    val base = docs(rnd)
    (0 until 600).foreach { i =>
      val m = GzipCorpus.member(base(i % base.length), rnd.nextInt(32)) ++
        (if (rnd.nextBoolean()) GzipCorpus.member(base((i + 1) % base.length)) else Array.emptyByteArray)
      val gz = rnd.nextInt(3) match {
        case 0 => val c = m.clone(); c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte; c
        case 1 => m.take(rnd.nextInt(m.length))
        case _ => m ++ Array.fill(rnd.nextInt(40))(rnd.nextInt(256).toByte)
      }
      agree(s"fuzz $i", gz)
    }
  }

  test("past MaxDecompressedBytes the decoder yields null; at the cap it decodes") {
    def zeros(n: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g   = new java.util.zip.GZIPOutputStream(bos)
      val blk = new Array[Byte](1 << 16)
      var left = n
      while (left > 0) { val k = math.min(left, blk.length); g.write(blk, 0, k); left -= k }
      g.close()
      bos.toByteArray
    }
    def streamedLength(gz: Array[Byte]): Long = {
      val in  = new GZIPInputStream(new java.io.ByteArrayInputStream(gz))
      val buf = new Array[Byte](1 << 16)
      var total = 0L
      var n = in.read(buf)
      while (n >= 0) { total += n; n = in.read(buf) }
      total
    }
    val cap  = GzipCodec.MaxDecompressedBytes
    val over = zeros(cap + 1)
    assert(streamedLength(over) === cap + 1L)
    assert(GzipCodec.gunzipOrNull(over) == null)
    val d = GzipCodec.decoder
    assert(d.inflate(zeros(cap)) === cap)
    d.release()
  }

  test("a record that grew the buffer does not pin it; threads decode independently") {
    val big = GzipCorpus.member(Array.fill(3 << 20)('x'.toByte))
    assert(GzipCodec.gunzipOrNull(big).length === (3 << 20))
    assert(GzipCodec.decoder.buffer.length === GzipCodec.RetainedBytes)

    val rnd      = new Random(3)
    val payloads = (0 until 64).map(i => GzipCorpus.member(Array.fill(100 + rnd.nextInt(9000))(rnd.nextInt(4).toByte)))
    val expected = payloads.map(DecodeUdf.gunzipBytes)
    val pool     = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map(_ => pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = (0 until 5).forall(_ =>
          payloads.indices.forall(i => java.util.Arrays.equals(GzipCodec.gunzipOrNull(payloads(i)), expected(i))))
      }))
      assert(futures.forall(_.get()))
    } finally pool.shutdown()
  }
}
