package graft.ops

import graft.sink.{MiniFormats, TarShards}
import org.scalatest.funsuite.AnyFunSuite

/** Fuzz hardening: every byte-stream decoder (tar shards and the docx, pdf
  * and xlsx readers) must return None/empty on arbitrary garbage and on
  * bit-flipped/truncated valid streams — never throw, never hang. (At
  * 100 TB the corpus WILL contain corrupt files; a decoder exception
  * inside a mapPartitions task fails the whole job.) */
class CodecFuzzSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(0xC0DEC)

  private def decodeAll(bytes: Array[Byte]): Unit = {
    TarShards.tarEntries(bytes)
    MiniFormats.docxText(bytes)
    MiniFormats.pdfText(bytes)
    MiniFormats.xlsxRows(bytes)
  }

  test("random garbage never throws in any decoder") {
    for (_ <- 1 to 150) {
      val len = rnd.nextInt(4096)
      val b = new Array[Byte](len)
      rnd.nextBytes(b)
      decodeAll(b)
    }
  }

  test("garbage behind real magic numbers never throws") {
    val magics = Seq(
      Array[Byte]('P', 'K', 0x03, 0x04), // zip local file header (docx, xlsx)
      "%PDF-1.4".getBytes("US-ASCII"))
    for (m <- magics; _ <- 1 to 50) {
      val tail = new Array[Byte](rnd.nextInt(2048))
      rnd.nextBytes(tail)
      decodeAll(m ++ tail)
    }
  }

  test("bit-flipped and truncated valid streams never throw") {
    val text = "card 5133 2181 9600 1338 & <ok>\n\nsecond paragraph (x)"
    val valid = Seq(
      TarShards.tarBytes(Seq("a.txt" -> "hello".getBytes)),
      MiniFormats.docxBytes(text),
      MiniFormats.pdfBytes(text),
      MiniFormats.xlsxBytes(Seq(Seq("sit_id", "text"), Seq("SIT_CCN", text))))
    for (v <- valid) {
      for (_ <- 1 to 100) { // single random bit flip
        val b = v.clone()
        val at = rnd.nextInt(b.length)
        b(at) = (b(at) ^ (1 << rnd.nextInt(8))).toByte
        decodeAll(b)
      }
      for (_ <- 1 to 50) decodeAll(v.take(rnd.nextInt(v.length))) // truncation
      for (_ <- 1 to 50) { // random splice of two regions
        val b = v.clone()
        val from = rnd.nextInt(b.length); val to = rnd.nextInt(b.length)
        val n = rnd.nextInt(math.min(64, b.length - math.max(from, to)) + 1)
        System.arraycopy(v, from, b, to, n)
        decodeAll(b)
      }
    }
  }
}
