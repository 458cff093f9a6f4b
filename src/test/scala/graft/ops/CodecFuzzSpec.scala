package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Fuzz hardening: every byte-stream decoder must return None/empty on
  * arbitrary garbage and on bit-flipped/truncated valid streams — never
  * throw, never hang. (At 100 TB the corpus WILL contain corrupt media;
  * a decoder exception inside a mapPartitions task fails the whole job.) */
class CodecFuzzSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(0xC0DEC)

  private def decodeAll(bytes: Array[Byte]): Unit = {
    Png.decode(bytes)
    Gif.decode(bytes)
    Gif.decodeFrames(bytes)
    Gif.countFrames(bytes)
    graft.sink.TarShards.tarEntries(bytes)
    Adpcm.decodeIma(bytes, blockAlign = 8)
    Adpcm.decodeIma(bytes, blockAlign = 256)
    Adpcm.muLawDecodeAll(bytes)
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
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a),
      "GIF89a".getBytes("US-ASCII"),
      Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte),
      "RIFF1234WAVE".getBytes("US-ASCII"),
      "1234ftypisom".getBytes("US-ASCII"),
      "fLaC".getBytes("US-ASCII"))
    for (m <- magics; _ <- 1 to 50) {
      val tail = new Array[Byte](rnd.nextInt(2048))
      rnd.nextBytes(tail)
      decodeAll(m ++ tail)
    }
  }

  test("bit-flipped and truncated valid streams never throw") {
    val px = Array.tabulate(16 * 12 * 3)(i => (i * 31 % 256).toByte)
    val img = Png.Image(16, 12, 3, px)
    val valid = Seq(
      Png.encode(img),
      Gif.encode(Png.Image(8, 8, 3,
        Array.tabulate(8 * 8 * 3)(i => (((i / 3) % 4) * 60).toByte))),
      graft.sink.TarShards.tarBytes(Seq("a.txt" -> "hello".getBytes)))
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

  test("crafted huge declared dimensions are rejected before allocation") {
    // a tiny file declaring a 65535x65535 screen must not force a
    // multi-GB canvas allocation per task — one adversarial row would OOM
    // executors deterministically across retries
    val gif = Gif.encode(Png.Image(8, 8, 3,
      Array.tabulate(8 * 8 * 3)(i => (((i / 3) % 4) * 60).toByte)))
    val hugeGif = gif.clone()
    // logical screen size, little-endian at bytes 6..9 → 65535x65535
    hugeGif(6) = 0xff.toByte; hugeGif(7) = 0xff.toByte
    hugeGif(8) = 0xff.toByte; hugeGif(9) = 0xff.toByte
    assert(Gif.decode(hugeGif).isEmpty)
    assert(Gif.decodeFrames(hugeGif).isEmpty)
  }
}
