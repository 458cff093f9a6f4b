package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Real PNG codec: encode/decode round-trip, all five scanline filters,
  * the luma histogram kernel, and GIF LZW round-trip and decoding. */
class PngSpec extends AnyFunSuite {
  private def gradient(w: Int, h: Int, channels: Int): Png.Image = {
    val px = new Array[Byte](w * h * channels)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until channels)
      px((y * w + x) * channels + c) = ((x * 37 + y * 11 + c * 5) % 256).toByte
    Png.Image(w, h, channels, px)
  }

  test("encode/decode round-trip: gray, rgb, rgba pixels identical") {
    for (ch <- Seq(1, 3, 4)) {
      val img = gradient(13, 7, ch) // odd sizes exercise stride handling
      val back = Png.decode(Png.encode(img)).get
      assert(back.width == 13 && back.height == 7 && back.channels == ch)
      assert(back.pixels.sameElements(img.pixels), s"channels=$ch")
    }
  }

  test("decoder unfilters Sub/Up/Average/Paeth rows (external producers)") {
    // hand-build a 4x4 gray PNG whose four rows use filters 1..4
    val w = 4; val target = gradient(4, 4, 1)
    val raw = new java.io.ByteArrayOutputStream()
    val px = target.pixels.map(_ & 0xff)
    for (y <- 0 until 4) {
      val filter = y + 1
      raw.write(filter)
      for (x <- 0 until w) {
        val cur = px(y * w + x)
        val left = if (x > 0) px(y * w + x - 1) else 0
        val up = if (y > 0) px((y - 1) * w + x) else 0
        val upLeft = if (y > 0 && x > 0) px((y - 1) * w + x - 1) else 0
        val encoded = filter match {
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case 4 =>
            val p = left + up - upLeft
            val pa = math.abs(p - left); val pb = math.abs(p - up)
            val pc = math.abs(p - upLeft)
            val pred = if (pa <= pb && pa <= pc) left
              else if (pb <= pc) up else upLeft
            cur - pred
        }
        raw.write(encoded & 0xff)
      }
    }
    val d = new java.util.zip.Deflater()
    d.setInput(raw.toByteArray); d.finish()
    val idat = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) idat.write(buf, 0, d.deflate(buf))
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      def u32(v: Int): Unit = { o.write(v >>> 24); o.write((v >>> 16) & 0xff)
        o.write((v >>> 8) & 0xff); o.write(v & 0xff) }
      u32(data.length)
      val t = typ.getBytes("US-ASCII"); o.write(t); o.write(data)
      val crc = new java.util.zip.CRC32(); crc.update(t); crc.update(data)
      u32(crc.getValue.toInt)
      o.toByteArray
    }
    val ihdr = Array[Byte](0, 0, 0, 4, 0, 0, 0, 4, 8, 0, 0, 0, 0)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", idat.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
    val back = Png.decode(png).get
    assert(back.pixels.sameElements(target.pixels))
  }

  test("decode rejects unsupported shapes") {
    assert(Png.decode("not a png".getBytes("UTF-8")).isEmpty)
    // 16-bit depth: flip the bit-depth byte of a valid encode
    val enc = Png.encode(gradient(2, 2, 1))
    enc(24) = 16 // IHDR bit-depth byte
    assert(Png.decode(enc).isEmpty)
  }

  test("luma histogram: black/white checkerboard splits extreme bins") {
    val px = (0 until 16).map(i =>
      if ((i % 4 + i / 4) % 2 == 0) 0.toByte else 255.toByte).toArray
    val h = Png.lumaHistogram(Png.Image(4, 4, 1, px), bins = 8)
    assert(math.abs(h(0) - 0.5) < 1e-9 && math.abs(h(7) - 0.5) < 1e-9)
    assert(math.abs(h.sum - 1.0) < 1e-9)
  }

  test("GIF round-trip: LZW decode recovers encoded palette pixels") {
    // a 6x4 image with 5 distinct colors
    val px = (0 until 24).flatMap { i =>
      val c = i % 5
      Seq((c * 50).toByte, (c * 40).toByte, (255 - c * 30).toByte)
    }.toArray
    val img = Png.Image(6, 4, 3, px)
    val gif = Gif.encode(img)
    assert(new String(gif.take(6), "US-ASCII") == "GIF89a")
    val back = Gif.decode(gif).get
    assert(back.width == 6 && back.height == 4 && back.channels == 3)
    assert(back.pixels.sameElements(px))
    assert(Gif.decode("GIF8 but junk".getBytes("UTF-8")).isEmpty)
  }

  test("GIF LZW: dictionary-built codes decode (compressed producer)") {
    // hand-build a 4x1, 2-color GIF whose LZW stream uses a dictionary
    // code (the KwKwK case): indices 0,1,0,1 with codes
    // CLEAR,0,1,<first dict code = "0,1">,END at width 3
    def pack(codes: Seq[Int], width: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var acc = 0L; var n = 0
      codes.foreach { c =>
        acc |= c.toLong << n; n += width
        while (n >= 8) { out.write((acc & 0xff).toInt); acc >>= 8; n -= 8 }
      }
      if (n > 0) out.write((acc & 0xff).toInt)
      out.toByteArray
    }
    val lzw = pack(Seq(4, 0, 1, 6, 5), 3) // clear=4, end=5, dict 6 = [0,1]
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 1, 0) ++ // 4x1 screen
      Array[Byte](0x80.toByte, 0, 0) ++ // GCT, 2 entries
      Array[Byte](0, 0, 0, 0xff.toByte, 0xff.toByte, 0xff.toByte) ++ // palette
      Array[Byte](0x2c, 0, 0, 0, 0, 4, 0, 1, 0, 0) ++ // image descriptor
      Array[Byte](2, lzw.length.toByte) ++ lzw ++ Array[Byte](0, 0x3b)
    val img = Gif.decode(gif).get
    assert(img.width == 4 && img.height == 1)
    val lumas = (0 until 4).map(x => img.luma(x, 0))
    assert(lumas == Seq(0, 255, 0, 255), s"got $lumas")
  }
}
