package graft.ops

import java.io.ByteArrayOutputStream

/** REAL GIF decode in pure JVM: logical-screen/image descriptors, color
  * tables, and the LZW-compressed index stream (variable-width codes,
  * clear/end handling). Multi-frame (animated) streams are composited
  * frame by frame on the logical screen — graphic-control transparency,
  * disposal methods 0–3, and 4-pass interlacing honored — so every frame
  * decodes to real pixels. Palette-less streams return None.
  */
object Gif {

  /** Decode the first frame to RGB samples (via [[Png.Image]], channels=3). */
  def decode(bytes: Array[Byte]): Option[Png.Image] =
    decodeFrames(bytes, maxFrames = 1).flatMap(_.headOption)

  /** Decode up to `maxFrames` composited frames (each the full logical
    * screen). None for malformed/unsupported streams; Some(Seq()) for a
    * well-formed stream with no image data. */
  def decodeFrames(bytes: Array[Byte],
                   maxFrames: Int = Int.MaxValue): Option[Seq[Png.Image]] =
    walkFrames(bytes, _ => true, maxFrames)

  /** Structural frame count — block walk only, no LZW decode, no pixels. */
  def countFrames(bytes: Array[Byte]): Option[Int] = {
    if (bytes == null || bytes.length < 14) return None
    def u8(i: Int) = bytes(i) & 0xff
    if (new String(bytes, 0, 4, "US-ASCII") != "GIF8") return None
    try {
      var i = 13
      if ((u8(10) & 0x80) != 0) i += 3 * (2 << (u8(10) & 0x07))
      var n = 0
      while (i < bytes.length) {
        u8(i) match {
          case 0x3b => return Some(n)
          case 0x21 =>
            i += 2
            while (i < bytes.length && u8(i) != 0) i += 1 + u8(i)
            i += 1
          case 0x2c =>
            val flags = u8(i + 9)
            i += 10
            if ((flags & 0x80) != 0) i += 3 * (2 << (flags & 0x07))
            i += 1 // min code size
            while (i < bytes.length && u8(i) != 0) i += 1 + u8(i)
            i += 1
            n += 1
          case _ => return None
        }
      }
      Some(n)
    } catch { case _: Exception => None }
  }

  /** Composite frames in order, RETAINING only those `keep` selects and
    * stopping after `maxKept` are retained — compositing must still
    * decode every prior frame, but heap stays O(canvas + kept frames),
    * not O(total frames × canvas). */
  private def walkFrames(bytes: Array[Byte], keep: Int => Boolean,
                         maxKept: Int): Option[Seq[Png.Image]] = {
    if (bytes == null || bytes.length < 14) return None
    def u8(i: Int) = bytes(i) & 0xff
    def u16le(i: Int) = u8(i) | (u8(i + 1) << 8)
    if (new String(bytes, 0, 4, "US-ASCII") != "GIF8") return None
    try {
      val sw = u16le(6); val sh = u16le(8)
      if (sw <= 0 || sh <= 0) return None
      // Untrusted logical-screen size: cap at 64M pixels (192 MB canvas)
      // before allocating: crafted dimensions must not force huge allocations.
      if (sw.toLong * sh.toLong > 64L * 1024 * 1024) return None
      val gctFlag = (u8(10) & 0x80) != 0
      val gctSize = 2 << (u8(10) & 0x07)
      val bgIndex = u8(11)
      var i = 13
      val gct = if (gctFlag) {
        val t = bytes.slice(i, i + gctSize * 3); i += gctSize * 3; t
      } else Array.emptyByteArray
      // canvas starts as the background color (black without a palette)
      val canvas = new Array[Byte](sw * sh * 3)
      if (gct.nonEmpty && bgIndex < gct.length / 3) {
        var p = 0
        while (p < sw * sh) {
          canvas(p * 3) = gct(bgIndex * 3)
          canvas(p * 3 + 1) = gct(bgIndex * 3 + 1)
          canvas(p * 3 + 2) = gct(bgIndex * 3 + 2)
          p += 1
        }
      }
      val frames = Seq.newBuilder[Png.Image]
      var frameIdx = 0
      var nKept = 0
      var transparent = -1
      var disposal = 0
      while (i < bytes.length && nKept < maxKept) {
        u8(i) match {
          case 0x3b => return Some(frames.result()) // trailer
          case 0x21 => // extension
            val label = u8(i + 1)
            if (label == 0xf9 && i + 6 < bytes.length && u8(i + 2) >= 4) {
              // graphic control: disposal + transparency for the NEXT image
              val flags = u8(i + 3)
              disposal = (flags >> 2) & 7
              transparent = if ((flags & 1) != 0) u8(i + 6) else -1
            }
            i += 2
            while (i < bytes.length && u8(i) != 0) i += 1 + u8(i)
            i += 1
          case 0x2c =>
            val left = u16le(i + 1); val top = u16le(i + 3)
            val w = u16le(i + 5); val h = u16le(i + 7)
            val flags = u8(i + 9)
            val interlaced = (flags & 0x40) != 0
            i += 10
            val lct = if ((flags & 0x80) != 0) {
              val n = 2 << (flags & 0x07)
              val t = bytes.slice(i, i + n * 3); i += n * 3; t
            } else gct
            if (lct.isEmpty || w <= 0 || h <= 0 ||
              left + w > sw || top + h > sh) return None
            val minCodeSize = u8(i); i += 1
            val data = new ByteArrayOutputStream()
            while (i < bytes.length && u8(i) != 0) {
              val n = u8(i)
              data.write(bytes, i + 1, n)
              i += 1 + n
            }
            i += 1 // block terminator
            val raw = lzwDecode(data.toByteArray, minCodeSize, w * h)
              .getOrElse(return None)
            // interlaced frames store rows in 4 passes (8/8/4/2 stride)
            val indices = if (!interlaced) raw else {
              val out = new Array[Byte](raw.length)
              var src = 0
              for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2));
                   y <- start until h by step) {
                System.arraycopy(raw, src * w, out, y * w, w)
                src += 1
              }
              out
            }
            val snapshot = if (disposal == 3) canvas.clone() else null
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val idx = indices(y * w + x) & 0xff
                if (idx != transparent) {
                  val ci = math.min(idx, lct.length / 3 - 1)
                  val o = ((top + y) * sw + left + x) * 3
                  canvas(o) = lct(ci * 3)
                  canvas(o + 1) = lct(ci * 3 + 1)
                  canvas(o + 2) = lct(ci * 3 + 2)
                }
                x += 1
              }
              y += 1
            }
            if (keep(frameIdx)) {
              frames += Png.Image(sw, sh, 3, canvas.clone())
              nKept += 1
            }
            frameIdx += 1
            // disposal AFTER the frame is emitted (affects the next one)
            disposal match {
              case 2 => // restore rect to background
                val bg = if (gct.nonEmpty && bgIndex < gct.length / 3)
                  Array(gct(bgIndex * 3), gct(bgIndex * 3 + 1), gct(bgIndex * 3 + 2))
                else Array[Byte](0, 0, 0)
                var yy = 0
                while (yy < h) {
                  var xx = 0
                  while (xx < w) {
                    val o = ((top + yy) * sw + left + xx) * 3
                    canvas(o) = bg(0); canvas(o + 1) = bg(1); canvas(o + 2) = bg(2)
                    xx += 1
                  }
                  yy += 1
                }
              case 3 => System.arraycopy(snapshot, 0, canvas, 0, canvas.length)
              case _ => // 0/1: leave in place
            }
            transparent = -1; disposal = 0 // GCE applies to one image only
          case _ => return None // desynced
        }
      }
      Some(frames.result())
    } catch { case _: Exception => None }
  }

  /** GIF LZW: variable-width codes starting at minCodeSize+1, dictionary
    * grows to 4095, CLEAR resets, END stops. Returns exactly `expected`
    * indices or None. */
  private def lzwDecode(data: Array[Byte], minCodeSize: Int,
                        expected: Int): Option[Array[Byte]] = {
    if (minCodeSize < 2 || minCodeSize > 8) return None
    val clear = 1 << minCodeSize
    val end = clear + 1
    val out = new ByteArrayOutputStream()
    // dictionary: each entry is (prefix code, appended byte)
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var dictSize = end + 1
    var codeWidth = minCodeSize + 1
    var prev = -1
    var bitPos = 0
    val totalBits = data.length * 8
    def readCode(): Int = {
      if (bitPos + codeWidth > totalBits) return -1
      var v = 0
      var b = 0
      while (b < codeWidth) {
        val bit = (data((bitPos + b) >> 3) >> ((bitPos + b) & 7)) & 1
        v |= bit << b
        b += 1
      }
      bitPos += codeWidth
      v
    }
    def expand(code: Int): Array[Byte] = {
      val sb = new ByteArrayOutputStream()
      var c = code
      while (c >= clear) { sb.write(suffix(c)); c = prefix(c) }
      sb.write(c)
      sb.toByteArray.reverse
    }
    var running = true
    while (running && out.size() < expected) {
      val code = readCode()
      if (code < 0 || code == end) running = false
      else if (code == clear) {
        dictSize = end + 1; codeWidth = minCodeSize + 1; prev = -1
      } else {
        val entry: Array[Byte] =
          if (code < clear) Array(code.toByte)
          else if (code < dictSize) expand(code)
          else if (prev >= 0 && code == dictSize) {
            val pe = if (prev < clear) Array(prev.toByte) else expand(prev)
            pe :+ pe(0)
          } else return None // invalid code
        out.write(entry)
        if (prev >= 0 && dictSize < 4096) {
          prefix(dictSize) = prev
          suffix(dictSize) = entry(0)
          dictSize += 1
          if (dictSize == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
        }
        prev = code
      }
    }
    if (out.size() == expected) Some(out.toByteArray) else None
  }

  /** Minimal single-frame GIF encoder, for the decoder's tests: global
    * palette from the distinct colors (≤256 required), LZW stream written
    * as literal codes with a CLEAR before each code so the code width
    * never grows — valid, if uncompressed, GIF89a. */
  def encode(img: Png.Image): Array[Byte] = {
    require(img.channels == 3, "GIF encoder expects RGB")
    val colors = img.pixels.grouped(3).map(c =>
      ((c(0) & 0xff) << 16) | ((c(1) & 0xff) << 8) | (c(2) & 0xff))
      .toArray
    val palette = colors.distinct
    require(palette.length <= 256, "more than 256 distinct colors")
    val palIdx = palette.zipWithIndex.toMap
    val bits = math.max(2, 32 - Integer.numberOfLeadingZeros(
      math.max(1, palette.length - 1)))
    val palSlots = 1 << bits
    val out = new ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    le16(img.width); le16(img.height)
    out.write(0x80 | (bits - 1)); out.write(0); out.write(0) // GCT flag+size
    for (s <- 0 until palSlots) {
      val c = if (s < palette.length) palette(s) else 0
      out.write((c >> 16) & 0xff); out.write((c >> 8) & 0xff); out.write(c & 0xff)
    }
    out.write(0x2c); le16(0); le16(0); le16(img.width); le16(img.height)
    out.write(0) // no local table, not interlaced
    val minCode = bits
    out.write(minCode)
    val clear = 1 << minCode
    // bit-pack (CLEAR, literal) pairs at fixed width minCode+1
    val bitBuf = new ByteArrayOutputStream()
    var acc = 0L; var nBits = 0
    def emit(code: Int): Unit = {
      acc |= code.toLong << nBits; nBits += minCode + 1
      while (nBits >= 8) { bitBuf.write((acc & 0xff).toInt); acc >>= 8; nBits -= 8 }
    }
    colors.foreach { c => emit(clear); emit(palIdx(c)) }
    emit(clear + 1) // END
    if (nBits > 0) bitBuf.write((acc & 0xff).toInt)
    val lzw = bitBuf.toByteArray
    var off = 0
    while (off < lzw.length) {
      val n = math.min(255, lzw.length - off)
      out.write(n); out.write(lzw, off, n)
      off += n
    }
    out.write(0)    // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }
}
