package graft.ops

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater, Inflater}

/** REAL PNG codec in pure JVM — no native image library needed: the PNG
  * container is zlib (java.util.zip) + five per-scanline byte filters.
  * Supports non-interlaced 8-bit grayscale / RGB / RGBA, which covers the
  * overwhelming majority of ML-pipeline image assets; anything else
  * returns None. [[lumaHistogram]] is a feature over the decoded pixels.
  */
object Png {

  /** Decoded image: 8-bit samples row-major, `channels` ∈ {1, 3, 4}. */
  final case class Image(width: Int, height: Int, channels: Int,
                         pixels: Array[Byte]) {
    def sample(x: Int, y: Int, c: Int): Int =
      pixels((y * width + x) * channels + c) & 0xff
    /** Luminance (ITU-R BT.601 integer approximation) at (x, y). */
    def luma(x: Int, y: Int): Int =
      if (channels == 1) sample(x, y, 0)
      else (77 * sample(x, y, 0) + 150 * sample(x, y, 1) +
        29 * sample(x, y, 2)) >> 8
  }

  private val Signature =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  // ---------- decode ----------

  /** Decode a PNG byte stream; None for unsupported shapes (16-bit,
    * palette, interlaced) or malformed data. */
  def decode(bytes: Array[Byte]): Option[Image] = {
    if (bytes == null || bytes.length < 33 ||
      !bytes.take(8).sameElements(Signature)) return None
    try {
      def u32(i: Int) = ((bytes(i) & 0xff) << 24) | ((bytes(i + 1) & 0xff) << 16) |
        ((bytes(i + 2) & 0xff) << 8) | (bytes(i + 3) & 0xff)
      var i = 8
      var w = 0; var h = 0; var bitDepth = 0; var colorType = -1
      var interlace = 0
      val idat = new ByteArrayOutputStream()
      while (i + 8 <= bytes.length) {
        val len = u32(i)
        // chunk length is unsigned in the spec; a value that reads
        // negative or runs past the buffer cannot advance the walk — stop
        // (decode of whatever IDAT accumulated so far will fail cleanly)
        if (len < 0 || i + 8 + len + 4 > bytes.length) return None
        val typ = new String(bytes, i + 4, 4, "US-ASCII")
        val dataAt = i + 8
        typ match {
          case "IHDR" =>
            w = u32(dataAt); h = u32(dataAt + 4)
            bitDepth = bytes(dataAt + 8) & 0xff
            colorType = bytes(dataAt + 9) & 0xff
            interlace = bytes(dataAt + 12) & 0xff
          case "IDAT" => idat.write(bytes, dataAt, len)
          case _      => ()
        }
        i = dataAt + len + 4 // skip CRC
      }
      val channels = colorType match {
        case 0 => 1 // grayscale
        case 2 => 3 // rgb
        case 6 => 4 // rgba
        case _ => return None
      }
      if (bitDepth != 8 || interlace != 0 || w <= 0 || h <= 0) return None
      val raw = inflateAll(idat.toByteArray)
      val stride = w * channels
      if (raw.length < h * (stride + 1)) return None
      val out = new Array[Byte](h * stride)
      var y = 0
      while (y < h) {
        val rowAt = y * (stride + 1)
        val filter = raw(rowAt) & 0xff
        var x = 0
        while (x < stride) {
          val cur = raw(rowAt + 1 + x) & 0xff
          val left = if (x >= channels) out(y * stride + x - channels) & 0xff else 0
          val up = if (y > 0) out((y - 1) * stride + x) & 0xff else 0
          val upLeft = if (y > 0 && x >= channels)
            out((y - 1) * stride + x - channels) & 0xff else 0
          val recon = filter match {
            case 0 => cur
            case 1 => cur + left
            case 2 => cur + up
            case 3 => cur + ((left + up) / 2)
            case 4 => cur + paeth(left, up, upLeft)
            case _ => return None
          }
          out(y * stride + x) = (recon & 0xff).toByte
          x += 1
        }
        y += 1
      }
      Some(Image(w, h, channels, out))
    } catch { case _: Exception => None }
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def inflateAll(in: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(in)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](16384)
    var n = inf.inflate(buf)
    while (n > 0) {
      out.write(buf, 0, n)
      n = if (inf.finished()) 0 else inf.inflate(buf)
    }
    inf.end()
    out.toByteArray
  }

  // ---------- encode (filter 0 rows + zlib) ----------

  /** Encode 8-bit samples (`channels` ∈ {1, 3, 4}) as a valid PNG. */
  def encode(img: Image): Array[Byte] = {
    val colorType = img.channels match {
      case 1 => 0
      case 3 => 2
      case 4 => 6
      case c => throw new IllegalArgumentException(s"channels $c")
    }
    val stride = img.width * img.channels
    val raw = new Array[Byte](img.height * (stride + 1))
    var y = 0
    while (y < img.height) {
      raw(y * (stride + 1)) = 0 // filter None
      System.arraycopy(img.pixels, y * stride, raw, y * (stride + 1) + 1, stride)
      y += 1
    }
    val ihdr = new ByteArrayOutputStream()
    writeU32(ihdr, img.width); writeU32(ihdr, img.height)
    ihdr.write(8); ihdr.write(colorType); ihdr.write(0); ihdr.write(0); ihdr.write(0)
    val out = new ByteArrayOutputStream()
    out.write(Signature)
    writeChunk(out, "IHDR", ihdr.toByteArray)
    writeChunk(out, "IDAT", deflateAll(raw))
    writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  private def deflateAll(in: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(in); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](16384)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def writeU32(o: ByteArrayOutputStream, v: Int): Unit = {
    o.write((v >>> 24) & 0xff); o.write((v >>> 16) & 0xff)
    o.write((v >>> 8) & 0xff); o.write(v & 0xff)
  }

  private def writeChunk(o: ByteArrayOutputStream, typ: String,
                         data: Array[Byte]): Unit = {
    writeU32(o, data.length)
    val t = typ.getBytes("US-ASCII")
    o.write(t); o.write(data)
    val crc = new CRC32()
    crc.update(t); crc.update(data)
    writeU32(o, crc.getValue.toInt)
  }

  // ---------- real kernels over decoded pixels ----------

  /** Normalized luminance histogram (`bins` buckets) — a real image
    * feature from real pixel data. */
  def lumaHistogram(img: Image, bins: Int = 8): Array[Double] = {
    val h = new Array[Double](bins)
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < img.width) {
        h(math.min(bins - 1, img.luma(x, y) * bins / 256)) += 1.0
        x += 1
      }
      y += 1
    }
    val total = math.max(1.0, img.width.toDouble * img.height)
    h.map(_ / total)
  }
}
