package graft.ops

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.{IIOImage, ImageIO}
import javax.imageio.stream.MemoryCacheImageOutputStream
import org.scalatest.funsuite.AnyFunSuite

/** Animated-GIF frame decoding, validated against an externally-produced
  * stream (the JDK's ImageIO GIF sequence writer). */
class GifFramesSpec extends AnyFunSuite {

  private val colors = Seq(
    (255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 0), (0, 255, 255))

  private def animatedGif(n: Int, w: Int = 8, h: Int = 6): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (f <- 0 until n) {
      val (r, g, b) = colors(f % colors.length)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
      writer.writeToSequence(new IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    ios.close()
    bos.toByteArray
  }

  /** The image-descriptor interlace bit of the first frame (proves which
    * decoder path the fixture exercises). */
  private def isInterlaced(gif: Array[Byte]): Boolean = {
    var i = 13
    if ((gif(10) & 0x80) != 0) i += 3 * (2 << (gif(10) & 0x07))
    while ((gif(i) & 0xff) == 0x21) { // skip extensions
      i += 2
      while ((gif(i) & 0xff) != 0) i += 1 + (gif(i) & 0xff)
      i += 1
    }
    assert((gif(i) & 0xff) == 0x2c, "expected image descriptor")
    (gif(i + 9) & 0x40) != 0
  }

  test("decodeFrames composites every frame of an ImageIO-written GIF") {
    val gif = animatedGif(4)
    // ImageIO's GIF writer interlaces by default — this fixture must
    // exercise the 4-pass deinterlacing path, not just sequential rows
    assert(isInterlaced(gif), "fixture unexpectedly non-interlaced")
    assert(Gif.countFrames(gif).contains(4))
    val frames = Gif.decodeFrames(gif).get
    assert(frames.length == 4)
    frames.zipWithIndex.foreach { case (img, f) =>
      assert(img.width == 8 && img.height == 6 && img.channels == 3)
      val (r, g, b) = colors(f)
      assert((img.sample(0, 0, 0), img.sample(0, 0, 1), img.sample(0, 0, 2))
        == ((r, g, b)), s"frame $f top-left")
      assert((img.sample(7, 5, 0), img.sample(7, 5, 1), img.sample(7, 5, 2))
        == ((r, g, b)), s"frame $f bottom-right")
    }
  }

  test("single-frame decode still returns the first frame") {
    val gif = animatedGif(3)
    val first = Gif.decode(gif).get
    assert((first.sample(3, 3, 0), first.sample(3, 3, 1), first.sample(3, 3, 2))
      == ((255, 0, 0)))
  }

  test("malformed streams: None, never throw; truncated LZW rejected") {
    assert(Gif.decodeFrames(null).isEmpty)
    assert(Gif.decodeFrames("GIF8".getBytes).isEmpty)
    val good = animatedGif(2)
    assert(Gif.decodeFrames(good.take(good.length / 3)).isEmpty)
  }
}
