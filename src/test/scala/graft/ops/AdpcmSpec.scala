package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Compressed-audio codecs: G.711 µ-law cross-validated against
  * javax.sound's independent ULAW converter (JDK java.desktop — test-only
  * oracle, same role ImageIO plays for the image codecs), IMA ADPCM
  * against hand-computed reference-algorithm vectors + round-trip SNR. */
class AdpcmSpec extends AnyFunSuite {

  test("mu-law: decode matches javax.sound's ULAW converter byte-for-byte") {
    import javax.sound.sampled._
    val encoded = Array.tabulate(256)(i => i.toByte)
    val src = new AudioInputStream(
      new java.io.ByteArrayInputStream(encoded),
      new AudioFormat(AudioFormat.Encoding.ULAW, 8000f, 8, 1, 1, 8000f, false),
      encoded.length.toLong)
    val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, false)
    val conv = AudioSystem.getAudioInputStream(target, src)
    val pcm = conv.readAllBytes()
    assert(pcm.length == 512)
    (0 until 256).foreach { i =>
      val javaSample = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort.toInt
      assert(Adpcm.muLawDecode(encoded(i)) == javaSample,
        s"byte $i: ours=${Adpcm.muLawDecode(encoded(i))} java=$javaSample")
    }
  }

  test("mu-law: encode(decode(b)) == b for every code (except the ±0 twin)") {
    (0 until 256).foreach { i =>
      val b = i.toByte
      val back = Adpcm.muLawEncode(Adpcm.muLawDecode(b))
      // 0x7f is "-0": it decodes to 0, which re-encodes as +0 = 0xff
      if (b != 0x7f.toByte) assert(back == b, f"code 0x$i%02x -> 0x${back & 0xff}%02x")
      else assert(back == 0xff.toByte)
    }
  }

  test("mu-law: quantization error bounded by the segment step") {
    var s = -32768
    while (s <= 32767) {
      val d = Adpcm.muLawDecode(Adpcm.muLawEncode(s))
      // segment step ≈ 2^(exp+3); error ≤ half a step + clip at |32635|
      assert(math.abs(d - math.max(-32635, math.min(32635, s))) <= 1024,
        s"sample $s decoded $d")
      s += 17
    }
  }

  test("IMA ADPCM: first nibble matches the reference-algorithm hand trace") {
    // pred=0, idx=0 (step 7), sample 1000: delta=7 (4|2|1), vpdiff=11
    val spb = Adpcm.samplesPerBlock(8) // tiny blocks: 9 samples each
    val samples = Array.fill(spb)(0)
    samples(1) = 1000
    val enc = Adpcm.encodeIma(samples, blockAlign = 8)
    assert((enc(4) & 0xf) == 7, "first nibble must be 7 per the IMA spec math")
    val dec = Adpcm.decodeIma(enc, blockAlign = 8)
    assert(dec(0) == 0 && dec(1) == 11)
  }

  test("IMA ADPCM: sine round-trip SNR > 25 dB; blocks decode independently") {
    val n = 2000
    val pcm = Array.tabulate(n)(i =>
      (10000 * math.sin(2 * math.Pi * i * 220 / 8000)).toInt)
    val enc = Adpcm.encodeIma(pcm, blockAlign = 256)
    val dec = Adpcm.decodeIma(enc, blockAlign = 256, nSamples = n)
    assert(dec.length == n)
    var sig = 0.0; var err = 0.0
    (0 until n).foreach { i =>
      sig += pcm(i).toDouble * pcm(i); err += math.pow(pcm(i) - dec(i), 2.0)
    }
    val snr = 10 * math.log10(sig / math.max(err, 1e-9))
    assert(snr > 25, s"SNR $snr dB too low for 4-bit ADPCM on a smooth sine")
    // block independence: decoding the second block alone reproduces the
    // same samples the full decode yields at that offset
    val spb = Adpcm.samplesPerBlock(256)
    val second = Adpcm.decodeIma(
      java.util.Arrays.copyOfRange(enc, 256, 512), blockAlign = 256)
    assert(second.toSeq == dec.slice(spb, 2 * spb).toSeq)
  }
}
