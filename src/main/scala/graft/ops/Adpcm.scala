package graft.ops

/** Real compressed-audio codecs of two WAV format tags, pure JVM integer
  * arithmetic (no native libs):
  *
  *   - IMA ADPCM (WAV format tag 0x11, "DVI/IMA"): 4 bits/sample adaptive
  *     delta PCM — the classic 4:1 speech/audio codec. Block-structured:
  *     each `blockAlign` block restarts the predictor from a 4-byte
  *     header, so blocks decode independently (and a corrupted block
  *     can't poison the rest — the same property that makes the format
  *     splittable for parallel decode).
  *   - G.711 µ-law (WAV format tag 0x07): 8-bit logarithmic companding,
  *     the telephony standard. Table-free bit manipulation; the test
  *     suite cross-validates against javax.sound's ULAW converter.
  *
  * Both implement the published reference algorithms (IMA "Recommended
  * Practices for Enhancing Digital Audio Compatibility", rev 3.00; ITU-T
  * G.711) — deterministic, so encode→decode round-trips are bit-exact
  * reproducible everywhere.
  */
object Adpcm {

  private val StepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  private val IndexTable: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  private def clamp16(v: Int): Int =
    if (v > 32767) 32767 else if (v < -32768) -32768 else v

  private def clampIdx(v: Int): Int = if (v < 0) 0 else if (v > 88) 88 else v

  /** Decode one 4-bit nibble; returns the new (predictor, stepIndex). */
  @inline private def decodeNibble(n: Int, pred: Int, idx: Int): (Int, Int) = {
    val step = StepTable(idx)
    var diff = step >> 3
    if ((n & 1) != 0) diff += step >> 2
    if ((n & 2) != 0) diff += step >> 1
    if ((n & 4) != 0) diff += step
    val p = clamp16(if ((n & 8) != 0) pred - diff else pred + diff)
    (p, clampIdx(idx + IndexTable(n)))
  }

  /** Encode one 16-bit sample; returns (nibble, new predictor, new index). */
  @inline private def encodeSample(sample: Int, pred: Int, idx: Int): (Int, Int, Int) = {
    val step = StepTable(idx)
    var diff = sample - pred
    var delta = 0
    if (diff < 0) { delta = 8; diff = -diff }
    var vpdiff = step >> 3
    if (diff >= step) { delta |= 4; diff -= step; vpdiff += step }
    if (diff >= (step >> 1)) { delta |= 2; diff -= step >> 1; vpdiff += step >> 1 }
    if (diff >= (step >> 2)) { delta |= 1; vpdiff += step >> 2 }
    val p = clamp16(if ((delta & 8) != 0) pred - vpdiff else pred + vpdiff)
    (delta, p, clampIdx(idx + IndexTable(delta)))
  }

  /** Encode mono 16-bit samples into IMA-ADPCM block payload bytes
    * (headers included), `blockAlign` bytes per block. Each block holds
    * `samplesPerBlock(blockAlign) = (blockAlign - 4) * 2 + 1` samples
    * (the first rides in the header verbatim). The tail block is
    * zero-padded, standard practice. */
  def encodeIma(samples: Array[Int], blockAlign: Int = 256): Array[Byte] = {
    require(blockAlign >= 8 && blockAlign % 4 == 0, s"bad blockAlign $blockAlign")
    if (samples.isEmpty) return Array.emptyByteArray
    val spb = samplesPerBlock(blockAlign)
    val nBlocks = (samples.length + spb - 1) / spb
    val out = new Array[Byte](nBlocks * blockAlign)
    var b = 0
    var idx = 0 // step index carries across blocks (encoder's choice; each
                // block HEADER still makes decode independent)
    while (b < nBlocks) {
      val base = b * blockAlign
      val s0 = samples(b * spb)
      out(base) = (s0 & 0xff).toByte
      out(base + 1) = ((s0 >> 8) & 0xff).toByte
      out(base + 2) = idx.toByte
      out(base + 3) = 0
      var pred = s0
      var nib = 0
      var half = false
      var i = 1
      while (i < spb) {
        val at = b * spb + i
        val s = if (at < samples.length) samples(at) else 0
        val (d, p, ix) = encodeSample(s, pred, idx)
        pred = p; idx = ix
        if (!half) { nib = d; half = true }
        else {
          out(base + 4 + (i - 1) / 2) = (nib | (d << 4)).toByte
          half = false
        }
        i += 1
      }
      // spb is always odd, so the nibble loop encodes an even count and
      // every pair flushes inside it — no trailing half-byte can exist
      assert(!half, "samplesPerBlock invariant broken: odd nibble count")
      b += 1
    }
    out
  }

  def samplesPerBlock(blockAlign: Int): Int = (blockAlign - 4) * 2 + 1

  /** Decode mono IMA-ADPCM payload (sequence of `blockAlign` blocks) to
    * 16-bit samples. `nSamples` trims the tail block's zero padding
    * (pass -1 to emit every padded sample). */
  def decodeIma(bytes: Array[Byte], blockAlign: Int = 256,
                nSamples: Int = -1): Array[Int] = {
    require(blockAlign >= 8 && blockAlign % 4 == 0, s"bad blockAlign $blockAlign")
    if (bytes == null || bytes.length < blockAlign) return Array.emptyIntArray
    val spb = samplesPerBlock(blockAlign)
    val nBlocks = bytes.length / blockAlign
    val total = nBlocks * spb
    val out = new Array[Int](total)
    var b = 0
    while (b < nBlocks) {
      val base = b * blockAlign
      var pred = ((bytes(base) & 0xff) | (bytes(base + 1) << 8)).toShort.toInt
      var idx = clampIdx(bytes(base + 2) & 0xff)
      out(b * spb) = pred
      var i = 1
      while (i < spb) {
        val byte = bytes(base + 4 + (i - 1) / 2) & 0xff
        val n = if ((i - 1) % 2 == 0) byte & 0xf else byte >> 4
        val (p, ix) = decodeNibble(n, pred, idx)
        pred = p; idx = ix
        out(b * spb + i) = pred
        i += 1
      }
      b += 1
    }
    if (nSamples >= 0 && nSamples < total) out.take(nSamples) else out
  }

  // ---------------------------------------------------------------- G.711

  private val MuLawBias = 0x84 // 132
  private val MuLawMax = 32635

  /** Encode one 16-bit sample to 8-bit µ-law (ITU-T G.711). */
  def muLawEncode(sample: Int): Byte = {
    var s = sample
    val sign = if (s < 0) { s = -s; 0x80 } else 0
    if (s > MuLawMax) s = MuLawMax
    s += MuLawBias
    var exp = 7
    var mask = 0x4000
    while (exp > 0 && (s & mask) == 0) { exp -= 1; mask >>= 1 }
    val mantissa = (s >> (exp + 3)) & 0x0f
    (~(sign | (exp << 4) | mantissa) & 0xff).toByte
  }

  /** Decode one 8-bit µ-law byte to its 16-bit sample. */
  def muLawDecode(b: Byte): Int = {
    val u = ~b & 0xff
    val exp = (u >> 4) & 7
    val mantissa = u & 0x0f
    val s = (((mantissa << 3) + MuLawBias) << exp) - MuLawBias
    if ((u & 0x80) != 0) -s else s
  }

  def muLawDecodeAll(bytes: Array[Byte]): Array[Int] = {
    val out = new Array[Int](bytes.length)
    var i = 0
    while (i < bytes.length) { out(i) = muLawDecode(bytes(i)); i += 1 }
    out
  }
}
