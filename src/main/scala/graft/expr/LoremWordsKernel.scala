package graft.expr

/** The diverse lorem filler: `n` words, each an independent
  * `(key, slotBase + i)` [[DetHash]] draw over [[TextGen.Lorem]], i in
  * 1..n, rendered in one loop. The DLP render
  * ([[graft.pipeline.RenderKernel]]) appends it in place; the HOF form
  * `transform(sequence(1, n), ...)` it replaced is kept in the specs as the
  * identity reference. */
object LoremWordsKernel {
  private val words: Array[String] = TextGen.Lorem.toArray
  private val size: Int = words.length
  // separator draws live in a disjoint slot band from the word draws
  private val SepSlotBand = 1L << 40

  /** Appends the `n` words (none for n ≤ 0), space-separated; with
    * `prose = true` ~every 12th separator is a newline instead
    * (deterministic per-position draw, same DetHash discipline): real
    * corpora have line structure, and a single multi-kilobyte line is the
    * pathological input for any per-word-boundary regex scan — the scale
    * run showed the reference's `(?=.*\d)`-style SIT lookaheads going
    * quadratic on one-line filler (every boundary rescans to end-of-line).
    * Replacing '\n' with ' ' recovers the plain form bit-for-bit
    * (KernelPropertySpec pins it). */
  def append(sb: java.lang.StringBuilder, key: Long, n: Long, slotBase: Long,
             prose: Boolean): Unit = {
    var i = 1L
    while (i <= n) {
      if (i > 1L)
        sb.append(
          if (prose && DetHash.nextInt(key, slotBase + SepSlotBand + i, 12) == 0)
            '\n'
          else ' ')
      sb.append(words(DetHash.nextInt(key, slotBase + i, size)))
      i += 1L
    }
  }
}
