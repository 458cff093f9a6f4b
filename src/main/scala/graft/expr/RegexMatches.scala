package graft.expr

import java.util.concurrent.ConcurrentHashMap
import java.util.regex.Pattern

/** One match of a SIT regex against a document, with position + context.
  * Mirrors the tuple built at `modules/validator.py:278-287`. */
case class RegexMatch(value: String, start: Int, excerpt: String)

/** P2 — regex scan with positions and ±30-char excerpts.
  *
  * `regexp_extract_all` covers values but not positions/excerpts
  * (`modules/validator.py:278-287`), so this is the one genuinely custom
  * scalar function in the engine (SURVEY.md §2.8 P2). This is its kernel;
  * [[RegexMatchesExpr]] serves it as `array<struct<value,start,excerpt>>`.
  * Patterns are compiled once per executor via a concurrent cache, never
  * per row (the reference's fallback script recompiles per row —
  * `show_sit_samples.py:68`).
  *
  * Flags match `modules/validator.py:49`: MULTILINE | CASE_INSENSITIVE.
  */
object RegexMatches {

  private val cache = new ConcurrentHashMap[String, Pattern]()

  private def compiled(regex: String): Pattern =
    cache.computeIfAbsent(regex, r =>
      Pattern.compile(r, Pattern.MULTILINE | Pattern.CASE_INSENSITIVE))

  /** Pure function (driver/test use). Null/empty regex → no matches.
    * The `\b(?=.*\d)TOKEN\b` pattern family evaluates through the linear
    * digit-gated scan ([[DigitGated]]) — identical match set, O(n) on the
    * long-single-line documents that send the backtracking engine
    * quadratic (same flags, so token classes stay case-insensitive). */
  def findMatches(text: String, regex: String): Seq[RegexMatch] = {
    if (text == null || regex == null || regex.isEmpty) return Seq.empty
    def excerptAt(start: Int, end: Int) = text.substring(math.max(0, start - 30),
      math.min(text.length, end + 30)).replace("\n", " ")
    DigitGated.split(regex) match {
      case Some(residual) =>
        DigitGatedKernel.findAll(text, residual,
          Pattern.MULTILINE | Pattern.CASE_INSENSITIVE).map { case (a, b) =>
          RegexMatch(text.substring(a, b), a, excerptAt(a, b))
        }
      case None =>
        val m = compiled(regex).matcher(text)
        val out = Seq.newBuilder[RegexMatch]
        while (m.find()) {
          out += RegexMatch(m.group(0), m.start(), excerptAt(m.start(), m.end()))
        }
        out.result()
    }
  }
}
