package graft.sink

import graft.SparkSpec
import graft.pipeline.{ContentGen, MetaGen, PipelineConfig}

/** The regex-free text scans of [[MiniFormats]] against the
  * `String.split` forms they replaced, on rendered docs and fuzzed text. */
class MiniFormatsScanSpec extends SparkSpec {

  /** The paragraph split `docxBytes` and `wrapLines` made. */
  private def regexParagraphs(text: String): Seq[String] =
    text.split("\n\n", -1).toSeq

  /** `wrapLines` as it was: regex splits, a string per growing line. */
  private def regexWrapLines(text: String, width: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    text.split("\n\n", -1).foreach { paragraph =>
      val words = paragraph.split("\\s+").filter(_.nonEmpty)
      var line = ""
      words.foreach { w =>
        if (line.length + 1 + w.length > width) { out += line; line = w }
        else line = if (line.isEmpty) w else line + " " + w
      }
      if (line.nonEmpty) out += line
      out += ""
    }
    out.result()
  }

  private lazy val texts: Seq[String] = {
    val docs = MetaGen.docs(spark, PipelineConfig.scaled(perSit = 1))
    val rendered = ContentGen.corpus(docs).select("text").collect()
      .map(_.getString(0)).toSeq
    val rnd = new scala.util.Random(20261020)
    // Java's \s set, a few spaces outside it, and words that overflow a line
    val pieces = Vector("a", "bc", "word", "é", " ", "  ", "\t", "\n", "\n\n",
      "\n\n\n", "\u000B", "\f", "\r", "\r\n", " ", " ", "x" * 99,
      "y" * 100, "z" * 130)
    val fuzzed = Seq.fill(5000)(
      Seq.fill(rnd.nextInt(40))(pieces(rnd.nextInt(pieces.size))).mkString)
    rendered ++ fuzzed :+ ""
  }

  test("paragraph scan == split(\"\\n\\n\", -1)") {
    texts.foreach(t => assert(MiniFormats.paragraphs(t) === regexParagraphs(t), t))
  }

  test("wrapLines word scan == the split(\"\\\\s+\") form, at several widths") {
    for (w <- Seq(100, 10, 1); t <- texts)
      assert(MiniFormats.wrapLines(t, w) === regexWrapLines(t, w), s"width $w: $t")
  }
}
