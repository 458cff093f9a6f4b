package graft.pipeline

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.sink.{DocSink, Eml, MiniFormats}

/** Stage 3 — derived-format export (SURVEY.md §3.3).
  *
  * The reference loops rows on the driver writing docx/pdf/eml per doc at
  * 8–16 docs/s single-threaded (`modules/postprocessor.py:217-223`,
  * BASELINE.md). Here the per-format encoders run as one distributed
  * projection producing binary columns, and files — when a file-per-doc
  * export is actually wanted — go through one `foreachPartition` pass of
  * the sink. Header extraction (P9) is one native line scan per header,
  * path derivation stays declarative. The mapping's new columns
  * depend only on each row's filename and format, so [[updateMapping]] is a
  * projection of the mapping, not a join with the derived frame.
  */
object PostProcess {

  /** P9 — "last matching header line wins" extraction
    * (`modules/postprocessor.py:174-183`): the `' '`-trimmed rest of the last
    * line of `text` that starts with `header:` in any case, else `default`
    * (also for a null `text`). One native line scan
    * ([[LastHeaderExpr]], calling [[RenderKernel.lastHeader]]) equal to the
    * `filter(split(text, "\n"), lower(_).startsWith(...))` form it
    * replaced, which lower-cased every line of the doc once per header.
    * `header` is ASCII letters. */
  def lastHeaderCol(text: Column, header: String, default: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(LastHeaderExpr(expression(text), expression(default),
      header.toLowerCase(java.util.Locale.ROOT)))
  }

  private val docxUdf = udf((text: String) =>
    if (text == null) null else MiniFormats.docxBytes(text))
  private val pdfUdf = udf((text: String) =>
    if (text == null) null else MiniFormats.pdfBytes(text))

  private val emlUdf = udf {
    (subject: String, from: String, to: String, date: String, text: String,
     withAttachment: Boolean, sitRows: Seq[Row]) =>
      if (text == null) null
      else {
        val attachments =
          if (withAttachment) {
            val header = Seq("sit_id", "sit_name", "label", "instances",
              "confidence", "tcs")
            val rows = header +: sitRows.map { r =>
              Seq(r.getAs[String]("sit_id"), r.getAs[String]("sit_name"),
                r.getAs[String]("label"), r.getAs[Long]("instances").toString,
                r.getAs[String]("confidence"),
                r.getAs[Seq[String]]("tcs").mkString(","))
            }
            Seq(Eml.Attachment("report.xlsx",
              Eml.guessMime("report.xlsx"), MiniFormats.xlsxBytes(rows)))
          } else Seq.empty
        Eml.build(subject, from, to, date, text, attachments)
      }
  }

  /** The injected clocks: `postprocessed_at` (the mapping's audit column)
    * and the eml `Date:` header. */
  private val ProcessedAt = "1970-01-01T00:00:00Z"
  private val Rfc2822Date = "Thu, 01 Jan 1970 00:00:00 +0000"

  private def stemCol: Column = regexp_replace(col("filename"), "\\.txt$", "")
  private def isEmailCol: Column = col("format").isin("email", "email_with_attachment")

  /** The mapping's post-processing columns, a function of each row's
    * `filename` and `format` only (`modules/postprocessor.py:217-223`):
    * docx/pdf paths always, the eml path for email formats, the xlsx
    * attachment path for `email_with_attachment`, the audit clock. */
  private def postColumns: ListMap[String, Column] = {
    def path(suffix: String) = concat(lit("output/files/"), stemCol, lit(suffix))
    ListMap(
      "docx_path" -> path(".docx"),
      "pdf_path" -> path(".pdf"),
      "eml_path" -> when(isEmailCol, path(".eml")).otherwise(lit("")),
      "attachments" -> when(col("format") === "email_with_attachment",
        path("_attachment.xlsx")).otherwise(lit("")),
      "postprocessed_at" -> lit(ProcessedAt))
  }

  /** Derive all post-processed artifacts as columns over the corpus
    * (`doc_id, filename, format, text, sits`):
    * docx_bytes / pdf_bytes always; eml_text for email formats (with xlsx
    * attachment for `email_with_attachment` — S6); the file names [[export]]
    * writes; the mapping's path + audit columns
    * (`modules/postprocessor.py:139-192`). Two projections, not one per
    * column: every `withColumn` analyzes the plan again. */
  def derive(corpus: DataFrame): DataFrame = {
    val (stem, isEmail, text) = (stemCol, isEmailCol, col("text"))
    corpus
      .withColumns(ListMap(
        "stem" -> stem,
        "docx_name" -> concat(stem, lit(".docx")),
        "pdf_name" -> concat(stem, lit(".pdf")),
        "eml_name" -> when(isEmail, concat(stem, lit(".eml"))).otherwise(lit("")),
        "docx_bytes" -> docxUdf(text),
        "pdf_bytes" -> pdfUdf(text),
        "subject" ->
          lastHeaderCol(text, "subject", concat(lit("Automated message "), stem)),
        "from_addr" -> lastHeaderCol(text, "from", lit("no-reply@example.com")),
        "to_addr" -> lastHeaderCol(text, "to", lit("recipient@example.com"))))
      .withColumns(ListMap(
        "eml_text" -> when(isEmail,
          emlUdf(col("subject"), col("from_addr"), col("to_addr"),
            lit(Rfc2822Date), text,
            col("format") === "email_with_attachment", col("sits")))
          .otherwise(lit(null).cast("string"))) ++ postColumns)
  }

  /** Export the derived artifacts as real files under `dir` (S8/S10/S12/S14
    * sinks): docx, pdf and, for email formats, eml, all in one
    * `foreachPartition` pass. */
  def export(derived: DataFrame, dir: String): Unit =
    DocSink.writeFiles(derived, dir, Seq("docx_name" -> "docx_bytes",
      "pdf_name" -> "pdf_bytes", "eml_name" -> "eml_text"))

  /** J4 — the final mapping: `mapping` with the derived path/audit columns
    * appended (set-based rewrite of the `df.at[idx, k] = v` loop,
    * `modules/postprocessor.py:217-223`).
    *
    * Contract: `derived` is [[derive]] of the same corpus `mapping` was
    * projected from. Every derived column the mapping keeps is a function of
    * the row's `filename` and `format`, so it is computed on the mapping's
    * own rows and `derived` is not joined: the result is a narrow projection
    * of `mapping`, in its row order. (The general keyed upsert is
    * [[ContentGen.upsertMapping]].) */
  def updateMapping(mapping: DataFrame, derived: DataFrame): DataFrame =
    mapping.withColumns(postColumns)
}
