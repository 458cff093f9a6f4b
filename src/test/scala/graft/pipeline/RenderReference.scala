package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.DetHash._
import graft.expr.TextGenColumns
import graft.expr.TextGen.constArray

/** The Column-DSL forms of the DLP's per-document expressions, as they
  * were before [[RenderKernel]]: `transform`/`zip_with`/`concat` trees and a
  * values UDF. The specs' identity reference for [[MetaGen.docs]],
  * [[ContentGen.corpus]] and [[PostProcess.lastHeaderCol]]. */
object RenderReference {

  /** G2+G3: sit-count bucket. */
  def nSitsCol(id: Column): Column = {
    val p = pctCol(id, lit(2L))
    when(p < 30, lit(1))
      .when(p < 60, lit(2) + nextIntCol(id, lit(3L), 2))
      .when(p < 90, lit(4) + nextIntCol(id, lit(3L), 3))
      .otherwise(lit(7) + nextIntCol(id, lit(3L), 4))
  }

  /** G3: instance-count bucket. */
  def instancesCol(id: Column, k: Column): Column = {
    val p = pctCol(id, lit(200L) + k)
    when(p < 35, lit(1))
      .when(p < 70, lit(3) + nextIntCol(id, lit(300L) + k, 3))
      .when(p < 90, lit(6) + nextIntCol(id, lit(300L) + k, 5))
      .otherwise(lit(11) + nextIntCol(id, lit(300L) + k, 10))
  }

  /** G4: Bernoulli TP/FP label. */
  def labelCol(id: Column, k: Column, tpRatio: Double): Column =
    when(pctCol(id, lit(100L) + k) < (tpRatio * 100).round.toInt, lit("TP"))
      .otherwise(lit("FP"))

  def sitsCol(id: Column, cfg: PipelineConfig): Column = {
    val sits = cfg.sits.toIndexedSeq
    val names = constArray(sits.map(_.name))
    val ids = constArray(sits.map(_.id))
    // nested `array`s: with every tc list empty they type as array<void>
    val tcs = array(sits.map(s => array(s.tc.map(lit): _*)): _*)
    val base = pmod(id * 17, lit(sits.size.toLong))
    transform(sequence(lit(0L), nSitsCol(id).cast("long") - 1), k => {
      val idx = (pmod(base + k, lit(sits.size.toLong))).cast("int")
      val inst = instancesCol(id, k)
      val label = labelCol(id, k, cfg.tpRatio)
      struct(
        element_at(ids, idx + 1).as("sit_id"),
        element_at(names, idx + 1).as("sit_name"),
        label.as("label"),
        inst.cast("long").as("instances"),
        MetaGen.confidenceCol(label, inst).as("confidence"),
        element_at(tcs, idx + 1).as("tcs"))
    })
  }

  /** [[MetaGen.docs]] with the `transform` SIT plan. */
  def docs(spark: SparkSession, cfg: PipelineConfig,
           createdAt: String = "1970-01-01T00:00:00Z"): DataFrame = {
    val id = col("id")
    spark.range(1, MetaGen.docsNeeded(cfg) + 1)
      .select(
        id.as("doc_id"),
        MetaGen.formatCol(id, cfg.formats).as("format"),
        MetaGen.wordCountCol(id, cfg.sizeDistribution).cast("long")
          .as("word_count_target"),
        sitsCol(id, cfg).as("sits"),
        lit(createdAt).as("created_at"))
      .withColumn("filename",
        format_string("doc_%05d_%s.txt", col("doc_id"), col("format")))
      .select("doc_id", "filename", "format", "word_count_target", "sits",
        "created_at")
  }

  private val instanceValuesUdf = udf { (docId: Long, sits: Seq[Row]) =>
    sits.zipWithIndex.map { case (r, k) =>
      val n = math.max(1L, r.getAs[Long]("instances")).toInt
      (0 until n).map { j =>
        SitValues.value(r.getAs[String]("sit_id"), r.getAs[String]("sit_name"),
          r.getAs[String]("label"), docId, k.toLong * 1024 + j)
      }
    }
  }

  private def sitBlock(s: Column, vals: Column, detailWord: String): Column =
    concat(
      s.getField("sit_name"), lit(": "), array_join(vals, ", "),
      lit("\n" + detailWord + " related"),
      lit(if (detailWord == "Details:") " TCs" else ""),
      lit(if (detailWord == "Details:") ": " else " to "),
      array_join(s.getField("tcs"), ", "), lit("."))

  private def subjectCol(docId: Column): Column = {
    val words = transform(sequence(lit(1L), lit(6L)),
      i => TextGenColumns.loremWordCol(docId, lit(9100L) + i))
    concat(initcap(element_at(words, 1)), lit(" "),
      array_join(slice(words, 2, 5), " "))
  }

  private def emailText(docId: Column, sits: Column, vals: Column,
                        attachmentNote: Boolean): Column = {
    val body = array_join(
      zip_with(sits, vals, (s, v) => sitBlock(s, v, "Context:")), "\n\n")
    val withNote =
      if (attachmentNote) concat(body, lit("\n\nAttached: report.xlsx")) else body
    concat(
      lit("From: "), TextGenColumns.emailCol(docId, lit(9001L)),
      lit("\nTo: "), TextGenColumns.emailCol(docId, lit(9002L)),
      lit("\nSubject: "), subjectCol(docId),
      lit("\n\n"), withNote,
      lit("\n\nRegards,\n"), TextGenColumns.fullNameCol(docId, lit(9004L)),
      lit("\n"))
  }

  private def chatText(docId: Column, sits: Column, vals: Column): Column =
    array_join(
      transform(sits, (s, i) => {
        val t = TextGenColumns.hhmmCol(docId, lit(9200L) + i * 4)
        val u1 = TextGenColumns.firstNameCol(docId, lit(9300L) + i * 4)
        val u2 = TextGenColumns.firstNameCol(docId, lit(9301L) + i * 4)
        val v = array_join(element_at(vals, i + 1), ", ")
        concat(
          lit("["), t, lit("] "), u1,
          lit(": Please share the "), s.getField("sit_name"), lit("."),
          lit("\n["), t, lit("] "), u2,
          lit(": The "), s.getField("sit_name"), lit(" is "), v, lit("."))
      }), "\n")

  private def documentText(docId: Column, sits: Column, vals: Column,
                           createdAt: Column): Column =
    concat(
      concat(lit("CONFIDENTIAL - Document "), docId, lit("\n\n")),
      array_join(
        zip_with(sits, vals, (s, v) => sitBlock(s, v, "Details:")), "\n\n"),
      lit("\n\n\nGenerated at: "), createdAt)

  private val proseFillerUdf = udf((key: Long, n: Long) =>
    TextGenColumns.loremWords(key, n, 20000L, prose = true))

  /** [[ContentGen.corpus]] as Column-DSL templates over the values UDF. */
  def corpus(docs: DataFrame, diverseFiller: Boolean = false): DataFrame = {
    val docId = col("doc_id")
    val sits = col("sits")
    val base = docs
      .withColumn("vals", instanceValuesUdf(docId, sits))
      .withColumn("raw_text",
        when(col("format") === "email",
          emailText(docId, sits, col("vals"), attachmentNote = false))
          .when(col("format") === "email_with_attachment",
            emailText(docId, sits, col("vals"), attachmentNote = true))
          .when(col("format") === "chat", chatText(docId, sits, col("vals")))
          .otherwise(
            documentText(docId, sits, col("vals"), col("created_at"))))
    val needed = greatest(lit(0),
      col("word_count_target") - ContentGen.wordCountCol(col("raw_text")))
    val filler =
      if (diverseFiller) proseFillerUdf(docId, needed)
      else TextGenColumns.loremFillCol(docId, lit(20000L), needed)
    base
      .withColumn("text",
        when(needed > 0,
          concat(col("raw_text"), lit("\n\n"), filler))
          .otherwise(col("raw_text")))
      .withColumn("actual_word_count",
        ContentGen.wordCountCol(col("text")).cast("long"))
      .withColumn("actual_file_path",
        concat(lit("output/files/"), col("filename")))
      .select("doc_id", "filename", "format", "word_count_target", "sits",
        "created_at", "text", "actual_word_count", "actual_file_path")
  }

  /** P9 as `filter` over the `lower`-cased lines. */
  def lastHeaderCol(text: Column, header: String, default: Column): Column = {
    val matching = filter(split(text, "\n"),
      l => lower(l).startsWith(header.toLowerCase + ":"))
    val lastLine = element_at(matching, -1)
    when(size(matching) > 0,
      trim(lastLine.substr(instr(lastLine, ":") + 1, length(lastLine))))
      .otherwise(default)
  }
}
