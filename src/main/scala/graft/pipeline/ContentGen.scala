package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expr.TextGen

/** Stage 2 — document text rendering (SURVEY.md §2.4 T1–T8, §3.2).
  *
  * The reference renders row-at-a-time in Python (`modules/content_generator
  * .py:282-308`). Here the whole stage is one narrow projection over the plan
  * DataFrame: template construction is built-in string/array expressions
  * (`concat_ws`, `zip_with`, `array_join`, `format_string`), the only UDF is
  * the per-SIT value dispatch ([[SitValues]]), and the word-target filler is
  * closed-form (T6) instead of the reference's grow-until-target loop.
  * No shuffle anywhere — Catalyst whole-stage-codegens the entire render.
  */
object ContentGen {

  /** Whitespace word count, Python `len(s.split())` semantics (T7) —
    * regex-free native scan (JDK regex is serial under multithreading on
    * this JVM; see graft.expr.TokenKernel). */
  def wordCountCol(text: Column): Column =
    graft.expr.Tokenize.wordCountNative(text)

  /** One "Name: v1, v2\nContext: …" block per SIT (T5). */
  private def sitBlock(s: Column, vals: Column, detailWord: String): Column =
    concat(
      s.getField("sit_name"), lit(": "), array_join(vals, ", "),
      lit("\n" + detailWord + " related"),
      lit(if (detailWord == "Details:") " TCs" else ""),
      lit(if (detailWord == "Details:") ": " else " to "),
      array_join(s.getField("tcs"), ", "), lit("."))

  /** Email render (T1): RFC-822-ish headers + SIT blocks + signature
    * (`content_generator.py:180,286-288`). */
  private def emailText(docId: Column, sits: Column, vals: Column,
                        attachmentNote: Boolean): Column = {
    val body = array_join(
      zip_with(sits, vals, (s, v) => sitBlock(s, v, "Context:")), "\n\n")
    val withNote =
      if (attachmentNote) concat(body, lit("\n\nAttached: report.xlsx")) else body
    concat(
      lit("From: "), TextGen.emailCol(docId, lit(9001L)),
      lit("\nTo: "), TextGen.emailCol(docId, lit(9002L)),
      lit("\nSubject: "), subjectCol(docId),
      lit("\n\n"), withNote,
      lit("\n\nRegards,\n"), TextGen.fullNameCol(docId, lit(9004L)), lit("\n"))
  }

  /** ~6-word sentence subject (replacement for `fake.sentence(nb_words=6)`). */
  private def subjectCol(docId: Column): Column = {
    val words = transform(sequence(lit(1L), lit(6L)),
      i => TextGen.loremWordCol(docId, lit(9100L) + i))
    concat(initcap(element_at(words, 1)), lit(" "),
      array_join(slice(words, 2, 5), " "))
  }

  /** Chat render (T2): `[HH:MM] user: message` ask/answer pairs per SIT
    * (`content_generator.py:181,216-225`). */
  private def chatText(docId: Column, sits: Column, vals: Column): Column =
    array_join(
      transform(sits, (s, i) => {
        val t = TextGen.hhmmCol(docId, lit(9200L) + i * 4)
        val u1 = TextGen.firstNameCol(docId, lit(9300L) + i * 4)
        val u2 = TextGen.firstNameCol(docId, lit(9301L) + i * 4)
        val v = array_join(element_at(vals, i + 1), ", ")
        concat(
          lit("["), t, lit("] "), u1,
          lit(": Please share the "), s.getField("sit_name"), lit("."),
          lit("\n["), t, lit("] "), u2,
          lit(": The "), s.getField("sit_name"), lit(" is "), v, lit("."))
      }), "\n")

  /** Document render (T3): CONFIDENTIAL title + SIT blocks + timestamp
    * (`content_generator.py:182,227-234`). */
  private def documentText(docId: Column, sits: Column, vals: Column,
                           createdAt: Column): Column =
    concat(
      concat(lit("CONFIDENTIAL - Document "), docId, lit("\n\n")),
      array_join(
        zip_with(sits, vals, (s, v) => sitBlock(s, v, "Details:")), "\n\n"),
      lit("\n\n\nGenerated at: "), createdAt)

  /** Render the corpus: plan (from [[MetaGen.docs]]) → one text per doc,
    * padded to the word target (T6 closed-form), plus actuals.
    *
    * `diverseFiller = false` (the default, matching the reference) pads with
    * [[TextGen.loremFillCol]] — rotations of one fixed lorem cycle, fast
    * (whole-stage codegen) but maximally boilerplate-heavy: every doc's
    * filler shares long n-gram runs with every other doc. `diverseFiller =
    * true` pads with [[TextGen.loremWordsNativeCol]] — an independent hashed
    * vocab draw per word position, so two docs share filler n-grams only by
    * coincidence. Use it when the corpus must *behave* like organic data
    * (near-dup rates, n-gram df, decontamination overlap, line structure)
    * — e.g. the [[graft.ScaleRun]] scale proof. The draw-per-word runs as
    * one native codegen loop ([[graft.expr.LoremWordsExpr]], prose form:
    * ~12-word lines, since giant single-line docs are the regex-scan
    * worst case); the HOF twin [[TextGen.loremWordsCol]] paid an
    * interpreted lambda per word. */
  def corpus(docs: DataFrame, diverseFiller: Boolean = false): DataFrame = {
    val docId = col("doc_id")
    val sits = col("sits")
    val vals = SitValues.instanceValuesCol(docId, sits)

    val base = docs
      .withColumn("vals", vals)
      .withColumn("raw_text",
        when(col("format") === "email",
          emailText(docId, sits, col("vals"), attachmentNote = false))
          .when(col("format") === "email_with_attachment",
            emailText(docId, sits, col("vals"), attachmentNote = true))
          .when(col("format") === "chat", chatText(docId, sits, col("vals")))
          .otherwise(
            documentText(docId, sits, col("vals"), col("created_at"))))

    val needed = greatest(lit(0),
      col("word_count_target") - wordCountCol(col("raw_text")))
    val filler =
      if (diverseFiller) TextGen.loremProseNativeCol(docId, needed, lit(20000L))
      else TextGen.loremFillCol(docId, lit(20000L), needed)
    base
      .withColumn("text",
        when(needed > 0,
          concat(col("raw_text"), lit("\n\n"), filler))
          .otherwise(col("raw_text")))
      .withColumn("actual_word_count", wordCountCol(col("text")).cast("long"))
      .withColumn("actual_file_path",
        concat(lit("output/files/"), col("filename")))
      .select("doc_id", "filename", "format", "word_count_target", "sits",
        "created_at", "text", "actual_word_count", "actual_file_path")
  }

  /** J3 — upsert `incoming` rows into `existing` by doc_id: full-outer join
    * with per-column `coalesce(incoming, existing)` — the set-based rewrite of
    * the reference's pandas per-cell loop (`content_generator.py:336-352`).
    * Columns present in only one side pass through. */
  def upsertMapping(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val key = "doc_id"
    val e = existing.alias("e")
    val i = incoming.alias("i")
    val common = existing.columns.toSeq.intersect(incoming.columns.toSeq)
      .filterNot(_ == key)
    val onlyE = existing.columns.toSeq.diff(incoming.columns.toSeq)
    val onlyI = incoming.columns.toSeq.diff(existing.columns.toSeq)
    e.join(i, col(s"e.$key") === col(s"i.$key"), "full_outer")
      .select(
        coalesce(col(s"i.$key"), col(s"e.$key")).as(key) +:
          (common.map(c => coalesce(col(s"i.$c"), col(s"e.$c")).as(c)) ++
            onlyE.map(c => col(s"e.$c").as(c)) ++
            onlyI.map(c => col(s"i.$c").as(c))): _*)
  }

  /** Post-render mapping rows (§1.3 cols 1–11), `;`-joined at the boundary:
    * one narrow projection of a [[corpus]] (one row per `doc_id`), the
    * [[MetaGen.mappingFromDocs]] columns plus the render actuals. */
  def mappingFromCorpus(corpus: DataFrame): DataFrame =
    corpus.select(MetaGen.mappingCols ++
      Seq(col("actual_file_path"), col("actual_word_count")): _*)
}
