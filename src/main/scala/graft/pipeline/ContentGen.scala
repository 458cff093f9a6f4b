package graft.pipeline

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stage 2 — document text rendering (SURVEY.md §2.4 T1–T8, §3.2).
  *
  * The reference renders row-at-a-time in Python (`modules/content_generator
  * .py:282-308`). Here the whole stage is one narrow projection over the plan
  * DataFrame, and each doc's text is ONE native expression
  * ([[RenderTextExpr]], calling [[RenderKernel.text]]): the template of its
  * format, the SIT values drawn inside the kernel ([[SitValues.value]]), and
  * the word-target filler, closed-form (T6) instead of the reference's
  * grow-until-target loop. A Column-DSL render (`concat`, `zip_with`,
  * `transform`, a values UDF) put about 800 expression nodes into every
  * frame built on the corpus, each analyzed, optimized and shipped with
  * every task; the kernel is one node. No shuffle anywhere.
  */
object ContentGen {

  /** Whitespace word count, Python `len(s.split())` semantics (T7) —
    * regex-free native scan (JDK regex is serial under multithreading on
    * this JVM; see graft.expr.TokenKernel). */
  def wordCountCol(text: Column): Column =
    graft.expr.Tokenize.wordCountNative(text)

  /** Render the corpus: plan (from [[MetaGen.docs]]) → one text per doc,
    * padded to the word target (T6 closed-form), plus actuals.
    *
    * `diverseFiller = false` (the default, matching the reference) pads with
    * rotations of one fixed lorem cycle ([[graft.expr.TextGen.LoremCycle]]):
    * maximally boilerplate-heavy, every doc's filler shares long n-gram runs
    * with every other doc. `diverseFiller = true` pads with an independent
    * hashed vocab draw per word position
    * ([[graft.expr.LoremWordsKernel]], prose form: ~12-word lines, since
    * giant single-line docs are the regex-scan worst case), so two docs
    * share filler n-grams only by coincidence. Use it when the corpus must
    * *behave* like organic data (near-dup rates, n-gram df, decontamination
    * overlap, line structure) — e.g. the [[graft.ScaleRun]] scale proof. */
  def corpus(docs: DataFrame, diverseFiller: Boolean = false): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val text = column(RenderTextExpr(expression(col("doc_id")),
      expression(col("format")), expression(col("sits")),
      expression(col("created_at")), expression(col("word_count_target")),
      diverseFiller))
    docs
      .select(col("doc_id"), col("filename"), col("format"),
        col("word_count_target"), col("sits"), col("created_at"),
        text.as("text"))
      .withColumns(ListMap(
        "actual_word_count" -> wordCountCol(col("text")).cast("long"),
        "actual_file_path" -> concat(lit("output/files/"), col("filename"))))
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
