package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage-2 rendering: templates, instance emission, word-target filler,
  * upsert join, the mapping projection. */
class ContentGenSpec extends SparkSpec {
  import spark.implicits._

  private lazy val cfg = PipelineConfig.scaled(perSit = 2)
  private lazy val docs = MetaGen.docs(spark, cfg).cache()
  private lazy val corpus = ContentGen.corpus(docs).cache()

  test("every doc renders with at least its word target") {
    val bad = corpus.filter(col("actual_word_count") < col("word_count_target"))
    assert(bad.count() == 0)
  }

  test("each format uses its template skeleton") {
    val byFormat = corpus.groupBy("format").agg(first("text").as("t"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    byFormat.get("email").foreach { t =>
      assert(t.startsWith("From: ") && t.contains("\nTo: ") &&
        t.contains("\nSubject: ") && t.contains("Regards,"))
    }
    byFormat.get("email_with_attachment").foreach { t =>
      assert(t.contains("Attached: report.xlsx"))
    }
    byFormat.get("chat").foreach { t =>
      assert(t.linesIterator.next().matches("\\[\\d{2}:\\d{2}\\] .*: .*"))
    }
    byFormat.get("document").foreach { t =>
      assert(t.startsWith("CONFIDENTIAL - Document "))
      assert(t.contains("Generated at: "))
    }
  }

  test("TP SITs emit `instances` distinct values; FP emit the fixed literal") {
    val row = corpus.select(col("doc_id"), col("sits"), col("text"))
      .filter(size(col("sits")) > 0).limit(50).collect()
    row.foreach { r =>
      val docId = r.getLong(0)
      val sits = r.getSeq[org.apache.spark.sql.Row](1)
      val text = r.getString(2)
      sits.zipWithIndex.foreach { case (s, k) =>
        val (sid, name, label, inst) = (s.getString(0), s.getString(1),
          s.getString(2), s.getLong(3))
        if (label == "FP")
          assert(text.contains(SitValues.fpValue(sid, name)),
            s"doc $docId missing FP literal for $sid")
        else {
          val v0 = SitValues.value(sid, name, "TP", docId, k.toLong * 1024)
          assert(text.contains(v0), s"doc $docId missing TP value for $sid")
        }
      }
    }
  }

  test("word count column matches Python split() semantics") {
    val df = Seq("a b  c", " leading", "one", "", "tab\tsep words")
      .toDF("text").select(ContentGen.wordCountCol(col("text")).as("n"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(3L, 1L, 1L, 0L, 3L))
  }

  test("upsert: incoming wins per column, new rows appended, old kept") {
    val existing = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("doc_id", "v", "only_e")
    val incoming = Seq((2L, "B", "n2"), (3L, "C", "n3")).toDF("doc_id", "v", "only_i")
    val out = ContentGen.upsertMapping(existing, incoming)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(out.map(_.getAs[String]("v")).toSeq == Seq("a", "B", "C"))
    assert(out.map(_.getAs[String]("only_e")).toSeq == Seq("x", "y", null))
    assert(out.map(_.getAs[String]("only_i")).toSeq == Seq(null, "n2", "n3"))
  }

  test("mappingFromCorpus == the self-join reference: rows, column names, " +
    "types and order") {
    ContentGenSpec.configs.foreach { case (name, c) =>
      val corpus = ContentGen.corpus(MetaGen.docs(spark, c)).cache()
      val got = ContentGen.mappingFromCorpus(corpus)
      val want = ContentGenSpec.referenceMapping(corpus)
      assert(got.columns.toSeq === want.columns.toSeq, name)
      assert(got.schema.map(_.dataType) === want.schema.map(_.dataType), name)
      assert(ContentGenSpec.rowsById(got) === ContentGenSpec.rowsById(want), name)
      corpus.unpersist()
    }
  }

  test("corpus render is deterministic") {
    val again = ContentGen.corpus(MetaGen.docs(spark, cfg))
      .select("doc_id", "text")
    assert(again.exceptAll(corpus.select("doc_id", "text")).count() == 0)
  }
}

object ContentGenSpec {
  /** The reference config, and the same with shuffled SIT and format
    * lists. */
  lazy val configs: Seq[(String, PipelineConfig)] = {
    val base = PipelineConfig.scaled(perSit = 1)
    val rnd = new scala.util.Random(99)
    Seq("scaled(1)" -> base,
      "shuffled SITs and formats" -> base.copy(
        sits = rnd.shuffle(base.sits), formats = rnd.shuffle(base.formats)))
  }

  /** The mapping as a self-join of the corpus on doc_id: the plan's mapping
    * columns joined with the render actuals. */
  def referenceMapping(corpus: DataFrame): DataFrame =
    MetaGen.mappingFromDocs(corpus)
      .join(corpus.select("doc_id", "actual_file_path", "actual_word_count"),
        Seq("doc_id"))

  def rowsById(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("doc_id").collect().map(_.toSeq).toSeq
}
