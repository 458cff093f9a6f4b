package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The native per-document kernels ([[RenderKernel]]) against the
  * Column-DSL forms they replaced ([[RenderReference]]): rows, column
  * names, types and nullability. */
class RenderKernelSpec extends SparkSpec {
  import spark.implicits._

  private lazy val configs: Seq[(String, PipelineConfig)] =
    ContentGenSpec.configs :+ ("scaled(100)" -> PipelineConfig.scaled(perSit = 100))

  private def assertSame(got: DataFrame, want: DataFrame, name: String): Unit = {
    assert(got.schema === want.schema, name)
    val (g, w) = (ContentGenSpec.rowsById(got), ContentGenSpec.rowsById(want))
    assert(g.size === w.size, name)
    g.zip(w).foreach { case (a, b) => assert(a === b, s"$name, doc ${b.head}") }
  }

  test("MetaGen.docs == the transform reference: rows and schema") {
    configs.foreach { case (name, c) =>
      assertSame(MetaGen.docs(spark, c), RenderReference.docs(spark, c), name)
    }
  }

  test("MetaGen.docs types an all-empty TC list as the reference does") {
    val base = PipelineConfig.scaled(perSit = 1)
    val c = base.copy(sits = base.sits.map(_.copy(tc = Nil)))
    assertSame(MetaGen.docs(spark, c), RenderReference.docs(spark, c), "no TCs")
  }

  test("ContentGen.corpus == the Column-DSL reference: rows and schema") {
    configs.foreach { case (name, c) =>
      val docs = MetaGen.docs(spark, c).cache()
      assertSame(ContentGen.corpus(docs), RenderReference.corpus(docs), name)
      docs.unpersist()
    }
  }

  test("ContentGen.corpus with the diverse filler == the reference") {
    ContentGenSpec.configs.foreach { case (name, c) =>
      val docs = MetaGen.docs(spark, c).cache()
      assertSame(ContentGen.corpus(docs, diverseFiller = true),
        RenderReference.corpus(docs, diverseFiller = true), name)
      docs.unpersist()
    }
  }

  test("the kernels evaluate interpreted as they do compiled") {
    val c = PipelineConfig.scaled(perSit = 1)
    val compiled = ContentGen.corpus(MetaGen.docs(spark, c))
      .select("doc_id", "sits", "text").orderBy("doc_id").collect().toSeq
    val interpreted = MetaGen.docs(spark, c).collect().toSeq.map { r =>
      val id = r.getAs[Long]("doc_id")
      val sits = RenderKernel.sits(id, SitTable(c))
      val text = RenderKernel.text(docIdNull = false, id,
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getAs[String]("format")),
        sits, org.apache.spark.unsafe.types.UTF8String.fromString(
          r.getAs[String]("created_at")),
        targetNull = false, r.getAs[Long]("word_count_target"), diverse = false)
      (id, sits.numElements(), text.toString)
    }
    assert(compiled.map(r => (r.getLong(0), r.getSeq[Any](1).size, r.getString(2))) ===
      interpreted)
  }

  test("lastHeaderCol == the filter/lower form on edge lines") {
    val texts = Seq(
      "From: a@x\nTo: b@y\nSubject: first\nbody\nsubject: second\n",
      "SUBJECT: upper\nSuBjEcT: mixed case",
      "Subject : spaced colon\n Subject: leading space",
      "Subject:",
      "Subject:   \nfrom:",
      "Subject: trailing cr\r\nFrom:\ttabbed\t\r\n",
      "Subject:   padded   \nTO: x:y:z",
      "\u017Fubject: long s\nfrom: ok",
      "\u212Aind: kelvin sign\nSubject\u212A: kelvin after\nkind: ascii",
      "\u212Aind: only kelvin\n\u212ASubject: kelvin before",
      "\u0130subject: dotted I\nsubject: héllo wörld ✓",
      "no headers here",
      "",
      "\n\nsubject: after blanks\n\n",
      null)
    val df = texts.toDF("text")
    for (h <- Seq("subject", "from", "to", "kind")) {
      val got = df.select(PostProcess.lastHeaderCol(col("text"), h, lit("DFLT")))
        .collect().map(_.getString(0)).toSeq
      val want = df.select(RenderReference.lastHeaderCol(col("text"), h, lit("DFLT")))
        .collect().map(_.getString(0)).toSeq
      assert(got === want, h)
      // the interpreted path agrees with the compiled one
      val interp = texts.map(t => LastHeaderExpr(
        org.apache.spark.sql.catalyst.expressions.Literal(t),
        org.apache.spark.sql.catalyst.expressions.Literal("DFLT"), h).eval()
        .toString)
      assert(interp === want, s"$h interpreted")
    }
    val r = df.select(PostProcess.lastHeaderCol(col("text"), "Subject", lit("D")))
      .collect().map(_.getString(0))
    assert(r(0) === "second" && r(1) === "mixed case" && r(3) === "" &&
      r(5) === "trailing cr\r" && r(7) === "D" && r(14) === "D")
  }

  test("derive's header columns match the reference on a corpus") {
    val c = PipelineConfig.scaled(perSit = 1)
    val corpus = ContentGen.corpus(MetaGen.docs(spark, c))
    val stem = regexp_replace(col("filename"), "\\.txt$", "")
    val cols = Seq(
      "subject" -> concat(lit("Automated message "), stem),
      "from" -> lit("no-reply@example.com"),
      "to" -> lit("recipient@example.com"))
    val got = corpus.select(col("doc_id") +: cols.map { case (h, d) =>
      PostProcess.lastHeaderCol(col("text"), h, d).as(h) }: _*)
    val want = corpus.select(col("doc_id") +: cols.map { case (h, d) =>
      RenderReference.lastHeaderCol(col("text"), h, d).as(h) }: _*)
    assertSame(got, want, "headers")
  }
}
