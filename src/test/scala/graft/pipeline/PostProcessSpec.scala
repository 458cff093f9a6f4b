package graft.pipeline

import graft.SparkSpec
import graft.sink.{Eml, MiniFormats}
import org.apache.spark.sql.functions._

/** Stage-3: header extraction, format codecs (round-trip), path columns. */
class PostProcessSpec extends SparkSpec {
  import spark.implicits._

  test("P9 header extraction: last matching line wins, defaults otherwise") {
    val text = "From: a@x\nTo: b@y\nSubject: first\nbody\nsubject: second\n"
    val df = Seq(text, "no headers here").toDF("text")
      .select(
        PostProcess.lastHeaderCol(col("text"), "subject", lit("DFLT")).as("subj"),
        PostProcess.lastHeaderCol(col("text"), "from", lit("DF")).as("from"))
    val rows = df.collect()
    assert(rows(0).getString(0) == "second") // last wins, case-insensitive
    assert(rows(0).getString(1) == "a@x")
    assert(rows(1).getString(0) == "DFLT")
  }

  test("docx round-trip: paragraphs split on blank lines") {
    val text = "Para one\nline two\n\nPara two & <spécial>"
    val bytes = MiniFormats.docxBytes(text)
    val back = MiniFormats.docxText(bytes)
    assert(back == "Para one line two\nPara two & <spécial>")
  }

  test("xlsx round-trip: inline strings incl. header row") {
    val rows = Seq(Seq("a", "b"), Seq("1", "x & y"), Seq("2", ""))
    assert(MiniFormats.xlsxRows(MiniFormats.xlsxBytes(rows)) == rows)
  }

  test("P11 wrap: ~100-char greedy lines + blank separator") {
    val text = ("word " * 60).trim + "\n\nshort"
    val lines = MiniFormats.wrapLines(text)
    assert(lines.count(_.isEmpty) == 2) // one per paragraph
    lines.filter(_.nonEmpty).foreach(l => assert(l.length <= 100))
    assert(lines.last == "" && lines(lines.length - 2) == "short")
  }

  test("pdf round-trip: page text extraction, parens escaped") {
    val text = "Hello (world) \\ test\n\n" + ("lorem ipsum " * 2000).trim
    val bytes = MiniFormats.pdfBytes(text)
    assert(new String(bytes.take(8), "UTF-8") == "%PDF-1.4")
    val back = MiniFormats.pdfText(bytes)
    assert(back.contains("Hello (world) \\ test"))
    assert(back.contains("lorem ipsum"))
    // long text paginates (61 lines/page at 12pt leading on A4)
    val count = "/Count (\\d+)".r.findFirstMatchIn(new String(bytes, "UTF-8"))
      .map(_.group(1).toInt).getOrElse(0)
    assert(count >= 2, s"expected multi-page, got /Count $count")
  }

  test("S13 CID fonts: hex strings decode through the embedded ToUnicode CMap") {
    // hand-built Type0/Identity-H fixture in the shape external producers
    // (word processors, browsers' print-to-PDF) emit: text as 2-byte CID
    // hex strings, the CID→Unicode mapping in a Flate-compressed /ToUnicode
    // CMap, plus a second SIMPLE font on the same page — the extractor must
    // switch decoding per Tf selection. Exercises bfchar (incl. a surrogate
    // pair), both bfrange forms, and the array-offset TJ shape.
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |12 dict begin
        |begincmap
        |1 begincodespacerange
        |<0000> <FFFF>
        |endcodespacerange
        |2 beginbfchar
        |<0001> <2014>
        |<0002> <D83DDE00>
        |endbfchar
        |2 beginbfrange
        |<0020> <007A> <0020>
        |<0010> <0011> [<0058> <0059>]
        |endbfrange
        |endcmap
        |CMapName currentdict /CMap defineresource pop
        |end end""".stripMargin
    val defl = new java.util.zip.Deflater()
    defl.setInput(cmap.getBytes("ISO-8859-1")); defl.finish()
    val zbuf = new Array[Byte](8192)
    val cmapZ = zbuf.take(defl.deflate(zbuf))
    defl.end()
    val content =
      "BT /F1 12 Tf <00480065006C006C006F> Tj " +       // Hello (bfrange run)
        "[<0057> -120 <006F0072006C0064>] TJ " +        // World (TJ + kerning)
        "<0001> Tj <0002> Tj <00100011> Tj " +          // em dash, emoji, XY
        "/F2 10 Tf (plain latin) Tj ET"
    val objs: Seq[(Int, Array[Byte])] = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>".getBytes("ISO-8859-1"),
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>".getBytes("ISO-8859-1"),
      3 -> ("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 595 842] " +
        "/Contents 4 0 R /Resources << /Font << /F1 5 0 R /F2 7 0 R >> >> >>")
        .getBytes("ISO-8859-1"),
      4 -> (s"<< /Length ${content.length} >>\nstream\n$content\nendstream")
        .getBytes("ISO-8859-1"),
      5 -> ("<< /Type /Font /Subtype /Type0 /BaseFont /Fixture-Identity-H " +
        "/Encoding /Identity-H /ToUnicode 6 0 R >>").getBytes("ISO-8859-1"),
      6 -> (s"<< /Length ${cmapZ.length} /Filter /FlateDecode >>\nstream\n"
        .getBytes("ISO-8859-1") ++ cmapZ ++ "\nendstream".getBytes("ISO-8859-1")),
      7 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        .getBytes("ISO-8859-1"))
    val bos = new java.io.ByteArrayOutputStream()
    bos.write("%PDF-1.5\n".getBytes("ISO-8859-1"))
    objs.foreach { case (n, body) =>
      bos.write(s"$n 0 obj\n".getBytes("ISO-8859-1"))
      bos.write(body)
      bos.write("\nendobj\n".getBytes("ISO-8859-1"))
    }
    bos.write("trailer\n<< /Size 8 /Root 1 0 R >>\n%%EOF".getBytes("ISO-8859-1"))
    val text = MiniFormats.pdfText(bos.toByteArray)
    assert(text.contains("Hello"), s"got: $text")
    assert(text.contains("World"), s"got: $text")
    assert(text.contains("—"), s"got: $text")
    assert(text.contains(new String(Character.toChars(0x1F600))), s"got: $text")
    assert(text.contains("XY"), s"got: $text")
    assert(text.contains("plain latin"), s"got: $text")
    // the CMap's own stream must NOT leak into the extraction
    assert(!text.contains("begincmap") && !text.contains("CIDInit"))
  }

  test("S13 parity: reads a ReportLab (ASCII85+Flate) PDF from the reference") {
    val dir = java.nio.file.Paths.get("/root/reference/output/files")
    assume(java.nio.file.Files.exists(dir.resolve("doc_00001_email.pdf")))
    val text = MiniFormats.pdfText(
      java.nio.file.Files.readAllBytes(dir.resolve("doc_00001_email.pdf")))
    assert(text.contains("From:") && text.contains("Subject:"))
    // the PDF is the sibling .txt rendered with line wrapping only — a
    // faithful extractor recovers the same words in the same order
    val txt = java.nio.file.Files.readString(dir.resolve("doc_00001_email.txt"))
    val pdfWords = text.split("\\s+").filter(_.nonEmpty).toSeq
    val txtWords = txt.split("\\s+").filter(_.nonEmpty).toSeq
    assert(pdfWords == txtWords,
      s"first divergence: ${pdfWords.zip(txtWords).find(p => p._1 != p._2)}")
  }

  test("S7 parity: reads the reference's openpyxl shared-strings workbook") {
    val p = java.nio.file.Paths.get("/root/reference/output/mapping_final.xlsx")
    assume(java.nio.file.Files.exists(p))
    val rows = MiniFormats.xlsxRows(java.nio.file.Files.readAllBytes(p))
    assert(rows.length == 1473)
    assert(rows.head.take(8) == Seq("doc_id", "filename", "format",
      "word_count_target", "sit_ids", "labels", "instances", "confidences"))
    // spot rows match what the same pipeline wrote to its CSV
    assert(rows(1).take(8) == Seq("1", "doc_00001_email.txt", "email",
      "3071", "SIT_CCN", "TP", "1", "Low"))
    assert(rows(2).take(8) == Seq("2", "doc_00002_email_with_attachment.txt",
      "email_with_attachment", "1017", "SIT_SSN", "TP", "1", "Low"))
  }

  test("eml round-trip: single part and multipart with attachment") {
    val plain = Eml.build("s", "f@x", "t@y", "Thu, 01 Jan 1970 00:00:00 +0000",
      "line1\nline2")
    assert(Eml.textPlain(plain) == "line1\nline2")
    val att = Eml.Attachment("r.xlsx", Eml.guessMime("r.xlsx"),
      MiniFormats.xlsxBytes(Seq(Seq("h"), Seq("v"))))
    val multi = Eml.build("s", "f@x", "t@y", "Thu, 01 Jan 1970 00:00:00 +0000",
      "the body", Seq(att))
    assert(multi.contains("multipart/mixed"))
    assert(multi.contains("filename=\"r.xlsx\""))
    assert(Eml.textPlain(multi) == "the body")
  }

  test("mimetype guess covers the export formats") {
    assert(Eml.guessMime("a.pdf") == "application/pdf")
    assert(Eml.guessMime("a.xlsx").contains("spreadsheetml"))
    assert(Eml.guessMime("weird.bin") == "application/octet-stream")
  }

  test("derive: per-format artifacts and path/audit columns") {
    val cfg = PipelineConfig.scaled(perSit = 1)
    val corpus = ContentGen.corpus(MetaGen.docs(spark, cfg))
    val d = PostProcess.derive(corpus).cache()
    val emails = d.filter(col("format").isin("email", "email_with_attachment"))
    assert(emails.filter(col("eml_text").isNull).count() == 0)
    assert(d.filter(col("format") === "chat")
      .filter(col("eml_text").isNotNull).count() == 0)
    val r = d.filter(col("format") === "email_with_attachment").limit(1).collect()
    r.foreach { row =>
      assert(row.getAs[String]("eml_text").contains("base64"))
      assert(row.getAs[String]("attachments").endsWith("_attachment.xlsx"))
      assert(row.getAs[Array[Byte]]("docx_bytes").nonEmpty)
      assert(row.getAs[Array[Byte]]("pdf_bytes").nonEmpty)
      assert(row.getAs[String]("postprocessed_at") == "1970-01-01T00:00:00Z")
    }
    // docx bytes extract back to text containing a rendered SIT name
    val (txt, bytes) = d.select(col("text"), col("docx_bytes")).limit(1)
      .collect().map(x => (x.getString(0), x.getAs[Array[Byte]](1))).head
    val extracted = MiniFormats.docxText(bytes)
    assert(extracted.nonEmpty && txt.startsWith(extracted.take(10).replace("\n", "")))
  }

  test("updateMapping == the keyed upsert of derive's columns: rows, column " +
    "names, types and order") {
    ContentGenSpec.configs.foreach { case (name, c) =>
      val corpus = ContentGen.corpus(MetaGen.docs(spark, c)).cache()
      val derived = PostProcess.derive(corpus)
      val got = PostProcess.updateMapping(
        ContentGen.mappingFromCorpus(corpus), derived)
      val want = ContentGen.upsertMapping(ContentGenSpec.referenceMapping(corpus),
        derived.select("doc_id", "docx_path", "pdf_path", "eml_path",
          "attachments", "postprocessed_at"))
      assert(got.columns.toSeq === want.columns.toSeq, name)
      assert(got.schema.map(_.dataType) === want.schema.map(_.dataType), name)
      val rows = ContentGenSpec.rowsById(got)
      assert(rows === ContentGenSpec.rowsById(want), name)
      // the paths follow the reference's rule (postprocessor.py:217-223)
      val byFormat = got.orderBy("doc_id").collect()
        .map(r => r.getAs[String]("format") -> r).toMap
      val att = byFormat("email_with_attachment")
      val stem = "output/files/" + att.getAs[String]("filename").stripSuffix(".txt")
      assert(att.getAs[String]("docx_path") === stem + ".docx", name)
      assert(att.getAs[String]("pdf_path") === stem + ".pdf", name)
      assert(att.getAs[String]("eml_path") === stem + ".eml", name)
      assert(att.getAs[String]("attachments") === stem + "_attachment.xlsx", name)
      val chat = byFormat("chat")
      assert(chat.getAs[String]("eml_path") === "" &&
        chat.getAs[String]("attachments") === "", name)
      corpus.unpersist()
    }
  }

  test("zip output is deterministic: the same content encodes to the same " +
    "bytes, every entry stamped with the fixed time") {
    val text = "Para one\nline two\n\nPara two"
    val rows = Seq(Seq("h1", "h2"), Seq("1", "x & y"))
    val docx = MiniFormats.docxBytes(text)
    val xlsx = MiniFormats.xlsxBytes(rows)
    assert(MiniFormats.docxBytes(text).sameElements(docx))
    assert(MiniFormats.xlsxBytes(rows).sameElements(xlsx))
    Seq(docx, xlsx).foreach { bytes =>
      val zis = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val times = Iterator.continually(zis.getNextEntry)
        .takeWhile(_ != null).map(_.getTimeLocal).toSeq
      zis.close()
      assert(times.nonEmpty && times.forall(_ == MiniFormats.ZipEntryTime), times)
    }
  }
}
