package graft.sink

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

/** Minimal OOXML/PDF writers + readers for the stage-3 export formats.
  *
  * The environment has no python-docx / reportlab / PDFBox analog offline
  * (SURVEY.md §7.1), so the binary formats are hand-rolled to the smallest
  * spec-conformant shape:
  *   - DOCX (S10/S11, `modules/postprocessor.py:43-47` /
  *     `modules/validator.py:63-71`): a zip with [Content_Types].xml,
  *     _rels/.rels and word/document.xml, one <w:p> per `\n\n` paragraph.
  *   - XLSX (S6/S7, `modules/postprocessor.py:79-91`): inline-string
  *     worksheet, one row per record.
  *   - PDF (S12/S13, `modules/postprocessor.py:49-77` /
  *     `modules/validator.py:73-87`): uncompressed content streams,
  *     Helvetica 10, A4, 12pt leading, ~100-char greedy wrap (P11),
  *     page-break at the bottom margin.
  * Readers invert exactly what the writers emit (plus tag-stripping tolerant
  * enough for other simple producers).
  */
object MiniFormats {

  // ---------- shared zip helpers ----------
  /** The modification time of every zip entry written (the MS-DOS date-time
    * epoch, stored as is, independent of the time zone), so encoding the
    * same content twice gives the same bytes. */
  val ZipEntryTime: java.time.LocalDateTime =
    java.time.LocalDateTime.of(1980, 1, 1, 0, 0)

  private def zip(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    entries.foreach { case (name, bytes) =>
      val entry = new ZipEntry(name)
      entry.setTimeLocal(ZipEntryTime)
      zos.putNextEntry(entry)
      zos.write(bytes)
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  /** The named entry's bytes; None when it is absent or the archive is
    * malformed (bad headers, truncated or corrupt deflate data). */
  private def unzipEntry(bytes: Array[Byte], name: String): Option[Array[Byte]] = {
    val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
    try {
      var e = zis.getNextEntry
      while (e != null) {
        if (e.getName == name) {
          val bos = new ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = zis.read(buf)
          while (n >= 0) { bos.write(buf, 0, n); n = zis.read(buf) }
          return Some(bos.toByteArray)
        }
        e = zis.getNextEntry
      }
      None
    } catch {
      case _: java.io.IOException | _: IllegalArgumentException => None
    } finally zis.close()
  }

  def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  // ---------- DOCX ----------
  private val ContentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
      |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
      |<Default Extension="xml" ContentType="application/xml"/>
      |<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>
      |</Types>""".stripMargin

  private val Rels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>
      |</Relationships>""".stripMargin

  /** `text.split("\n\n", -1)` without the regex engine: `String.split`
    * takes its fast path only for a one-character pattern. */
  private[sink] def paragraphs(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = 0
    var i = text.indexOf("\n\n")
    while (i >= 0) {
      out += text.substring(start, i)
      start = i + 2
      i = text.indexOf("\n\n", start)
    }
    out += text.substring(start)
    out.result()
  }

  /** One paragraph per `\n\n` block, like `write_docx`. */
  def docxBytes(text: String): Array[Byte] = {
    val paras = paragraphs(text).map { p =>
      s"<w:p><w:r><w:t xml:space=\"preserve\">${xmlEscape(p.replace("\n", " "))}</w:t></w:r></w:p>"
    }.mkString
    val doc =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"><w:body>$paras</w:body></w:document>""".stripMargin
    zip(Seq(
      "[Content_Types].xml" -> ContentTypes.getBytes(UTF_8),
      "_rels/.rels" -> Rels.getBytes(UTF_8),
      "word/document.xml" -> doc.getBytes(UTF_8)))
  }

  /** Paragraph texts joined with `\n` (read_docx semantics). */
  def docxText(bytes: Array[Byte]): String =
    unzipEntry(bytes, "word/document.xml").map { xml =>
      val s = new String(xml, UTF_8)
      "<w:p[ >]".r.findAllMatchIn(s) // count only; extraction below
      val para = "<w:p(?:[^>]*)>(.*?)</w:p>".r
      para.findAllMatchIn(s).map { m =>
        val inner = m.group(1)
        val unTagged = inner.replaceAll("<[^>]+>", "")
        unTagged.replace("&amp;", "&").replace("&lt;", "<")
          .replace("&gt;", ">").replace("&quot;", "\"")
      }.mkString("\n")
    }.getOrElse("")

  // ---------- XLSX ----------
  private val XlsxContentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
      |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
      |<Default Extension="xml" ContentType="application/xml"/>
      |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
      |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
      |</Types>""".stripMargin

  private val XlsxRels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
      |</Relationships>""".stripMargin

  private val XlsxWorkbook =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
      |<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin

  private val XlsxWbRels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
      |</Relationships>""".stripMargin

  /** Inline-string xlsx: `rows` includes the header row. */
  def xlsxBytes(rows: Seq[Seq[String]]): Array[Byte] = {
    val body = rows.map { r =>
      "<row>" + r.map(c =>
        s"""<c t="inlineStr"><is><t xml:space="preserve">${xmlEscape(if (c == null) "" else c)}</t></is></c>""").mkString + "</row>"
    }.mkString
    val sheet =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$body</sheetData></worksheet>""".stripMargin
    zip(Seq(
      "[Content_Types].xml" -> XlsxContentTypes.getBytes(UTF_8),
      "_rels/.rels" -> XlsxRels.getBytes(UTF_8),
      "xl/workbook.xml" -> XlsxWorkbook.getBytes(UTF_8),
      "xl/_rels/workbook.xml.rels" -> XlsxWbRels.getBytes(UTF_8),
      "xl/worksheets/sheet1.xml" -> sheet.getBytes(UTF_8)))
  }

  private def xmlUnescape(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&apos;", "'").replace("&amp;", "&")

  /** Columns A..XFD, the OOXML sheet width. */
  private val MaxXlsxColumns = 16384

  /** Zero-based column of a cell reference's letters (`A` → 0), or -1 for
    * a column past `XFD`. */
  private def columnIndex(letters: String): Int = {
    val i = if (letters.length > 3) MaxXlsxColumns
      else letters.foldLeft(0)((a, ch) => a * 26 + (ch - 'A' + 1)) - 1
    if (i < MaxXlsxColumns) i else -1
  }

  /** Rows of cells (S7 scan). Reads BOTH dialects: our own inline-string
    * output (inverse of [[xlsxBytes]]) and externally-produced workbooks in
    * the shared-strings + cell-reference style (openpyxl/Excel — the
    * reference's `modules/validator.py:29-30` reads `mapping_final.xlsx`
    * with openpyxl, so scan parity requires this). Cell positions honor the
    * `r="A1"` reference so omitted empty cells keep columns aligned; rich
    *-text shared strings concatenate their `<t>` runs. */
  def xlsxRows(bytes: Array[Byte]): Seq[Seq[String]] =
    unzipEntry(bytes, "xl/worksheets/sheet1.xml").map { xml =>
      val s = new String(xml, UTF_8)
      val shared: IndexedSeq[String] =
        unzipEntry(bytes, "xl/sharedStrings.xml").map { sx =>
          "(?s)<si>(.*?)</si>".r.findAllMatchIn(new String(sx, UTF_8)).map { m =>
            "(?s)<t[^>]*>(.*?)</t>".r.findAllMatchIn(m.group(1))
              .map(t => xmlUnescape(t.group(1))).mkString
          }.toIndexedSeq
        }.getOrElse(IndexedSeq.empty)
      def inlineText(body: String): String =
        "(?s)<t[^>]*>(.*?)</t>".r.findAllMatchIn(body)
          .map(t => xmlUnescape(t.group(1))).mkString
      "(?s)<row[^>]*>(.*?)</row>".r.findAllMatchIn(s).map { r =>
        val cells = scala.collection.mutable.ArrayBuffer[String]()
        "(?s)<c\\b([^>]*?)(?:/>|>(.*?)</c>)".r.findAllMatchIn(r.group(1))
          .foreach { c =>
            val attrs = c.group(1)
            val body = Option(c.group(2)).getOrElse("")
            val colIdx = "r=\"([A-Z]+)[0-9]+\"".r.findFirstMatchIn(attrs)
              .map(m => columnIndex(m.group(1))).getOrElse(cells.length)
            // a reference past the last sheet column drops its cell
            if (colIdx >= 0) {
              while (cells.length <= colIdx) cells += ""
              cells(colIdx) =
                if (attrs.contains("t=\"s\""))
                  "<v>([0-9]+)</v>".r.findFirstMatchIn(body)
                    // unresolvable reference (missing/under-parsed
                    // sharedStrings, an index past Int) degrades to ""
                    // like every other malformed-input path in this reader
                    .flatMap(m => m.group(1).toIntOption.flatMap(shared.lift))
                    .getOrElse("")
                else if (attrs.contains("t=\"inlineStr\"")) inlineText(body)
                else "(?s)<v>(.*?)</v>".r.findFirstMatchIn(body)
                  .map(m => xmlUnescape(m.group(1))).getOrElse(inlineText(body))
            }
          }
        cells.toSeq
      }.toSeq
    }.getOrElse(Seq.empty)

  // ---------- PDF ----------

  /** P11 — greedy ~100-char word wrap + blank line per paragraph
    * (`modules/postprocessor.py:55-68`). */
  def wrapLines(text: String, width: Int = 100): Seq[String] = {
    val out = Seq.newBuilder[String]
    val line = new java.lang.StringBuilder(width)
    paragraphs(text).foreach { p =>
      line.setLength(0)
      // the words of `p.split("\\s+")`, scanned without the regex engine
      var i = 0
      while (i < p.length) {
        while (i < p.length && isSpace(p.charAt(i))) i += 1
        val start = i
        while (i < p.length && !isSpace(p.charAt(i))) i += 1
        if (i > start) {
          if (line.length + 1 + (i - start) > width) {
            out += line.toString
            line.setLength(0)
          } else if (line.length > 0) line.append(' ')
          line.append(p, start, i)
        }
      }
      if (line.length > 0) out += line.toString
      out += ""
    }
    out.result()
  }

  /** Java regex `\s`: `[ \t\n\x0B\f\r]`. */
  private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private def pdfEscape(s: String): String =
    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  /** A4 595×842pt, margin 50, 12pt leading, page-break when y < 70 —
    * mirrors `write_pdf`'s layout loop. */
  def pdfBytes(text: String): Array[Byte] = {
    val (w, h, margin, lead) = (595, 842, 50, 12)
    val perPage = ((h - margin - 70) / lead) + 1
    val pages = wrapLines(text).map(_.take(200)).grouped(perPage).toSeq match {
      case Seq() => Seq(Seq(""))
      case ps    => ps
    }
    val nPages = pages.size
    // objects: 1 catalog, 2 pages, then per page: page obj + content obj; last: font
    val objs = scala.collection.mutable.ArrayBuffer[String]()
    val kids = (0 until nPages).map(i => s"${3 + i * 2} 0 R").mkString(" ")
    objs += "<< /Type /Catalog /Pages 2 0 R >>"
    objs += s"<< /Type /Pages /Kids [$kids] /Count $nPages >>"
    val fontObj = 3 + nPages * 2
    pages.zipWithIndex.foreach { case (lines, i) =>
      val contentObj = 4 + i * 2
      objs += s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 $w $h] /Contents $contentObj 0 R /Resources << /Font << /F1 $fontObj 0 R >> >> >>"
      val tj = lines.map(l => s"(${pdfEscape(l)}) Tj T*").mkString("\n")
      val stream = s"BT /F1 10 Tf $lead TL $margin ${h - margin} Td\n$tj\nET"
      objs += s"<< /Length ${stream.getBytes(UTF_8).length} >>\nstream\n$stream\nendstream"
    }
    objs += "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    val sb = new StringBuilder("%PDF-1.4\n")
    val offsets = Seq.newBuilder[Int]
    objs.zipWithIndex.foreach { case (o, i) =>
      offsets += sb.length
      sb.append(s"${i + 1} 0 obj\n$o\nendobj\n")
    }
    val xref = sb.length
    val offs = offsets.result()
    sb.append(f"xref\n0 ${objs.size + 1}\n0000000000 65535 f \n")
    offs.foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append(s"trailer\n<< /Size ${objs.size + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF")
    sb.toString.getBytes(UTF_8)
  }

  /** Adobe ASCII85 decode ('z' = four zero bytes, terminator `~>`,
    * whitespace ignored) — PDF `/ASCII85Decode` filter. */
  private[sink] def ascii85Decode(in: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val buf = new Array[Int](5)
    var n = 0
    val body = in.stripPrefix("<~").takeWhile(_ != '~')
    body.foreach { c =>
      if (c == 'z' && n == 0) { out.write(0); out.write(0); out.write(0); out.write(0) }
      else if (c >= '!' && c <= 'u') {
        buf(n) = c - '!'; n += 1
        if (n == 5) {
          var v = 0L; buf.foreach(d => v = v * 85 + d)
          out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
          out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
          n = 0
        }
      } // anything else (whitespace) is ignored per spec
    }
    if (n > 1) { // partial group: pad with 'u', emit n-1 bytes
      var i = n
      while (i < 5) { buf(i) = 84; i += 1 }
      var v = 0L; buf.foreach(d => v = v * 85 + d)
      val bs = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      out.write(bs, 0, n - 1)
    }
    out.toByteArray
  }

  /** zlib inflate (PDF `/FlateDecode`); retries raw-deflate for producers
    * that omit the zlib wrapper. */
  private[sink] def inflate(in: Array[Byte]): Array[Byte] = {
    def run(nowrap: Boolean): Array[Byte] = {
      val inf = new java.util.zip.Inflater(nowrap)
      inf.setInput(in)
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = inf.inflate(buf)
      while (n > 0) {
        out.write(buf, 0, n)
        n = if (inf.finished()) 0 else inf.inflate(buf)
      }
      inf.end()
      out.toByteArray
    }
    try run(false)
    catch { case _: java.util.zip.DataFormatException => run(true) }
  }

  /** PDF string-literal unescape: \(, \), \\, \n, \r, \t, \b, \f, \ooo
    * octal, and line-continuation backslash. */
  private def pdfUnescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb += '\n'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'b' => sb += '\b'; i += 2
          case 'f' => sb += '\f'; i += 2
          case '\n' => i += 2
          case o if o >= '0' && o <= '7' =>
            var j = i + 1; var v = 0
            while (j < s.length && j < i + 4 &&
              s.charAt(j) >= '0' && s.charAt(j) <= '7') {
              v = v * 8 + (s.charAt(j) - '0'); j += 1
            }
            sb += v.toChar; i = j
          case other => sb += other; i += 2
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  private val PdfStrLit = "\\((?:[^()\\\\]|\\\\.)*\\)"
  private val PdfHexStr = "<[0-9A-Fa-f\\s]*>"
  private val PdfStr = s"(?:$PdfStrLit|$PdfHexStr)"

  /** A font's ToUnicode view: CID → text, plus the codespace byte width
    * (1 for simple-font CMaps, 2 for Identity-H-style CID fonts). */
  private[sink] final case class ToUnicode(map: Map[Int, String], codeBytes: Int)

  /** Parse a ToUnicode CMap stream (ISO 32000 §9.10.3): `bfchar` pairs,
    * `bfrange` runs (both the `<lo> <hi> <dstStart>` incrementing form —
    * increment applied to the LAST UTF-16 code unit — and the explicit
    * `[<d0> <d1> …]` array form). Destination hex is UTF-16BE, so
    * surrogate pairs fall out for free. Codespace width comes from
    * `begincodespacerange`; absent one, 2 bytes (the CID-font default). */
  private[sink] def parseToUnicodeCMap(s: String): ToUnicode = {
    def utf16(hex: String): String = {
      val h = hex.filterNot(_.isWhitespace)
      (0 until h.length / 4).map(i =>
        Integer.parseInt(h.substring(i * 4, i * 4 + 4), 16).toChar).mkString
    }
    val codeBytes = "begincodespacerange\\s*<([0-9A-Fa-f]+)>".r
      .findFirstMatchIn(s).map(m => math.max(1, m.group(1).length / 2))
      .getOrElse(2)
    val map = scala.collection.mutable.Map.empty[Int, String]
    "(?s)beginbfchar(.*?)endbfchar".r.findAllMatchIn(s).foreach { blk =>
      "<([0-9A-Fa-f]+)>\\s*<([0-9A-Fa-f\\s]+)>".r
        .findAllMatchIn(blk.group(1)).foreach { p =>
          map(Integer.parseInt(p.group(1), 16)) = utf16(p.group(2))
        }
    }
    "(?s)beginbfrange(.*?)endbfrange".r.findAllMatchIn(s).foreach { blk =>
      ("<([0-9A-Fa-f]+)>\\s*<([0-9A-Fa-f]+)>\\s*" +
        "(?:<([0-9A-Fa-f\\s]+)>|\\[((?:\\s*<[0-9A-Fa-f\\s]*>)*)\\s*\\])").r
        .findAllMatchIn(blk.group(1)).foreach { r =>
          val lo = Integer.parseInt(r.group(1), 16)
          // cap the span so a crafted <00000000> <7FFFFFFF> range can't
          // drive a 2^31 loop — 64K covers the whole 2-byte codespace
          val hi = math.min(Integer.parseInt(r.group(2), 16), lo + 0xFFFF)
          if (r.group(3) != null) {
            val dst = utf16(r.group(3))
            (lo to hi).foreach { c =>
              map(c) =
                if (dst.isEmpty) ""
                else dst.init + (dst.last + (c - lo)).toChar
            }
          } else {
            val dsts = "<([0-9A-Fa-f\\s]*)>".r.findAllMatchIn(r.group(4))
              .map(m => utf16(m.group(1))).toIndexedSeq
            (lo to hi).foreach(c =>
              dsts.lift(c - lo).foreach(d => map(c) = d))
          }
        }
    }
    ToUnicode(map.toMap, codeBytes)
  }

  /** Map one shown string through the active font's ToUnicode table:
    * bytes are grouped into fixed-width codes (codespace width), each code
    * looked up in the CMap; unmapped codes are dropped rather than leaking
    * CIDs as garbage glyph indices. Without a CMap the bytes pass through
    * byte-per-char (the simple-font path the writer and ReportLab use). */
  private def decodeShown(raw: Seq[Int], cmap: Option[ToUnicode]): String =
    cmap match {
      case None => raw.map(_.toChar).mkString
      case Some(tu) =>
        raw.grouped(tu.codeBytes).collect {
          case g if g.length == tu.codeBytes =>
            tu.map.getOrElse(g.foldLeft(0)((a, b) => (a << 8) | b), "")
        }.mkString
    }

  /** One PDF string token (literal or hex) → the byte values it shows. */
  private def strBytes(tok: String): Seq[Int] =
    if (tok.startsWith("("))
      pdfUnescape(tok.stripPrefix("(").stripSuffix(")")).map(_.toInt & 0xff)
    else {
      val h = tok.stripPrefix("<").stripSuffix(">").filterNot(_.isWhitespace)
      val padded = if (h.length % 2 == 1) h + "0" else h // odd → trailing 0 per spec
      (0 until padded.length / 2)
        .map(i => Integer.parseInt(padded.substring(i * 2, i * 2 + 2), 16))
    }

  /** Text shown by one decoded content stream: every `(…)/<…> Tj` / `'`
    * line plus `[…] TJ` arrays (pieces concatenated), in operator order.
    * `Tf` operators are tracked so each string decodes through the then-
    * active font's ToUnicode CMap (CID fonts); fonts without a CMap keep
    * the byte-per-char path. None when the stream contains no text
    * operator at all (so callers can drop non-text streams without
    * dropping genuinely blank pages). */
  private def pdfStreamText(content: String,
      fonts: Map[String, ToUnicode] = Map.empty): Option[String] = {
    val op = ("/([^\\s/<>\\[\\]()]+)\\s+[-0-9.]+\\s+Tf" +
      s"|($PdfStr)\\s*(?:Tj|')" +
      s"|\\[((?:$PdfStr|[^\\]])*)\\]\\s*TJ").r
    val lit = PdfStr.r
    var cmap: Option[ToUnicode] = None
    val pieces = op.findAllMatchIn(content).flatMap { m =>
      if (m.group(1) != null) { cmap = fonts.get(m.group(1)); None }
      else if (m.group(2) != null) Some(decodeShown(strBytes(m.group(2)), cmap))
      else Some(lit.findAllIn(m.group(3))
        .map(x => decodeShown(strBytes(x), cmap)).mkString)
    }.toSeq
    if (pieces.isEmpty) None else Some(pieces.mkString("\n"))
  }

  /** Per-stream text, streams joined with `\n` (read_pdf semantics,
    * `modules/validator.py:73-87` parity). Handles our own uncompressed
    * Tj output AND externally-produced PDFs whose content streams are
    * `/FlateDecode` and/or `/ASCII85Decode` encoded (e.g. ReportLab, the
    * reference's own writer) — filters are applied in pipeline order from
    * the stream dictionary; image/XObject streams and undecodable data are
    * skipped rather than leaking binary garbage into the text. CID-keyed
    * text (Type0/Identity-H fonts) decodes through each font's embedded
    * `/ToUnicode` CMap: page `/Resources` are resolved (inline or by
    * reference) to a per-content-stream font-name → CMap table, so hex
    * strings extract real text instead of glyph-index garbage. */
  def pdfText(bytes: Array[Byte]): String = {
    // ISO-8859-1 is byte-preserving both ways: regex over the chars, then
    // getBytes recovers the exact raw stream bytes for the inflater
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val iso = java.nio.charset.StandardCharsets.ISO_8859_1

    // object index: objnum → (body start, body end) — xref-free walk, so
    // damaged/missing cross-reference tables never block extraction
    val objHdr = "(\\d+)\\s+\\d+\\s+obj\\b".r
    val objSpan: Map[Int, (Int, Int)] = objHdr.findAllMatchIn(s).map { m =>
      val end = s.indexOf("endobj", m.end) match {
        case -1 => s.length
        case e  => e
      }
      m.group(1).toInt -> (m.end, end)
    }.toMap
    def objBody(n: Int): String =
      objSpan.get(n).map { case (a, b) => s.substring(a, b) }.getOrElse("")

    def decodeStream(body: String): Option[String] =
      "(?s)stream\r?\n(.*?)endstream".r.findFirstMatchIn(body).flatMap { m =>
        try {
          var data = m.group(1).getBytes(iso)
          val dict = body.substring(0, m.start)
          if (dict.contains("/ASCII85Decode"))
            data = ascii85Decode(new String(data, iso))
          if (dict.contains("/FlateDecode")) data = inflate(data)
          Some(new String(data, iso))
        } catch { case _: Exception => None }
      }

    // font obj → ToUnicode (only fonts that carry a CMap matter: the rest
    // keep the byte-per-char path)
    val toUni: Map[Int, ToUnicode] = objSpan.keysIterator.flatMap { n =>
      val body = objBody(n)
      if (!body.contains("/Font") && !body.contains("/BaseFont")) None
      else "/ToUnicode\\s+(\\d+)\\s+\\d+\\s+R".r.findFirstMatchIn(body)
        .flatMap(m => decodeStream(objBody(m.group(1).toInt)))
        // a malformed CMap degrades this font to the no-CMap path instead
        // of failing the whole extraction (fuzz posture: never throw)
        .flatMap(cm => try Some(n -> parseToUnicodeCMap(cm))
          catch { case _: Exception => None })
    }.toMap

    // page → font resources (inline dict or indirect /Resources N 0 R) and
    // content-stream object numbers; merged table is the fallback for
    // streams no page claims (e.g. Form XObjects)
    val fontRef = "/([^\\s/<>\\[\\]()]+)\\s+(\\d+)\\s+\\d+\\s+R".r
    def fontTable(resBody: String): Map[String, ToUnicode] = {
      val fontDict =
        "(?s)/Font\\s*<<(.*?)>>".r.findFirstMatchIn(resBody).map(_.group(1))
          .orElse("/Font\\s+(\\d+)\\s+\\d+\\s+R".r.findFirstMatchIn(resBody)
            .map(m => objBody(m.group(1).toInt)))
          .getOrElse("")
      fontRef.findAllMatchIn(fontDict).flatMap(m =>
        toUni.get(m.group(2).toInt).map(m.group(1) -> _)).toMap
    }
    val streamFonts: Map[Int, Map[String, ToUnicode]] =
      objSpan.keysIterator.flatMap { n =>
        val body = objBody(n)
        if (!body.contains("/Page") || body.contains("/Pages")) Iterator.empty
        else {
          val res = "/Resources\\s+(\\d+)\\s+\\d+\\s+R".r
            .findFirstMatchIn(body).map(m => objBody(m.group(1).toInt))
            .orElse("(?s)/Resources\\s*(<<.*?>>)".r.findFirstMatchIn(body)
              .map(_.group(1)))
            .getOrElse("")
          val fonts = fontTable(res)
          val contents = "/Contents\\s+(\\d+)\\s+\\d+\\s+R".r
            .findFirstMatchIn(body).map(m => Seq(m.group(1).toInt))
            .orElse("(?s)/Contents\\s*\\[(.*?)\\]".r.findFirstMatchIn(body)
              .map(m => "(\\d+)\\s+\\d+\\s+R".r.findAllMatchIn(m.group(1))
                .map(_.group(1).toInt).toSeq))
            .getOrElse(Seq.empty)
          contents.iterator.map(_ -> fonts)
        }
      }.toMap
    val mergedFonts: Map[String, ToUnicode] =
      streamFonts.values.foldLeft(Map.empty[String, ToUnicode])(_ ++ _)

    val stream = "(?s)stream\r?\n(.*?)endstream".r
    stream.findAllMatchIn(s).flatMap { m =>
      val dictStart = math.max(0, s.lastIndexOf("obj", m.start))
      val dict = s.substring(dictStart, m.start)
      val objNum = objHdr.findAllMatchIn(
        s.substring(math.max(0, dictStart - 24), math.min(s.length, dictStart + 4)))
        .toSeq.lastOption.map(_.group(1).toInt)
      if (dict.contains("/Image") || dict.contains("/XObject") ||
        dict.contains("/CMap") || dict.contains("/ToUnicode")) None
      else try {
        var data = m.group(1).getBytes(iso)
        if (dict.contains("/ASCII85Decode"))
          data = ascii85Decode(new String(data, iso))
        if (dict.contains("/FlateDecode")) data = inflate(data)
        val fonts = objNum.flatMap(streamFonts.get).getOrElse(mergedFonts)
        pdfStreamText(new String(data, iso), fonts)
      } catch { case _: Exception => None }
    }.mkString("\n")
  }
}
