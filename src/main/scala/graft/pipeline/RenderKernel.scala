package graft.pipeline

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import graft.expr.{DetHash, LoremWordsKernel, TextGen, TokenKernel}

/** The SIT list a plan draws from, in config order, and the TP share in
  * percent: the plan constant of [[SitsExpr]]. Its string form stays short
  * because it is printed in every plan description that holds the docs. */
final case class SitTable(ids: IndexedSeq[String], names: IndexedSeq[String],
    tcs: IndexedSeq[IndexedSeq[String]], tpPct: Int) {
  def size: Int = ids.size

  @transient private[pipeline] lazy val idU: Array[UTF8String] =
    ids.map(UTF8String.fromString).toArray
  @transient private[pipeline] lazy val nameU: Array[UTF8String] =
    names.map(UTF8String.fromString).toArray
  @transient private[pipeline] lazy val tcArrays: Array[ArrayData] =
    tcs.map(t => new GenericArrayData(t.map(UTF8String.fromString).toArray[Any]))
      .toArray

  /** `array<struct<sit_id, sit_name, label, instances, confidence, tcs>>`
    * with the nullability of the `transform` form this replaced; `tcs` is
    * `array<void>` when every SIT's TC list is empty, as `array()` types. */
  @transient lazy val dataType: DataType = ArrayType(StructType(Seq(
    StructField("sit_id", StringType, nullable = false),
    StructField("sit_name", StringType, nullable = false),
    StructField("label", StringType, nullable = false),
    StructField("instances", LongType, nullable = true),
    StructField("confidence", StringType, nullable = false),
    StructField("tcs", ArrayType(
      if (tcs.exists(_.nonEmpty)) StringType else NullType, containsNull = false),
      nullable = false))), containsNull = false)

  override def toString: String =
    s"SitTable(${ids.size} sits, tp $tpPct%, #${Integer.toHexString(hashCode)})"
}

object SitTable {
  def apply(cfg: PipelineConfig): SitTable = {
    val sits = cfg.sits.toIndexedSeq
    SitTable(sits.map(_.id), sits.map(_.name), sits.map(_.tc.toIndexedSeq),
      (cfg.tpRatio * 100).round.toInt)
  }
}

/** Static kernels behind the DLP's per-document expressions: one call
  * draws a doc's SIT plan ([[SitsExpr]]), one renders its whole text
  * ([[RenderTextExpr]]), one finds a header line ([[LastHeaderExpr]]).
  * Every draw is the `(doc_id, slot)` [[DetHash]] draw of the Scala
  * generators ([[TextGen]], [[SitValues]], [[MetaGen.nSitsScala]],
  * [[LoremWordsKernel]]), so the kernels are plain loops over values the
  * pipeline already defines; the Column-DSL forms they replaced are kept
  * in the specs as the identity reference. */
object RenderKernel {

  private val TP = UTF8String.fromString("TP")
  private val FP = UTF8String.fromString("FP")
  private val High = UTF8String.fromString("High")
  private val Medium = UTF8String.fromString("Medium")
  private val Low = UTF8String.fromString("Low")

  /** G3: instance-count bucket (`modules/meta_generator.py:31-40`). */
  private def instances(id: Long, k: Long): Int = {
    val p = DetHash.pct(id, 200L + k)
    if (p < 35) 1
    else if (p < 70) 3 + DetHash.nextInt(id, 300L + k, 3)
    else if (p < 90) 6 + DetHash.nextInt(id, 300L + k, 5)
    else 11 + DetHash.nextInt(id, 300L + k, 10)
  }

  /** G5: rule-based confidence, the rule of [[MetaGen.confidenceCol]]. */
  private def confidence(tp: Boolean, inst: Int): UTF8String =
    if (tp) { if (inst >= 6) High else if (inst >= 3) Medium else Low }
    else if (inst >= 3) Medium else Low

  /** Doc `id`'s SITs (G2–G5, G8): `nSits(id)` consecutive table entries
    * from the rotating offset `(id*17) mod |sits|`, each with its
    * instance count, Bernoulli TP/FP label (slot `100+k`) and confidence. */
  def sits(id: Long, t: SitTable): ArrayData = {
    val size = t.size.toLong
    val n = MetaGen.nSitsScala(id)
    val base = Math.floorMod(id * 17, size)
    val out = new Array[Any](n)
    var k = 0
    while (k < n) {
      val idx = Math.floorMod(base + k, size).toInt
      val inst = instances(id, k)
      val tp = DetHash.pct(id, 100L + k) < t.tpPct
      out(k) = new GenericInternalRow(Array[Any](t.idU(idx), t.nameU(idx),
        if (tp) TP else FP, inst.toLong, confidence(tp, inst), t.tcArrays(idx)))
      k += 1
    }
    new GenericArrayData(out)
  }

  // ---- the render (SURVEY.md §2.4 T1–T8) ----

  /** A doc's SIT fields, read once from its `sits` array. */
  private final class DocSits(sits: ArrayData) {
    val n: Int = sits.numElements()
    private val rows = Array.tabulate(n)(k => sits.getStruct(k, 6))
    val names: Array[String] = rows.map(_.getUTF8String(1).toString)

    /** T5 values of SIT `k` in the given doc, `", "`-joined: `instances`
      * distinct draws for TP, the fixed placeholder for FP (the reference
      * renders one value per SIT, `content_generator.py:208-234`, which
      * its own TP check cannot accept — SURVEY.md §5). */
    def appendValues(sb: java.lang.StringBuilder, docId: Long, k: Int): Unit = {
      val r = rows(k)
      val (id, label) = (r.getUTF8String(0).toString, r.getUTF8String(2).toString)
      val inst = if (r.isNullAt(3)) 1 else math.max(1L, r.getLong(3)).toInt
      var j = 0
      while (j < inst) {
        if (j > 0) sb.append(", ")
        sb.append(SitValues.value(id, names(k), label, docId, k.toLong * 1024 + j))
        j += 1
      }
    }

    def appendTcs(sb: java.lang.StringBuilder, k: Int): Unit = {
      val tcs = rows(k).getArray(5)
      var j = 0
      while (j < tcs.numElements()) {
        if (j > 0) sb.append(", ")
        sb.append(tcs.getUTF8String(j).toString)
        j += 1
      }
    }

    /** T5 block: `"Name: v1, v2\nContext: related to tc1, tc2."` (email)
      * or `"Name: v1\nDetails: related TCs: tc1."` (document). */
    def appendBlocks(sb: java.lang.StringBuilder, docId: Long,
                     details: Boolean): Unit = {
      var k = 0
      while (k < n) {
        if (k > 0) sb.append("\n\n")
        sb.append(names(k)).append(": ")
        appendValues(sb, docId, k)
        sb.append(if (details) "\nDetails: related TCs: " else "\nContext: related to ")
        appendTcs(sb, k)
        sb.append('.')
        k += 1
      }
    }
  }

  /** T1: RFC-822-ish headers, a six-word subject, SIT blocks, signature
    * (`content_generator.py:180,286-288`). */
  private def email(sb: java.lang.StringBuilder, docId: Long, s: DocSits,
                    attachmentNote: Boolean): Unit = {
    sb.append("From: ").append(TextGen.email(docId, 9001L))
      .append("\nTo: ").append(TextGen.email(docId, 9002L))
      .append("\nSubject: ")
    val first = TextGen.loremWord(docId, 9101L)
    sb.append(Character.toUpperCase(first.charAt(0))).append(first, 1, first.length)
    var i = 2L
    while (i <= 6L) { sb.append(' ').append(TextGen.loremWord(docId, 9100L + i)); i += 1 }
    sb.append("\n\n")
    s.appendBlocks(sb, docId, details = false)
    if (attachmentNote) sb.append("\n\nAttached: report.xlsx")
    sb.append("\n\nRegards,\n").append(TextGen.fullName(docId, 9004L)).append('\n')
  }

  /** T2: `[HH:MM] user: message` ask/answer pairs per SIT
    * (`content_generator.py:181,216-225`). */
  private def chat(sb: java.lang.StringBuilder, docId: Long, s: DocSits): Unit = {
    var k = 0
    while (k < s.n) {
      val t = TextGen.hhmm(docId, 9200L + k * 4)
      if (k > 0) sb.append('\n')
      sb.append('[').append(t).append("] ")
        .append(TextGen.firstName(docId, 9300L + k * 4))
        .append(": Please share the ").append(s.names(k)).append(".\n[")
        .append(t).append("] ").append(TextGen.firstName(docId, 9301L + k * 4))
        .append(": The ").append(s.names(k)).append(" is ")
      s.appendValues(sb, docId, k)
      sb.append('.')
      k += 1
    }
  }

  /** T3: CONFIDENTIAL title, SIT blocks, timestamp
    * (`content_generator.py:182,227-234`). */
  private def document(sb: java.lang.StringBuilder, docId: Long, s: DocSits,
                       createdAt: UTF8String): Unit = {
    sb.append("CONFIDENTIAL - Document ").append(docId).append("\n\n")
    s.appendBlocks(sb, docId, details = true)
    sb.append("\n\n\nGenerated at: ").append(createdAt.toString)
  }

  /** Slot of the filler draws, clear of the template's 9000-band slots. */
  private val FillerSlot = 20000L
  private val Cycle: Array[String] = TextGen.LoremCycle.toArray

  /** One doc's text: the format's template (email, email with attachment,
    * chat; anything else, null included, renders as a document), then,
    * when it falls short of the word target, `"\n\n"` and the missing
    * words (T6, closed-form). The filler is `diverse`: the prose lorem
    * draw of [[LoremWordsKernel]], one hashed word per position; or else
    * `n` words of [[TextGen.LoremCycle]] from a per-doc rotation.
    *
    * Null `docId` or `sits` gives null, so does a null `createdAt` for a
    * document; a null word target adds no filler. */
  def text(docIdNull: Boolean, docId: Long, format: UTF8String, sits: ArrayData,
           createdAt: UTF8String, targetNull: Boolean, target: Long,
           diverse: Boolean): UTF8String = {
    if (docIdNull || sits == null) return null
    val s = new DocSits(sits)
    val sb = new java.lang.StringBuilder(
      if (targetNull) 256 else math.min(target, 1L << 16).toInt * 8 + 256)
    val fmt = if (format == null) "" else format.toString
    fmt match {
      case "email" => email(sb, docId, s, attachmentNote = false)
      case "email_with_attachment" => email(sb, docId, s, attachmentNote = true)
      case "chat" => chat(sb, docId, s)
      case _ =>
        if (createdAt == null) return null
        document(sb, docId, s, createdAt)
    }
    val needed = if (targetNull) 0L else target - TokenKernel.wordCount(sb)
    if (needed > 0L) {
      sb.append("\n\n")
      if (diverse) LoremWordsKernel.append(sb, docId, needed, FillerSlot, prose = true)
      else {
        val off = DetHash.nextInt(docId, FillerSlot, TextGen.LoremRotations)
        val end = math.min(off.toLong + needed, Cycle.length.toLong).toInt
        var i = off
        while (i < end) {
          if (i > off) sb.append(' ')
          sb.append(Cycle(i))
          i += 1
        }
      }
    }
    UTF8String.fromString(sb.toString)
  }

  // ---- P9 header lines ----

  private val KelvinSign = Array[Byte](0xE2.toByte, 0x84.toByte, 0xAA.toByte)

  /** End of the `header:` prefix if the line at `[from, end)` starts with
    * it, else -1. Matches exactly the lines whose ICU lower case starts with
    * `header:` for a lower-case ASCII `header`: ASCII letters fold, and of
    * the non-ASCII characters only the Kelvin sign lower-cases to an ASCII
    * letter (`k`); `ſ` does not fold to `s`, as `regionMatches` would. */
  private def headerEnd(text: UTF8String, from: Int, end: Int,
                        header: Array[Byte]): Int = {
    var i = from
    var h = 0
    while (h < header.length) {
      if (i >= end) return -1
      val b = text.getByte(i)
      val want = header(h)
      if ((if (b >= 'A' && b <= 'Z') (b | 0x20).toByte else b) == want) i += 1
      else if (want == 'k' && i + 3 <= end && text.getByte(i) == KelvinSign(0) &&
        text.getByte(i + 1) == KelvinSign(1) && text.getByte(i + 2) == KelvinSign(2))
        i += 3
      else return -1
      h += 1
    }
    if (i < end && text.getByte(i) == ':') i + 1 else -1
  }

  /** The value of the last `header:` line of `text` (lines split on `\n`,
    * the header matched case-insensitively), `' '`-trimmed like Spark's
    * `trim`, so tabs and a trailing `\r` stay; null when no line matches.
    * `header` is lower-case ASCII. */
  def lastHeader(text: UTF8String, header: Array[Byte]): UTF8String = {
    val n = text.numBytes()
    var (start, end) = (-1, -1)
    var lineStart = 0
    while (lineStart <= n) {
      var lineEnd = lineStart
      while (lineEnd < n && text.getByte(lineEnd) != '\n') lineEnd += 1
      val v = headerEnd(text, lineStart, lineEnd, header)
      if (v >= 0) { start = v; end = lineEnd }
      lineStart = lineEnd + 1
    }
    if (start < 0) return null
    while (start < end && text.getByte(start) == ' ') start += 1
    while (end > start && text.getByte(end - 1) == ' ') end -= 1
    val out = new Array[Byte](end - start)
    Platform.copyMemory(text.getBaseObject, text.getBaseOffset + start, out,
      Platform.BYTE_ARRAY_OFFSET, out.length)
    UTF8String.fromBytes(out)
  }
}

/** `sits(id)`: a doc's SIT plan as one native expression over
  * [[RenderKernel.sits]]. */
case class SitsExpr(child: Expression, table: SitTable) extends UnaryExpression {
  override def dataType: DataType = table.dataType
  // nullable, as the `transform(sequence(...))` form it replaced
  override def nullable: Boolean = true
  override def prettyName: String = "sits"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName takes a long doc id")
  override protected def nullSafeEval(id: Any): Any =
    RenderKernel.sits(id.asInstanceOf[Long], table)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("sitTable", table)
    defineCodeGen(ctx, ev, id => s"graft.pipeline.RenderKernel.sits($id, $t)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `render_text(doc_id, format, sits, created_at, word_count_target)`: a
  * doc's whole text as one native expression over [[RenderKernel.text]]. */
case class RenderTextExpr(docId: Expression, format: Expression,
    sits: Expression, createdAt: Expression, target: Expression,
    diverse: Boolean) extends Expression {
  override def children: Seq[Expression] =
    Seq(docId, format, sits, createdAt, target)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "render_text"

  override def checkInputDataTypes(): TypeCheckResult = {
    val sitFields = sits.dataType match {
      case ArrayType(st: StructType, _) => st.fieldNames.toSeq
      case _ => Nil
    }
    if (docId.dataType == LongType && format.dataType == StringType &&
        createdAt.dataType == StringType && target.dataType == LongType &&
        sitFields == Seq("sit_id", "sit_name", "label", "instances",
          "confidence", "tcs")) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName takes MetaGen.docs " +
      "columns: (long, string, sits, string, long)")
  }

  override def eval(input: InternalRow): Any = {
    val (id, tgt) = (docId.eval(input), target.eval(input))
    RenderKernel.text(id == null, if (id == null) 0L else id.asInstanceOf[Long],
      format.eval(input).asInstanceOf[UTF8String],
      sits.eval(input).asInstanceOf[ArrayData],
      createdAt.eval(input).asInstanceOf[UTF8String],
      tgt == null, if (tgt == null) 0L else tgt.asInstanceOf[Long], diverse)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(i, f, s, c, t) = children.map(_.genCode(ctx))
    def orNull(g: ExprCode) = s"${g.isNull} ? null : ${g.value}"
    ev.copy(code = i.code + f.code + s.code + c.code + t.code +
      code"""
        ${CodeGenerator.javaType(dataType)} ${ev.value} =
          graft.pipeline.RenderKernel.text(${i.isNull}, ${i.value}, ${orNull(f)},
            ${orNull(s)}, ${orNull(c)}, ${t.isNull}, ${t.value}, $diverse);
        boolean ${ev.isNull} = ${ev.value} == null;
      """)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression =
    copy(docId = c(0), format = c(1), sits = c(2), createdAt = c(3), target = c(4))
}

/** `last_header(text, default)`: the value of `text`'s last `header:` line
  * ([[RenderKernel.lastHeader]]), else `default`. */
case class LastHeaderExpr(left: Expression, right: Expression, header: String)
    extends BinaryExpression {
  require(header.nonEmpty && header.forall(c => c >= 'a' && c <= 'z'),
    s"header must be lower-case ASCII letters: $header")
  @transient private lazy val headerBytes = header.getBytes("US-ASCII")

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "last_header"

  override def eval(input: InternalRow): Any = {
    val text = left.eval(input)
    val v = if (text == null) null
      else RenderKernel.lastHeader(text.asInstanceOf[UTF8String], headerBytes)
    if (v != null) v else right.eval(input)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (t, d) = (left.genCode(ctx), right.genCode(ctx))
    val h = ctx.addReferenceObj("header", headerBytes, "byte[]")
    ev.copy(code = t.code + d.code +
      code"""
        UTF8String ${ev.value} = ${t.isNull} ? null :
          graft.pipeline.RenderKernel.lastHeader(${t.value}, $h);
        boolean ${ev.isNull} = false;
        if (${ev.value} == null) {
          ${ev.isNull} = ${d.isNull};
          ${ev.value} = ${d.value};
        }
      """)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}
