package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Regex-free tokenization kernels.
  *
  * Scale finding (500k-doc run, round 5): `java.util.regex` match
  * throughput on this JVM collapses under multithreading — a pre-compiled
  * `Pattern.split("[^a-z0-9']+")` on a 9.6 KB document costs 0.78 ms on
  * one thread but 43 ms/doc-wave with 32 threads running concurrently
  * (aggregate throughput pinned at ~1 core's worth), while `toLowerCase`
  * and hand character scans scale linearly to 32 threads. Every corpus
  * kernel that tokenized through a regex was therefore serial at exactly
  * the place the engine is supposed to be embarrassingly parallel: a
  * profile of the stalled stage sampled ~90% of worker time under
  * `Pattern$BmpCharPredicate`.
  *
  * These kernels reproduce the EXACT public semantics — `lower()` is
  * still the locale-full `String.toLowerCase` (so İ → i + combining dot
  * behaves identically to the SQL `lower` the oracles use) and the class
  * tests are the same ASCII sets the regexes named — but the run/split
  * scan is a branch-per-char loop: no `Pattern`, no lambda chains, no
  * allocation beyond the tokens themselves. Single-thread ~6×, 32-thread
  * ~400× on the measured corpus. Equality with the regex twins is
  * property-pinned in TokenizeSpec (ASCII + Unicode edge cases).
  */
/** Shingle tokens as UTF-8 bytes over ONE PRE-SPACED arena — see
  * [[TokenKernel.shingleTokenBytes]]. `bytes[0 until used)` holds the
  * tokens joined by single spaces (exactly `tokens.mkString(" ")`), so
  * ANY n-token shingle window is a CONTIGUOUS slice: window w spans
  * `bytes[starts(w) until starts(w + win) - 1)` under the sentinel
  * convention `starts(count) = used + 1` (a virtual next token after a
  * virtual space). `starts` carries `count + 1` entries. */
final class TokenBytes(val bytes: Array[Byte], val starts: Array[Int],
                       val count: Int, val used: Int)

object TokenBytes {
  val Empty = new TokenBytes(Array.emptyByteArray, Array(1), 0, 0)
}

object TokenKernel {

  @inline private def isTokenChar(c: Char, apostrophe: Boolean): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
      (apostrophe && c == '\'')

  /** Runs of `[a-z0-9']` (or `[a-z0-9]` with `apostrophe=false`) over an
    * ALREADY-lowercased string — exactly
    * `split(lower, "[^a-z0-9']+").filter(_.nonEmpty)`. */
  def runs(lower: String, apostrophe: Boolean): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = lower.length
    while (i < n) {
      while (i < n && !isTokenChar(lower.charAt(i), apostrophe)) i += 1
      val start = i
      while (i < n && isTokenChar(lower.charAt(i), apostrophe)) i += 1
      if (i > start) out += lower.substring(start, i)
    }
    out.toArray
  }

  /** Count of [[runs]] without materializing them. */
  def countRuns(lower: String, apostrophe: Boolean): Long = {
    var n = 0L
    var inTok = false
    var i = 0
    while (i < lower.length) {
      val isTok = isTokenChar(lower.charAt(i), apostrophe)
      if (isTok && !inTok) n += 1
      inTok = isTok
      i += 1
    }
    n
  }

  /** Lowercased word tokens — `tokensCol` semantics. */
  def tokens(text: String): Array[String] =
    if (text == null) Array.empty
    else runs(text.toLowerCase(java.util.Locale.ROOT), apostrophe = true)

  def tokenCount(text: String): Long =
    if (text == null) 0L
    else countRuns(text.toLowerCase(java.util.Locale.ROOT), apostrophe = true)

  /** Shingle tokens (`[^a-z0-9]+` class — no apostrophe). */
  def shingleTokens(text: String): Array[String] =
    if (text == null) Array.empty
    else runs(text.toLowerCase(java.util.Locale.ROOT), apostrophe = false)

  /** Shingle tokens as UTF-8 bytes + offsets over one arena — token i is
    * `bytes[starts(i) until starts(i+1))`, `starts` has `count + 1`
    * entries. Tokens of the shingle class are ALWAYS pure `[a-z0-9]`
    * (any other char, including every non-ASCII char, is a separator),
    * so a token's UTF-8 bytes are exactly its chars; and on pure-ASCII
    * input ROOT `toLowerCase` is exactly the per-char A-Z map (ASCII has
    * no contextual or multi-char lowercase mappings), so the whole
    * tokenize pipeline collapses to ONE scan with no String, no
    * full-text lowercase copy, and no per-token allocation. Non-ASCII
    * input falls back to a full-string `toLowerCase` first — REQUIRED
    * for exactness, because Unicode lowercasing can surface new token
    * chars (İ → i + combining dot, K (Kelvin) → k) — and then the same
    * offsets scan runs over the lowered string. Equality with
    * [[shingleTokens]] is property-pinned (`TokenizeSpec`). */
  def shingleTokenBytes(text: String): TokenBytes = {
    if (text == null) return TokenBytes.Empty
    var ascii = true
    var i = 0
    val n0 = text.length
    while (ascii && i < n0) {
      if (text.charAt(i) >= 0x80) ascii = false
      i += 1
    }
    val s = if (ascii) text else text.toLowerCase(java.util.Locale.ROOT)
    val n = s.length
    // arena bound: Σ tokLen + (count-1) spaces ≤ n (tokens are separated
    // by ≥ 1 non-token char in the source string)
    val bytes = new Array[Byte](n)
    var starts = new Array[Int](16)
    var count = 0
    var used = 0
    var inTok = false
    i = 0
    while (i < n) {
      val c0 = s.charAt(i)
      // the lowered string has no A-Z; the ASCII path maps them inline
      val c = if (ascii && c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (!inTok) {
          if (count > 0) { bytes(used) = ' '; used += 1 }
          if (count + 1 >= starts.length)
            starts = java.util.Arrays.copyOf(starts, starts.length * 2)
          starts(count) = used
          count += 1
          inTok = true
        }
        bytes(used) = c.toByte
        used += 1
      } else inTok = false
      i += 1
    }
    if (count + 1 > starts.length)
      starts = java.util.Arrays.copyOf(starts, count + 1)
    starts(count) = used + 1 // sentinel: virtual next token after a space
    new TokenBytes(bytes, starts, count, used)
  }

  @inline private def isJavaSpace(c: Char): Boolean = // regex \s, ASCII-only
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Whitespace word count — `split("\\s+").count(_.nonEmpty)`. */
  def wordCount(text: CharSequence): Long = {
    if (text == null) return 0L
    var n = 0L
    var inTok = false
    var i = 0
    while (i < text.length) {
      val isTok = !isJavaSpace(text.charAt(i))
      if (isTok && !inTok) n += 1
      inTok = isTok
      i += 1
    }
    n
  }

  @inline private def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  @inline private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** BPE-ish pre-tokenizer count: `[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]` —
    * letter runs, digit runs, single non-space symbols. */
  def bpeishCount(text: String): Long = {
    if (text == null) return 0L
    var n = 0L
    var i = 0
    val len = text.length
    while (i < len) {
      val c = text.charAt(i)
      if (isAsciiLetter(c)) {
        n += 1; i += 1
        while (i < len && isAsciiLetter(text.charAt(i))) i += 1
      } else if (isDigit(c)) {
        n += 1; i += 1
        while (i < len && isDigit(text.charAt(i))) i += 1
      } else {
        if (!isJavaSpace(c)) n += 1
        i += 1
      }
    }
    n
  }

  // ---- catalyst-facing wrappers (UTF8String in, catalyst types out) ----
  //
  // ASCII fast paths scan the UTF-8 bytes directly — no String decode, no
  // char[] lowercase copy. Any byte ≥ 0x80 falls back to the String path,
  // because only full String.toLowerCase reproduces Unicode mappings
  // (Kelvin K → k, dotted İ → i + U+0307) the SQL `lower()` semantics
  // require. Byte-level `| 0x20` is NOT used as a shortcut: characters
  // are classified by explicit range tests, uppercase letters lowered by
  // +32 only once classified.

  @inline private def asciiTokByte(b: Byte, apostrophe: Boolean): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || (apostrophe && b == '\'')

  def tokensArray(text: UTF8String): ArrayData = {
    val n = text.numBytes
    var i = 0
    while (i < n) {
      if (text.getByte(i) < 0) // non-ASCII: exact String path
        return new GenericArrayData(
          tokens(text.toString).map(UTF8String.fromString(_)).toArray[Any])
      i += 1
    }
    val lowered = new Array[Byte](n)
    i = 0
    while (i < n) {
      val b = text.getByte(i)
      lowered(i) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    i = 0
    while (i < n) {
      while (i < n && !asciiTokByte(lowered(i), apostrophe = true)) i += 1
      val start = i
      while (i < n && asciiTokByte(lowered(i), apostrophe = true)) i += 1
      if (i > start) out += UTF8String.fromBytes(lowered, start, i - start)
    }
    new GenericArrayData(out.toArray)
  }

  def tokenCountU(text: UTF8String): Long = {
    val n = text.numBytes
    var cnt = 0L
    var inTok = false
    var i = 0
    while (i < n) {
      val b = text.getByte(i)
      if (b < 0) return tokenCount(text.toString)
      val isTok = asciiTokByte(b, apostrophe = true)
      if (isTok && !inTok) cnt += 1
      inTok = isTok
      i += 1
    }
    cnt
  }

  /** Byte scan needs no fallback: regex `\s` is ASCII-only, every UTF-8
    * continuation/lead byte is non-space, so non-space RUNS map 1:1. */
  def wordCountU(text: UTF8String): Long = {
    val n = text.numBytes
    var cnt = 0L
    var inTok = false
    var i = 0
    while (i < n) {
      val b = text.getByte(i)
      val isTok = !(b == ' ' || b == '\t' || b == '\n' || b == 0x0B ||
        b == '\f' || b == '\r')
      if (isTok && !inTok) cnt += 1
      inTok = isTok
      i += 1
    }
    cnt
  }
}

/** `tokenize(text)` → `array<string>`: the native, codegen, regex-free
  * form of `filter(split(lower(text), "[^a-z0-9']+"), _ <> '')`. */
case class TokenizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "tokenize"
  override protected def nullSafeEval(text: Any): Any =
    TokenKernel.tokensArray(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.expr.TokenKernel.tokensArray($t)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `token_count(text)` → bigint, without materializing the array. */
case class TokenCountExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "token_count"
  override protected def nullSafeEval(text: Any): Any =
    TokenKernel.tokenCountU(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.expr.TokenKernel.tokenCountU($t)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `word_count(text)` → bigint (`\s+` whitespace words). */
case class WordCountExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "word_count"
  override protected def nullSafeEval(text: Any): Any =
    TokenKernel.wordCountU(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.expr.TokenKernel.wordCountU($t)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Tokenize {
  def tokensNative(text: Column): Column =
    GraftColumnBridge.column(TokenizeExpr(GraftColumnBridge.expression(text)))
  def tokenCountNative(text: Column): Column =
    GraftColumnBridge.column(TokenCountExpr(GraftColumnBridge.expression(text)))
  def wordCountNative(text: Column): Column =
    GraftColumnBridge.column(WordCountExpr(GraftColumnBridge.expression(text)))
}
