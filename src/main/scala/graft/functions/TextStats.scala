package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The document-statistics kernels behind `TextAnalysis`' metrics, callable
  * from interpreted eval AND generated Java (top-level object → static
  * forwarders). [[stats]] makes one pass over a document's UTF-8 bytes;
  * [[stopwords]] and [[lexicon]] match words in its lowercased form. They
  * are separate so a metric pays only for the counts it reads: `tokenCount`
  * costs neither `lower` nor a word match, and `stopwordRatio` no marker
  * scan.
  *
  * Each count equals what the builtin composition it replaces returns, so
  * the metrics' doubles stay bit-identical. From [[stats]]`(text)`:
  *  - `n_chars` = `length(text)`: code points, stepped by UTF-8 lead byte
  *    exactly as `UTF8String.numChars` steps;
  *  - `n_space`, `n_punct`, `n_digit` = `length(text) -
  *    length(translate(text, set, ""))` for the Java `\s` set, `.,;:!?'"()-`
  *    and `0-9` — all ASCII, so a byte test is a code-point test;
  *  - `n_tokens` = `tokenCount`: 0 when `trim(text)` (ASCII spaces only) is
  *    empty, else `size(split(trim(text), "\\s+"))` = whitespace runs + 1
  *    (limit −1 keeps a leading or trailing empty piece);
  *  - `n_bpe` = `regexp_count(text, "\\w+|[^\\w\\s]")`: ASCII word runs
  *    (`\w` is `[A-Za-z0-9_]` without UNICODE_CHARACTER_CLASS) plus every
  *    other non-`\s` code point, a supplementary one counting once.
  *
  * [[stopwords]]`(lower(text))` = the pieces of `split(trim(lower),
  * "\\s+")` that are one of the ten English stopwords.
  *
  * From [[lexicon]]`(lower(text))`:
  *  - `hits_*` = `size(array_distinct(regexp_extract_all(lower,
  *    "\\b(m1|…|m5)\\b", 1)))` per language: the distinct markers that
  *    occur as a whole word;
  *  - `has_zh` = `lower rlike "[\\u4e00-\\u9fff]"`.
  *
  * Counts assume well-formed UTF-8, as every string Spark reads from
  * parquet, JSON or a Java `String` is.
  */
object TextStatsKernel {

  val statsSchema: StructType = StructType(
    Seq("n_chars", "n_space", "n_punct", "n_digit", "n_tokens", "n_bpe")
      .map(StructField(_, IntegerType, nullable = false)))

  val lexiconSchema: StructType = StructType(
    Seq("hits_en", "hits_de", "hits_fr", "hits_es")
      .map(StructField(_, IntegerType, nullable = false)) :+
      StructField("has_zh", BooleanType, nullable = false))

  // ASCII class bits: Java regex `\s`, `\w`, the punctuation set, digits
  private final val Space = 1
  private final val Word = 2
  private final val Punct = 4
  private final val Digit = 8

  private val asciiClass: Array[Byte] = {
    val c = new Array[Byte](128)
    " \t\n\u000B\f\r".foreach(ch => c(ch) = (c(ch) | Space).toByte)
    (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') :+ '_')
      .foreach(ch => c(ch) = (c(ch) | Word).toByte)
    ".,;:!?'\"()-".foreach(ch => c(ch) = (c(ch) | Punct).toByte)
    ('0' to '9').foreach(ch => c(ch) = (c(ch) | Digit).toByte)
    c
  }

  @inline private def cls(b: Byte): Int = if (b >= 0) asciiClass(b) else 0

  private val stopwords: Array[Array[Byte]] =
    Array("the", "a", "of", "and", "to", "in", "is", "it", "that", "for").map(_.getBytes("UTF-8"))

  /** The langGuess markers, five per language in en, de, fr, es order:
    * marker `k` belongs to language `k / 5`. */
  private val markers: Array[String] = Array(
    "the", "and", "of", "is", "a",
    "der", "die", "das", "und", "ist",
    "le", "la", "et", "est", "les",
    "el", "los", "es", "y", "que")

  /** All twenty markers as whole words. A whole-word match of all-letter
    * markers is a maximal run of word characters, so two matches never
    * overlap and at most one marker matches at a position: anchoring this
    * one pattern at each candidate start finds exactly the matches the four
    * per-language `regexp_extract_all` scans find. `\b` itself (Unicode
    * letters, combining marks) stays java.util.regex's to decide. */
  private val markerPattern =
    java.util.regex.Pattern.compile(markers.mkString("\\b(?:", "|", ")\\b"))

  private val matchers = ThreadLocal.withInitial[java.util.regex.Matcher](
    () => markerPattern.matcher("").useTransparentBounds(true))

  /** The character and token counts of `text` ([[statsSchema]]). */
  def stats(text: UTF8String): InternalRow = {
    val n = text.numBytes
    var s = 0
    while (s < n && text.getByte(s) == ' ') s += 1
    var e = n
    while (e > s && text.getByte(e - 1) == ' ') e -= 1
    var chars, space, punct, digit, bpe, runs = 0
    var inWord = false
    var prevSpace = false
    var i = 0
    while (i < n) {
      val b = text.getByte(i)
      val c = cls(b)
      chars += 1
      if ((c & Space) != 0) {
        space += 1
        if (i >= s && i < e && (i == s || !prevSpace)) runs += 1
      } else if ((c & Word) != 0) {
        if (!inWord) bpe += 1
      } else bpe += 1
      if ((c & Punct) != 0) punct += 1
      if ((c & Digit) != 0) digit += 1
      inWord = (c & Word) != 0
      prevSpace = (c & Space) != 0
      i += (if (b >= 0) 1 else UTF8String.numBytesForFirstByte(b))
    }
    val tokens = if (s == e) 0 else runs + 1
    new GenericInternalRow(Array[Any](chars, space, punct, digit, tokens, bpe))
  }

  /** The marker matches of `lowered`, Spark's own `lower(text)`
    * ([[lexiconSchema]]). */
  def lexicon(lowered: UTF8String): InternalRow = {
    val hits = markerHits(lowered)
    new GenericInternalRow(Array[Any](Integer.bitCount(hits & 0x1f),
      Integer.bitCount(hits & (0x1f << 5)), Integer.bitCount(hits & (0x1f << 10)),
      Integer.bitCount(hits & (0x1f << 15)), (hits & (1 << 20)) != 0))
  }

  /** Pieces of `split(trim(t), "\\s+")` equal to a stopword, for `t` =
    * Spark's own `lower(text)`. */
  def stopwords(t: UTF8String): Int = {
    val n = t.numBytes
    var s = 0
    while (s < n && t.getByte(s) == ' ') s += 1
    var e = n
    while (e > s && t.getByte(e - 1) == ' ') e -= 1
    var count = 0
    var start = s
    var i = s
    while (i <= e) {
      if (i == e || (cls(t.getByte(i)) & Space) != 0) {
        if (isStopword(t, start, i - start)) count += 1
        start = i + 1
      }
      i += 1
    }
    count
  }

  private def isStopword(t: UTF8String, from: Int, len: Int): Boolean = {
    var k = 0
    while (k < stopwords.length) {
      val w = stopwords(k)
      if (w.length == len) {
        var j = 0
        while (j < len && t.getByte(from + j) == w(j)) j += 1
        if (j == len) return true
      }
      k += 1
    }
    false
  }

  /** Bit `k` set when marker `k` occurs as a whole word in `t`; bit 20 when
    * `t` holds a code point in U+4E00..U+9FFF. */
  private def markerHits(t: UTF8String): Int = {
    val s = t.toString
    val m = matchers.get().reset(s)
    val n = s.length
    var hits = 0
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c >= '\u4e00' && c <= '\u9fff') hits |= 1 << 20
      // An ASCII word character beside an ASCII letter is never a `\b`,
      // so a whole-word marker starts only after a non-word character and
      // ends only before one; the matcher decides the rest.
      if (c < 128 && (i == 0 || !isAsciiWord(s.charAt(i - 1))) && mayStartMarker(s, i)) {
        m.region(i, n)
        if (m.lookingAt()) hits |= 1 << markerAt(s, i, m.end() - i)
      }
      i += 1
    }
    m.reset("") // hold no reference to the row's text between calls
    hits
  }

  @inline private def isAsciiWord(c: Char): Boolean =
    c < 128 && (asciiClass(c) & Word) != 0

  /** The markers by first character (all markers are ASCII). */
  private val markersByFirst: Array[Array[String]] =
    Array.tabulate(128)(c => markers.filter(_.charAt(0) == c))

  /** Some marker occurs at `i` with no ASCII word character after it. */
  private def mayStartMarker(s: String, i: Int): Boolean = {
    val ms = markersByFirst(s.charAt(i))
    var k = 0
    while (k < ms.length) {
      val end = i + ms(k).length
      if (s.startsWith(ms(k), i) && (end == s.length || !isAsciiWord(s.charAt(end)))) return true
      k += 1
    }
    false
  }

  /** The marker of length `len` at `i` (unique: equal length, same text). */
  private def markerAt(s: String, i: Int, len: Int): Int = {
    var k = 0
    while (markers(k).length != len || !s.startsWith(markers(k), i)) k += 1
    k
  }
}

/** `text_stats(text)` — the character and token counts `TextAnalysis`'
  * document metrics divide, from one codegen'd pass
  * ([[TextStatsKernel.stats]]) instead of regex, split and translate
  * builtins. Null for null text. */
case class TextStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = TextStatsKernel.statsSchema
  override def prettyName: String = "text_stats"

  override def checkInputDataTypes(): TypeCheckResult = TextStats.stringInput(this, child)

  override def nullSafeEval(t: Any): Any = TextStatsKernel.stats(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"${TextStats.kernel}.stats($t)")

  override protected def withNewChildInternal(c: Expression): TextStats = copy(child = c)
}

object TextStats {
  private[functions] val kernel: String = classOf[TextStatsKernel.type].getName.stripSuffix("$")

  private[functions] def stringInput(e: Expression, child: Expression): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${e.prettyName} expects a string, got ${child.dataType.catalogString}")
}

/** `text_stopwords(lower(text))` — the English stopword count of
  * `TextAnalysis`' fluency metrics ([[TextStatsKernel.stopwords]]). The
  * argument is the lowercased text, so Spark's own `lower` decides case
  * mapping. Null for null input. */
case class TextStopwords(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "text_stopwords"

  override def checkInputDataTypes(): TypeCheckResult = TextStats.stringInput(this, child)

  override def nullSafeEval(t: Any): Any = TextStatsKernel.stopwords(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"${TextStats.kernel}.stopwords($t)")

  override protected def withNewChildInternal(c: Expression): TextStopwords = copy(child = c)
}

/** `text_lexicon(lower(text))` — the per-language marker hits and CJK flag
  * of `TextAnalysis`' language metric ([[TextStatsKernel.lexicon]]). The
  * argument is the lowercased text, so Spark's own `lower` decides case
  * mapping. Null for null input. */
case class TextLexicon(child: Expression) extends UnaryExpression {

  override def dataType: DataType = TextStatsKernel.lexiconSchema
  override def prettyName: String = "text_lexicon"

  override def checkInputDataTypes(): TypeCheckResult = TextStats.stringInput(this, child)

  override def nullSafeEval(t: Any): Any = TextStatsKernel.lexicon(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"${TextStats.kernel}.lexicon($t)")

  override protected def withNewChildInternal(c: Expression): TextLexicon = copy(child = c)
}
