package graft.functions

import java.util.regex.Pattern

import com.ibm.icu.lang.UCharacter

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.enrich.MetadataBackend

/** The caption stat block (`CaptionStats.enrich`, reference
  * `utils.py:183-566`) as ONE native expression: one pass per caption
  * tokenizes, splits sentences, tests every token once and returns
  *
  * {{{
  * struct<num_tok, num_sent, min_sent_len, max_sent_len,
  *        ne_texts: array<string>, ne_types: array<string>, num_ne,
  *        num_nouns, num_propn, num_conj, num_verb, num_sym, num_num,
  *        num_adp, num_adj, syllables, difficult_words>   (all int)
  * }}}
  *
  * `min_sent_len`/`max_sent_len` are 0 for a caption without sentences;
  * `syllables` is the total [[SyllableCount]] over the tokens and
  * `difficult_words` the number of tokens with ≥ 3 syllables. A null
  * caption gives a null struct.
  *
  * Why native: the column formulation it replaces held the token,
  * sentence and tag arrays in hidden columns and derived ~20 stats
  * through `filter`/`transform`/`aggregate`, which are `CodegenFallback`
  * in Spark 4 — every per-token test ran in the interpreted lambda path.
  * That formulation survives in test scope (`CaptionStatsHof`) as the
  * parity witness: every column bit-equal on all backends and flags.
  *
  * Each rule has one definition, in [[CaptionStatsImpl]], shared with
  * [[Tokens]], [[Sentences]] and [[PosTag]]. */
case class CaptionStatsKernel(child: Expression, backend: MetadataBackend)
    extends UnaryExpression {

  // read like Spark's `Lower` reads it, so the lexicon tests lower-case
  // exactly as `lower(t)` would in the same session
  private lazy val useICU: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"caption_stats requires a string argument, got ${child.dataType}")
  override def dataType: DataType = CaptionStatsKernel.schema(backend)
  override def prettyName: String = "caption_stats"

  override def nullSafeEval(input: Any): Any =
    CaptionStatsImpl.compute(input.asInstanceOf[UTF8String], backend.id,
      useICU)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CaptionStatsImpl.compute($c, ${backend.id}, $useICU)")

  override protected def withNewChildInternal(
      newChild: Expression): CaptionStatsKernel = copy(child = newChild)
}

object CaptionStatsKernel {
  private def int(name: String) = StructField(name, IntegerType, false)

  def schema(backend: MetadataBackend): StructType = StructType(Seq(
    int("num_tok"), int("num_sent"), int("min_sent_len"),
    int("max_sent_len"),
    StructField("ne_texts", Tokens.dataType(backend), false),
    StructField("ne_types", ArrayType(StringType, containsNull = false),
      false),
    int("num_ne")) ++
    CaptionStatsImpl.TagColumns.map(int) ++
    Seq(int("syllables"), int("difficult_words")))

  /** Column API (Spark 4 ColumnNode ↔ Catalyst Expression bridge). */
  def apply(text: Column, backend: MetadataBackend): Column =
    Bridge.column(new CaptionStatsKernel(Bridge.expression(text), backend))
}

/** Tokens of a string under a [[MetadataBackend]]'s tokenizer, as
  * `array<string>` (null for null input). */
case class Tokens(child: Expression, backend: MetadataBackend)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"tokens requires a string argument, got ${child.dataType}")
  override def dataType: DataType = Tokens.dataType(backend)
  override def prettyName: String = "tokens"

  override def nullSafeEval(input: Any): Any =
    CaptionStatsImpl.tokenArray(input.asInstanceOf[UTF8String], backend.id)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CaptionStatsImpl.tokenArray($c, ${backend.id})")

  override protected def withNewChildInternal(
      newChild: Expression): Tokens = copy(child = newChild)
}

object Tokens {
  /** Never holds a null; `containsNull` is what the expression each
    * backend replaced declared (`split` no, `regexp_extract_all` yes), so
    * schemas and checkpoint files keep their types. */
  def dataType(backend: MetadataBackend): ArrayType =
    ArrayType(StringType, containsNull = backend != MetadataBackend.Spacy)

  def apply(text: Column, backend: MetadataBackend): Column =
    Bridge.column(new Tokens(Bridge.expression(text), backend))
}

/** Sentences of a string: maximal runs between `[.!?]+` boundaries,
  * trimmed of spaces, empties dropped, as `array<string>` (null for null
  * input). */
case class Sentences(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sentences requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "sentences"

  override def nullSafeEval(input: Any): Any =
    CaptionStatsImpl.sentenceArray(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CaptionStatsImpl.sentenceArray($c)")

  override protected def withNewChildInternal(
      newChild: Expression): Sentences = copy(child = newChild)
}

object Sentences {
  def apply(text: Column): Column =
    Bridge.column(new Sentences(Bridge.expression(text)))
}

/** POS-proxy tag of one token. Never null: a null token falls through
  * every test of the cascade to `NOUN`, as the `CASE WHEN` formulation
  * it replaces did. */
case class PosTag(child: Expression) extends UnaryExpression {

  private lazy val useICU: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pos_tag requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "pos_tag"

  override def eval(input: InternalRow): Any =
    CaptionStatsImpl.posTag(child.eval(input).asInstanceOf[UTF8String],
      useICU)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.CaptionStatsImpl.posTag(
          ${c.isNull} ? null : ${c.value}, $useICU);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): PosTag = copy(child = newChild)
}

object PosTag {
  def apply(token: Column): Column =
    Bridge.column(new PosTag(Bridge.expression(token)))
}

/** The rules themselves, as Java statics callable from generated code.
  *
  * Each rule is exact against the column expression it replaced, by
  * construction:
  *  - Spacy tokens: maximal runs outside Java's `\s`, which is space and
  *    0x09-0x0D (`split(c, "\\s+")` minus empties); all six are ASCII
  *    bytes, and UTF-8 continuation and lead bytes are ≥ 0x80, so a byte
  *    scan finds the same runs.
  *  - Nltk and Polyglot tokens: the same `Pattern` and `find()` loop as
  *    `regexp_extract_all(c, re, 0)`.
  *  - sentences: pieces between `[.!?]+` runs (`split`), trimmed of
  *    spaces only (`UTF8String.trim`), empties dropped.
  *  - every `rlike` is the same `Pattern` with `find(0)`, so `$` also
  *    matches before a final line terminator (`\n`, `\r`, U+0085,
  *    U+2028, U+2029); on tokens that cannot hold one it is an
  *    equivalent byte scan.
  *  - lower-casing is Spark's `lower` under UTF8_BINARY, with or
  *    without ICU case mappings, and `like '%x'` is `endsWith` on the
  *    lowered bytes.
  *  - syllables are [[SyllableCountImpl.count]].
  * Strings are assumed to be valid UTF-8, as Spark's own string
  * functions do. */
object CaptionStatsImpl {

  /** [[MetadataBackend]] ids. */
  final val Spacy = 0
  final val Nltk = 1
  final val Polyglot = 2

  private val NltkToken = Pattern.compile("[A-Za-z0-9_']+|[^A-Za-z0-9_'\\s]")
  private val PolyglotToken = Pattern.compile("[\\p{L}\\p{N}]+")
  // the anchored token tests, by index into TokenPatterns
  private final val Capitalized = 0
  private final val AllCaps = 1
  private final val Numeric = 2
  private final val Symbolic = 3
  private val TokenPatterns = Array("^[A-Z][a-zA-Z]*$", "^[A-Z]+$",
    "^[0-9]+([.,][0-9]+)?$", "^[^A-Za-z0-9]+$").map(Pattern.compile(_))

  // POS tag ids, in the order of the enrich output columns
  private final val Noun = 0
  private final val Propn = 1
  private final val Conj = 2
  private final val Verb = 3
  private final val Sym = 4
  private final val Num = 5
  private final val Adp = 6
  private final val Adj = 7
  private val TagNames = Array("NOUN", "PROPN", "CONJ", "VERB", "SYM", "NUM",
    "ADP", "ADJ").map(UTF8String.fromString)
  val TagColumns: Seq[String] = Seq("num_nouns", "num_propn", "num_conj",
    "num_verb", "num_sym", "num_num", "num_adp", "num_adj")

  private def words(ws: String*): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    ws.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
  private val ConjWords = words("and", "or", "but", "nor", "so", "yet")
  private val AdpWords = words("in", "on", "at", "of", "to", "from", "by",
    "with", "for", "as", "into", "over", "under")
  private val VerbWords = words("is", "are", "was", "were", "be", "been",
    "am", "has", "have", "had", "do", "does", "did", "will", "would", "can",
    "could", "shall", "should", "may", "might", "must")
  private val AdjWords = words("small", "large", "fast", "slow", "big",
    "new", "old", "good", "bad", "high", "low")
  private val VerbSuffixes = Array("ing", "ed").map(UTF8String.fromString)
  private val AdjSuffixes =
    Array("ous", "ful", "ive", "able", "ible").map(UTF8String.fromString)
  private val Org = UTF8String.fromString("ORG")
  private val Misc = UTF8String.fromString("MISC")

  /** Java's `\s` without UNICODE_CHARACTER_CLASS: space and 0x09–0x0D. */
  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')

  @inline private def isSentenceEnd(b: Byte): Boolean =
    b == '.' || b == '!' || b == '?'

  @inline private def isUpper(b: Byte): Boolean = b >= 'A' && b <= 'Z'
  @inline private def isAlpha(b: Byte): Boolean =
    isUpper(b) || (b >= 'a' && b <= 'z')
  @inline private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** `t rlike TokenPatterns(test)`. A token of ASCII bytes other than
    * `\n` and `\r` holds no line terminator, so `$` can only match at
    * its end and each test is a plain scan; any other token runs the
    * `Pattern`. */
  private def is(test: Int, t: UTF8String): Boolean = {
    val n = t.numBytes
    var plain = true
    var i = 0
    while (plain && i < n) {
      val b = t.getByte(i)
      plain = b >= 0 && b != '\n' && b != '\r'
      i += 1
    }
    if (!plain) return TokenPatterns(test).matcher(t.toString).find(0)
    test match {
      case Capitalized =>
        n > 0 && isUpper(t.getByte(0)) &&
          (1 until n).forall(j => isAlpha(t.getByte(j)))
      case AllCaps => n > 0 && (0 until n).forall(j => isUpper(t.getByte(j)))
      case Numeric =>
        var j = 0
        while (j < n && isDigit(t.getByte(j))) j += 1
        if (j == 0) false
        else if (j == n) true
        else if (t.getByte(j) != '.' && t.getByte(j) != ',') false
        else {
          val frac = j + 1
          j = frac
          while (j < n && isDigit(t.getByte(j))) j += 1
          j > frac && j == n
        }
      case _ =>
        n > 0 && (0 until n).forall(j =>
          !isAlpha(t.getByte(j)) && !isDigit(t.getByte(j)))
    }
  }

  private def pattern(backend: Int): Pattern =
    if (backend == Nltk) NltkToken else PolyglotToken

  /** Tokens of `s` in order. Spacy tokens are copied out of `bytes`,
    * the bytes of `s`. */
  private def tokens(s: UTF8String, bytes: Array[Byte],
                     backend: Int): java.util.ArrayList[UTF8String] = {
    val out = new java.util.ArrayList[UTF8String]()
    if (backend == Spacy) {
      val n = bytes.length
      var i = 0
      while (i < n) {
        while (i < n && isSpace(bytes(i))) i += 1
        val start = i
        while (i < n && !isSpace(bytes(i))) i += 1
        if (i > start)
          out.add(UTF8String.fromBytes(
            java.util.Arrays.copyOfRange(bytes, start, i)))
      }
    } else {
      val m = pattern(backend).matcher(s.toString)
      while (m.find()) out.add(UTF8String.fromString(m.group()))
    }
    out
  }

  /** Number of tokens in `bytes[from, until)`. */
  private def countTokens(bytes: Array[Byte], from: Int, until: Int,
                          backend: Int): Int = {
    var n = 0
    if (backend == Spacy) {
      var i = from
      while (i < until) {
        while (i < until && isSpace(bytes(i))) i += 1
        if (i < until) n += 1
        while (i < until && !isSpace(bytes(i))) i += 1
      }
    } else {
      val m = pattern(backend).matcher(
        UTF8String.fromBytes(bytes, from, until - from).toString)
      while (m.find()) n += 1
    }
    n
  }

  /** Sentence bounds as `[start0, end0, start1, end1, ...]` byte offsets. */
  private def sentenceBounds(bytes: Array[Byte]): Array[Int] = {
    val out = Array.newBuilder[Int]
    val n = bytes.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || isSentenceEnd(bytes(i))) {
        var a = start
        var e = i
        while (a < e && bytes(a) == ' ') a += 1
        while (e > a && bytes(e - 1) == ' ') e -= 1
        if (e > a) { out += a; out += e }
        start = i + 1
      }
      i += 1
    }
    out.result()
  }

  private def toArrayData(xs: java.util.List[UTF8String]): ArrayData =
    new GenericArrayData(xs.toArray.asInstanceOf[Array[Any]])

  def tokenArray(s: UTF8String, backend: Int): ArrayData =
    toArrayData(tokens(s, s.getBytes, backend))

  def sentenceArray(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val b = sentenceBounds(bytes)
    val out = new Array[Any](b.length / 2)
    var k = 0
    while (k < out.length) {
      out(k) = UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(bytes, b(2 * k), b(2 * k + 1)))
      k += 1
    }
    new GenericArrayData(out)
  }

  @inline private def endsWithAny(s: UTF8String,
                                  suffixes: Array[UTF8String]): Boolean = {
    var i = 0
    while (i < suffixes.length) {
      if (s.endsWith(suffixes(i))) return true
      i += 1
    }
    false
  }

  /** Spark's `lower` under UTF8_BINARY: the two branches of
    * `CollationSupport.Lower` with the calls they make, inlined. Calling
    * it would initialize `CollationAwareUTF8String`, whose static
    * title-case table (ICU over every code point) costs about 1.5 s per
    * JVM and plays no part in lower-casing. */
  private def lower(t: UTF8String, useICU: Boolean): UTF8String =
    if (t.isFullAscii) t.toLowerCaseAscii
    else if (useICU)
      UTF8String.fromString(UCharacter.toLowerCase(t.toValidString))
    else t.toLowerCase

  /** The POS-proxy cascade; `capitalized` is the result of the PROPN
    * test, which the caller shares with the NE test. */
  private def tagOf(t: UTF8String, capitalized: Boolean,
                    useICU: Boolean): Int =
    if (is(Numeric, t)) Num
    else if (capitalized) Propn
    else {
      val lo = lower(t, useICU)
      if (ConjWords.contains(lo)) Conj
      else if (AdpWords.contains(lo)) Adp
      else if (is(Symbolic, t)) Sym
      else if (VerbWords.contains(lo) || endsWithAny(lo, VerbSuffixes)) Verb
      else if (endsWithAny(lo, AdjSuffixes) || AdjWords.contains(lo)) Adj
      else Noun
    }

  def posTag(t: UTF8String, useICU: Boolean): UTF8String =
    if (t == null) TagNames(Noun)
    else TagNames(tagOf(t, is(Capitalized, t), useICU))

  def compute(s: UTF8String, backend: Int, useICU: Boolean): InternalRow = {
    val bytes = s.getBytes
    val toks = tokens(s, bytes, backend)

    val bounds = sentenceBounds(bytes)
    val numSent = bounds.length / 2
    var minLen = 0
    var maxLen = 0
    var k = 0
    while (k < numSent) {
      val l = countTokens(bytes, bounds(2 * k), bounds(2 * k + 1), backend)
      if (k == 0 || l < minLen) minLen = l
      if (k == 0 || l > maxLen) maxLen = l
      k += 1
    }

    val ne = new java.util.ArrayList[UTF8String]()
    val neTypes = new java.util.ArrayList[UTF8String]()
    val tags = new Array[Int](TagNames.length)
    var syllables = 0
    var difficult = 0
    var i = 0
    while (i < toks.size) {
      val t = toks.get(i)
      val capitalized = is(Capitalized, t)
      if (capitalized) {
        ne.add(t)
        neTypes.add(if (is(AllCaps, t)) Org else Misc)
      }
      tags(tagOf(t, capitalized, useICU)) += 1
      val syl = SyllableCountImpl.count(t)
      syllables += syl
      if (syl >= 3) difficult += 1
      i += 1
    }

    new GenericInternalRow(Array[Any](
      toks.size, numSent, minLen, maxLen, toArrayData(ne),
      toArrayData(neTypes), ne.size,
      tags(Noun), tags(Propn), tags(Conj), tags(Verb), tags(Sym), tags(Num),
      tags(Adp), tags(Adj), syllables, difficult))
  }
}
