package graft.expressions

import com.univocity.parsers.csv.{CsvParser, CsvParserSettings, UnescapedQuoteHandling}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_csv_fields(line, n)` — one CSV record split into exactly `n`
  * string fields (short records padded with null, long ones truncated),
  * value-identical to the recipe scan's previous
  * `from_csv(line, <n all-string fields>, ignoreLeadingWhiteSpace=true)`
  * in PERMISSIVE mode (the from_csv default), which is pinned by
  * CsvLineFieldsSpec's differential fuzz against from_csv itself.
  *
  * Why it exists: the recipe wholetext path parses every post-LineFilter
  * line through `from_csv`, whose per-record cost is dominated by fixed
  * Univocity overhead (a parseLine reset + char-by-char state machine +
  * per-field String materialization + the FailureSafeParser wrapper per
  * row) — measured ~2 MB/s/core on the corpus logs, the single biggest
  * block of the recipe-DAG queries. Benchmark CSV lines are overwhelmingly
  * quote-free, and a quote-free RFC-4180 record needs none of that
  * machinery: one pass over the UTF-8 bytes finding delimiters, a
  * zero-copy UTF8String slice per field. Lines that DO contain a quote
  * byte take a per-thread Univocity parser configured exactly like
  * Spark's CSV read path, so quoting/escape semantics stay Spark's own on
  * the rare rows that exercise them.
  *
  * Fast-path semantics (mirrors Univocity with Spark's from_csv options:
  * delimiter `,`, ignoreLeadingWhiteSpaces=true, ignoreTrailingWhiteSpaces
  * =false, nullValue=""):
  *   - fields split on `,` (a quote byte anywhere routes the whole line
  *     to the Univocity fallback; a backslash outside quotes is literal —
  *     Spark's escape char only applies inside quoted values);
  *   - leading chars <= ' ' of each field are skipped (Univocity's
  *     whitespace test is `ch <= ' '`), trailing kept;
  *   - an empty (or all-whitespace) field is null (Spark maps tokens
  *     equal to nullValue "" to null; quoted empties hit the fallback and
  *     land on the same rule).
  */
case class CsvLineFields(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_csv_fields"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a STRING line, got ${left.dataType.simpleString}")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a literal INT field count, got ${right.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(line: Any, n: Any): Any =
    CsvLineFields.split(line.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (line, n) =>
      s"${ev.value} = graft.expressions.CsvLineFields$$.MODULE$$.split($line, $n);")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CsvLineFields {

  /** Shared by interpreted eval and generated code. */
  def split(line: UTF8String, n: Int): ArrayData = {
    val out = new Array[AnyRef](n)
    val bytes = line.getBytes // materializes only when the line is offset-backed
    val len = bytes.length
    // fallback scan: any quote byte means real CSV quoting may be in play
    var q = 0
    var quoted = false
    while (q < len && !quoted) { quoted = bytes(q) == '"'; q += 1 }
    if (quoted) return slow(line, n)

    var field = 0
    var i = 0
    // Univocity emits NO token for an empty line (from_csv then pads the
    // whole row with nulls) and one trailing token after a final comma —
    // both fall out of this loop's shape: an empty line yields one empty
    // token here, which maps to null anyway.
    while (field < n && i <= len) {
      // skip leading whitespace (Univocity: ch <= ' ')
      while (i < len && bytes(i) >= 0 && bytes(i) <= ' ') i += 1
      val start = i
      while (i < len && bytes(i) != ',') i += 1
      if (i > start)
        out(field) = UTF8String.fromBytes(bytes, start, i - start)
      // else: empty token == nullValue "" -> null
      field += 1
      i += 1 // past the delimiter
    }
    new GenericArrayData(out)
  }

  /** Every field of one record, empty ones as "" — the scan's own
    * tokenizer, for the driver-side header peek, so the peek and the scan
    * can never split a line two ways. */
  def tokens(line: String): Array[String] =
    Option(parsers.get().parseLine(line)).getOrElse(Array.empty[String])
      .map(t => if (t == null) "" else t)

  /** Lines containing a quote byte: Spark's own CSV machinery semantics,
    * via a per-thread Univocity parser configured like CSVOptions does
    * for from_csv (PERMISSIVE, all-string schema). */
  private def slow(line: UTF8String, n: Int): ArrayData = {
    val tokens = parsers.get().parseLine(line.toString)
    val out = new Array[AnyRef](n)
    if (tokens != null) {
      var i = 0
      val m = math.min(n, tokens.length)
      while (i < m) {
        val t = tokens(i)
        // Spark nullSafeDatum: token == nullValue ("") or null -> null
        if (t != null && t.nonEmpty) out(i) = UTF8String.fromString(t)
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  private val parsers = new ThreadLocal[CsvParser] {
    override def initialValue(): CsvParser = {
      // exactly CSVOptions.asParserSettings for the recipe scan's options:
      // delimiter ",", quote '"', escape '\' (and charToEscapeQuoteEscaping
      // = escape, the Spark default when escape != quote), comment disabled,
      // ignoreLeadingWhiteSpace=true / trailing=false, nullValue "",
      // emptyValue "", unlimited column length, STOP_AT_DELIMITER
      val s = new CsvParserSettings
      val f = s.getFormat
      f.setDelimiter(',')
      f.setQuote('"')
      f.setQuoteEscape('\\')
      f.setCharToEscapeQuoteEscaping('\\')
      f.setComment('\u0000') // Spark: comment handling disabled by default
      s.setCommentProcessingEnabled(false)
      s.setIgnoreLeadingWhitespaces(true)
      s.setIgnoreTrailingWhitespaces(false)
      s.setReadInputOnSeparateThread(false)
      s.setInputBufferSize(128)
      s.setMaxColumns(20480)
      s.setNullValue("")
      s.setEmptyValue("")
      s.setMaxCharsPerColumn(-1)
      s.setUnescapedQuoteHandling(UnescapedQuoteHandling.STOP_AT_DELIMITER)
      s.setLineSeparatorDetectionEnabled(false)
      new CsvParser(s)
    }
  }
}
