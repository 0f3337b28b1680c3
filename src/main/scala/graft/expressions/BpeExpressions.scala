package graft.expressions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Exact greedy byte-pair encoding (the GPT-2 `encoder.py` algorithm,
  * Sennrich et al. 2016), BYTE-LEVEL and with GPT-2's OWN PRE-TOKENIZER:
  * text first splits with the published pre-tokenizer regex
  * (`'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|`
  * `\s+(?!\S)|\s+` — [[preTokenize]] is a hand-rolled scanner with those
  * exact semantics, leading space KEPT inside the pre-token); each
  * pre-token then starts as its UTF-8 bytes mapped through GPT-2's
  * `bytes_to_unicode` alphabet (every byte a distinct printable one-char
  * symbol — a leading space becomes `Ġ`); while any adjacent symbol pair
  * appears in the merges table, the LOWEST-RANKED such pair is merged
  * at every non-overlapping occurrence left to right; the token count
  * is the surviving symbol count. Deterministic given the merges table,
  * and — unlike the regex approximation in `TextAnalysis.bpeTokens` —
  * exact against a real model: because both the alphabet and the
  * pre-tokenizer are GPT-2's own, a public model's `merges.txt` (whose
  * dominant merges are `Ġ`-prefixed) drops in and fires exactly as in
  * the published tokenizer, non-ASCII included (" café" seeds as
  * [Ġ, c, a, f, Ã, ©]). The one deliberate deviation surface is
  * Unicode-table skew between JVM and CPython category data for exotic
  * code points; contractions are lowercase-only, as published.
  *
  * The merges table travels in the standard GPT-2 `merges.txt` line
  * format ("a b" per line, rank = line order, `#`-prefixed headers
  * skipped), so a public model's file drops in verbatim; here it rides
  * the plan as a string literal (broadcast with the task binary — the
  * table is KB-to-MB scale, the same posture as the contamination
  * shingle set).
  */
object BpeCodec {

  /** The pre-tokenizer's `\s` — Python `regex` module whitespace
    * (CPython ISSPACE): Unicode White_Space plus the 0x1C-0x1F
    * separators. All members are BMP single-unit chars. */
  def isPreWs(cp: Int): Boolean =
    (cp >= 0x09 && cp <= 0x0D) || (cp >= 0x1C && cp <= 0x1F) ||
      cp == 0x20 || cp == 0x85 || cp == 0xA0 || cp == 0x1680 ||
      (cp >= 0x2000 && cp <= 0x200A) ||
      cp == 0x2028 || cp == 0x2029 || cp == 0x202F || cp == 0x205F ||
      cp == 0x3000

  /** Run class for the ` ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+`
    * alternations: 1 = letter, 2 = number (Nd/Nl/No), 3 = other. */
  private def preCls(cp: Int): Int =
    if (Character.isLetter(cp)) 1
    else {
      val t = Character.getType(cp)
      if (t == Character.DECIMAL_DIGIT_NUMBER ||
          t == Character.LETTER_NUMBER || t == Character.OTHER_NUMBER) 2
      else 3
    }

  /** GPT-2's pre-tokenizer as a single left-to-right scan — semantics
    * identical to `findall` of the published pattern:
    *
    *   - the lowercase contractions `'s 't 're 've 'm 'll 'd` match
    *     first, with no boundary check (exactly as the regex does);
    *   - a single literal space glues to a following letter / number /
    *     punctuation run (` ?\p{L}+` etc. — the `Ġword` convention);
    *   - a whitespace run followed by non-whitespace emits all but its
    *     last character (the `\s+(?!\S)` backtrack), leaving the last
    *     char to glue (if a space) or stand alone (any other \s);
    *   - a trailing whitespace run is one pre-token.
    *
    * The pre-tokens partition the text exactly: concatenating them
    * yields the input. Cross-checked against `java.util.regex` running
    * the published lookahead pattern (BpeSpec property test). */
  def preTokenize(text: String): ArrayBuffer[String] = {
    val out = new ArrayBuffer[String]()
    val n = text.length
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      var matched = false
      if (c == '\'' && i + 1 < n) {
        val c1 = text.charAt(i + 1)
        if (c1 == 's' || c1 == 't' || c1 == 'm' || c1 == 'd') {
          out += text.substring(i, i + 2); i += 2; matched = true
        } else if (i + 2 < n) {
          val c2 = text.charAt(i + 2)
          if ((c1 == 'r' && c2 == 'e') || (c1 == 'v' && c2 == 'e') ||
              (c1 == 'l' && c2 == 'l')) {
            out += text.substring(i, i + 3); i += 3; matched = true
          }
        }
      }
      if (!matched) {
        if (c == ' ' && i + 1 < n && !isPreWs(text.codePointAt(i + 1))) {
          // glued token: the literal space + the following class run
          val k = preCls(text.codePointAt(i + 1))
          var j = i + 1
          var cp = 0
          while (j < n && { cp = text.codePointAt(j)
                            !isPreWs(cp) && preCls(cp) == k })
            j += Character.charCount(cp)
          out += text.substring(i, j); i = j
        } else if (isPreWs(text.codePointAt(i))) {
          var j = i
          while (j < n && isPreWs(text.codePointAt(j))) j += 1 // BMP-only class
          if (j < n && j - i > 1) { out += text.substring(i, j - 1); i = j - 1 }
          else { out += text.substring(i, j); i = j }
        } else {
          val k = preCls(text.codePointAt(i))
          var j = i
          var cp = 0
          while (j < n && { cp = text.codePointAt(j)
                            !isPreWs(cp) && preCls(cp) == k })
            j += Character.charCount(cp)
          out += text.substring(i, j); i = j
        }
      }
    }
    out
  }

  /** Parse a GPT-2 format merges table: one "left right" pair per line,
    * rank = position; blank and `#…` lines skipped. */
  def parseMerges(table: String): Array[(String, String)] =
    table.split("\n").iterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val sp = l.split(" ", 2)
        require(sp.length == 2, s"merges line needs 'left right': '$l'")
        (sp(0), sp(1))
      }.toArray

  /** Render a merges table in the same file format [[parseMerges]]
    * reads (round-trips). */
  def formatMerges(merges: Seq[(String, String)]): String =
    ("#version: 0.2 (graft)" +: merges.map { case (a, b) => s"$a $b" })
      .mkString("\n")

  /** Rank lookup keyed "left<NUL>right" (NUL can't occur inside a
    * symbol read from the line format). */
  def ranksOf(merges: Array[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      m.putIfAbsent(merges(i)._1 + "\u0000" + merges(i)._2, Int.box(i))
      i += 1
    }
    m
  }

  /** GPT-2's bytes->unicode alphabet (`encoder.py bytes_to_unicode`):
    * the 188 "printable" bytes (0x21-0x7E, 0xA1-0xAC, 0xAE-0xFF) map to
    * their own code point; the remaining 68 (controls, space, DEL,
    * 0x7F-0xA0, 0xAD) map to U+0100+n in ascending byte order. Every
    * byte becomes a distinct printable one-character symbol, so merges
    * files and symbol strings stay plain text. Index = byte value. */
  val byteSymbols: Array[String] = {
    val out = new Array[String](256)
    var n = 0
    var b = 0
    while (b < 256) {
      val printable =
        (b >= 0x21 && b <= 0x7E) || (b >= 0xA1 && b <= 0xAC) || b >= 0xAE
      if (printable) out(b) = String.valueOf(b.toChar)
      else { out(b) = String.valueOf((256 + n).toChar); n += 1 }
      b += 1
    }
    out
  }

  /** Split a word into its byte-level symbol sequence: UTF-8 bytes, each
    * mapped through [[byteSymbols]] — the unit the trainer, the encoder
    * and the SQL mirror all share (and the unit GPT-2's own encoder
    * uses, so a public merges.txt agrees on all text). */
  def splitByteLevel(w: String): ArrayBuffer[String] = {
    val bytes = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new ArrayBuffer[String](bytes.length)
    var i = 0
    while (i < bytes.length) {
      out += byteSymbols(bytes(i) & 0xFF)
      i += 1
    }
    out
  }

  /** Greedy-merge one word; returns the surviving token (symbol-string)
    * sequence — the full GPT-2 encode, not just its length. */
  def encodeSyms(word: String,
                 ranks: java.util.HashMap[String, Integer]): ArrayBuffer[String] =
    mergeSyms(splitByteLevel(word), ranks)

  /** The greedy lowest-rank merge loop over an arbitrary initial symbol
    * sequence — shared by the GPT-2 encoder (byte-level symbols) and the
    * SentencePiece-convention encoder ([[SpCodec]], character symbols):
    * the merge machinery is identical, only the alphabet and the
    * pre-tokenizer differ. Mutates and returns `syms`' buffer. */
  def mergeSyms(syms0: ArrayBuffer[String],
                ranks: java.util.HashMap[String, Integer]): ArrayBuffer[String] = {
    var syms = syms0
    if (syms.length < 2) return syms
    while (true) {
      // lowest-ranked adjacent pair present in the table
      var best = Int.MaxValue
      var bestA: String = null
      var bestB: String = null
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.get(syms(i) + "\u0000" + syms(i + 1))
        if (r != null && r < best) { best = r; bestA = syms(i); bestB = syms(i + 1) }
        i += 1
      }
      if (bestA == null) return syms
      // merge every non-overlapping occurrence, left to right
      val merged = bestA + bestB
      val out = new ArrayBuffer[String](syms.length)
      i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == bestA && syms(i + 1) == bestB) {
          out += merged; i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out
      if (syms.length < 2) return syms
    }
    syms
  }

  /** Surviving token count of one word (the hot path for budgets). */
  def encodeLen(word: String, ranks: java.util.HashMap[String, Integer]): Int =
    encodeSyms(word, ranks).length

  /** Full tokenization of a text: every [[preTokenize]] pre-token's
    * surviving symbol strings, concatenated in order — the complete
    * GPT-2 encode (map through a vocab for ids). `cache` memoizes per
    * distinct pre-token, same posture as [[countTokens]]'s. */
  def encodeTokens(text: String, ranks: java.util.HashMap[String, Integer],
                   cache: java.util.HashMap[String, Array[String]]): Array[String] = {
    val words = preTokenize(text)
    val out = new ArrayBuffer[String](words.length * 2)
    var i = 0
    while (i < words.length) {
      val w = words(i)
      var ts = cache.get(w)
      if (ts == null) {
        ts = encodeSyms(w, ranks).toArray
        if (cache.size >= (1 << 16)) cache.clear() // bound task memory
        cache.put(w, ts)
      }
      out ++= ts
      i += 1
    }
    out.toArray
  }

  /** Parse a GPT-2 `encoder.json` vocab: a flat JSON object mapping
    * token string -> integer id, read as a Jackson tree (standard JSON
    * string escapes incl. \uXXXX — the byte-level alphabet's remapped
    * symbols serialize that way in real files). Negative ids are
    * rejected by downstream use, not here. Loud errors on malformed
    * input or a non-integer id. */
  def parseVocabJson(json: String): java.util.HashMap[String, Integer] = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"vocab json: $msg")
    val root =
      try vocabMapper.readTree(json)
      catch { case e: java.io.IOException => fail(e.getMessage) }
    if (!root.isObject) fail("expected a JSON object")
    val m = new java.util.HashMap[String, Integer]()
    root.properties().forEach { e =>
      val v = e.getValue
      if (!v.isIntegralNumber || !v.canConvertToInt)
        fail(s"id of ${e.getKey} is not an integer: $v")
      m.put(e.getKey, Int.box(v.intValue))
    }
    m
  }

  private lazy val vocabMapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** Render a vocab in the same `encoder.json` format [[parseVocabJson]]
    * reads (round-trips; non-ASCII and control chars \uXXXX-escaped). */
  def formatVocabJson(vocab: Seq[(String, Int)]): String = {
    def esc(t: String): String = {
      val sb = new java.lang.StringBuilder("\"")
      t.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' || c > '~' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append("\"").toString
    }
    vocab.map { case (t, id) => s"${esc(t)}: $id" }.mkString("{", ", ", "}")
  }

  /** The canonical vocab a merges table induces, in GPT-2's structure:
    * the 256 byte symbols get ids 0..255 (byte order), each merge's
    * token gets 256 + its rank. A REAL encoder.json replaces this
    * whole table; this is the self-consistent default for tables from
    * [[graft.operators.TextAnalysis.bpeTrain]]. */
  def canonicalVocab(merges: Seq[(String, String)]): Seq[(String, Int)] =
    byteSymbols.toSeq.zipWithIndex ++
      merges.zipWithIndex.map { case ((a, b), r) => (a + b, 256 + r) }

  /** Exact BPE token count of a text: the sum of [[encodeLen]] over its
    * [[preTokenize]] pre-tokens. `cache` memoizes per distinct
    * pre-token — corpus vocabularies repeat heavily, so the merge loop
    * runs once per pre-token type per task, not per occurrence. */
  def countTokens(text: String, ranks: java.util.HashMap[String, Integer],
                  cache: java.util.HashMap[String, Integer]): Long = {
    val words = preTokenize(text)
    var total = 0L
    var i = 0
    while (i < words.length) {
      val w = words(i)
      var n = cache.get(w)
      if (n == null) {
        n = Int.box(encodeLen(w, ranks))
        if (cache.size >= (1 << 16)) cache.clear() // bound task memory
        cache.put(w, n)
      }
      total += n.intValue()
      i += 1
    }
    total
  }
}

/** `graft_bpe_count(text, mergesTable)` — exact BPE token count of
  * `text` under a GPT-2-format merges table (a foldable string).
  * CodegenFallback: the eval body is a tight compiled loop over interned
  * per-word results; surrounding operators still codegen around it. */
case class BpeTokenCount(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bpe_count"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (left.dataType == StringType && right.dataType == StringType && right.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (STRING text, foldable STRING mergesTable), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  // per-task state: the plan is serialized per task, so these are
  // task-local (single-threaded) — the word cache never crosses tasks
  @transient private lazy val ranks =
    BpeCodec.ranksOf(BpeCodec.parseMerges(
      right.eval().asInstanceOf[UTF8String].toString))
  @transient private lazy val cache = new java.util.HashMap[String, Integer]()

  override def nullSafeEval(text: Any, merges: Any): Any =
    BpeCodec.countTokens(text.asInstanceOf[UTF8String].toString, ranks, cache)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_bpe_tokens(text, mergesTable)` — the FULL exact BPE encode:
  * every GPT-2 pre-token's surviving symbol strings, concatenated in
  * document order (ARRAY<STRING> of GPT-2 byte-level tokens; map
  * through a vocab table for integer ids). Same greedy lowest-rank
  * semantics and per-task word cache as [[BpeTokenCount]] — and
  * `size(graft_bpe_tokens(t, m)) == graft_bpe_count(t, m)` by
  * construction (one shared merge loop). */
case class BpeTokens(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_tokens"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (left.dataType == StringType && right.dataType == StringType && right.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (STRING text, foldable STRING mergesTable), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  @transient private lazy val ranks =
    BpeCodec.ranksOf(BpeCodec.parseMerges(
      right.eval().asInstanceOf[UTF8String].toString))
  @transient private lazy val cache =
    new java.util.HashMap[String, Array[String]]()

  override def nullSafeEval(text: Any, merges: Any): Any = {
    val toks = BpeCodec.encodeTokens(
      text.asInstanceOf[UTF8String].toString, ranks, cache)
    val out = new Array[AnyRef](toks.length)
    var i = 0
    while (i < toks.length) { out(i) = UTF8String.fromString(toks(i)); i += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_bpe_ids(text, mergesTable, vocabJson)` — exact BPE encode to
  * INTEGER ids: [[BpeTokens]]'s token strings mapped through a vocab in
  * the public GPT-2 `encoder.json` format (a flat JSON object
  * {"token": id, ...}), so a published model's tokenizer pair
  * (merges.txt + encoder.json) drops in verbatim. Tokens absent from
  * the vocab map to -1 — a loud, countable sentinel (a REAL GPT-2
  * vocab is closed over its merges plus the 256 byte symbols, so -1
  * there means the files are mismatched). */
case class BpeTokenIds(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_bpe_ids"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (first.dataType == StringType && second.dataType == StringType &&
        second.foldable && third.dataType == StringType && third.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (STRING text, foldable STRING mergesTable, " +
        s"foldable STRING vocabJson)")
  }

  @transient private lazy val ranks =
    BpeCodec.ranksOf(BpeCodec.parseMerges(
      second.eval().asInstanceOf[UTF8String].toString))
  @transient private lazy val vocab =
    BpeCodec.parseVocabJson(third.eval().asInstanceOf[UTF8String].toString)
  @transient private lazy val cache =
    new java.util.HashMap[String, Array[String]]()

  override def nullSafeEval(text: Any, merges: Any, vj: Any): Any = {
    val toks = BpeCodec.encodeTokens(
      text.asInstanceOf[UTF8String].toString, ranks, cache)
    val out = new Array[Int](toks.length)
    var i = 0
    while (i < toks.length) {
      val id = vocab.get(toks(i))
      out(i) = if (id == null) -1 else id.intValue()
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** `graft_bpe_pretokens(text)` — GPT-2's pre-tokenizer alone
  * ([[BpeCodec.preTokenize]]): the pre-token strings in document order
  * (leading spaces kept — " world" is one pre-token), partitioning the
  * input exactly. The unit the BPE trainer aggregates over, exposed so
  * vocabulary analyses see the same segmentation the encoder uses. */
case class BpePreTokens(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_pretokens"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs STRING text, got ${child.dataType.simpleString}")
  }

  override def nullSafeEval(text: Any): Any = {
    val ws = BpeCodec.preTokenize(text.asInstanceOf[UTF8String].toString)
    val out = new Array[AnyRef](ws.length)
    var i = 0
    while (i < ws.length) { out(i) = UTF8String.fromString(ws(i)); i += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
