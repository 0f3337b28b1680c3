package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.expressions.BpeCodec

/** Exact BPE: GPT-2's pre-tokenizer (property-checked against a
  * java.util.regex rendition of the PUBLISHED lookahead pattern, plus
  * a published-model subset pin), greedy lowest-rank merging over
  * GPT-2's BYTE-LEVEL alphabet (bytes_to_unicode — hand-checked pins
  * against the published table), GPT-2 merges-file format round-trip,
  * deterministic training, and the canonical-table pin that keeps the
  * embedded q84 table equal to what the trainer produces on the
  * corpus. */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def count(text: String, merges: Seq[(String, String)]): Long =
    BpeCodec.countTokens(text,
      BpeCodec.ranksOf(merges.toArray), new java.util.HashMap[String, Integer]())

  // ---- the published GPT-2 pre-tokenizer, verbatim as a Java regex
  //      (Java supports the (?!\S) lookahead RE2 lacks): \s/\S spelled
  //      as the explicit Python-regex whitespace class so the reference
  //      is engine-independent. \p{L}/\p{N} are Unicode in Java.
  private val WS = "\\t\\n\\x0B\\f\\r\\x1C-\\x1F \\x85\\xA0\\u1680" +
    "\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000"
  private val Gpt2Pattern = java.util.regex.Pattern.compile(
    s"'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^$WS\\p{L}\\p{N}]+|" +
      s"[$WS]+(?![^$WS])|[$WS]+")

  private def refPreTokenize(text: String): Seq[String] = {
    val m = Gpt2Pattern.matcher(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toSeq
  }

  test("preTokenize == the published GPT-2 pre-tokenizer regex " +
    "(lookahead included) on hand cases, fixture text and 20k random " +
    "strings; pre-tokens partition the input exactly") {
    val hand = Seq(
      "", " ", "   ", "hello world", "Hello, world!",
      "it's isn't we're I'll you've I'm he'd", "don'x 'status '",
      "a  b", "a   b", "a\t b", "a \tb", "x\n\ny", "trailing  ",
      "  leading", "  'll 's", "x 't", "!!'s", "price: $5.99!",
      "многоязычный текст 123", "敏捷的狐狸 34", "tab\tsep", "a 　 b",
      "'s's's", "CRLF\r\nline", "mix  \t x",
      // uppercase contractions do NOT match (the published pattern is
      // lowercase-only); astral code points ride surrogate-safe
      "IT'S X", "x𝄞y 𝄞𝄞",
      "a 𝄞 5𝄞6")
    for (c <- hand) {
      val got = BpeCodec.preTokenize(c).toSeq
      assert(got == refPreTokenize(c), s"on <$c>")
      assert(got.mkString == c, s"partition of <$c>")
    }
    val docs = graft.Tables(spark, TestSpark.sfDir, "documents").limit(50)
      .select("text").collect().map(_.getString(0))
    for (t <- docs) {
      assert(BpeCodec.preTokenize(t).toSeq == refPreTokenize(t))
      assert(BpeCodec.preTokenize(t).mkString == t)
    }
    val rnd = new scala.util.Random(42)
    val alphabet = "ab c.!'stre\tll\nд文ا5 ０๙한हεא "
    for (_ <- 0 until 20000) {
      val s = Seq.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.length)))
        .mkString
      assert(BpeCodec.preTokenize(s).toSeq == refPreTokenize(s), s"on <$s>")
    }
  }

  test("the leading-space convention: ' world' is ONE pre-token and " +
    "seeds as Ġ-prefixed symbols, so a real model's Ġ merges can fire") {
    assert(BpeCodec.preTokenize("hello world").toSeq ==
      Seq("hello", " world"))
    val cache = new java.util.HashMap[String, Array[String]]()
    // PUBLISHED-MODEL SUBSET PIN: the first seven merges of GPT-2's own
    // merges.txt ("Ġ t","Ġ a","h e","i n","r e","o n","Ġt he") and the
    // vocab facts they induce — byte tokens sit at
    // (byte's position in the printable-then-shifted alphabet), so
    // "t" = 0x74 - 0x21 = 83, and the famous "Ġt"=256, "Ġthe"=262
    // (id = 256 + merge rank for the first merges). "the the" must
    // therefore encode to [83, 258, 262]: "the" -> [t, he] (merge
    // rank 2 only), " the" -> Ġt -> Ġt,he -> Ġthe (ranks 0, 2, 6).
    val gpt2head = Seq(("Ġ", "t"), ("Ġ", "a"), ("h", "e"), ("i", "n"),
      ("r", "e"), ("o", "n"), ("Ġt", "he"))
    val toks = BpeCodec.encodeTokens("the the",
      BpeCodec.ranksOf(gpt2head.toArray), cache)
    assert(toks.toSeq == Seq("t", "he", "Ġthe"), toks.toSeq)
    import spark.implicits._
    val ids = Seq("the the").toDF("t").select(
      TextAnalysis.bpeIdsExact(col("t"), gpt2head,
        Seq("t" -> 83, "he" -> 258, "Ġthe" -> 262))).head().getSeq[Int](0)
    assert(ids == Seq(83, 258, 262))
  }

  test("a (merges.txt, encoder.json) file pair drops in from disk: " +
    "bpeLoadMergesFile/bpeLoadVocabFile reproduce the published ids") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tok")
    // the real files' formats: #version header, Ġ merges; \u0120 escapes
    java.nio.file.Files.write(dir.resolve("merges.txt"),
      "#version: 0.2\n\u0120 t\n\u0120 a\nh e\ni n\nr e\no n\n\u0120t he\n"
        .getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("encoder.json"),
      "{\"t\": 83, \"he\": 258, \"\\u0120the\": 262}".getBytes("UTF-8"))
    val merges = TextAnalysis.bpeLoadMergesFile(spark, s"$dir/merges.txt")
    assert(merges.head == ("Ġ", "t") && merges.length == 7)
    val vocab = TextAnalysis.bpeLoadVocabFile(spark, s"$dir/encoder.json")
    assert(vocab == Seq("t" -> 83, "he" -> 258, "Ġthe" -> 262))
    val ids = Seq("the the").toDF("t")
      .select(TextAnalysis.bpeIdsExact(col("t"), merges, vocab))
      .head().getSeq[Int](0)
    assert(ids == Seq(83, 258, 262))
    // the size bound refuses a mis-pointed path loudly
    val big = dir.resolve("big.bin")
    val ch = java.nio.channels.FileChannel.open(big,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try { ch.position((64L << 20) + 1); ch.write(java.nio.ByteBuffer.wrap(Array[Byte](1))) }
    finally ch.close()
    val e = intercept[IllegalArgumentException](
      TextAnalysis.bpeLoadMergesFile(spark, s"$dir/big.bin"))
    assert(e.getMessage.contains("broadcast-sized"))
  }

  test("graft_bpe_pretokens (the expression) == the codec scanner") {
    val docs = graft.Tables(spark, TestSpark.sfDir, "documents").limit(40)
    val rows = docs.select(col("text"),
      TextAnalysis.bpePreTokens(col("text")).as("p")).collect()
    for (r <- rows)
      assert(r.getSeq[String](1) == BpeCodec.preTokenize(r.getString(0)).toSeq)
  }

  test("greedy merge follows rank order, not text order") {
    // rank 0 (b,c) fires before (a,b) even though (a,b) appears first:
    // "abc" -> [a, bc] (2 tokens); with the ranks swapped -> [ab, c] then
    // [abc] via (ab,c)
    assert(count("abc", Seq(("b", "c"), ("a", "b"))) == 2)
    assert(count("abc", Seq(("a", "b"), ("ab", "c"))) == 1)
  }

  test("all occurrences of the chosen pair merge in one pass, left-greedy") {
    assert(count("aaa", Seq(("a", "a"))) == 2)   // [aa, a]
    assert(count("aaaa", Seq(("a", "a"))) == 2)  // [aa, aa] -> (aa,aa)? not in table
    assert(count("aaaa", Seq(("a", "a"), ("aa", "aa"))) == 1)
  }

  test("merge chains: 'lower' under l+o, lo+w, e+r") {
    val m = Seq(("l", "o"), ("lo", "w"), ("e", "r"))
    assert(count("lower", m) == 2) // [low, er]
    assert(count("low", m) == 1)
    assert(count("xyz", m) == 3) // untouched: one token per code point
  }

  test("pre-tokens encode independently; whitespace is tokenized like " +
    "the published encoder (glue spaces ride the word, runs survive)") {
    val m = Seq(("a", "b"))
    // "ab ab  ab" pre-tokenizes to [ab, ␣ab, ␣, ␣ab]: the (a,b) merge
    // fires in every word; glued spaces seed as Ġ (1 token each), and
    // the two-space run contributes its lookahead-split lone space
    assert(count("ab ab  ab", m) == 1 + 2 + 1 + 2)
    assert(count("ab ab  ab", Seq(("a", "b"), ("Ġ", "ab"))) == 1 + 1 + 1 + 1)
    assert(count("", m) == 0L)
    assert(count("   ", m) == 3L) // one trailing-run pre-token, 3 Ġ bytes
    assert(count("   ", Seq(("Ġ", "Ġ"))) == 2L) // [ĠĠ, Ġ]
  }

  test("BYTE-level alphabet: words seed as UTF-8 bytes mapped through " +
    "GPT-2's bytes_to_unicode, exactly as the published encoder") {
    // the published table's fixed points and remaps (GPT-2 encoder.py):
    // printable bytes map to themselves; controls/space/DEL/0xAD shift
    // to U+0100+n in ascending byte order
    assert(BpeCodec.byteSymbols('A'.toInt) == "A")
    assert(BpeCodec.byteSymbols(0xC3) == "Ã") // Ã maps to itself
    assert(BpeCodec.byteSymbols(0xA9) == "©") // © maps to itself
    assert(BpeCodec.byteSymbols(32) == "Ġ")   // space -> Ġ
    assert(BpeCodec.byteSymbols(10) == "Ċ")   // \n -> Ċ
    assert(BpeCodec.byteSymbols(0) == "Ā")    // NUL -> Ā
    assert(BpeCodec.byteSymbols(0xAD) == "Ń") // soft hyphen -> Ń
    assert(BpeCodec.byteSymbols.distinct.length == 256)
    // "café" = bytes [c a f 0xC3 0xA9] -> symbols [c, a, f, Ã, ©]:
    // 5 tokens with no merges (GPT-2's own seeding, hand-checked
    // against the published algorithm — NOT 4 code points)
    assert(count("café", Nil) == 5)
    // merges operate on the byte symbols: (Ã,©) then (c,a) -> [ca, f, Ã©]
    assert(count("café", Seq(("Ã", "©"), ("c", "a"))) == 3)
    // an astral symbol is 4 UTF-8 bytes -> 4 seed tokens
    val clef = new String(Character.toChars(0x1D11E)) // 2 Java chars
    assert(count(s"x${clef}y", Nil) == 6)
    // a merges table that re-joins the clef's first byte pair
    val b = clef.getBytes("UTF-8").map(x => BpeCodec.byteSymbols(x & 0xFF))
    assert(count(s"x${clef}y", Seq((b(0), b(1)))) == 5)
  }

  test("GPT-2 merges file format round-trips, headers skipped") {
    val content = "#version: 0.2\ne r\ner s\n\nt h\n"
    val parsed = BpeCodec.parseMerges(content)
    assert(parsed.toSeq == Seq(("e", "r"), ("er", "s"), ("t", "h")))
    assert(BpeCodec.parseMerges(
      BpeCodec.formatMerges(parsed.toSeq)).toSeq == parsed.toSeq)
    assert(TextAnalysis.bpeLoadMerges(content) == parsed.toSeq)
  }

  test("more merges never increase the token count; zero merges count " +
    "UTF-8 bytes") {
    val docs = graft.Tables(spark, TestSpark.sfDir, "documents").limit(60)
    val table = graft.SparkEntry.bpeCanonicalMerges
    val counts = (0 to table.length by 8).map { k =>
      docs.agg(sum(TextAnalysis.bpeTokenCountExact(col("text"), table.take(k))))
        .head().getLong(0)
    }
    assert(counts == counts.sorted.reverse, counts)
    // k=0: pre-tokens PARTITION the text (whitespace included), so every
    // UTF-8 byte is exactly one seed token
    val bytes = docs.agg(sum(expr("octet_length(text)"))).head().getLong(0)
    assert(counts.head == bytes)
    assert(counts.last < counts.head) // the table actually compresses
  }

  test("the embedded canonical table IS bpeTrain's output on the corpus " +
    "it claims (sf0.01 documents, 32 merges)") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val trained = TextAnalysis.bpeTrain(docs, "text", 32)
    assert(trained == graft.SparkEntry.bpeCanonicalMerges)
  }

  // the no-silent-caps rule: when maxWords binds, the caller is told the
  // dropped fraction; when it doesn't, training stays silent (and pays
  // no extra count job)
  test("bpeTrain warns with the truncated fraction when maxWords binds") {
    import spark.implicits._
    val docs = Seq.tabulate(12)(i => s"word$i unique$i").toDF("text")
    val warned = scala.collection.mutable.ArrayBuffer.empty[String]
    // >maxWords distinct pre-tokens: cap binds, warning carries the math
    TextAnalysis.bpeTrain(docs, "text", numMerges = 2, maxWords = 8,
      onWarn = warned += _)
    assert(warned.size == 1, warned)
    assert(warned.head.contains("top 8") &&
      warned.head.contains("distinct pre-tokens"), warned.head)
    // the corpus has 12*4 pre-tokens (leading-space variants): extract
    // the reported total and check the fraction is consistent
    val n = """of (\d+) distinct""".r.findFirstMatchIn(warned.head).get.group(1).toInt
    assert(n > 8)
    // cap not binding: silent
    warned.clear()
    TextAnalysis.bpeTrain(docs, "text", numMerges = 2, maxWords = 1 << 16,
      onWarn = warned += _)
    assert(warned.isEmpty, warned)
  }

  test("full encode: token sequences in order, size(tokens) == count, " +
    "byte-level symbols survive verbatim") {
    import spark.implicits._
    def toks(text: String, merges: Seq[(String, String)]): Seq[String] = {
      val cache = new java.util.HashMap[String, Array[String]]()
      BpeCodec.encodeTokens(text, BpeCodec.ranksOf(merges.toArray), cache).toSeq
    }
    val m = Seq(("l", "o"), ("lo", "w"), ("e", "r"))
    assert(toks("lower low xyz", m) ==
      Seq("low", "er", "Ġ", "low", "Ġ", "x", "y", "z"))
    assert(toks("", m).isEmpty)
    // byte-level: café's accent stays two byte symbols absent a merge
    assert(toks("café", Nil) == Seq("c", "a", "f", "Ã", "©"))
    // the expression agrees with the codec and with graft_bpe_count
    val table = graft.SparkEntry.bpeCanonicalMerges
    val docs = graft.Tables(spark, TestSpark.sfDir, "documents").limit(40)
    val rows = docs.select(
      TextAnalysis.bpeTokensExact(col("text"), table).as("ts"),
      TextAnalysis.bpeTokenCountExact(col("text"), table).as("n"),
      col("text")).collect()
    for (r <- rows) {
      assert(r.getSeq[String](0).size.toLong == r.getLong(1))
      val cache = new java.util.HashMap[String, Array[String]]()
      assert(r.getSeq[String](0) == BpeCodec.encodeTokens(r.getString(2),
        BpeCodec.ranksOf(table.toArray), cache).toSeq)
    }
  }

  test("encoder.json vocab: parse/format round-trip incl. \\u escapes " +
    "and whitespace; ids map in order, unknown -> -1; the canonical " +
    "vocab closes over the trainer's merges") {
    import spark.implicits._
    val vocab = Seq("low" -> 300, "er" -> 301, "\u0120" -> 32, "a\"b\\c" -> 5)
    val parsed = BpeCodec.parseVocabJson(BpeCodec.formatVocabJson(vocab))
    assert(vocab.forall { case (t, id) => parsed.get(t) == Int.box(id) })
    // real-file shapes: \uXXXX escapes, whitespace, negative numbers
    val real = "{\n  \"\\u0120the\": 262 , \"x\": 87, \"neg\": -3\n}"
    assert(BpeCodec.parseVocabJson(real).get("\u0120the") == Int.box(262))
    assert(BpeCodec.parseVocabJson(real).get("neg") == Int.box(-3))
    assert(BpeCodec.parseVocabJson("{}").isEmpty)
    intercept[IllegalArgumentException](BpeCodec.parseVocabJson("{\"a\" 1}"))
    intercept[IllegalArgumentException](BpeCodec.parseVocabJson("[1,2]"))
    // the expression maps tokens positionally; unvocabed tokens read -1
    // (the glue-space Ġ tokens are deliberately left out of this vocab)
    val m = Seq(("l", "o"), ("lo", "w"), ("e", "r"))
    val ids = Seq("lower low zz").toDF("t").select(
      TextAnalysis.bpeIdsExact(col("t"), m,
        Seq("low" -> 7, "er" -> 8, "z" -> 9))).head().getSeq[Int](0)
    assert(ids == Seq(7, 8, -1, 7, -1, 9, 9))
    // canonicalVocab(merges) covers every token the merges can emit:
    // zero unknowns across the corpus
    val table = graft.SparkEntry.bpeCanonicalMerges
    val docs = graft.Tables(spark, TestSpark.sfDir, "documents").limit(40)
    val unk = docs.select(explode(TextAnalysis.bpeIdsExact(col("text"),
        table, BpeCodec.canonicalVocab(table))).as("id"))
      .filter(col("id") === -1).count()
    assert(unk == 0)
  }

  test("encoder.json vocab: non-integer ids and trailing input are refused") {
    for (bad <- Seq("{\"a\": 1.5}", "{\"a\": 2.0}", "{\"a\": 1e2}", "{\"a\": \"7\"}",
                    "{\"a\": 3000000000}", "{\"a\": null}", "{\"a\": 1} {}", ""))
      intercept[IllegalArgumentException](BpeCodec.parseVocabJson(bad))
  }

  test("expression == codec on fixture text (cache on and off paths)") {
    val docs = graft.Tables(spark, TestSpark.sfDir, "documents").limit(40)
    val table = graft.SparkEntry.bpeCanonicalMerges
    val viaExpr = docs
      .select(col("doc_id"),
        TextAnalysis.bpeTokenCountExact(col("text"), table).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ranks = BpeCodec.ranksOf(table.toArray)
    val viaCodec = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> BpeCodec.countTokens(r.getString(1), ranks,
        new java.util.HashMap[String, Integer]())).toMap
    assert(viaExpr == viaCodec)
  }
}
