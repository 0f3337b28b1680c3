package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** URL/domain curation (host extraction, dot-suffix blocklist semantics,
  * inline-literal path ≡ broadcast-join path) and magic-byte modality
  * sniffing over real encoder output. */
class DomainSniffSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("canonicalUrl: the declared contract on hand-built fetch variants; " +
    "idempotent") {
    val rows = Seq(
      // fragment + default port + authority case; path case preserved
      "HTTP://WWW.Ex.COM:80/A/B?x=1#f" -> "http://www.ex.com/A/B?x=1",
      "https://H:443/" -> "https://h",
      // non-default ports survive
      "https://h:8443/p/" -> "https://h:8443/p",
      "http://h:8080/" -> "http://h:8080",
      // utm at tail / head / interleaved / only / triple-run
      "https://h/p?utm_a=1" -> "https://h/p",
      "https://h/p?utm_a=1&b=2" -> "https://h/p?b=2",
      "https://h/p?a=1&utm_b=2&c=3&utm_d=4" -> "https://h/p?a=1&c=3",
      "https://h/p?utm_a=1&utm_b=2&utm_c=3" -> "https://h/p",
      "https://h/p?utm_a&utm_b&utm_c&x=1" -> "https://h/p?x=1",
      // non-utm params and their order are untouched
      "https://h/p?zz=1&aa=2" -> "https://h/p?zz=1&aa=2",
      // other schemes fold too; trailing multi-slash collapses
      "FTP://Host/p" -> "ftp://host/p",
      "https://h/p///" -> "https://h/p",
      // non-URLs: best-effort passes only
      "no scheme here/" -> "no scheme here",
      "plain#frag" -> "plain")
    val got = rows.map(_._1).toDF("url")
      .select(col("url"), TextAnalysis.canonicalUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    for ((in, want) <- rows) assert(got(in) == want, s"in=$in")
    // idempotence: canonical form is a fixpoint
    val twice = rows.map(_._2).toDF("url")
      .select(col("url"), TextAnalysis.canonicalUrl(col("url")).as("c"))
      .collect()
    for (r <- twice) assert(r.getString(1) == r.getString(0), r.getString(0))
  }

  test("urlHost: ports/paths/queries stripped, case folded, junk is null") {
    val rows = Seq(
      "https://WWW.Example.COM/path?q=1"     -> "www.example.com",
      "http://a.b.c:8080/x"                  -> "a.b.c",
      "ftp://files.example.org"              -> "files.example.org",
      "git+ssh://host.name/repo"             -> "host.name",
      "no scheme here"                       -> null,
      "/relative/path"                       -> null,
      ""                                     -> null)
    val got = rows.map(_._1).toDF("url")
      .select(TextAnalysis.urlHost(col("url"))).as[String].collect()
    assert(got.toSeq == rows.map(_._2))
  }

  test("hostSuffixes walks every dot-suffix, most-specific first") {
    val got = Seq("a.b.example.com").toDF("h")
      .select(TextAnalysis.hostSuffixes(col("h"))).as[Seq[String]].head()
    assert(got == Seq("a.b.example.com", "b.example.com", "example.com", "com"))
    val bare = Seq("localhost").toDF("h")
      .select(TextAnalysis.hostSuffixes(col("h"))).as[Seq[String]].head()
    assert(bare == Seq("localhost"))
  }

  test("blocklist gate: suffix semantics, not substring — and unparseable " +
    "URLs are kept (the list expresses known-bad, not known-good)") {
    val docs = Seq(
      (1L, "https://spamfarm.biz/x"),            // exact block
      (2L, "https://a.b.spamfarm.biz/x"),        // subdomain block
      (3L, "https://notspamfarm.biz/x"),         // substring trap: KEEP
      (4L, "https://spamfarm.biz.evil.net/x"),   // suffix trap: KEEP
      (5L, "https://SPAMFARM.BIZ/x"),            // case-folded block
      (6L, "garbage"),                           // unparseable: KEEP
      (7L, null.asInstanceOf[String]))           // null url: KEEP
      .toDF("id", "url")
    val kept = TextAnalysis.domainBlocklistFilter(docs, "url", Seq("spamfarm.biz"))
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(3L, 4L, 6L, 7L))
  }

  test("inline-literal path and broadcast-join path agree on a random corpus") {
    val bases = Seq("example.com", "spamfarm.biz", "notexample.com",
      "docs.site.io", "blog.example.com", "x.example.com.evil.net")
    val subs = Seq("", "www.", "cdn.a.b.")
    val docs = (0L until 300L).map(i =>
      (i, s"https://${subs((i % 3).toInt)}${bases((i % 6).toInt)}/p/$i"))
      .toDF("id", "url")
    val blocked = Seq("spamfarm.biz", "example.com")
    val inline = TextAnalysis.domainBlocklistFilter(docs, "url", blocked)
      .select("id").as[Long].collect().sorted.toSeq
    val joined = TextAnalysis.domainBlocklistFilterWith(docs, "id", "url",
        blocked.toDF("domain"))
      .select("id").as[Long].collect().sorted.toSeq
    assert(inline == joined)
    assert(inline.nonEmpty && inline.size < 300) // both regimes exercised
  }

  test("sniffModality trusts bytes, never the declared type: real encoder " +
    "output sniffs right; truncated/alien payloads fall to octet-stream") {
    val png = graft.expressions.Media.encodePng(
      graft.expressions.Media.Raster(4, 3, 1, Array.fill(12)(7.toByte)))
    val gif = graft.expressions.Media.encodeGif(3, 2,
      Array.tabulate(768)(i => (i / 3).toByte), Seq((0, Array.fill(6)(1.toByte))))
    val jpg = graft.expressions.Media.encodeJpeg(
      graft.expressions.Media.Raster(8, 8, 1, Array.fill(64)(9.toByte)), 0)
    val wav = graft.expressions.Media.encodeWav(
      graft.expressions.Media.Clip(8000, 1, Array.fill(10)(3.toShort)))
    val riffNotWave = "RIFF1234AVI LIST".getBytes("US-ASCII")
    val rows = Seq(
      (1L, png, "image/png"), (2L, gif, "image/gif"), (3L, jpg, "image/jpeg"),
      (4L, wav, "audio/wav"), (5L, riffNotWave, "application/octet-stream"),
      (6L, png.take(4), "application/octet-stream"), // truncated signature
      (7L, Array.emptyByteArray, "application/octet-stream"),
      (8L, null.asInstanceOf[Array[Byte]], null))
    val got = rows.map(r => (r._1, r._2)).toDF("id", "payload")
      .select(col("id"), Multimodal.sniffModality(col("payload")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, _, want) <- rows)
      assert(got(id) == want, s"row $id sniffed ${got(id)}, want $want")
  }

  test("the mixed-media fixture pipeline sniffs every row to its routed codec") {
    val docs = graft.Tables(spark, TestSpark.sfDir, "documents").limit(50)
    val out = Multimodal.syntheticMixedAssets(docs)
      .select(col("asset_id"), col("modality"),
        Multimodal.sniffModality(col("payload")).as("sniffed"))
      .collect()
    assert(out.nonEmpty)
    val want = Seq("image/png", "image/gif", "audio/wav", "image/jpeg",
      "application/octet-stream")
    for (r <- out) {
      assert(r.getString(1) == "application/x-unknown") // the declared lie
      assert(r.getString(2) == want((r.getLong(0) % 5).toInt), s"asset ${r.getLong(0)}")
    }
  }
}
