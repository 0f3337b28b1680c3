package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.expressions.Media

/** GIF through [[Media]]: LZW round trips through real compressed
  * streams (including the KwKwK and dictionary-overflow edge paths),
  * multi-frame compositing with disposal methods and transparency on
  * hand-built containers, rejection of structural damage (cut files,
  * short LZW data, interlacing), the total-output cap, and the
  * frame-real multimodal pipeline over it. */
class GifCodecSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val grayPal = Array.tabulate(768)(i => (i / 3).toByte)

  /** A valid 8-bit-root LZW stream that spells `px` literally: CLEAR,
    * one 9-bit code per index, EOI. Codes stay 9 bits wide while the
    * decoder's table holds < 512 entries, i.e. for up to 253 indices. */
  private def literalLzw(px: Array[Byte]): Array[Byte] = {
    require(px.length <= 253)
    val out = new java.io.ByteArrayOutputStream()
    var buf = 0L; var cnt = 0
    for (code <- 256 +: px.map(_ & 0xFF) :+ 257) {
      buf |= code.toLong << cnt; cnt += 9
      while (cnt >= 8) { out.write((buf & 0xFF).toInt); buf >>>= 8; cnt -= 8 }
    }
    if (cnt > 0) out.write((buf & 0xFF).toInt)
    out.toByteArray
  }

  private def frame(w: Int, h: Int, seed: Int): Array[Byte] =
    Array.tabulate(w * h)(i => ((seed * 31 + i * 7) % 256).toByte)

  test("encode -> decode round-trips frames bit-exactly (gray palette)") {
    val frames = (0 until 3).map(f => (f * 10, frame(11, 7, f)))
    val gif = Media.encodeGif(11, 7, grayPal, frames)
    val dec = Media.decodeGif(gif)
    assert(dec.isDefined)
    val g = dec.get
    assert((g.width, g.height, g.frames.size) == (11, 7, 3))
    for (f <- 0 until 3) {
      assert(g.frames(f).delayCs == f * 10)
      val want = frames(f)._2.flatMap(b => Seq(b, b, b))
      assert(g.frames(f).pixels.sameElements(want), s"frame $f pixel diff")
    }
  }

  test("LZW survives highly repetitive data (KwKwK path) and " +
    "dictionary overflow (> 4096 entries, CLEAR mid-stream)") {
    // repetitive: constant + short-period rows drive the KwKwK case
    val rep = Array.fill(64 * 64)(7.toByte)
    val g1 = Media.decodeGif(Media.encodeGif(64, 64, grayPal, Seq((0, rep)))).get
    assert(g1.frames.head.pixels.sameElements(rep.flatMap(b => Seq(b, b, b))))
    // high-entropy: a multiplicative scramble overflows the 4096-entry
    // dictionary and forces the encoder's CLEAR/reset path
    val big = Array.tabulate(128 * 128)(i => ((i * 2654435761L >> 7) % 256).toByte)
    val g2 = Media.decodeGif(Media.encodeGif(128, 128, grayPal, Seq((0, big)))).get
    assert(g2.frames.head.pixels.sameElements(big.flatMap(b => Seq(b, b, b))))
  }

  test("partial frames composite onto the canvas; transparency keeps " +
    "the underlying pixel; disposal 2 restores background, 3 restores previous") {
    // hand-build: 4x2 canvas, frame 1 full, frame 2 a 2x1 patch at (1,0)
    // with one transparent pixel, using a hand-written container so the
    // decoder's compositing runs on blocks our encoder never emits
    val out = new java.io.ByteArrayOutputStream()
    def le16w(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16w(4); le16w(2)
    out.write(0xF7); out.write(0); out.write(0)
    out.write(grayPal, 0, 768)
    def imageBlock(left: Int, top: Int, w: Int, h: Int, px: Array[Byte],
                   disposal: Int, transparent: Int): Unit = {
      out.write(0x21); out.write(0xF9); out.write(4)
      out.write((disposal << 2) | (if (transparent >= 0) 1 else 0))
      le16w(0); out.write(math.max(transparent, 0)); out.write(0)
      out.write(0x2C); le16w(left); le16w(top); le16w(w); le16w(h); out.write(0)
      out.write(8)
      val lzw = literalLzw(px)
      var off = 0
      while (off < lzw.length) {
        val k = math.min(255, lzw.length - off)
        out.write(k); out.write(lzw, off, k); off += k
      }
      out.write(0)
    }
    val base = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80)
    imageBlock(0, 0, 4, 2, base, disposal = 0, transparent = -1)
    // patch: index 99 at (1,0), transparent index 5 at (2,0)
    imageBlock(1, 0, 2, 1, Array[Byte](99, 5), disposal = 2, transparent = 5)
    imageBlock(0, 0, 1, 1, Array[Byte](123), disposal = 3, transparent = -1)
    imageBlock(3, 1, 1, 1, Array[Byte](77), disposal = 0, transparent = -1)
    out.write(0x3B)
    val g = Media.decodeGif(out.toByteArray).get
    assert(g.frames.size == 4)
    def px(f: Int, x: Int, y: Int): Int = g.frames(f).pixels((y * 4 + x) * 3) & 0xFF
    def row(f: Int, y: Int): Seq[Int] = (0 until 4).map(px(f, _, y))
    // frame 1: the full-canvas base
    assert(row(0, 0) == Seq(10, 20, 30, 40) && row(0, 1) == Seq(50, 60, 70, 80))
    // frame 2: patch composited over frame 1 — (1,0) -> 99, the
    // TRANSPARENT (2,0) keeps the underlying 30, row 1 untouched
    assert(row(1, 0) == Seq(10, 99, 30, 40) && row(1, 1) == Seq(50, 60, 70, 80))
    // frame 2's disposal 2 then restores BACKGROUND (index 0) over the
    // patch rect (x=1..2, y=0), so frame 3's canvas shows 0 there while
    // its own 1x1 patch paints (0,0) -> 123
    assert(row(2, 0) == Seq(123, 0, 0, 40) && row(2, 1) == Seq(50, 60, 70, 80))
    // frame 3's disposal 3 restores the PRE-frame-3 canvas (123 gone),
    // then frame 4 paints (3,1) -> 77
    assert(row(3, 0) == Seq(10, 0, 0, 40) && row(3, 1) == Seq(50, 60, 70, 77))
  }

  test("decode rejects structural damage with None, never a throw") {
    val good = Media.encodeGif(6, 4, grayPal, Seq((0, frame(6, 4, 1))))
    assert(Media.decodeGif(good.take(40)).isEmpty) // cut mid-palette
    assert(Media.decodeGif("GIF89a but not really".getBytes).isEmpty)
    assert(Media.decodeGif(Array.emptyByteArray).isEmpty)
    assert(Media.decodeGif(null).isEmpty)
    val interlaced = good.clone()
    // image descriptor flags byte: 9 bytes into the first descriptor
    // after the header (13) and the global palette (768)
    interlaced(good.indexOf(0x2C.toByte, 13 + 768) + 9) = 0x40.toByte
    assert(Media.decodeGif(interlaced).isEmpty)
    val truncatedLzw = java.util.Arrays.copyOf(good, good.length - 6)
    assert(Media.decodeGif(truncatedLzw).isEmpty)
    // cut inside the LAST of two frames: the JDK reader would quietly
    // return the first frame alone
    val two = Media.encodeGif(6, 4, grayPal, Seq((0, frame(6, 4, 1)), (0, frame(6, 4, 2))))
    for (cut <- 2 to 12)
      assert(Media.decodeGif(java.util.Arrays.copyOf(two, two.length - cut)).isEmpty, s"cut $cut")
    // structurally whole, but the LZW data stops two pixels short: the
    // JDK reader would zero-fill the missing rows
    def single(px: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(good, 0, 13 + 768)
      out.write(Array[Byte](0x2C, 0, 0, 0, 0, 6, 0, 4, 0, 0, 8))
      val lzw = literalLzw(px)
      out.write(lzw.length); out.write(lzw); out.write(0); out.write(0x3B)
      out.toByteArray
    }
    assert(Media.decodeGif(single(frame(6, 4, 1))).isDefined)
    assert(Media.decodeGif(single(frame(6, 4, 1).take(22))).isEmpty)
  }

  test("total decoded output is bounded: a hostile GIF (big canvas x " +
    "many tiny frames) returns None instead of allocating multi-GB") {
    // 4096x4096 canvas = ~50 MB RGB per composited frame; the 2^28-byte
    // total-output cap admits 5 frames and must reject the 6th — long
    // before the multi-GB allocations a thousand-frame file would force
    // (OutOfMemoryError is an Error the codec's catch cannot absorb).
    val out = new java.io.ByteArrayOutputStream()
    def le16w(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16w(4096); le16w(4096)
    out.write(0xF7); out.write(0); out.write(0)
    out.write(grayPal, 0, 768)
    for (_ <- 0 until 6) { // six 1x1 frames: sixth crosses the cap
      out.write(0x2C); le16w(0); le16w(0); le16w(1); le16w(1); out.write(0)
      out.write(8)
      val lzw = literalLzw(Array[Byte](42))
      out.write(lzw.length); out.write(lzw, 0, lzw.length); out.write(0)
    }
    out.write(0x3B)
    val hostile = out.toByteArray
    assert(Media.decodeGif(hostile).isEmpty)
    // the same container with 5 frames sits exactly at the cap: decodes
    val ok = java.util.Arrays.copyOf(hostile, hostile.length)
    // rebuild with 5 frames instead of truncating blindly
    val out5 = new java.io.ByteArrayOutputStream()
    out5.write("GIF89a".getBytes("US-ASCII"))
    def le16w5(v: Int): Unit = { out5.write(v & 0xFF); out5.write((v >> 8) & 0xFF) }
    le16w5(4096); le16w5(4096)
    out5.write(0xF7); out5.write(0); out5.write(0)
    out5.write(grayPal, 0, 768)
    for (_ <- 0 until 5) {
      out5.write(0x2C); le16w5(0); le16w5(0); le16w5(1); le16w5(1); out5.write(0)
      out5.write(8)
      val lzw = literalLzw(Array[Byte](42))
      out5.write(lzw.length); out5.write(lzw, 0, lzw.length); out5.write(0)
    }
    out5.write(0x3B)
    val dec5 = Media.decodeGif(out5.toByteArray)
    assert(dec5.isDefined && dec5.get.frames.size == 5)
    assert(ok.length > out5.size()) // sanity: the hostile file was bigger
  }

  test("the frame pipeline decodes what the fixture builder encoded — " +
    "dims, sampled indices AND composited bytes match the formula") {
    val docs = graft.Tables(spark, TestSpark.sfDir, "documents").limit(40)
    val rows = Multimodal.decodeFrames(
        Multimodal.syntheticGifAssets(docs), 2).collect()
    assert(rows.nonEmpty)
    val byId = rows.groupBy(_.getLong(0))
    for ((id, rs) <- byId) {
      val w = (id % 9 + 3).toInt; val h = (id % 7 + 3).toInt
      val nf = (id % 4 + 2).toInt
      assert(rs.map(_.getInt(4)).sorted.toSeq == (0 until nf by 2))
      for (r <- rs) {
        assert((r.getInt(1), r.getInt(2), r.getInt(3)) == (w, h, nf))
        assert(r.getInt(5) == (id % 10).toInt * 4)
        val f = r.getInt(4)
        val hex = Array.tabulate(w * h) { i =>
          val v = ((id * 17 + f * 53 + i) % 256).toInt
          f"$v%02x" * 3
        }.mkString
        val expect = java.security.MessageDigest.getInstance("MD5")
          .digest(hex.getBytes("UTF-8")).map("%02x".format(_)).mkString
        assert(r.getString(6) == expect, s"frame hash mismatch asset $id frame $f")
      }
    }
  }

  test("non-GIF payloads flow through the frame path as null-feature rows") {
    val docs = graft.Tables(spark, TestSpark.sfDir, "documents").limit(10)
    val wavs = Multimodal.syntheticAudioAssets(docs)
    val out = Multimodal.decodeFrames(wavs, 2)
    assert(out.filter(col("frame_hash").isNotNull).isEmpty)
    assert(out.count() == 10)
  }
}
