package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.expressions.Media
import graft.expressions.Media.Raster

/** JPEG through [[Media]]: the exact mode (all-ones quant over 8x8
  * block-constant mosaics) round-trips bit-exactly through REAL Huffman
  * entropy coding, restart intervals included; the lossy mode really
  * quantizes; structural damage is rejected with None; and the
  * pixel-real multimodal pipeline over the fixture corpus matches the
  * formula. */
class JpegCodecSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Block-constant mosaic: block (bx, by) holds (seed + by*bw + bx) % 256. */
  private def mosaic(w: Int, h: Int, nc: Int, seed: Int): Raster = {
    val bw = (w + 7) / 8
    val px = new Array[Byte](w * h * nc)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until nc)
      px((y * w + x) * nc + c) = ((seed + (y / 8) * bw + (x / 8)) % 256).toByte
    Raster(w, h, nc, px)
  }

  /** Genuinely smooth gradient — NO mod-256 wrap, so the only encoder
    * error is quantization, not ringing at artificial step edges. */
  private def gradient(w: Int, h: Int, nc: Int): Raster = {
    val px = new Array[Byte](w * h * nc)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until nc)
      px((y * w + x) * nc + c) =
        math.min(x * 160 / math.max(w - 1, 1) + y * 3 + c * 5, 255).toByte
    Raster(w, h, nc, px)
  }

  test("exact mode round-trips bit-exactly: gray + RGB, ragged dims, restarts") {
    for ((w, h, nc, ri) <- Seq((24, 16, 1, 0), (21, 13, 1, 2), (8, 8, 3, 0),
                               (19, 10, 3, 3), (4, 4, 3, 1), (33, 7, 1, 4))) {
      val r = mosaic(w, h, nc, w * 7 + h * 3 + nc)
      val jpeg = Media.encodeJpeg(r, q = 0, restartInterval = ri)
      assert(jpeg.sliding(2).exists(p => (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xDD) ==
        (ri > 0), s"DRI marker presence for ${(w, h, nc, ri)}")
      val dec = Media.decodeJpeg(jpeg)
      assert(dec.isDefined, s"decode failed for ${(w, h, nc, ri)}")
      val g = dec.get
      assert((g.width, g.height, g.channels) == (w, h, nc))
      assert(g.pixels.sameElements(r.pixels), s"pixel diff for ${(w, h, nc, ri)}")
    }
  }

  test("single-component scans are non-interleaved (T.81 A.2): a gray " +
    "JPEG whose SOF declares 2x2 sampling decodes identically to 1x1") {
    // grayscale transcodes often keep the 0x22 luma sampling byte from
    // a 4:2:0 source; the scan layout is the same either way (MCU = one
    // data unit for Ns = 1), so the declared factors must be ignored
    val r = mosaic(24, 16, 1, 5)
    val jpeg = Media.encodeJpeg(r, q = 0)
    val sof = jpeg.indexOfSlice(Array(0xFF.toByte, 0xC0.toByte))
    assert(sof > 0)
    assert(jpeg(sof + 11) == 0x11.toByte) // encoder writes 1x1
    val patched = jpeg.clone()
    patched(sof + 11) = 0x22.toByte
    val dec = Media.decodeJpeg(patched)
    assert(dec.isDefined, "2x2-sampled single-component scan must decode")
    assert(dec.get.pixels.sameElements(r.pixels))
  }

  test("lossy mode is a REAL encoder: ImageIO decodes a q=8 gradient " +
    "close to the source (not exact, not garbage)") {
    val r = gradient(32, 24, 1)
    val dec = Media.decodeJpeg(Media.encodeJpeg(r, q = 8))
    assert(dec.isDefined)
    var sumAbs = 0L
    for (i <- 0 until 32 * 24) {
      val d = math.abs((dec.get.pixels(i) & 0xFF) - (r.pixels(i) & 0xFF))
      assert(d <= 32, s"pixel $i off by $d")
      sumAbs += d
    }
    assert(sumAbs.toDouble / (32 * 24) <= 6.0, s"mean err ${sumAbs / 768.0}")
    assert(!dec.get.pixels.sameElements(r.pixels), "q=8 must actually quantize")
  }

  test("truncated and garbage streams decode to None, never a throw") {
    val good = Media.encodeJpeg(mosaic(16, 8, 1, 3), q = 0)
    // the JDK reader returns a cut stream as an image plus warnings
    assert(Media.decodeJpeg(java.util.Arrays.copyOf(good, good.length - 4)).isEmpty)
    assert(Media.decodeJpeg(good.take(good.length / 2)).isEmpty)
    assert(Media.decodeJpeg(good.take(30)).isEmpty)
    assert(Media.decodeJpeg("not a jpeg at all, sorry".getBytes).isEmpty)
    assert(Media.decodeJpeg(Array.emptyByteArray).isEmpty)
    assert(Media.decodeJpeg(null).isEmpty)
  }

  test("the pixel pipeline decodes what the fixture builder encoded — " +
    "dims, channels AND raster bytes match the mosaic formula") {
    val docs = graft.Tables(spark, TestSpark.sfDir, "documents").limit(40)
    val rows = Multimodal.decodePixels(
      Multimodal.syntheticJpegAssets(docs)).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val id = r.getLong(0)
      val w = (id % 21 + 4).toInt; val h = (id % 17 + 4).toInt
      val nc = if (id % 2 == 1) 3 else 1
      assert((r.getInt(1), r.getInt(2), r.getInt(3)) == (w, h, nc), s"asset $id")
      val bw = (w + 7) / 8
      val hex = Array.tabulate(w * h) { i =>
        val v = ((id * 29 + (i / w / 8) * bw + (i % w / 8)) % 256).toInt
        f"$v%02x" * nc
      }.mkString
      val expect = java.security.MessageDigest.getInstance("MD5")
        .digest(hex.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getString(4) == expect, s"pixel hash mismatch asset $id")
    }
  }

  test("non-JPEG payloads flow through the pixel path as null-feature rows") {
    val docs = graft.Tables(spark, TestSpark.sfDir, "documents").limit(10)
    val out = Multimodal.decodePixels(Multimodal.syntheticAudioAssets(docs))
    assert(out.filter(col("pix_hash").isNotNull).isEmpty)
    assert(out.count() == 10)
  }
}
