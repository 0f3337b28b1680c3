package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.expressions.Media

/** Perceptual image dHash: the 9x8 gradient-sign contract, brightness
  * invariance (the property that makes it a PERCEPTUAL hash), codec
  * routing by magic bytes, the 3-channel integer-luma path, and the
  * banded near-dup join's total-recall claim checked against the
  * quadratic brute-force scan it must equal. */
class DHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def pngOf(w: Int, h: Int, px: Array[Byte],
                    channels: Int = 1): Array[Byte] =
    Media.encodePng(Media.Raster(w, h, channels, px))

  private def hashOf(payloads: Seq[(Long, Array[Byte])]): Map[Long, Option[Long]] =
    Multimodal.imageDHash(payloads.toDF("asset_id", "payload"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap

  test("constant image hashes to 0 (no strict gradient anywhere); a " +
    "strictly increasing 9-wide row sets every bit (-1L)") {
    val flat = pngOf(9, 8, Array.fill(72)(100.toByte))
    // 9x8 identity resample; every adjacent pair strictly increasing
    val ramp = pngOf(9, 8, Array.tabulate(72)(i => ((i % 9) * 10).toByte))
    val h = hashOf(Seq((1L, flat), (2L, ramp)))
    assert(h(1L).contains(0L))
    assert(h(2L).contains(-1L))
  }

  test("brightness shift leaves the hash unchanged — gradient SIGNS, " +
    "not values, are the sketch") {
    val base = Array.tabulate(72)(i => ((i % 9) * 7 + i / 9).toByte)
    val brighter = base.map(b => ((b & 0xFF) + 60).toByte) // no wrap: max 56+60
    val h = hashOf(Seq((1L, pngOf(9, 8, base)), (2L, pngOf(9, 8, brighter))))
    assert(h(1L) == h(2L) && h(1L).nonEmpty)
  }

  test("equal-RGB 3-channel luma equals the 1-channel hash; resample " +
    "handles non-grid dims; JPEG routes through its codec; junk is null") {
    val gray = Array.tabulate(11 * 13)(i => ((i * 5) % 256).toByte)
    val rgb = gray.flatMap(b => Array(b, b, b))
    // JPEG: 8x8 block-constant mosaic round-trips exactly (q89 fixture
    // contract), so its pixel content is fully known to the hash
    val jw = 20; val jh = 12
    val jpx = Array.tabulate(jw * jh) { i =>
      val bx = (i % jw) / 8; val by = (i / jw) / 8
      ((by * 3 + bx) * 40 % 256).toByte
    }
    val h = hashOf(Seq(
      (1L, pngOf(11, 13, gray)),
      (2L, pngOf(11, 13, rgb, channels = 3)),
      (3L, Media.encodeJpeg(Media.Raster(jw, jh, 1, jpx), q = 0)),
      (4L, "not an image".getBytes("UTF-8")),
      (5L, null)))
    assert(h(1L) == h(2L) && h(1L).nonEmpty,
      "integer luma of equal RGB must equal the gray value")
    assert(h(3L).nonEmpty, "JPEG payload must route through the JPEG decoder")
    assert(h(4L).isEmpty && h(5L).isEmpty)
  }

  test("banded near-dup join equals the brute-force quadratic scan " +
    "(pigeonhole exactness at maxHamming < bands)") {
    // corpus with engineered near-dups: 40 base gradients, each with a
    // twin whose single flipped cell flips a handful of dHash bits
    val assets = (0 until 40).flatMap { k =>
      val w = k % 5 + 6; val h = k % 3 + 6
      val base = Array.tabulate(w * h)(i => ((k * 31 + i * 3) % 256).toByte)
      val twin = base.clone()
      twin(k % base.length) = ((twin(k % base.length) & 0xFF) ^ 0x80).toByte
      Seq((k.toLong, pngOf(w, h, base)), (k + 100L, pngOf(w, h, twin)))
    }
    val df = assets.toDF("asset_id", "payload")
    // getLong on a null dhash would silently read 0 and corrupt the
    // brute-force truth set — a fixture PNG failing to decode must fail
    // the test loudly instead
    val hashes = Multimodal.imageDHash(df).collect()
      .map { r =>
        assert(!r.isNullAt(1), s"fixture PNG ${r.getLong(0)} failed to decode")
        r.getLong(0) -> r.getLong(1)
      }.toMap
    assert(hashes.size == assets.size, "every fixture asset must hash")
    for (maxHam <- Seq(0, 2, 3)) {
      val brute = (for {
        (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
        d = java.lang.Long.bitCount(ha ^ hb) if d <= maxHam
      } yield (ia, ib, d.toLong)).toSet
      val banded = Multimodal.dhashNearDups(df, maxHamming = maxHam, bands = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(banded == brute, s"maxHamming=$maxHam: banded join must " +
        s"equal brute force (${banded.size} vs ${brute.size})")
      if (maxHam >= 2) assert(brute.nonEmpty, "fixture must exercise pairs")
    }
    intercept[IllegalArgumentException](
      Multimodal.dhashNearDups(df, maxHamming = 4, bands = 4))
    intercept[IllegalArgumentException](
      Multimodal.dhashNearDups(df, maxHamming = 1, bands = 7))
  }
}
