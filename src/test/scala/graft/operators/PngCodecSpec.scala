package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.expressions.Media
import graft.expressions.Media.Raster

/** PNG through [[Media]]: encode/decode round trips for every channel
  * count, decoding of all five scanline filters, rejection of everything
  * outside the supported subset, Adam7 interlacing, nearest-neighbor
  * resampling, and the pixel-real multimodal pipeline over it. */
class PngCodecSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def gray(w: Int, h: Int, seed: Int): Raster =
    Raster(w, h, 1, Array.tabulate(w * h)(i => ((seed * 31 + i * 7) % 256).toByte))

  private def rgb(w: Int, h: Int, ch: Int, seed: Int): Raster =
    Raster(w, h, ch, Array.tabulate(w * h * ch)(i => ((seed * 17 + i * 3) % 256).toByte))

  /** `r` as a PNG whose every row uses scanline filter `ft` (PNG spec
    * §6: None, Sub, Up, Average, Paeth) — built here, since the JDK
    * writer only ever writes filter 0, while files in the wild use all
    * five. */
  private def filteredPng(r: Raster, ft: Int): Array[Byte] = {
    val (bpp, stride) = (r.channels, r.width * r.channels)
    def at(x: Int, y: Int): Int =
      if (x < 0 || y < 0) 0 else r.pixels(y * stride + x) & 0xFF
    val rows = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.DeflaterOutputStream(rows)
    for (y <- 0 until r.height) {
      z.write(ft)
      for (x <- 0 until stride) {
        val (a, b, c) = (at(x - bpp, y), at(x, y - 1), at(x - bpp, y - 1))
        val (pa, pb, pc) = (math.abs(b - c), math.abs(a - c), math.abs(a + b - 2 * c))
        z.write(at(x, y) - (ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case _ => if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }))
      }
    }
    z.close()
    // keep the JDK file's signature + IHDR, then one IDAT and IEND
    val png = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(png)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      out.writeInt(data.length); out.writeBytes(typ); out.write(data)
      out.writeInt(crc.getValue.toInt)
    }
    out.write(Media.encodePng(r), 0, 33)
    chunk("IDAT", rows.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    png.toByteArray
  }

  test("encode -> decode round-trips bit-exactly for every filter type, " +
    "gray / RGB / RGBA") {
    for (ft <- 0 to 4; chans <- Seq(1, 3, 4)) {
      val r = rgb(9, 7, chans, ft + chans)
      assert(Media.decodePng(Media.encodePng(r)).exists(_.pixels.sameElements(r.pixels)))
      val decoded = Media.decodePng(filteredPng(r, ft))
      assert(decoded.isDefined, s"filter $ft chans $chans failed to decode")
      val d = decoded.get
      assert((d.width, d.height, d.channels) == (9, 7, chans))
      assert(d.pixels.sameElements(r.pixels), s"filter $ft chans $chans pixel diff")
    }
  }

  test("1x1 and single-row/column images survive all filters") {
    for (ft <- 0 to 4; (w, h) <- Seq((1, 1), (6, 1), (1, 6))) {
      val r = gray(w, h, ft)
      assert(Media.decodePng(Media.encodePng(r)).get.pixels.sameElements(r.pixels))
      assert(Media.decodePng(filteredPng(r, ft)).get.pixels.sameElements(r.pixels))
    }
  }

  test("decode rejects truncated, corrupt and unsupported payloads " +
    "with None, never garbage or a throw") {
    val good = Media.encodePng(gray(8, 8, 1))
    assert(Media.decodePng(good.take(30)).isEmpty) // cut mid-IDAT
    assert(Media.decodePng(good.take(good.length / 2)).isEmpty)
    assert(Media.decodePng("not a png".getBytes).isEmpty)
    assert(Media.decodePng(Array.emptyByteArray).isEmpty)
    assert(Media.decodePng(null).isEmpty)
    val bitDepth16 = good.clone(); bitDepth16(24) = 16 // IHDR bit-depth byte
    assert(Media.decodePng(bitDepth16).isEmpty)
    val interlaced = good.clone(); interlaced(28) = 1 // IHDR interlace byte
    assert(Media.decodePng(interlaced).isEmpty)
    val idatTag = good.indexOfSlice("IDAT".getBytes)
    assert(idatTag > 0)
    val junkIdat = good.clone()
    junkIdat(idatTag + 4) = 0x55; junkIdat(idatTag + 5) = 0x55 // corrupt the zlib stream
    assert(Media.decodePng(junkIdat).isEmpty)
    // FDICT zlib header (0x78BB: valid FCHECK, preset-dictionary bit
    // set): an Inflater returns 0 with needsInput()==false forever — must
    // yield None, not a spin (the hostile-header contract)
    val fdict = good.clone()
    fdict(idatTag + 4) = 0x78.toByte
    fdict(idatTag + 5) = 0xBB.toByte
    assert(Media.decodePng(fdict).isEmpty)
    // palette (color type 3) decodes to indices, not samples: None
    val bi = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "png", bos))
    assert(Media.decodePng(bos.toByteArray).isEmpty)
  }

  test("an Adam7-interlaced PNG decodes to the pixels it was written from") {
    val r = rgb(13, 11, 3, 5)
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    val par = wr.getDefaultWriteParam
    par.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    wr.setOutput(out)
    val bi = new java.awt.image.BufferedImage(13, 11,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    bi.getRaster.setDataElements(0, 0, 13, 11, r.pixels)
    wr.write(null, new javax.imageio.IIOImage(bi, null, null), par)
    out.close(); wr.dispose()
    val png = bos.toByteArray
    assert(png(28) == 1, "fixture is not interlaced") // IHDR interlace byte
    val d = Media.decodePng(png)
    assert(d.isDefined && d.get.channels == 3 && d.get.pixels.sameElements(r.pixels))
  }

  test("nearest-neighbor resample: identity at same size, exact index " +
    "rule when downscaling") {
    val r = gray(8, 4, 3)
    assert(Media.resampleNearest(r, 8, 4).pixels.sameElements(r.pixels))
    val half = Media.resampleNearest(r, 4, 2)
    for (y <- 0 until 2; x <- 0 until 4)
      assert(half.pixels(y * 4 + x) == r.pixels((y * 4 / 2) * 8 + (x * 8 / 4)))
  }

  test("the pixel pipeline decodes what the fixture builder encoded — " +
    "dims AND resampled bytes match the formula") {
    val docs = graft.Tables(spark, TestSpark.sfDir, "documents").limit(50)
    val got = Multimodal.resamplePixels(
        Multimodal.syntheticPixelAssets(docs), 8, 6)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getString(5))).toMap
    assert(got.nonEmpty)
    for ((id, (w, h, ow, oh, hash)) <- got) {
      assert(w == (id % 13 + 4).toInt && h == (id % 11 + 4).toInt)
      val scale = math.min(1.0, math.min(8.0 / w, 6.0 / h))
      assert(ow == math.max(math.floor(w * scale).toInt, 1))
      assert(oh == math.max(math.floor(h * scale).toInt, 1))
      val px = Array.tabulate(ow * oh) { i =>
        val y = i / ow; val x = i % ow
        ((id * 31 + (y * h / oh) * w + (x * w / ow)) % 256).toByte
      }
      val hex = px.map(b => f"${b & 0xFF}%02x").mkString
      val expect = java.security.MessageDigest.getInstance("MD5")
        .digest(hex.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(hash == expect, s"pixel hash mismatch for asset $id")
    }
  }

  test("non-PNG payloads flow through the pixel path as nulls") {
    val docs = graft.Tables(spark, TestSpark.sfDir, "documents").limit(10)
    val jpegish = Multimodal.syntheticAssets(docs)
      .filter(col("modality") === "image/jpeg")
    val out = Multimodal.resamplePixels(jpegish, 8, 6)
    assert(out.filter(col("out_hash").isNotNull).isEmpty)
    assert(out.count() > 0)
  }
}
