package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.expressions.Media
import graft.expressions.Media.Clip

/** WAV/PCM through [[Media]]: byte-exact round trips, spec-compliant
  * chunk walking (unknown chunks skipped, word alignment), rejection of
  * non-PCM and short payloads, and the sample-real audio feature
  * pipeline. */
class WavCodecSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def clip(n: Int, ch: Int, rate: Int, seed: Int): Clip =
    Clip(rate, ch, Array.tabulate(n * ch)(i => ((seed * 7 + i * 13) % 65536 - 32768).toShort))

  test("encode -> decode round-trips samples bit-exactly, mono and stereo") {
    for (ch <- Seq(1, 2); rate <- Seq(8000, 44100)) {
      val c = clip(137, ch, rate, ch + rate)
      val d = Media.decodeWav(Media.encodeWav(c))
      assert(d.isDefined)
      assert(d.get.sampleRate == rate && d.get.channels == ch)
      assert(d.get.samples.sameElements(c.samples))
    }
  }

  test("unknown chunks between fmt and data are skipped, including " +
    "odd-sized ones (word alignment)") {
    val c = clip(25, 1, 8000, 3)
    val plain = Media.encodeWav(c)
    // splice a LIST chunk with an ODD payload size (pad byte required)
    val listPayload = "INFOx".getBytes // 5 bytes, odd
    val ins = new java.io.ByteArrayOutputStream()
    ins.write(plain, 0, 12) // RIFF header
    ins.write("LIST".getBytes)
    ins.write(Array[Byte](5, 0, 0, 0))
    ins.write(listPayload); ins.write(0) // pad to word boundary
    ins.write(plain, 12, plain.length - 12)
    val d = Media.decodeWav(ins.toByteArray)
    assert(d.isDefined && d.get.samples.sameElements(c.samples))
  }

  test("non-PCM, truncated and junk payloads decode to None") {
    val good = Media.encodeWav(clip(40, 1, 8000, 1))
    assert(Media.decodeWav(good.take(30)).isEmpty)
    assert(Media.decodeWav(good.take(good.length - 10)).isEmpty) // cut mid-data
    assert(Media.decodeWav("RIFFnonsense".getBytes).isEmpty)
    assert(Media.decodeWav(null).isEmpty)
    assert(Media.decodeWav(Array.emptyByteArray).isEmpty)
    val floatFmt = good.clone(); floatFmt(20) = 3 // format tag 3 = IEEE float
    assert(Media.decodeWav(floatFmt).isEmpty)
    val bits8 = good.clone(); bits8(34) = 8
    assert(Media.decodeWav(bits8).isEmpty)
  }

  test("audio feature pipeline recovers the fixture formula through " +
    "real RIFF bytes") {
    val docs = graft.Tables(spark, TestSpark.sfDir, "documents").limit(40)
    val got = Multimodal.audioFeatures(Multimodal.syntheticAudioAssets(docs))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got.nonEmpty)
    for ((id, (rate, ch, n, ms, sumSq)) <- got) {
      assert(rate == 8000 + (id % 3).toInt * 4000)
      assert(ch == (id % 2 + 1).toInt)
      assert(n == id % 500 + 100)
      assert(ms == n * 1000 / rate)
      val expect = (0 until (n * ch).toInt).map { i =>
        val s = (id * 7 + i.toLong * 13) % 65536 - 32768
        s * s
      }.sum
      assert(sumSq == expect, s"sum_sq mismatch for asset $id")
    }
  }

  test("text payloads flow through the audio path as nulls") {
    val docs = graft.Tables(spark, TestSpark.sfDir, "documents").limit(10)
    val out = Multimodal.audioFeatures(Multimodal.fromDocuments(docs))
    assert(out.filter(col("sum_sq").isNotNull).isEmpty)
    assert(out.count() > 0)
  }
}
