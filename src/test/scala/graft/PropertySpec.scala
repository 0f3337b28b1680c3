package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.Media
import graft.expressions.Media.{Clip, Raster}
import graft.functions._

/** Algebraic properties from SURVEY §5.3, checked over scalacheck-
  * generated data (the scalatest-scalacheck bridge isn't in the offline
  * cache, so generators are sampled directly). */
class PropertySpec extends AnyFunSuite {
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val smallRows =
    Gen.listOfN(24, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(1, 4),
      Gen.choose(1.0, 100.0)))

  test("melt then pivot is the identity on (key, metric) frames") {
    for (rows <- samples(smallRows, 5)) {
      if (rows.nonEmpty) {
        val df = rows.zipWithIndex
          .map { case ((s, i, d), idx) => (idx.toLong, s, i.toDouble, d) }
          .toDF("id", "grp", "m1", "m2")
        val melted = df.unpivot(Array(col("id"), col("grp")),
          Array(col("m1"), col("m2")), "name", "value")
        val back = melted.groupBy("id", "grp").pivot("name", Seq("m1", "m2"))
          .agg(first(col("value")))
        assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
      }
    }
  }

  test("ratio_of the base series is 1 everywhere") {
    for (rows <- samples(smallRows, 5)) {
      if (rows.map(_._1).contains("a")) {
        val df = rows.toDF("Prefix", "size", "Time")
        val yaml =
          """aggregation: mean
            |precomputed:
            |  R: "ratio_of('Time', Prefix='a')"
            |values: [R]
            |series: [Prefix]
            |axis: [size]
            |""".stripMargin
        val out = recipe.Benchmark.fromString(spark, yaml)
          .getAggregatedData(df0 = Some(df))
        val baseRatios = out.filter(col("Prefix") === "a")
          .select("R").collect().map(_.getDouble(0))
        assert(baseRatios.nonEmpty && baseRatios.forall(r => math.abs(r - 1.0) < 1e-12))
      }
    }
  }

  test("geomean is scale-equivariant: geomean(k*x) == k * geomean(x)") {
    for ((xs, k) <- samples(Gen.zip(Gen.listOfN(16, Gen.choose(0.5, 50.0)),
        Gen.choose(2.0, 8.0)), 5)) {
      if (xs.nonEmpty) {
        val df = xs.toDF("x")
        val Array(g1, g2) = df.select(
          geomean(col("x") * k), geomean(col("x")) * k
        ).collect()(0).toSeq.map(_.asInstanceOf[Double]).toArray
        assert(math.abs(g1 - g2) / math.max(g1, 1e-9) < 1e-9)
      }
    }
  }

  test("filter-in and filter-out partition the frame") {
    for (rows <- samples(smallRows, 5)) {
      if (rows.nonEmpty) {
        val df = rows.toDF("grp", "size", "v")
        val in = df.filter(col("grp").isin("a", "b"))
        val out = df.filter(!col("grp").isin("a", "b"))
        assert(in.count() + out.count() == df.count())
        assert(in.intersect(out).isEmpty)
      }
    }
  }

  test("union-by-name pads missing columns with nulls and is schema-closed") {
    val a = Seq((1L, "x")).toDF("id", "s")
    val b = Seq((2L, 3.5)).toDF("id", "d")
    val u = a.unionByName(b, allowMissingColumns = true)
    assert(u.columns.sorted.toSeq == Seq("d", "id", "s"))
    assert(u.count() == 2)
    assert(u.filter(col("id") === 2 && col("s").isNull).count() == 1)
  }

  test("graft_numclass == try_cast/regex reference on generated strings") {
    import org.apache.spark.sql.types.DoubleType
    // mix of numeric-shaped and arbitrary printable strings, with
    // whitespace padding and sign/suffix decorations
    val numericish = Gen.oneOf(
      Gen.chooseNum(-1000000L, 1000000L).map(_.toString),
      Gen.chooseNum(-1e9, 1e9).map(_.toString),
      Gen.chooseNum(-1e9, 1e9).map(d => f"$d%.3e"),
      Gen.oneOf("nan", "NaN", "inf", "-inf", "Infinity", "1.5f", "2d",
        "0x1p3", "5.", ".5", "1e", "e1", "--1", "1-", "+", "", " "))
    val junk = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(
      ' ', '.', '+', '-', 'e', 'x', '€', '\t'))).map(_.mkString)
    val padded = Gen.zip(Gen.oneOf(numericish, junk),
      Gen.oneOf("", " ", "  ", "\t")).map { case (s, p) => p + s + p }
    val vals = samples(padded, 400)
    val df = vals.toDF("s")
    val ref = when(trim(col("s"), " \t\n\r\u000B\f").rlike("^[+-]?[0-9]+$"), 1)
      .otherwise(when(col("s").try_cast(DoubleType).isNotNull, 2).otherwise(3))
    val bad = df.select(col("s"),
        call_function("graft_numclass", col("s")).as("got"), ref.as("want"))
      .filter(col("got") =!= col("want")).collect()
    assert(bad.isEmpty, bad.take(10).mkString(", "))
  }

  test("jaccard is symmetric and 1 on identical sets") {
    val docs = graft.Tables(spark, TestSpark.sfDir, "documents").limit(10)
    val sh = array_sort(array_distinct(transform(
      operators.TextAnalysis.wordShingles(col("text"), 3),
      s => operators.TextAnalysis.hash60(s))))
    val d = docs.select(col("doc_id"), sh.as("sh"))
    val self = d.select(operators.Dedup.jaccardSorted(col("sh"), col("sh")).as("j"))
    assert(self.collect().forall(_.getDouble(0) == 1.0))
    val pairs = d.select(col("sh").as("a"))
      .crossJoin(d.select(col("sh").as("b")))
    val asym = pairs.select(
      (operators.Dedup.jaccardSorted(col("a"), col("b")) =!=
        operators.Dedup.jaccardSorted(col("b"), col("a"))).as("x"))
      .filter(col("x")).count()
    assert(asym == 0)
  }

  // random small corpora over a tiny vocabulary: high collision pressure
  // for the span-dedup invariants
  private val tinyDocs = Gen.listOfN(12,
    Gen.listOfN(14, Gen.oneOf("x", "y", "z")).map(_.mkString(" ")))

  test("duplicate spans never overlap within a doc and stay inside its token range") {
    for ((texts, trial) <- samples(tinyDocs, 4).zipWithIndex) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val k = 3
      val spans = operators.Dedup.duplicateSpans(df, "doc_id", "text", k = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val nTok = texts.map(_.split(" ").length)
      for ((d, s, e) <- spans) {
        assert(s >= 0 && e >= s && e < nTok(d.toInt), s"trial $trial: ($d,$s,$e)")
      }
      for (Seq((d1, _, e1), (d2, s2, _)) <-
             spans.toSeq.sortBy(x => (x._1, x._2)).sliding(2).toSeq
           if d1 == d2) {
        // fused spans: the next span in the same doc starts past the
        // previous one's end, by more than the fusion gap k
        assert(s2 > e1 + 1, s"trial $trial: spans ($e1, $s2) should have fused")
      }
    }
  }

  test("LM scoring returns every doc once with n_bigrams = max(tokens-1, 0)") {
    for (texts <- samples(tinyDocs, 4)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = operators.TextAnalysis
        .bigramLmScore(df, "doc_id", "text", modelFilter = col("doc_id") < 6)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out.size == texts.size)
      for ((t, i) <- texts.zipWithIndex)
        assert(out(i.toLong) == math.max(t.split(" ").length - 1, 0))
    }
  }

  test("bloomDedup == anti-join on random key multisets (nulls included, " +
    "any sizing)") {
    val keyGen = Gen.listOfN(40,
      Gen.frequency(9 -> Gen.alphaStr.map(_.take(6)), 1 -> Gen.const(null)))
    for (((bk, hk), trial) <- samples(Gen.zip(keyGen, keyGen), 4).zipWithIndex) {
      val batch = bk.zipWithIndex.map { case (k, i) => (i.toLong, k) }
        .toDF("id", "k")
      val history = hk.zipWithIndex.map { case (k, i) => (i.toLong, k) }
        .toDF("id", "k")
      val expected = batch.join(history.select("k"), Seq("k"), "left_anti")
        .select("id").collect().map(_.getLong(0)).sorted
      for (bits <- Seq(32L, 1L << 16)) {
        val got = operators.Dedup
          .bloomDedup(batch, history, "k", expectedItems = 8L, numBits = bits)
          .select("id").collect().map(_.getLong(0)).sorted
        assert(got.sameElements(expected), s"trial $trial bits=$bits")
      }
    }
  }

  test("heavyHitters == exact groupBy threshold on random item streams") {
    val itemGen = Gen.listOfN(120,
      Gen.frequency(5 -> Gen.const("hot"), 3 -> Gen.const("warm"),
        2 -> Gen.oneOf("a", "b", "c", "d", "e", "f"),
        1 -> Gen.alphaStr.map(s => "r" + s.take(4))))
    val phiGen = Gen.oneOf(0.02, 0.05, 0.1, 0.34)
    for (((items, phi), trial) <- samples(Gen.zip(itemGen, phiGen), 5).zipWithIndex) {
      val df = items.toDF("item").repartition(trial + 1)
      val n = items.size
      val t = math.ceil(phi * n).toLong
      val expected = items.groupBy(identity).view
        .mapValues(_.size.toLong).filter(_._2 >= t).toMap
      val got = operators.Profiling.heavyHitters(df, col("item"), phi)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial phi=$phi")
    }
  }

  test("KMV sketch == brute-force bottom-k distinct; merge is " +
    "commutative, associative, and == the union sketch") {
    val k = 16
    val hGen = Gen.listOfN(60, Gen.choose(1L, 1L << 40))
    for ((ha, trial) <- samples(Gen.zip(hGen, hGen, hGen), 4).zipWithIndex) {
      val (a, b, c) = ha
      def sketch(xs: Seq[Long]): Seq[Long] = {
        val df = xs.toDF("h")
          .agg(call_function("graft_kmv_sketch", col("h"), lit(k)))
        df.head().getSeq[Long](0)
      }
      def brute(xs: Seq[Long]): Seq[Long] = xs.distinct.sorted.take(k)
      assert(sketch(a) == brute(a), s"trial $trial")
      def merge(x: Seq[Long], y: Seq[Long]): Seq[Long] =
        Seq((x, y)).toDF("a", "b")
          .select(operators.Dedup.kmvMerge(col("a"), col("b"), k))
          .head().getSeq[Long](0)
      val sa = sketch(a); val sb = sketch(b); val sc = sketch(c)
      assert(merge(sa, sb) == merge(sb, sa))
      assert(merge(merge(sa, sb), sc) == merge(sa, merge(sb, sc)))
      assert(merge(sa, sb) == brute(a ++ b))
    }
  }

  test("zkey is injective on its domain and inverts to its coordinates") {
    val bits = 9
    val cGen = Gen.listOfN(80, Gen.zip(Gen.choose(0L, (1L << bits) - 1),
      Gen.choose(0L, (1L << bits) - 1)))
    for (coords <- samples(cGen, 4)) {
      val df = coords.toDF("x", "y")
      val got = df.select(col("x"), col("y"),
          sources.Layout.zkey(Seq(col("x"), col("y")), bits).as("z"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // deinterleave: even key bits rebuild x, odd bits rebuild y
      for ((x, y, z) <- got) {
        var rx = 0L; var ry = 0L
        for (i <- 0 until bits) {
          rx |= ((z >> (2 * i)) & 1L) << i
          ry |= ((z >> (2 * i + 1)) & 1L) << i
        }
        assert(rx == x && ry == y, s"z=$z")
      }
      assert(got.map(_._3).distinct.length == coords.distinct.length)
    }
  }

  test("media codecs never throw on arbitrary bytes: None or a raster, " +
    "even for signature-prefixed garbage") {
    val sigs = Seq(
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A),
      "GIF89a".getBytes("US-ASCII"),
      Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte),
      "RIFF\u0000\u0000\u0000\u0000WAVE".getBytes("US-ASCII"))
    val junk = Gen.zip(Gen.choose(0, sigs.size), Gen.choose(0, 400),
      Gen.choose(Long.MinValue, Long.MaxValue))
    for ((sigIdx, len, seed) <- samples(junk, 60)) {
      val rnd = new scala.util.Random(seed)
      val body = Array.fill(len)(rnd.nextInt(256).toByte)
      // half the trials glue a REAL format signature onto the garbage so
      // the parsers get past the cheap magic check into the deep paths
      val bytes = if (sigIdx < sigs.size) sigs(sigIdx) ++ body else body
      Media.decodePng(bytes); Media.decodeGif(bytes)
      Media.decodeJpeg(bytes); Media.decodeWav(bytes) // must not throw
    }
  }

  private def randomBytes(n: Int, seed: Long): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)(rnd.nextInt(256).toByte)
  }

  private val dims = Gen.zip(Gen.choose(1, 64), Gen.choose(1, 64))
  private val seeds = Gen.choose(Long.MinValue, Long.MaxValue)

  /** Gray-valued 8x8-block mosaic: the shape exact-mode JPEG preserves. */
  private def mosaic(w: Int, h: Int, nc: Int, seed: Long): Raster = {
    val bw = (w + 7) / 8
    val blocks = randomBytes(bw * ((h + 7) / 8), seed)
    Raster(w, h, nc, Array.tabulate(w * h * nc) { i =>
      val p = i / nc
      blocks((p / w / 8) * bw + p % w / 8)
    })
  }

  test("PNG round-trips random gray / RGB / RGBA rasters, dims 1..64") {
    for (((w, h), nc, seed) <- samples(Gen.zip(dims, Gen.oneOf(1, 3, 4), seeds), 40)) {
      val r = Raster(w, h, nc, randomBytes(w * h * nc, seed))
      val d = Media.decodePng(Media.encodePng(r))
      assert(d.exists(d => (d.width, d.height, d.channels) == (w, h, nc) &&
        d.pixels.sameElements(r.pixels)), s"${(w, h, nc)}")
    }
  }

  test("exact-mode JPEG round-trips random block mosaics: gray / RGB, " +
    "restart interval 0 / 2 / 4") {
    val gen = Gen.zip(dims, Gen.oneOf(1, 3), Gen.oneOf(0, 2, 4), seeds)
    for (((w, h), nc, ri, seed) <- samples(gen, 40)) {
      val r = mosaic(w, h, nc, seed)
      val d = Media.decodeJpeg(Media.encodeJpeg(r, q = 0, restartInterval = ri))
      assert(d.exists(d => (d.width, d.height, d.channels) == (w, h, nc) &&
        d.pixels.sameElements(r.pixels)), s"${(w, h, nc, ri)}")
    }
  }

  test("gray-palette GIF animations round-trip frame by frame") {
    val grayPal = Array.tabulate(768)(i => (i / 3).toByte)
    val gen = Gen.zip(dims, Gen.choose(1, 4), Gen.choose(0, 500), seeds)
    for (((w, h), nf, delay, seed) <- samples(gen, 30)) {
      val frames = (0 until nf).map(f => (delay + f, randomBytes(w * h, seed + f)))
      val g = Media.decodeGif(Media.encodeGif(w, h, grayPal, frames))
      assert(g.exists(_.frames.size == nf), s"${(w, h, nf)}")
      for (((delayCs, px), fr) <- frames.zip(g.get.frames)) {
        assert(fr.delayCs == delayCs)
        assert(fr.pixels.sameElements(px.flatMap(b => Seq(b, b, b))), s"${(w, h, nf)}")
      }
    }
  }

  test("mono / stereo WAV clips round-trip sample-exactly") {
    val gen = Gen.zip(Gen.oneOf(1, 2), Gen.oneOf(8000, 16000, 22050, 44100, 48000),
      Gen.choose(1, 2000), seeds)
    for ((ch, rate, frames, seed) <- samples(gen, 30)) {
      val rnd = new scala.util.Random(seed)
      val c = Clip(rate, ch, Array.fill(frames * ch)(rnd.nextInt(65536).toShort))
      val d = Media.decodeWav(Media.encodeWav(c))
      assert(d.exists(d => d.sampleRate == rate && d.channels == ch &&
        d.samples.sameElements(c.samples)), s"${(ch, rate, frames)}")
    }
  }

  test("a JPEG cut anywhere decodes to None (the JDK reader only warns)") {
    for (((w, h), nc, seed) <- samples(Gen.zip(dims, Gen.oneOf(1, 3), seeds), 20)) {
      val jpeg = Media.encodeJpeg(mosaic(w, h, nc, seed), q = 0)
      val cut = 1 + new scala.util.Random(seed).nextInt(jpeg.length - 1)
      assert(Media.decodeJpeg(jpeg.take(cut)).isEmpty, s"${(w, h, nc)} cut at $cut")
      assert(Media.decodeJpeg(jpeg.dropRight(1)).isEmpty, s"${(w, h, nc)} without EOI")
    }
  }

  test("a WAV cut inside its data chunk decodes to None") {
    for ((ch, frames, seed) <- samples(Gen.zip(Gen.oneOf(1, 2), Gen.choose(2, 500), seeds), 20)) {
      val wav = Media.encodeWav(Clip(8000, ch, Array.fill(frames * ch)(7.toShort)))
      val cut = 1 + new scala.util.Random(seed).nextInt(frames * ch * 2 - 1)
      assert(Media.decodeWav(wav.dropRight(cut)).isEmpty, s"${(ch, frames)} minus $cut")
    }
  }

  test("a progressive JPEG decodes to the pixels of the same image written " +
    "baseline with the same tables") {
    import java.awt.image.BufferedImage
    import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
    def write(img: BufferedImage, progressive: Boolean): Array[Byte] = {
      val wr = ImageIO.getImageWritersByFormatName("jpeg").next()
      val par = wr.getDefaultWriteParam
      par.setProgressiveMode(
        if (progressive) ImageWriteParam.MODE_DEFAULT else ImageWriteParam.MODE_DISABLED)
      val bos = new java.io.ByteArrayOutputStream()
      val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      wr.setOutput(out)
      wr.write(null, new IIOImage(img, null, null), par)
      out.close(); wr.dispose()
      bos.toByteArray
    }
    for (((w, h), nc, seed) <- samples(Gen.zip(dims, Gen.oneOf(1, 3), seeds), 20)) {
      val img = new BufferedImage(w, h,
        if (nc == 1) BufferedImage.TYPE_BYTE_GRAY else BufferedImage.TYPE_3BYTE_BGR)
      img.getRaster.setDataElements(0, 0, w, h, randomBytes(w * h * nc, seed))
      val prog = write(img, progressive = true)
      assert(prog.sliding(2).exists(p => (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xC2),
        "fixture is not progressive")
      val (p, b) = (Media.decodeJpeg(prog), Media.decodeJpeg(write(img, progressive = false)))
      assert(p.isDefined && b.isDefined, s"${(w, h, nc)}")
      assert(p.get.pixels.sameElements(b.get.pixels), s"${(w, h, nc)}")
    }
  }
}
