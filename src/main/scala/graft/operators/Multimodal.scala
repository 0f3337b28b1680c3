package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.Media

/** Multimodal-column plumbing: images/audio/video ride through the engine
  * as opaque `BinaryType` payloads plus a typed metadata struct.
  *
  * Image dimensions are REAL: PNG IHDR and JPEG SOF headers are parsed
  * straight from the payload bytes ([[graft.expressions.ImageHeaders]]),
  * both in the partition-local [[decodeBatch]] seam and in the codegen'd
  * expression path ([[featurizeExpr]], via `graft_image_dims`); the two
  * paths are spec-pinned identical. PIXEL/SAMPLE work is real too,
  * through [[graft.expressions.Media]] — the JDK's own `javax.imageio`
  * and `javax.sound.sampled` codecs: PNG stills ([[resamplePixels]] —
  * decode, resample), JPEG stills ([[decodePixels]]), GIF animations
  * ([[decodeFrames]] — disposal-aware compositing), and PCM WAV audio
  * ([[audioFeatures]]).
  * Only [[resize]] retains the legacy hash-in-place-of-bytes seam, kept
  * to pin the geometry contract independently of any codec.
  */
object Multimodal {

  private val HexDigits = "0123456789abcdef".toCharArray

  /** md5 of the byte array's LOWERCASE HEX — the one oracle bridge every
    * decoder shares (oracle engines hash strings only: DuckDB's md5
    * takes VARCHAR, so hex-bridging makes the contract mirrorable
    * byte-for-byte). All `mapPartitions` decoders MUST hash through
    * here so the spec-pinned hashing contract has a single source. */
  private def hexMd5(bytes: Array[Byte],
                     md: java.security.MessageDigest): String = {
    val hexChars = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      hexChars(2 * i) = HexDigits((bytes(i) & 0xF0) >> 4)
      hexChars(2 * i + 1) = HexDigits(bytes(i) & 0x0F)
      i += 1
    }
    md.digest(new String(hexChars).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Canonical multimodal record schema. */
  val schema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("source", StringType, nullable = true),
      StructField("byte_len", LongType, nullable = true))), nullable = true)))

  /** Extracted-feature schema produced by [[decodeAndFeaturize]]:
    * width/height are null for payloads that are not parseable images
    * (a real corpus is full of them — nulls, not errors or garbage). */
  val featureSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("byte_len", LongType, nullable = true),
    StructField("content_hash", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true)))

  /** Build a multimodal frame from the documents table by treating the
    * UTF-8 text bytes as an opaque payload — the shape a real ingest
    * (parquet with a binary column) would have. */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("asset_id"),
      lit("text").as("modality"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(col("source").as("source"),
        length(encode(col("text"), "UTF-8")).cast(LongType).as("byte_len")).as("meta"))

  /** Partition-local decoder: REAL header parsing (PNG IHDR / JPEG SOF
    * marker walk — [[graft.expressions.ImageHeaders.packedDims]]), null
    * dims for anything that isn't a parseable image. The signature (one
    * batch of payloads in, one batch of features out) is the production
    * contract for partition-local, vectorized decode; a full-raster
    * build extends the same body with pixel decode.
    *
    * content_hash is md5 of the payload's LOWERCASE HEX, not of the raw
    * bytes: oracle engines hash strings only (DuckDB's md5 takes
    * VARCHAR), and hex-bridging makes the contract mirrorable
    * byte-for-byte — the same convention as [[sampleFrames]]'
    * frame_hash. */
  def decodeBatch(batch: Iterator[Row]): Iterator[Row] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    batch.map { r =>
      val id = r.getLong(0)
      val modality = r.getString(1)
      val payload = r.getAs[Array[Byte]](2)
      if (payload == null) {
        // null payload (schema allows it): null features, matching the
        // expression path's graceful nulls — never an executor NPE
        Row(id, modality, null, null, null, null)
      } else {
        val hash = hexMd5(payload, md)
        val packed = graft.expressions.ImageHeaders.packedDims(payload)
        val width: Integer = if (packed < 0) null else Int.box((packed >>> 32).toInt)
        val height: Integer = if (packed < 0) null else Int.box((packed & 0xFFFFFFFFL).toInt)
        Row(id, modality, payload.length.toLong, hash, width, height)
      }
    }
  }

  /** Partition-local decode + feature extraction over the multimodal
    * frame. `mapPartitions` keeps the codec call batched per partition
    * (no per-row JVM/native boundary crossings) and preserves the input
    * partitioning — no shuffle. */
  def decodeAndFeaturize(mm: DataFrame): DataFrame =
    mm.select(col("asset_id"), col("modality"), col("payload"))
      .mapPartitions(decodeBatch)(org.apache.spark.sql.Encoders.row(featureSchema))

  /** Frame sampling (the video path): emit up to `nFrames` equal-stride
    * byte ranges per asset — the partitioning/shape contract of a real
    * ffmpeg keyframe sampler (one input row fans out to N frame rows,
    * narrow, no shuffle; downstream dedup/embedding operators consume
    * frames exactly like documents). The frame payload is the real byte
    * slice (Spark substring is binary-safe); `frame_hash` is the md5 of
    * the slice's lowercase hex so an engine without blob slicing (the
    * DuckDB oracle) can mirror it exactly. A production build swaps the
    * stride slicing for codec-aware keyframe offsets; everything else —
    * schema, explode shape, hash contract — stays.
    *
    * Frames are byte ranges [i*stride, i*stride+stride) for
    * stride = ceil(byte_len / nFrames); short/empty payloads produce
    * fewer (or zero) frames, never empty slices. */
  def sampleFrames(mm: DataFrame, nFrames: Int): DataFrame = {
    require(nFrames > 0)
    val len = length(col("payload")).cast(LongType)
    val stride = ceil(len.cast(DoubleType) / nFrames).cast(LongType)
    val nf = when(len === 0, 0L)
      .otherwise(ceil(len.cast(DoubleType) / stride.cast(DoubleType)).cast(LongType))
    // Slice the BINARY payload per frame, then hash the slice. What the
    // slice rewrite buys: the earlier formulation projected
    // lower(hex(payload)) — a 2x-payload string copy — through every
    // exploded row (~3nv bytes materialized for an n-frame, v-byte
    // video); now only the payload itself flows through the (pipelined,
    // codegen-fused) Generate until the final projection drops it — no
    // extra copy materializes. md5 of the slice's lowercase hex is
    // unchanged by the rewrite — byte boundaries align with 2-hex-char
    // boundaries — so the DuckDB oracle keeps its hex-substring mirror.
    // Offsets go through the native long-offset BinarySlice, not Spark's
    // Int-typed Substring, whose narrowing cast would silently WRAP an
    // offset past 2^31 to a negative position (mis-addressed bytes, not
    // an error) — stride x index arithmetic on chunked payloads can
    // address past 2 GiB even though one JVM byte[] caps at Int.MaxValue.
    val slice = call_function("graft_binary_slice",
      col("payload"), col("frame_idx") * col("__stride"), col("__stride"))
    mm.select(col("asset_id"), col("modality"), col("payload"),
        stride.as("__stride"), nf.as("__nf"))
      .filter(col("__nf") > 0)
      .select(col("asset_id"), col("modality"), col("payload"),
        col("__stride"),
        posexplode(sequence(lit(0L), col("__nf") - 1)).as(Seq("__p", "frame_idx")))
      .select(
        col("asset_id"),
        col("frame_idx").cast(IntegerType).as("frame_idx"),
        (col("frame_idx") * col("__stride")).as("frame_off"),
        length(slice).cast(LongType).as("frame_bytes"),
        md5(lower(hex(slice))).as("frame_hash"))
  }

  /** Resize (the image path): aspect-fit each asset's REAL parsed
    * dimensions into a `targetW`x`targetH` box and bind a deterministic
    * output-content hash to (content, target box) — the geometry is the
    * real resampler contract; only the pixel resampling itself stays
    * behind the stub seam (no codec libraries in this container), so
    * `resized_hash` stands in for the resampled bytes. Scale factor
    * min(tw/w, th/h) capped at 1 (never upscale), output dims floored
    * but >= 1. Non-image payloads (null dims) yield null out dims —
    * nulls propagate, nothing is fabricated. */
  def resize(mm: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0)
    val feat = featurizeExpr(mm)
    val w = col("width").cast(DoubleType)
    val h = col("height").cast(DoubleType)
    val scale = least(lit(targetW) / w, lit(targetH) / h, lit(1.0))
    feat.select(
      col("asset_id"), col("modality"),
      col("width"), col("height"),
      lit(targetW).as("target_w"), lit(targetH).as("target_h"),
      // greatest() SKIPS nulls (greatest(null, 1) = 1): gate on the dim
      // so a non-image's out dims stay null instead of fabricating 1x1
      when(w.isNotNull,
        greatest(floor(w * scale), lit(1L)).cast(IntegerType)).as("out_w"),
      when(h.isNotNull,
        greatest(floor(h * scale), lit(1L)).cast(IntegerType)).as("out_h"),
      // concat (not concat_ws): a null content_hash must yield a null
      // resized_hash — concat_ws would SKIP the null and fabricate a
      // real-looking hash bound to no content for a contentless asset
      md5(concat(col("content_hash"), lit(s"x${targetW}x$targetH")))
        .as("resized_hash"))
  }

  /** Pure-expression featurization — identical output to
    * [[decodeAndFeaturize]] (spec-pinned), but fully codegen'd at the
    * scan: real header dims via the native `graft_image_dims` (one
    * parse, unpacked twice), hex-bridged md5 content hash (see
    * [[decodeBatch]] for why hex). */
  def featurizeExpr(mm: DataFrame): DataFrame = {
    val dims = call_function("graft_image_dims", col("payload"))
    mm.select(
      col("asset_id"),
      col("modality"),
      length(col("payload")).cast(LongType).as("byte_len"),
      md5(lower(hex(col("payload")))).as("content_hash"),
      shiftright(dims, 32).cast(IntegerType).as("width"),
      dims.bitwiseAND(lit(0xFFFFFFFFL)).cast(IntegerType).as("height"))
  }

  /** Schema of [[resamplePixels]]' output. */
  val resampleSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("out_w", IntegerType, nullable = true),
    StructField("out_h", IntegerType, nullable = true),
    StructField("out_hash", StringType, nullable = true)))

  /** REAL pixel path (PNG): decode the payload with
    * [[graft.expressions.Media.decodePng]], aspect-fit into
    * `targetW`x`targetH` (same scale rule as [[resize]]),
    * nearest-neighbor resample the raster, and hash the RESAMPLED PIXEL
    * BYTES (md5 of their lowercase hex — the oracle-mirrorable bridge).
    * Payloads that don't decode as PNG (JPEG, corrupt bytes) yield null
    * dims/hash. Partition-local `mapPartitions`, no shuffle: the exact
    * shape a 100 TB image-corpus pass needs. */
  def resamplePixels(mm: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0)
    mm.select(col("asset_id"), col("payload")).mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        val id = r.getLong(0)
        Media.decodePng(r.getAs[Array[Byte]](1)) match {
          case None => Row(id, null, null, null, null, null)
          case Some(ras) =>
            val scale = math.min(1.0,
              math.min(targetW.toDouble / ras.width, targetH.toDouble / ras.height))
            val ow = math.max(math.floor(ras.width * scale).toInt, 1)
            val oh = math.max(math.floor(ras.height * scale).toInt, 1)
            val out = Media.resampleNearest(ras, ow, oh)
            Row(id, Int.box(ras.width), Int.box(ras.height),
              Int.box(ow), Int.box(oh), hexMd5(out.pixels, md))
        }
      }
    }(org.apache.spark.sql.Encoders.row(resampleSchema))
  }

  /** Deterministic PIXEL-real image fixture: each doc becomes a genuine
    * 8-bit grayscale PNG — compressed IDAT — whose pixel (x, y) is the
    * FORMULA value `(id*31 + y*width + x) % 256` and whose dims are
    * `(id % 13 + 4, id % 11 + 4)`. The engine must then recover pixels
    * through a real PNG decode, while the oracle recomputes the expected
    * resampled bytes from the formula alone — a pixel-level round-trip
    * check on the whole codec. */
  def syntheticPixelAssets(docs: DataFrame): DataFrame = {
    val pxSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("modality", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    docs.select(col("doc_id")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val w = (id % 13 + 4).toInt
        val h = (id % 11 + 4).toInt
        val px = Array.tabulate(w * h)(i => ((id * 31 + i) % 256).toByte)
        val png = Media.encodePng(Media.Raster(w, h, 1, px))
        Row(id, "image/png", png)
      }
    }(org.apache.spark.sql.Encoders.row(pxSchema))
  }

  /** Schema of [[audioFeatures]]' output: every field integral, so the
    * contract is exactly mirrorable (no float RMS — `sum_sq` is the
    * exact integer sum of squared samples; callers derive RMS as
    * `sqrt(sum_sq / n_samples)` when they want the float). */
  val audioSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("sum_sq", LongType, nullable = true)))

  /** REAL audio path (WAV/PCM): decode the payload with
    * [[graft.expressions.Media.decodeWav]] and extract the feature row a
    * speech-corpus curation pass filters on — sample rate, channel
    * count, frame count, floor-ms duration, exact sum of squared sample
    * values (the integer core of an RMS loudness gate). Non-WAV or
    * non-PCM-16 payloads yield null features. Partition-local, no
    * shuffle. */
  def audioFeatures(mm: DataFrame): DataFrame =
    mm.select(col("asset_id"), col("payload")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        Media.decodeWav(r.getAs[Array[Byte]](1)) match {
          case None => Row(id, null, null, null, null, null)
          case Some(c) =>
            val frames = c.samples.length.toLong / c.channels
            var sumSq = 0L
            var i = 0
            while (i < c.samples.length) {
              sumSq += c.samples(i).toLong * c.samples(i); i += 1
            }
            Row(id, Int.box(c.sampleRate), Int.box(c.channels),
              Long.box(frames), Long.box(frames * 1000L / c.sampleRate),
              Long.box(sumSq))
        }
      }
    }(org.apache.spark.sql.Encoders.row(audioSchema))

  /** Schema of [[decodeFrames]]' output: one row per SAMPLED frame. */
  val frameSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("n_frames", IntegerType, nullable = true),
    StructField("frame_idx", IntegerType, nullable = true),
    StructField("delay_cs", IntegerType, nullable = true),
    StructField("frame_hash", StringType, nullable = true)))

  /** REAL video-path frame extraction (GIF): decode the payload with
    * [[graft.expressions.Media.decodeGif]] (LZW inflate, palette
    * resolve, disposal-aware compositing), keep every `stride`-th frame,
    * and hash each kept frame's COMPOSITED RGB bytes (md5 of lowercase
    * hex — the oracle-mirrorable bridge, same convention as
    * [[resamplePixels]]). This replaces byte-range frame *sampling*
    * ([[sampleFrames]]) with pixel-real frames for the one animation
    * container whose compression is lossless. Payloads that don't decode
    * yield one null-feature row (the asset stays visible downstream).
    * Partition-local `mapPartitions`, no shuffle — the only shape a
    * 100 TB media pass affords. */
  def decodeFrames(mm: DataFrame, stride: Int): DataFrame = {
    require(stride >= 1, s"stride must be >= 1 (got $stride)")
    mm.select(col("asset_id"), col("payload")).mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { r =>
        val id = r.getLong(0)
        Media.decodeGif(r.getAs[Array[Byte]](1)) match {
          case None => Iterator.single(Row(id, null, null, null, null, null, null))
          case Some(g) =>
            val n = g.frames.size
            Iterator.range(0, n, stride).map { f =>
              val fr = g.frames(f)
              Row(id, Int.box(g.width), Int.box(g.height), Int.box(n),
                Int.box(f), Int.box(fr.delayCs), hexMd5(fr.pixels, md))
            }
        }
      }
    }(org.apache.spark.sql.Encoders.row(frameSchema))
  }

  /** Deterministic FRAME-real animation fixture: each doc becomes a
    * genuine GIF89a — real LZW streams, graphic-control blocks, global
    * palette — with `id % 4 + 2` full-canvas frames of
    * `(id % 9 + 3) x (id % 7 + 3)` pixels, a grayscale-identity palette
    * (index i -> RGB(i,i,i)), per-frame delay `(id % 10) * 4` cs, and
    * pixel (x, y) of frame f holding palette index
    * `(id*17 + f*53 + y*width + x) % 256`. The engine must recover the
    * pixels through real LZW decompression + palette resolution +
    * compositing, while the oracle recomputes the expected composited
    * RGB bytes from the formula alone. */
  def syntheticGifAssets(docs: DataFrame): DataFrame = {
    val gifSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("modality", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val grayPal = Array.tabulate(768)(i => (i / 3).toByte)
    docs.select(col("doc_id")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val w = (id % 9 + 3).toInt
        val h = (id % 7 + 3).toInt
        val nf = (id % 4 + 2).toInt
        val frames = (0 until nf).map { f =>
          ((id % 10).toInt * 4,
            Array.tabulate(w * h)(i => ((id * 17 + f * 53 + i) % 256).toByte))
        }
        Row(id, "image/gif",
          Media.encodeGif(w, h, grayPal, frames))
      }
    }(org.apache.spark.sql.Encoders.row(gifSchema))
  }

  /** Deterministic SAMPLE-real audio fixture: each doc becomes a genuine
    * PCM-16 WAV whose interleaved sample i is the formula value
    * `((id*7 + i*13) % 65536) - 32768`, with `id % 500 + 100` frames,
    * `8000 + (id % 3) * 4000` Hz, and `id % 2 + 1` channels. The engine
    * must recover the samples through real RIFF/PCM parsing while the
    * oracle recomputes the expected features from the formula alone. */
  def syntheticAudioAssets(docs: DataFrame): DataFrame = {
    val auSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("modality", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    docs.select(col("doc_id")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val channels = (id % 2 + 1).toInt
        val frames = (id % 500 + 100).toInt
        val rate = (8000 + (id % 3) * 4000).toInt
        val samples = Array.tabulate(frames * channels)(i =>
          (((id * 7 + i.toLong * 13) % 65536) - 32768).toShort)
        Row(id, "audio/wav", Media.encodeWav(Media.Clip(rate, channels, samples)))
      }
    }(org.apache.spark.sql.Encoders.row(auSchema))
  }

  /** Deterministic image-asset fixture built from the documents table:
    * each doc's text bytes wrapped in a REAL image container — a valid
    * PNG signature + IHDR (even ids) or a valid JPEG SOI + JFIF APP0 +
    * SOF0 marker sequence (odd ids) — with planted dimensions
    * `(id % 1920 + 1, id % 1080 + 1)` written into the actual header
    * bytes (big-endian, built with hex/lpad/unhex expressions at the
    * scan). The parsers must then RECOVER the planted values from the
    * bytes, which makes the round-trip oracle-checkable: the oracle
    * recomputes the dims from the id formula while the engine reads
    * them back out of the binary header it built. Both headers are 33
    * bytes. */
  def syntheticAssets(docs: DataFrame): DataFrame = {
    val textBytes = encode(col("text"), "UTF-8")
    def be(n: Column, bytes: Int) =
      unhex(lpad(hex(n), bytes * 2, "0"))
    val w = (col("doc_id") % 1920 + 1).cast(IntegerType)
    val h = (col("doc_id") % 1080 + 1).cast(IntegerType)
    // PNG: sig(8) len(4)=13 "IHDR"(4) w(4) h(4) bit/color/comp/filt/interlace(5) crc(4)
    val png = concat(
      unhex(lit("89504E470D0A1A0A" + "0000000D" + "49484452")),
      be(w, 4), be(h, 4),
      unhex(lit("0802000000" + "00000000")),
      textBytes)
    // JPEG: SOI, JFIF APP0 (18 bytes), SOF0 len=11: precision h w ncomp comp
    val jpeg = concat(
      unhex(lit("FFD8" + "FFE000104A46494600010100000100010000" + "FFC0000B08")),
      be(h, 2), be(w, 2),
      unhex(lit("01011100")),
      textBytes)
    docs.select(
      col("doc_id").as("asset_id"),
      when(col("doc_id") % 2 === 0, lit("image/png"))
        .otherwise(lit("image/jpeg")).as("modality"),
      when(col("doc_id") % 2 === 0, png).otherwise(jpeg).as("payload"),
      struct(col("source").as("source"),
        (length(textBytes) + 33L).cast(LongType).as("byte_len")).as("meta"))
  }

  /** Schema of [[decodePixels]]' output: one feature row per still. */
  val pixelSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("pix_hash", StringType, nullable = true)))

  /** REAL lossy-still path (JPEG): decode the payload with
    * [[graft.expressions.Media.decodeJpeg]] — entropy decode,
    * dequantize, IDCT, color convert — and hash the recovered
    * raster bytes (md5 of lowercase hex, the same oracle-mirrorable
    * bridge as [[resamplePixels]] / [[decodeFrames]]; a 3-channel
    * raster contributes interleaved RGB bytes). Payloads that don't
    * decode yield a null-feature row. Partition-local, no shuffle. */
  def decodePixels(mm: DataFrame): DataFrame = {
    mm.select(col("asset_id"), col("payload")).mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        val id = r.getLong(0)
        Media.decodeJpeg(r.getAs[Array[Byte]](1)) match {
          case None => Row(id, null, null, null, null)
          case Some(ras) =>
            Row(id, Int.box(ras.width), Int.box(ras.height),
              Int.box(ras.channels), hexMd5(ras.pixels, md))
        }
      }
    }(org.apache.spark.sql.Encoders.row(pixelSchema))
  }

  /** Deterministic DCT-real still fixture: each doc becomes a genuine
    * baseline JPEG — real Huffman entropy coding, FDCT, quantization —
    * that nonetheless round-trips EXACTLY, because the image is an 8x8
    * block-constant mosaic encoded with the all-ones quant table (a
    * constant block is a lone integer DC coefficient; see
    * [[graft.expressions.Media.encodeJpeg]]). Dims are
    * `(id % 21 + 4, id % 17 + 4)` (NOT multiples of 8 — edge-replication
    * paths run), block (bx, by) holds gray value
    * `(id*29 + by*ceil(w/8) + bx) % 256`, odd ids encode as 3-component
    * YCbCr 4:4:4 (gray-in-RGB converts exactly), even ids as 1-component
    * grayscale, and `id % 3` picks a restart interval of 0/2/4 MCUs so
    * DRI/RSTn segments appear in the corpus. The engine must recover the
    * pixels through real entropy decoding + IDCT while the oracle
    * recomputes the expected bytes from the mosaic formula alone. */
  def syntheticJpegAssets(docs: DataFrame): DataFrame = {
    val jpSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("modality", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    docs.select(col("doc_id")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val w = (id % 21 + 4).toInt
        val h = (id % 17 + 4).toInt
        val bw = (w + 7) / 8
        val nc = if (id % 2 == 1) 3 else 1
        val px = new Array[Byte](w * h * nc)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = ((id * 29 + (y / 8) * bw + (x / 8)) % 256).toByte
            var c = 0
            while (c < nc) { px((y * w + x) * nc + c) = v; c += 1 }
            x += 1
          }
          y += 1
        }
        val jpeg = Media.encodeJpeg(
          Media.Raster(w, h, nc, px),
          q = 0, restartInterval = (id % 3).toInt * 2)
        Row(id, "image/jpeg", jpeg)
      }
    }(org.apache.spark.sql.Encoders.row(jpSchema))
  }

  /** Content-sniffed modality from the payload's magic bytes — the
    * dispatch gate of a mixed-media ingest, where declared MIME types
    * are routinely wrong and routing MUST trust the bytes (PNG
    * signature, GIF87a/89a, JPEG SOI, RIFF/WAVE). Pure binary-substring
    * comparisons: codegen'd at the scan, no UDF, no shuffle; a
    * `groupBy(sniffModality(...))` then routes each slice to its codec
    * path ([[resamplePixels]] / [[decodeFrames]] / [[audioFeatures]] /
    * [[decodePixels]]). Unknown signatures sniff as
    * `application/octet-stream`; null payloads stay null. */
  /** Schema of [[imageDHash]]'s output. */
  val dhashSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("dhash", LongType, nullable = true)))

  /** Perceptual difference-hash (dHash) of an image payload — the
    * standard 64-bit near-duplicate sketch for image corpora (public
    * algorithm: Krawetz's dHash / pHash family): decode the REAL
    * compressed stream (PNG via [[graft.expressions.Media.decodePng]],
    * JPEG via [[graft.expressions.Media.decodeJpeg]], routed by magic bytes),
    * reduce to 8-bit grayscale (integer luma `(299r+587g+114b)/1000` for
    * 3-channel rasters — exact, mirrorable), nearest-neighbor resample
    * to a fixed 9x8 grid (same `x*w/ow` floor sampling as
    * [[resamplePixels]], so the SQL mirror shares one formula), then one
    * bit per horizontally-adjacent pixel pair: bit `y*8+x` is set iff
    * `gray(x+1,y) > gray(x,y)` (unsigned, strict). Gradient direction
    * survives brightness/contrast shifts and resizes — the reason dHash
    * (not a byte hash) is the image-dedup workhorse. Payloads that
    * don't decode yield a null hash. Partition-local, no shuffle.
    *
    * No reference counterpart — bearysta has no image path; extension
    * surface for the multimodal-corpus pillar. */
  def imageDHash(mm: DataFrame): DataFrame = {
    mm.select(col("asset_id"), col("payload")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val ras: Option[Media.Raster] =
          if (payload == null || payload.length < 8) None
          else if ((payload(0) & 0xFF) == 0x89 && payload(1) == 0x50)
            Media.decodePng(payload)
          else if ((payload(0) & 0xFF) == 0xFF && (payload(1) & 0xFF) == 0xD8)
            Media.decodeJpeg(payload)
          else None
        ras match {
          case None => Row(id, null)
          case Some(img) =>
            val gray =
              if (img.channels == 1) img
              else {
                val g = new Array[Byte](img.width * img.height)
                var i = 0
                while (i < g.length) {
                  val b = i * img.channels
                  g(i) = (((img.pixels(b) & 0xFF) * 299 +
                    (img.pixels(b + 1) & 0xFF) * 587 +
                    (img.pixels(b + 2) & 0xFF) * 114) / 1000).toByte
                  i += 1
                }
                Media.Raster(img.width, img.height, 1, g)
              }
            val grid = Media.resampleNearest(gray, 9, 8)
            var hash = 0L
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) {
                if ((grid.pixels(y * 9 + x + 1) & 0xFF) >
                  (grid.pixels(y * 9 + x) & 0xFF))
                  hash |= 1L << (y * 8 + x)
                x += 1
              }
              y += 1
            }
            Row(id, Long.box(hash))
        }
      }
    }(org.apache.spark.sql.Encoders.row(dhashSchema))
  }

  /** Image near-duplicate pairs via banded dHash — the multimodal twin
    * of [[Dedup.simhashBandPairs]]: each 64-bit [[imageDHash]] splits
    * into `bands` contiguous bit-slices (band keys), candidates agree
    * exactly on >= 1 band (per-band equi-join), and the full Hamming
    * distance verifies `maxHamming`. Pigeonhole exactness: `maxHamming
    * < bands` means any qualifying pair leaves >= 1 band untouched, so
    * recall is TOTAL at the declared threshold — the banded join equals
    * the quadratic brute-force scan, at inverted-index cost.
    *
    * Scale shape: decode+hash is scan-level partition-local work; the
    * only data that shuffles is (band key, id, 8-byte hash) x bands —
    * never pixels, never payloads. Band keys are content-derived, so
    * bucket population tracks visual diversity; at billion-image scale
    * raise `bands` (wider slices stay exact while `maxHamming < bands`)
    * or pre-partition by a coarse perceptual prefix. Returns
    * (id_a, id_b, hamming), composable with
    * [[Dedup.connectedComponents]] for cluster-level dedup. */
  def dhashNearDups(mm: DataFrame, maxHamming: Int = 2,
                    bands: Int = 4): DataFrame = {
    require(bands > 0 && 64 % bands == 0, s"bands must divide 64, got $bands")
    require(maxHamming >= 0 && maxHamming < bands,
      s"exactness needs maxHamming < bands, got $maxHamming >= $bands")
    val bandBits = 64 / bands
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val hashed = imageDHash(mm).filter(col("dhash").isNotNull)
    val keys = array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("dhash"), b * bandBits).bitwiseAND(lit(mask))
          .as("key"))): _*)
    // NO explicit repartition before the self-join: measured A/B at
    // sf0.1 (interleaved, noise 1.0) — an eager .repartition(bk) costs
    // q145 7.9s vs 7.1s and q149 14.5s vs 11.0s, because the extra
    // exchange of the 4x-banded rows exceeds anything it saves; the
    // join's own requirement plans the partitioning where it's needed
    val keyed = hashed.select(col("asset_id").as("id"), col("dhash"),
      explode(keys).as("bk"))
    val a = keyed.select(col("bk"), col("id").as("id_a"), col("dhash").as("dh_a"))
    val b = keyed.select(col("bk"), col("id").as("id_b"), col("dhash").as("dh_b"))
    a.join(b, Seq("bk")).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", Dedup.hamming(col("dh_a"), col("dh_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .distinct()
  }

  def sniffModality(payload: Column): Column = {
    def magic(off: Int, hexSig: String): Column =
      substring(payload, off, hexSig.length / 2) === unhex(lit(hexSig))
    when(payload.isNull, lit(null).cast(StringType))
      .when(magic(1, "89504E470D0A1A0A"), "image/png")
      .when(magic(1, "474946383961") || magic(1, "474946383761"), "image/gif")
      .when(magic(1, "FFD8"), "image/jpeg")
      .when(magic(1, "52494646") && magic(9, "57415645"), "audio/wav")
      .otherwise("application/octet-stream")
  }

  /** Mixed-media corpus fixture: doc_id % 5 routes each document to one
    * of the four REAL encoders (PNG / GIF / WAV / JPEG — genuine
    * compressed streams from the same builders as q86-q89) or to raw
    * text bytes, and every row's DECLARED modality lies
    * (`application/x-unknown`) so a sniffing test cannot cheat off
    * metadata. */
  def syntheticMixedAssets(docs: DataFrame): DataFrame = {
    val mxSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("modality", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val grayPal = Array.tabulate(768)(i => (i / 3).toByte)
    docs.select(col("doc_id"), col("text")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload: Array[Byte] = (id % 5) match {
          case 0 =>
            val w = (id % 13 + 4).toInt; val h = (id % 11 + 4).toInt
            Media.encodePng(Media.Raster(w, h, 1,
              Array.tabulate(w * h)(i => ((id * 31 + i) % 256).toByte)))
          case 1 =>
            val w = (id % 9 + 3).toInt; val h = (id % 7 + 3).toInt
            Media.encodeGif(w, h, grayPal,
              Seq((0, Array.tabulate(w * h)(i => ((id * 17 + i) % 256).toByte))))
          case 2 =>
            Media.encodeWav(Media.Clip(
              8000, 1, Array.tabulate((id % 100 + 50).toInt)(i =>
                (((id * 7 + i.toLong * 13) % 65536) - 32768).toShort)))
          case 3 =>
            val w = (id % 21 + 4).toInt; val h = (id % 17 + 4).toInt
            Media.encodeJpeg(
              Media.Raster(w, h, 1,
                Array.fill(w * h)((id % 256).toByte)), q = 0)
          case _ => r.getString(1).getBytes("UTF-8")
        }
        Row(id, "application/x-unknown", payload)
      }
    }(org.apache.spark.sql.Encoders.row(mxSchema))
  }
}
