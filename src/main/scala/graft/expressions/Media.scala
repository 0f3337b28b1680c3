package graft.expressions

import java.awt.image.{BufferedImage, IndexColorModel}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.ServiceLoader
import javax.imageio.{IIOImage, ImageIO, ImageReader, ImageTypeSpecifier, ImageWriter}
import javax.imageio.event.{IIOReadProgressListener, IIOReadWarningListener}
import javax.imageio.metadata.{IIOMetadata, IIOMetadataNode}
import javax.imageio.plugins.jpeg.JPEGQTable
import javax.imageio.stream.{ImageInputStreamImpl, MemoryCacheImageOutputStream}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
import javax.sound.sampled.spi.AudioFileReader

import scala.jdk.CollectionConverters._
import scala.util.{Success, Try}
import scala.util.control.NonFatal

/** The media codecs of the multimodal path — PNG, JPEG, GIF and 16-bit
  * PCM WAV — read and written by the JDK's own `javax.imageio` and
  * `javax.sound.sampled` (module `java.desktop`). This object adapts them
  * to graft's contract:
  *   - a decoder returns None — never a throw, never a partial raster —
  *     for bytes outside the supported subset or damaged, including what
  *     the JDK readers accept quietly: any reader warning (a cut JPEG
  *     reads "successfully" with warnings), a GIF frame whose rows run out
  *     or a GIF cut before its trailer, a WAV shorter than its frame count;
  *   - samples are 8-bit (gray, RGB or RGBA) or 16-bit signed
  *     little-endian PCM; interlaced GIFs are rejected;
  *   - hostile headers cannot force huge allocations: at most 2^26 pixels
  *     per raster (checked before any pixel is read) and 2^28 bytes of
  *     composited GIF output;
  *   - everything stays in memory (ImageIO's default stream caches to a
  *     file under `java.io.tmpdir`); one reader or writer per call.
  * GIF frames are composited here (disposal 0-3, transparency, offsets):
  * the JDK reader returns each frame raw, plus its metadata.
  */
object Media {

  /** 8-bit raster: row-major, `channels` interleaved bytes per pixel
    * (1 = gray, 3 = RGB, 4 = RGBA). */
  final case class Raster(width: Int, height: Int, channels: Int, pixels: Array[Byte])

  /** Decoded clip: interleaved 16-bit samples (`samples.length` =
    * frames × channels). */
  final case class Clip(sampleRate: Int, channels: Int, samples: Array[Short])

  /** One composited frame: full-canvas interleaved RGB plus the
    * graphic-control delay (centiseconds; 0 when absent). */
  final case class Frame(delayCs: Int, pixels: Array[Byte])

  /** Decoded animation: logical canvas dims + composited frames. */
  final case class Gif(width: Int, height: Int, frames: Seq[Frame])

  private val MaxPixels = 1L << 26
  private val MaxGifBytes = 1L << 28
  private val JpegTree = "javax_imageio_jpeg_image_1.0"
  private val GifTree = "javax_imageio_gif_image_1.0"
  private val Disposals = Seq("none", "doNotDispose", "restoreToBackgroundColor",
    "restoreToPrevious")

  // ------------------------------------------------------------ stills

  /** Encode a gray, RGB or RGBA raster as a PNG (8-bit, non-interlaced). */
  def encodePng(r: Raster): Array[Byte] = {
    require(r.channels == 1 || r.channels == 3 || r.channels == 4,
      s"encoder supports 1/3/4 channels, got ${r.channels}")
    writing("png")(_.write(image(r)))
  }

  /** Decode an 8-bit gray, RGB or RGBA PNG; None for anything else. */
  def decodePng(png: Array[Byte]): Option[Raster] = still("png", png)

  /** Encode a gray or RGB raster (RGB is written as YCbCr 4:4:4) as a
    * baseline JFIF JPEG. `q = 0` writes the all-ones quantization table
    * — the exact mode: an 8x8 block-constant image is one integer DC
    * coefficient per block and decodes back bit-exactly; `q > 0` scales
    * the T.81 Annex K luminance table by `q / 8`. `restartInterval > 0`
    * writes DRI + RSTn every that many MCUs. */
  def encodeJpeg(r: Raster, q: Int = 8, restartInterval: Int = 0): Array[Byte] = {
    require(r.channels == 1 || r.channels == 3,
      s"encoder supports gray or RGB, got ${r.channels} channels")
    require(r.width <= 0xFFFF && r.height <= 0xFFFF && q >= 0)
    require(restartInterval >= 0 && restartInterval <= 0xFFFF)
    val img = image(r)
    val table =
      if (q == 0) new JPEGQTable(Array.fill(64)(1))
      else JPEGQTable.K1Luminance.getScaledInstance(q / 8f, true)
    writing("jpeg") { w =>
      val meta = w.getDefaultImageMetadata(new ImageTypeSpecifier(img), null)
      val root = tree(meta, JpegTree)
      nodes(root, "dqtable").foreach(_.setUserObject(table))
      nodes(root, "componentSpec").foreach { c =>
        c.setAttribute("HsamplingFactor", "1"); c.setAttribute("VsamplingFactor", "1")
      }
      if (restartInterval > 0) {
        val sos = nodes(root, "sos").head
        sos.getParentNode.insertBefore(node("dri", "interval" -> restartInterval), sos)
      }
      meta.setFromTree(JpegTree, root)
      w.write(null, new IIOImage(img, null, meta), null)
    }
  }

  /** Decode an 8-bit gray or YCbCr JPEG (baseline or progressive) to a
    * gray or RGB raster; None for anything else. */
  def decodeJpeg(jpeg: Array[Byte]): Option[Raster] = still("jpeg", jpeg)

  /** Nearest-neighbor resample: out(x, y) = src(x*w/ow, y*h/oh) — exact
    * integer math, reproducible anywhere (including a SQL mirror). */
  def resampleNearest(r: Raster, ow: Int, oh: Int): Raster = {
    require(ow > 0 && oh > 0)
    val out = new Array[Byte](ow * oh * r.channels)
    var y = 0
    while (y < oh) {
      val sy = (y.toLong * r.height / oh).toInt
      var x = 0
      while (x < ow) {
        val sx = (x.toLong * r.width / ow).toInt
        System.arraycopy(r.pixels, (sy * r.width + sx) * r.channels,
          out, (y * ow + x) * r.channels, r.channels)
        x += 1
      }
      y += 1
    }
    Raster(ow, oh, r.channels, out)
  }

  private def still(format: String, bytes: Array[Byte]): Option[Raster] =
    reading(format, bytes, metadata = false) { (rd, _, _) =>
      if (rd.getWidth(0).toLong * rd.getHeight(0) > MaxPixels) None
      else {
        val img = rd.read(0)
        img.getType match {
          case BufferedImage.TYPE_BYTE_GRAY | BufferedImage.TYPE_3BYTE_BGR |
               BufferedImage.TYPE_4BYTE_ABGR =>
            val (w, h) = (img.getWidth, img.getHeight)
            // data elements come in band order (R, G, B, A), whatever
            // order the image buffer stores them in
            Some(Raster(w, h, img.getRaster.getNumBands,
              img.getRaster.getDataElements(0, 0, w, h, null).asInstanceOf[Array[Byte]]))
          case _ => None // indexed, 16-bit, gray+alpha, ...
        }
      }
    }

  private def image(r: Raster): BufferedImage = {
    require(r.width > 0 && r.height > 0 &&
      r.pixels.length == r.width * r.height * r.channels, "pixel buffer size")
    val img = new BufferedImage(r.width, r.height, r.channels match {
      case 1 => BufferedImage.TYPE_BYTE_GRAY
      case 3 => BufferedImage.TYPE_3BYTE_BGR
      case _ => BufferedImage.TYPE_4BYTE_ABGR
    })
    img.getRaster.setDataElements(0, 0, r.width, r.height, r.pixels)
    img
  }

  // ------------------------------------------------------------ GIF

  /** Encode full-canvas 8-bit-index frames `(delayCs, indices)` as a
    * GIF89a animation over one 256-entry palette (`palette` = 768
    * interleaved RGB bytes); every frame is non-interlaced, disposal 0,
    * no transparency. */
  def encodeGif(width: Int, height: Int, palette: Array[Byte],
                frames: Seq[(Int, Array[Byte])]): Array[Byte] = {
    require(width > 0 && height > 0 && width <= 0xFFFF && height <= 0xFFFF)
    require(palette.length == 768, s"palette must be 256*3 bytes, got ${palette.length}")
    require(frames.nonEmpty, "at least one frame")
    frames.foreach { case (_, px) =>
      require(px.length == width * height, "frame must be full-canvas indices")
    }
    def band(c: Int) = Array.tabulate(256)(i => palette(3 * i + c))
    val cm = new IndexColorModel(8, 256, band(0), band(1), band(2))
    writing("gif") { w =>
      w.prepareWriteSequence(null)
      for ((delayCs, px) <- frames) {
        val img = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_INDEXED, cm)
        img.getRaster.setDataElements(0, 0, width, height, px)
        val meta = w.getDefaultImageMetadata(new ImageTypeSpecifier(img), null)
        val root = node(GifTree)
        // the JDK writer interlaces unless told otherwise
        root.appendChild(node("ImageDescriptor", "imageLeftPosition" -> 0,
          "imageTopPosition" -> 0, "imageWidth" -> width, "imageHeight" -> height,
          "interlaceFlag" -> "FALSE"))
        root.appendChild(node("GraphicControlExtension", "disposalMethod" -> "none",
          "userInputFlag" -> "FALSE", "transparentColorFlag" -> "FALSE",
          "delayTime" -> delayCs, "transparentColorIndex" -> 0))
        // a tree without the default's local color table: the writer
        // re-reads the tree per frame, a node per palette entry
        meta.setFromTree(GifTree, root)
        w.writeToSequence(new IIOImage(img, null, meta), null)
      }
      w.endWriteSequence()
    }
  }

  /** Decode a GIF to composited RGB frames: each raw frame is painted
    * onto the logical canvas at its offset (transparent pixels keep the
    * canvas), then disposed of per its graphic control — 2 restores the
    * background over the frame rect, 3 restores the pre-frame canvas,
    * anything else leaves it. The canvas starts as the global table's
    * background color (black without one). */
  def decodeGif(gif: Array[Byte]): Option[Gif] =
    reading("gif", gif, metadata = true)(composite(gif, _, _, _))

  private def composite(gif: Array[Byte], rd: ImageReader, in: Input,
                        watch: Watch): Option[Gif] = {
    val n = rd.getNumImages(true)
    // the reader ends the animation at end of input as quietly as at the
    // trailer: a read past the end means the file was cut
    if (in.overran || n == 0) return None
    // the logical screen descriptor (GIF89a §18) the reader has accepted,
    // read in place: its metadata tree costs a node per palette entry
    def u16(i: Int) = (gif(i) & 0xFF) | (gif(i + 1) & 0xFF) << 8
    val (width, height, flags) = (u16(6), u16(8), gif(10) & 0xFF)
    val global = (flags & 0x80) != 0
    val bgAt = 13 + 3 * (gif(11) & 0xFF)
    val bg =
      if (global && bgAt < 13 + (6 << (flags & 7))) gif.slice(bgAt, bgAt + 3)
      else Array[Byte](0, 0, 0)
    if (width <= 0 || height <= 0 || width.toLong * height > MaxPixels) return None
    def fill(canvas: Array[Byte], x0: Int, y0: Int, w: Int, h: Int): Unit =
      for (y <- y0 until y0 + h; x <- x0 until x0 + w)
        System.arraycopy(bg, 0, canvas, (y * width + x) * 3, 3)
    val canvas = new Array[Byte](width * height * 3)
    fill(canvas, 0, 0, width, height)
    val frames = Seq.newBuilder[Frame]
    var i = 0
    while (i < n) {
      val meta = tree(rd.getImageMetadata(i), GifTree)
      val d = nodes(meta, "ImageDescriptor").head
      val (left, top) = (int(d, "imageLeftPosition"), int(d, "imageTopPosition"))
      val (fw, fh) = (int(d, "imageWidth"), int(d, "imageHeight"))
      val gce = nodes(meta, "GraphicControlExtension").headOption
      val disposal = gce.fold(0)(g => Disposals.indexOf(g.getAttribute("disposalMethod")))
      val transparent = gce.filter(_.getAttribute("transparentColorFlag") == "TRUE")
        .fold(-1)(int(_, "transparentColorIndex"))
      if (d.getAttribute("interlaceFlag") == "TRUE" || left + fw > width ||
          top + fh > height || (!global && nodes(meta, "LocalColorTable").isEmpty))
        return None
      val img = rd.read(i)
      if (watch.progress < 100f) return None // the pixel data ran out early
      val idx = img.getRaster.getPixels(0, 0, fw, fh, null: Array[Int])
      val cm = img.getColorModel.asInstanceOf[IndexColorModel]
      val rgb = Array.tabulate(cm.getMapSize)(cm.getRGB)
      val before = if (disposal == 3) canvas.clone() else null
      var k = 0
      while (k < idx.length) {
        val p = idx(k)
        if (p != transparent && p < rgb.length) {
          val o = ((top + k / fw) * width + left + k % fw) * 3
          canvas(o) = (rgb(p) >> 16).toByte
          canvas(o + 1) = (rgb(p) >> 8).toByte
          canvas(o + 2) = rgb(p).toByte
        }
        k += 1
      }
      // the per-canvas cap bounds ONE frame; a hostile file (huge canvas,
      // thousands of 1x1 frames) must not force multi-GB of output — an
      // OutOfMemoryError is not something a decoder can return None from
      if ((i + 1).toLong * canvas.length > MaxGifBytes) return None
      frames += Frame(gce.fold(0)(int(_, "delayTime")), canvas.clone())
      disposal match {
        case 2 => fill(canvas, left, top, fw, fh)
        case 3 => System.arraycopy(before, 0, canvas, 0, canvas.length)
        case _ => ()
      }
      i += 1
    }
    Some(Gif(width, height, frames.result()))
  }

  // ------------------------------------------------------------ WAV

  /** Encode interleaved 16-bit PCM as a WAV. */
  def encodeWav(c: Clip): Array[Byte] = {
    require(c.sampleRate > 0 && c.channels > 0)
    require(c.samples.length % c.channels == 0, "partial frame")
    val pcm = new Array[Byte](c.samples.length * 2)
    ByteBuffer.wrap(pcm).order(ByteOrder.LITTLE_ENDIAN).asShortBuffer().put(c.samples)
    val format = new AudioFormat(c.sampleRate.toFloat, 16, c.channels, true, false)
    val out = new ByteArrayOutputStream(pcm.length + 44)
    AudioSystem.write(new AudioInputStream(new ByteArrayInputStream(pcm), format,
      c.samples.length / c.channels), AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Decode a 16-bit signed little-endian PCM WAV; None for anything else
    * (float or 8-bit samples, other containers, short data). */
  def decodeWav(wav: Array[Byte]): Option[Clip] =
    try {
      val audio = wavReader.getAudioInputStream(new ByteArrayInputStream(wav))
      val f = audio.getFormat
      // javax.sound hands back a short stream, silently, when the data
      // chunk is cut: the byte count must match the declared frames
      val pcm = audio.readAllBytes()
      if (f.getEncoding != AudioFormat.Encoding.PCM_SIGNED ||
          f.getSampleSizeInBits != 16 || f.isBigEndian || f.getChannels <= 0 ||
          f.getSampleRate < 1 || pcm.length != audio.getFrameLength * f.getFrameSize) None
      else {
        val samples = new Array[Short](pcm.length / 2)
        ByteBuffer.wrap(pcm).order(ByteOrder.LITTLE_ENDIAN).asShortBuffer().get(samples)
        Some(Clip(f.getSampleRate.toInt, f.getChannels, samples))
      }
    } catch { case NonFatal(_) => None }

  /** The JDK's PCM WAVE reader, picked once: `AudioSystem` would try
    * every installed reader (AIFF, AU, MIDI, ...) on every call, ~25 µs
    * a clip. */
  private lazy val wavReader: AudioFileReader = {
    val probe = encodeWav(Clip(8000, 1, Array[Short](0)))
    ServiceLoader.loadInstalled(classOf[AudioFileReader]).asScala.find { r =>
      Try(r.getAudioFileFormat(new ByteArrayInputStream(probe)).getType) ==
        Success(AudioFileFormat.Type.WAVE)
    }.get
  }

  // ------------------------------------------------------------ plumbing

  /** In-memory image stream that notes any read past the end. */
  private final class Input(bytes: Array[Byte]) extends ImageInputStreamImpl {
    var overran = false
    override def length(): Long = bytes.length
    // nothing to release: an empty finalize keeps the JVM from queueing
    // every decode's stream for finalization
    override protected def finalize(): Unit = ()
    override def read(): Int =
      if (streamPos >= bytes.length) { overran = true; -1 }
      else { bitOffset = 0; streamPos += 1; bytes(streamPos.toInt - 1) & 0xFF }
    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      val n = math.min(len.toLong, bytes.length - streamPos).toInt
      if (len > 0 && n <= 0) { overran = true; return -1 }
      bitOffset = 0
      System.arraycopy(bytes, streamPos.toInt, buf, off, n)
      streamPos += n
      n
    }
  }

  /** Damage the readers report without throwing: any warning, and (GIF)
    * a frame read that ends short of all its rows. */
  private final class Watch extends IIOReadWarningListener with IIOReadProgressListener {
    var warned = false
    var progress = 0f
    def warningOccurred(r: ImageReader, message: String): Unit = warned = true
    def imageStarted(r: ImageReader, i: Int): Unit = progress = 0f
    def imageProgress(r: ImageReader, p: Float): Unit = progress = p
    def imageComplete(r: ImageReader): Unit = ()
    def sequenceStarted(r: ImageReader, i: Int): Unit = ()
    def sequenceComplete(r: ImageReader): Unit = ()
    def thumbnailStarted(r: ImageReader, i: Int, t: Int): Unit = ()
    def thumbnailProgress(r: ImageReader, p: Float): Unit = ()
    def thumbnailComplete(r: ImageReader): Unit = ()
    def readAborted(r: ImageReader): Unit = ()
  }

  /** `body` over a fresh `format` reader on `bytes`; None on a throw or
    * on any warning. */
  private def reading[A](format: String, bytes: Array[Byte], metadata: Boolean)
                        (body: (ImageReader, Input, Watch) => Option[A]): Option[A] =
    if (bytes == null) None
    else {
      val rd = ImageIO.getImageReadersByFormatName(format).next()
      val in = new Input(bytes)
      val watch = new Watch
      rd.addIIOReadWarningListener(watch)
      rd.addIIOReadProgressListener(watch)
      try {
        rd.setInput(in, false, !metadata)
        body(rd, in, watch).filter(_ => !watch.warned)
      } catch { case NonFatal(_) => None }
      finally rd.dispose()
    }

  private def writing(format: String)(body: ImageWriter => Unit): Array[Byte] = {
    val w = ImageIO.getImageWritersByFormatName(format).next()
    val bytes = new ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bytes)
    try { w.setOutput(out); body(w); out.close() }
    finally w.dispose()
    bytes.toByteArray
  }

  private def tree(meta: IIOMetadata, format: String): IIOMetadataNode =
    meta.getAsTree(format).asInstanceOf[IIOMetadataNode]

  private def nodes(root: IIOMetadataNode, name: String): Seq[IIOMetadataNode] = {
    val list = root.getElementsByTagName(name)
    (0 until list.getLength).map(list.item(_).asInstanceOf[IIOMetadataNode])
  }

  private def node(name: String, attrs: (String, Any)*): IIOMetadataNode = {
    val n = new IIOMetadataNode(name)
    attrs.foreach { case (k, v) => n.setAttribute(k, v.toString) }
    n
  }

  private def int(n: IIOMetadataNode, attr: String): Int = n.getAttribute(attr).toInt
}
