package graft.multimodal

import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, ComponentColorModel, DataBuffer, IndexColorModel}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.util.ServiceLoader
import javax.imageio.{IIOImage, ImageIO, ImageReader, ImageTypeSpecifier, ImageWriteParam}
import javax.imageio.metadata.{IIOMetadata, IIOMetadataNode}
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem,
  UnsupportedAudioFileException}
import javax.sound.sampled.spi.{AudioFileReader, AudioFileWriter}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The one media codec seam. PNG, JPEG, GIF and BMP encode and decode
  * through the JDK's javax.imageio, WAV through javax.sound.sampled;
  * only what the JDK lacks is hand-written here: the uncompressed-RGB
  * AVI codec and header-only dimension sniffing (`sniffDims`, which
  * sizes minimal headers the ImageIO readers reject). Streams are
  * in-memory (MemoryCacheImage*Stream), never ImageIO's JVM-wide file
  * cache. Modern compressed video remains out of scope (no container/av
  * libs here) and rides the documented stub path.
  *
  * Reference capability: Pinot stores opaque BYTES columns and computes
  * over them with transform functions (/root/reference/
  * configuration-reference/schema.md:24 BYTES field specs); a training
  * -data pipeline needs the decode to be real.
  */
object MediaCodec {

  // --------------------------------------------------------------- images

  /** RGB8 image, 3 bytes per pixel, row-major. */
  final case class PngImage(width: Int, height: Int, rgb: Array[Byte])

  private val PngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')

  private val ImageFormats = Set("png", "jpeg", "gif", "bmp")

  /** The format the magic bytes name — exactly png, jpeg, gif or bmp, so
    * the JDK's other readers (TIFF, WBMP) stay out of reach.
    */
  private def imageFormat(bytes: Array[Byte]): Option[String] =
    if (bytes == null || bytes.length < 4) None
    else (bytes(0) & 0xff, bytes(1) & 0xff) match {
      case (0x89, 'P') => Some("png")
      case (0xff, 0xd8) => Some("jpeg")
      case ('G', 'I') => Some("gif")
      case ('B', 'M') => Some("bmp")
      case _ => None
    }

  /** Format-dispatched image decode to RGB8: PNG, JPEG (baseline or
    * progressive, any chroma sampling), GIF (first frame, on its logical
    * screen) and BMP, each through the JDK reader for the format its magic
    * bytes name. This is the crawl-shaped entry point: perceptual dedup and
    * featurization see PIXELS regardless of which container the crawler
    * stored. Anything else, and any blob the reader rejects, → None;
    * corrupt data never throws.
    */
  def decodeImage(bytes: Array[Byte]): Option[PngImage] =
    imageFormat(bytes).flatMap { format =>
      val reader = ImageIO.getImageReadersByFormatName(format).next()
      val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
      try {
        reader.setInput(in, true, format != "gif") // GIF needs its screen metadata
        Option(reader.read(0)).map { frame =>
          if (format == "gif") gifScreen(reader, frame) else toRgb(frame)
        }
      } catch { case _: Exception => None }
      finally { reader.dispose(); in.close() }
    }

  private def metaNode(meta: IIOMetadata, format: String, tag: String): Option[IIOMetadataNode] =
    Option(meta.getAsTree(format).asInstanceOf[IIOMetadataNode].getElementsByTagName(tag).item(0))
      .map(_.asInstanceOf[IIOMetadataNode])

  /** GIF frame 0 drawn at its offset on the logical screen over the
    * global background colour, so the decoded size is the one `sniffDims`
    * reports. Transparent pixels keep their palette colour: fingerprints
    * hash what is stored, not a composite.
    */
  private def gifScreen(reader: ImageReader, frame: BufferedImage): PngImage = {
    val stream = reader.getStreamMetadata
    val screen = metaNode(stream, "javax_imageio_gif_stream_1.0", "LogicalScreenDescriptor").get
    val w = screen.getAttribute("logicalScreenWidth").toInt
    val h = screen.getAttribute("logicalScreenHeight").toInt
    val at = metaNode(reader.getImageMetadata(0), "javax_imageio_gif_image_1.0", "ImageDescriptor").get
    val left = at.getAttribute("imageLeftPosition").toInt
    val top = at.getAttribute("imageTopPosition").toInt
    require(w > 0 && h > 0, "empty logical screen")
    if (left == 0 && top == 0 && frame.getWidth == w && frame.getHeight == h) toRgb(frame)
    else {
      val bg = metaNode(stream, "javax_imageio_gif_stream_1.0", "GlobalColorTable").flatMap { t =>
        val entries = t.getElementsByTagName("ColorTableEntry")
        (0 until entries.getLength).map(entries.item(_).asInstanceOf[IIOMetadataNode])
          .find(_.getAttribute("index") == t.getAttribute("backgroundColorIndex"))
      }.fold(0)(e => (e.getAttribute("red").toInt << 16) |
        (e.getAttribute("green").toInt << 8) | e.getAttribute("blue").toInt)
      val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      out.setRGB(0, 0, w, h, Array.fill(w * h)(bg), 0, w)
      val (fw, fh) = (math.min(frame.getWidth, w - left), math.min(frame.getHeight, h - top))
      if (fw > 0 && fh > 0)
        out.setRGB(left, top, fw, fh, frame.getRGB(0, 0, fw, fh, null, 0, fw), 0, fw)
      toRgb(out)
    }
  }

  private def toRgb(bi: BufferedImage): PngImage = {
    val (w, h) = (bi.getWidth, bi.getHeight)
    val cm = bi.getColorModel
    // 8-bit sRGB without alpha, as PNG, JPEG and BMP decode to: the raster's
    // data elements are already RGB8, and getRGB would take 4× as long
    if (cm.isInstanceOf[ComponentColorModel] && cm.getColorSpace.isCS_sRGB &&
      !cm.hasAlpha && cm.getNumComponents == 3 && cm.getComponentSize.forall(_ == 8) &&
      cm.getTransferType == DataBuffer.TYPE_BYTE)
      return PngImage(w, h, bi.getRaster.getDataElements(0, 0, w, h, null).asInstanceOf[Array[Byte]])
    // getRGB would gamma-map gray of 8 bits and more (the JDK's gray space
    // is linear), so gray samples are read from the raster
    val px =
      if (cm.getColorSpace.getType == ColorSpace.TYPE_GRAY && cm.getComponentSize(0) >= 8) {
        val shift = cm.getComponentSize(0) - 8
        bi.getRaster.getSamples(0, 0, w, h, 0, null: Array[Int]).map(s => (s >> shift) * 0x010101)
      } else bi.getRGB(0, 0, w, h, null, 0, w)
    val rgb = new Array[Byte](w * h * 3)
    var i = 0
    while (i < px.length) {
      rgb(i * 3) = (px(i) >> 16).toByte
      rgb(i * 3 + 1) = (px(i) >> 8).toByte
      rgb(i * 3 + 2) = px(i).toByte
      i += 1
    }
    PngImage(w, h, rgb)
  }

  private val JpegMeta = "javax_imageio_jpeg_image_1.0"

  /** `img` as an indexed image whose palette is exactly its distinct
    * colours, in first-seen order. Handed an RGB image, the JDK's GIF
    * writer runs its octree quantizer instead, which cost most of an encode
    * and silently merges colours above 256; more than 256 is refused.
    */
  private def onPalette(img: PngImage): BufferedImage = {
    val slot = mutable.LinkedHashMap.empty[Int, Int]
    val indices = Array.tabulate(img.width * img.height) { i =>
      val c = ((img.rgb(i * 3) & 0xff) << 16) | ((img.rgb(i * 3 + 1) & 0xff) << 8) |
        (img.rgb(i * 3 + 2) & 0xff)
      slot.getOrElseUpdate(c, slot.size).toByte
    }
    require(slot.size <= 256, s"GIF holds at most 256 colours, image has ${slot.size}")
    val Seq(r, g, b) = Seq(16, 8, 0).map(s => slot.keysIterator.map(c => (c >> s).toByte).toArray)
    val bi = new BufferedImage(img.width, img.height, BufferedImage.TYPE_BYTE_INDEXED,
      new IndexColorModel(8, slot.size, r, g, b))
    bi.getRaster.setDataElements(0, 0, img.width, img.height, indices)
    bi
  }

  /** Encode RGB8 as "png", "jpeg", "gif" or "bmp" through the JDK writer.
    *  - JPEG is baseline, 4:4:4 and RGB-coded (Adobe APP14 transform 0, no
    *    JFIF) at quality 0.9, which round-trips q_dedup_image's 32×32
    *    fixture exactly. YCbCr coding rounds channels by ±1 and so flips
    *    aHash bits that sit on the mean (1,188 of 20,000 fixture ids);
    *    the writer's default 4:2:0 drifts on 14,812.
    *  - GIF is written non-interlaced, from an exact palette: the JDK
    *    reader returns wrong pixels for interlaced images 2–4 rows tall,
    *    and more than 256 distinct colours is refused.
    */
  def encodeImage(img: PngImage, format: String): Array[Byte] = {
    require(ImageFormats(format), s"unsupported image format $format")
    require(img.rgb.length == img.width * img.height * 3,
      s"rgb length ${img.rgb.length} != w*h*3 (${img.width}x${img.height})")
    val bi = if (format == "gif") onPalette(img) else {
      val bi = new BufferedImage(img.width, img.height, BufferedImage.TYPE_3BYTE_BGR)
      bi.getRaster.setDataElements(0, 0, img.width, img.height, img.rgb)
      bi
    }
    val writer = ImageIO.getImageWritersByFormatName(format).next()
    val param = writer.getDefaultWriteParam
    val meta: IIOMetadata = format match {
      case "jpeg" =>
        param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
        param.setCompressionQuality(0.9f)
        val meta = writer.getDefaultImageMetadata(new ImageTypeSpecifier(bi), param)
        val root = meta.getAsTree(JpegMeta).asInstanceOf[IIOMetadataNode]
        val variety = root.getElementsByTagName("JPEGvariety").item(0)
        while (variety.hasChildNodes) variety.removeChild(variety.getFirstChild) // no JFIF
        val adobe = new IIOMetadataNode("app14Adobe")
        adobe.setAttribute("transform", "0") // components are R, G, B
        val markers = root.getElementsByTagName("markerSequence").item(0)
        markers.insertBefore(adobe, markers.getFirstChild)
        val comps = root.getElementsByTagName("componentSpec")
        (0 until comps.getLength).foreach { i =>
          val c = comps.item(i).asInstanceOf[IIOMetadataNode]
          c.setAttribute("HsamplingFactor", "1")
          c.setAttribute("VsamplingFactor", "1")
        }
        meta.setFromTree(JpegMeta, root)
        meta
      case "gif" =>
        param.setProgressiveMode(ImageWriteParam.MODE_DISABLED)
        null
      case _ => null
    }
    val bytes = new ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bytes)
    try {
      writer.setOutput(out)
      writer.write(null, new IIOImage(bi, null, meta), param)
    } finally { writer.dispose(); out.close() }
    bytes.toByteArray
  }

  // ------------------------------------------------------------------ WAV

  final case class WavAudio(sampleRate: Int, channels: Int, bitsPerSample: Int, data: Array[Byte]) {
    def nFrames: Long =
      if (channels <= 0 || bitsPerSample <= 0) 0L
      else data.length.toLong / (channels * (bitsPerSample / 8))
    def durationMs: Long = if (sampleRate <= 0) 0L else nFrames * 1000L / sampleRate
  }

  // AudioSystem looks its providers up through ServiceLoader on every call,
  // which cost more than the clip itself (~60 µs per clip on Spark's
  // classpath). The JDK's own providers are stateless, so they are loaded
  // once and tried in AudioSystem's order, except that the readers taking
  // PCM WAV go first: a reader that rejects a blob costs ~20 µs, and the
  // JDK's WAV readers split the format tags between them, so the order
  // changes no result.
  private lazy val audioWriters: Vector[AudioFileWriter] =
    ServiceLoader.loadInstalled(classOf[AudioFileWriter]).asScala.toVector

  private lazy val wavReaders: Vector[AudioFileReader] = {
    val probe = encodeWavPcm16(8000, 1, Array[Short](0))
    val (pcm, rest) = ServiceLoader.loadInstalled(classOf[AudioFileReader]).asScala.toVector
      .partition(r => Try(r.getAudioInputStream(new ByteArrayInputStream(probe))).isSuccess)
    pcm ++ rest
  }

  /** Encode 16-bit PCM samples (interleaved when channels > 1) as RIFF/WAVE. */
  def encodeWavPcm16(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
    val data = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      data(i * 2) = (samples(i) & 0xff).toByte
      data(i * 2 + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val format = new AudioFormat(sampleRate.toFloat, 16, channels, true, false)
    val pcm = new AudioInputStream(new ByteArrayInputStream(data), format, samples.length / channels)
    val out = new ByteArrayOutputStream()
    audioWriters.find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE, pcm))
      .getOrElse(throw new IllegalArgumentException(s"no WAV writer for $format"))
      .write(pcm, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** The format and data bytes of a WAV; None for non-WAV, corrupt or
    * truncated input.
    */
  def decodeWav(bytes: Array[Byte]): Option[WavAudio] = {
    // only RIFF/WAVE: AudioSystem's other readers would hand back AIFF/AU
    // as big-endian samples and render MIDI through a synthesizer
    if (bytes == null || bytes.length < 12 ||
      new String(bytes, 0, 4, StandardCharsets.US_ASCII) != "RIFF" ||
      new String(bytes, 8, 4, StandardCharsets.US_ASCII) != "WAVE") return None
    try {
      wavReaders.iterator.flatMap { r =>
        try Some(r.getAudioInputStream(new ByteArrayInputStream(bytes)))
        catch { case _: UnsupportedAudioFileException => None }
      }.nextOption().flatMap { in =>
        try {
          val f = in.getFormat
          val data = in.readAllBytes()
          if (in.getFrameLength != AudioSystem.NOT_SPECIFIED &&
            data.length.toLong != in.getFrameLength * f.getFrameSize) None
          else Some(WavAudio(f.getSampleRate.toInt, f.getChannels, f.getSampleSizeInBits, data))
        } finally in.close()
      }
    } catch { case _: Exception => None }
  }

  private def u16le(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def u32le(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def readU16le(b: Array[Byte], off: Int): Int = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def readU32le(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) | ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
  private def readU32be(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  // ------------------------------------------------------------------ AVI

  /** Uncompressed RGB video: frames are RGB8 top-down row-major (same
    * layout as PngImage.rgb), one Array per frame.
    */
  final case class AviVideo(
      width: Int, height: Int, microSecPerFrame: Long, frames: Vector[Array[Byte]]) {
    def nFrames: Int = frames.length
    def durationMs: Long = nFrames * microSecPerFrame / 1000L
  }

  private def fourcc(s: String): Array[Byte] = s.getBytes(StandardCharsets.US_ASCII)

  /** Encode uncompressed 24-bit RGB frames as a RIFF AVI (public
    * Microsoft 'AVI ' form: LIST hdrl {avih, LIST strl {strh 'vids'/'DIB ',
    * strf BITMAPINFOHEADER BI_RGB}}, LIST movi {'00db' DIB frames}). Frame
    * pixel data is converted to the DIB wire layout: bottom-up rows, BGR,
    * each row padded to a 4-byte boundary.
    */
  def encodeAviRgb24(
      width: Int, height: Int, microSecPerFrame: Long,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    require(width > 0 && height > 0 && microSecPerFrame > 0)
    frames.foreach(f => require(f.length == width * height * 3,
      s"frame length ${f.length} != w*h*3 (${width}x$height)"))
    val rowBytes = width * 3
    val paddedRow = (rowBytes + 3) & ~3
    val dibSize = paddedRow * height

    def dibOf(rgb: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](dibSize)
      var y = 0
      while (y < height) {
        val srcRow = y * rowBytes
        val dstRow = (height - 1 - y) * paddedRow // bottom-up
        var x = 0
        while (x < width) {
          out(dstRow + x * 3) = rgb(srcRow + x * 3 + 2) // B
          out(dstRow + x * 3 + 1) = rgb(srcRow + x * 3 + 1) // G
          out(dstRow + x * 3 + 2) = rgb(srcRow + x * 3) // R
          x += 1
        }
        y += 1
      }
      out
    }

    def list(kind: String, body: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      out.write(fourcc("LIST")); out.write(u32le(4L + body.length))
      out.write(fourcc(kind)); out.write(body)
      out.toByteArray
    }
    def ck(id: String, body: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      out.write(fourcc(id)); out.write(u32le(body.length.toLong)); out.write(body)
      if ((body.length & 1) == 1) out.write(0) // RIFF word alignment
      out.toByteArray
    }

    // MainAVIHeader (56 bytes)
    val avih = new ByteArrayOutputStream()
    avih.write(u32le(microSecPerFrame))
    avih.write(u32le(dibSize.toLong * 1000000L / microSecPerFrame)) // maxBytesPerSec
    avih.write(u32le(0L)) // paddingGranularity
    avih.write(u32le(0x10L)) // AVIF_HASINDEX off; 0x10 = WASCAPTUREFILE-ish flags unused
    avih.write(u32le(frames.length.toLong)) // totalFrames
    avih.write(u32le(0L)) // initialFrames
    avih.write(u32le(1L)) // streams
    avih.write(u32le(dibSize.toLong)) // suggestedBufferSize
    avih.write(u32le(width.toLong))
    avih.write(u32le(height.toLong))
    (0 until 4).foreach(_ => avih.write(u32le(0L))) // reserved

    // AVIStreamHeader (56 bytes)
    val strh = new ByteArrayOutputStream()
    strh.write(fourcc("vids"))
    strh.write(fourcc("DIB "))
    strh.write(u32le(0L)) // flags
    strh.write(u16le(0)); strh.write(u16le(0)) // priority, language
    strh.write(u32le(0L)) // initialFrames
    strh.write(u32le(microSecPerFrame)) // scale
    strh.write(u32le(1000000L)) // rate => fps = rate/scale
    strh.write(u32le(0L)) // start
    strh.write(u32le(frames.length.toLong)) // length (in frames)
    strh.write(u32le(dibSize.toLong)) // suggestedBufferSize
    strh.write(u32le(0xffffffffL)) // quality
    strh.write(u32le(0L)) // sampleSize
    strh.write(u16le(0)); strh.write(u16le(0)) // rcFrame
    strh.write(u16le(width)); strh.write(u16le(height))

    // BITMAPINFOHEADER (40 bytes), biCompression = 0 (BI_RGB)
    val strf = new ByteArrayOutputStream()
    strf.write(u32le(40L))
    strf.write(u32le(width.toLong))
    strf.write(u32le(height.toLong)) // positive = bottom-up
    strf.write(u16le(1)) // planes
    strf.write(u16le(24)) // bitCount
    strf.write(u32le(0L)) // BI_RGB
    strf.write(u32le(dibSize.toLong))
    strf.write(u32le(0L)); strf.write(u32le(0L)) // pels/meter
    strf.write(u32le(0L)); strf.write(u32le(0L)) // clrUsed/Important

    val strl = list("strl",
      ck("strh", strh.toByteArray) ++ ck("strf", strf.toByteArray))
    val hdrl = list("hdrl", ck("avih", avih.toByteArray) ++ strl)
    val movi = list("movi",
      frames.toArray.flatMap(f => ck("00db", dibOf(f))))

    val body = new ByteArrayOutputStream()
    body.write(fourcc("AVI "))
    body.write(hdrl)
    body.write(movi)
    val bytes = body.toByteArray
    val out = new ByteArrayOutputStream()
    out.write(fourcc("RIFF")); out.write(u32le(bytes.length.toLong)); out.write(bytes)
    out.toByteArray
  }

  /** Decode an uncompressed-RGB24 AVI produced by any conformant writer
    * (BI_RGB '00db'/'00dc' frames, bottom-up or top-down DIB rows, 4-byte
    * row padding). Returns None — never throws — for anything else
    * (compressed codecs, non-AVI RIFF, corrupt/truncated bytes).
    */
  def decodeAvi(bytes: Array[Byte]): Option[AviVideo] = {
    try {
      if (bytes == null || bytes.length < 12) return None
      def tag(off: Int) = new String(bytes, off, 4, StandardCharsets.US_ASCII)
      if (tag(0) != "RIFF" || tag(8) != "AVI ") return None

      var width = -1; var height = -1; var microSec = -1L
      var bitCount = -1; var compression = -1L; var topDown = false
      val frames = Vector.newBuilder[Array[Byte]]

      // Walk chunks in [off, end); LISTs recurse into their body.
      def walk(off0: Int, end: Int): Boolean = { // false = structurally invalid
        var off = off0
        while (off + 8 <= end) {
          val id = tag(off)
          val len = readU32le(bytes, off + 4).toInt
          if (len < 0 || off + 8 + len > end) return false
          if (id == "LIST") {
            if (len < 4) return false
            if (!walk(off + 12, off + 8 + len)) return false
          } else id match {
            case "avih" if len >= 40 =>
              microSec = readU32le(bytes, off + 8)
              width = readU32le(bytes, off + 40).toInt
              height = readU32le(bytes, off + 44).toInt
            case "strf" if len >= 40 =>
              // BITMAPINFOHEADER; negative biHeight = top-down rows
              val bw = readU32le(bytes, off + 12).toInt
              val bh = readU32le(bytes, off + 16).toInt
              if (width <= 0) width = bw
              if (bh < 0) { topDown = true; if (height <= 0) height = -bh }
              else if (height <= 0) height = bh
              bitCount = readU16le(bytes, off + 22)
              compression = readU32le(bytes, off + 24)
            case f if f.endsWith("db") || f.endsWith("dc") => // '##db'/'##dc' frames
              frames += java.util.Arrays.copyOfRange(bytes, off + 8, off + 8 + len)
            case _ => ()
          }
          off += 8 + len + (len & 1) // RIFF chunks are word-aligned
        }
        true
      }
      if (!walk(12, bytes.length)) return None
      if (width <= 0 || height <= 0 || microSec <= 0) return None
      if (bitCount != 24 || compression != 0L) return None // only BI_RGB 24bpp

      val rowBytes = width * 3
      val paddedRow = (rowBytes + 3) & ~3
      val dibSize = paddedRow * height
      val rgbFrames = frames.result().map { dib =>
        if (dib.length != dibSize) return None
        val rgb = new Array[Byte](height * rowBytes)
        var y = 0
        while (y < height) {
          val srcRow = (if (topDown) y else height - 1 - y) * paddedRow
          val dstRow = y * rowBytes
          var x = 0
          while (x < width) {
            rgb(dstRow + x * 3) = dib(srcRow + x * 3 + 2) // R
            rgb(dstRow + x * 3 + 1) = dib(srcRow + x * 3 + 1) // G
            rgb(dstRow + x * 3 + 2) = dib(srcRow + x * 3) // B
            x += 1
          }
          y += 1
        }
        rgb
      }
      if (rgbFrames.isEmpty) return None
      Some(AviVideo(width, height, microSec, rgbFrames))
    } catch { case _: Exception => None }
  }

  // ------------------------------------- header sniffing (jpeg/gif/bmp/…)

  /** (format, width, height) from the binary header alone, or None.
    * JPEG dimensions come from the first SOF0/1/2 marker; GIF from the
    * logical screen descriptor; BMP from BITMAPINFOHEADER (negative
    * height = top-down rows → abs). PNG/WAV delegate to the full parsers.
    */
  def sniffDims(bytes: Array[Byte]): Option[(String, Int, Int)] = {
    try {
      if (bytes == null || bytes.length < 12) return None
      if (PngSig.indices.forall(i => bytes(i) == PngSig(i))) {
        // header-only: IHDR is always first
        if (bytes.length < 24) return None
        return Some(("png", readU32be(bytes, 16).toInt, readU32be(bytes, 20).toInt))
      }
      if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) {
        var off = 2
        while (off + 4 <= bytes.length) {
          if ((bytes(off) & 0xff) != 0xff) return None
          val marker = bytes(off + 1) & 0xff
          if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) { off += 2 }
          else {
            if (off + 4 > bytes.length) return None
            val len = ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
            if (marker == 0xc0 || marker == 0xc1 || marker == 0xc2) {
              if (off + 9 > bytes.length) return None
              val h = ((bytes(off + 5) & 0xff) << 8) | (bytes(off + 6) & 0xff)
              val w = ((bytes(off + 7) & 0xff) << 8) | (bytes(off + 8) & 0xff)
              return Some(("jpeg", w, h))
            }
            if (marker == 0xd9 || marker == 0xda) return None // hit EOI/SOS without SOF
            off += 2 + len
          }
        }
        return None
      }
      if (bytes.length >= 10 && bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F')
        return Some(("gif", readU16le(bytes, 6), readU16le(bytes, 8)))
      if (bytes.length >= 26 && bytes(0) == 'B' && bytes(1) == 'M')
        return Some(("bmp", readU32le(bytes, 18).toInt, math.abs(readU32le(bytes, 22).toInt)))
      None
    } catch { case _: Exception => None }
  }
}
