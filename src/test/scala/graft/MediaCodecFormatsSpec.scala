package graft

import java.io.ByteArrayInputStream
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
import javax.imageio.stream.MemoryCacheImageOutputStream

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal
import graft.multimodal.MediaCodec.{PngImage, decodeImage, encodeImage, sniffDims}

/** PNG/JPEG/GIF/BMP specs for MediaCodec's one image seam: exact
  * round-trips for the lossless formats, bounded error for JPEG, files
  * written by the JDK's own default writers (the foreign-crawl shapes:
  * 4:2:0 and progressive JPEG, interlaced GIF) and rejection of corrupt,
  * truncated and foreign bytes.
  */
class MediaCodecFormatsSpec extends AnyFunSuite {

  /** Deterministic blocky test image: `colors` distinct values arranged
    * in bs×bs blocks — blocky content survives JPEG quantization with
    * small error, which is what the tolerance assertions need.
    */
  private def blockImage(w: Int, h: Int, bs: Int, seed: Long): PngImage = {
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val block = (y / bs) * ((w + bs - 1) / bs) + (x / bs)
      val v = (seed * 2654435761L + block * 40503L)
      val p = (y * w + x) * 3
      rgb(p) = (32 + (v % 5) * 48).toByte
      rgb(p + 1) = (32 + ((v >> 3) % 5) * 48).toByte
      rgb(p + 2) = (32 + ((v >> 6) % 5) * 48).toByte
    }
    PngImage(w, h, rgb)
  }

  private def toBuffered(img: PngImage): java.awt.image.BufferedImage = {
    val bi = new java.awt.image.BufferedImage(
      img.width, img.height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until img.height; x <- 0 until img.width) {
      val p = (y * img.width + x) * 3
      bi.setRGB(x, y,
        ((img.rgb(p) & 0xff) << 16) | ((img.rgb(p + 1) & 0xff) << 8) |
          (img.rgb(p + 2) & 0xff))
    }
    bi
  }

  /** `img` as written by the JDK's default writer for `format`. */
  private def jdkWritten(img: PngImage, format: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    assert(ImageIO.write(toBuffered(img), format, out))
    out.toByteArray
  }

  private def maxChannelDiff(a: PngImage, b: PngImage): Int = {
    assert(a.width === b.width && a.height === b.height)
    a.rgb.indices.map(i => math.abs((a.rgb(i) & 0xff) - (b.rgb(i) & 0xff))).max
  }

  /** Max channel error on 8×8-block INTERIOR pixels only: 4:2:0 averages
    * chroma across every sharp block edge before any decoder runs, so
    * only the interiors measure decode fidelity.
    */
  private def interiorError(img: PngImage, dec: PngImage): Int = {
    val interior = for {
      y <- 2 until img.height - 2 if y % 8 >= 2 && y % 8 <= 5
      x <- 2 until img.width - 2 if x % 8 >= 2 && x % 8 <= 5
      c <- 0 until 3
    } yield {
      val p = (y * img.width + x) * 3 + c
      math.abs((img.rgb(p) & 0xff) - (dec.rgb(p) & 0xff))
    }
    interior.max
  }

  private def hasMarker(jpeg: Array[Byte], marker: Int): Boolean =
    jpeg.indices.dropRight(1).exists(i =>
      (jpeg(i) & 0xff) == 0xff && (jpeg(i + 1) & 0xff) == marker)

  test("jpeg: our encoder → our decoder round-trips within quantization error") {
    for ((w, h) <- Seq((16, 16), (24, 17), (8, 8), (11, 5))) {
      val img = blockImage(w, h, 8, seed = w * 31L + h)
      val bytes = encodeImage(img, "jpeg")
      // baseline, RGB-coded (Adobe APP14, no JFIF APP0)
      assert(hasMarker(bytes, 0xc0) && hasMarker(bytes, 0xee) && !hasMarker(bytes, 0xe0))
      val dec = decodeImage(bytes)
      assert(dec.nonEmpty, s"decode failed at ${w}x$h")
      // 8×8-aligned blocks of flat color: DC-dominated, error stays small
      assert(maxChannelDiff(img, dec.get) <= 12, s"error too large at ${w}x$h")
    }
  }

  test("jpeg: our decoder handles ImageIO-written (subsampled) baseline files") {
    val img = blockImage(40, 26, 8, seed = 3)
    // default JDK writer: baseline JFIF with 4:2:0 chroma subsampling —
    // the real-crawl shape our 4:4:4 encoder never produces
    val dec = decodeImage(jdkWritten(img, "jpg"))
    assert(dec.nonEmpty, "decoder rejected a JDK-written baseline JPEG")
    assert(interiorError(img, dec.get) <= 24)
    // a one-component (grayscale) file decodes to R = G = B = its samples
    val gray = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 16; x <- 0 until 16) gray.getRaster.setSample(x, y, 0, if (x < 8) 64 else 192)
    val out = new java.io.ByteArrayOutputStream()
    assert(ImageIO.write(gray, "jpg", out))
    val g = decodeImage(out.toByteArray).get
    for (y <- 2 until 14; x <- Seq(2, 5, 10, 13)) {
      val p = (y * 16 + x) * 3
      assert(g.rgb(p) === g.rgb(p + 1) && g.rgb(p) === g.rgb(p + 2))
      assert(math.abs((g.rgb(p) & 0xff) - (if (x < 8) 64 else 192)) <= 2, s"($x,$y)")
    }
  }

  test("jpeg: progressive (SOF2) files decode within the subsampled bound") {
    val img = blockImage(32, 32, 8, seed = 3)
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bytes)
    writer.setOutput(out)
    writer.write(null, new IIOImage(toBuffered(img), null, null), param)
    out.close(); writer.dispose()
    val prog = bytes.toByteArray
    assert(hasMarker(prog, 0xc2) && !hasMarker(prog, 0xc0))
    val dec = decodeImage(prog)
    assert(dec.nonEmpty, "progressive JPEG fell to the stub path")
    assert(dec.get.width === 32 && dec.get.height === 32)
    assert(interiorError(img, dec.get) <= 24)
    assert(Multimodal.imageFingerprint(prog).nonEmpty)
  }

  test("jpeg: corrupt, truncated and progressive-marker bytes return None") {
    val img = blockImage(16, 16, 8, seed = 1)
    val good = encodeImage(img, "jpeg")
    assert(decodeImage(null).isEmpty)
    assert(decodeImage(Array[Byte](1, 2, 3)).isEmpty)
    assert(decodeImage(good.take(20)).isEmpty)
    // flip SOF0 (0xc0) to SOF2 (0xc2, progressive): the baseline scan is
    // not a valid progressive scan — must reject, not garble
    val prog = good.clone()
    val sofAt = prog.indices.find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    assert(decodeImage(prog).isEmpty)
  }

  test("corrupt and truncated bytes return None for every image format") {
    val img = blockImage(16, 16, 8, seed = 1)
    for (format <- Seq("png", "jpeg", "gif", "bmp")) {
      val good = encodeImage(img, format)
      assert(decodeImage(good).nonEmpty, format)
      for (n <- Seq(8, 20, good.length / 2))
        assert(decodeImage(good.take(n)).isEmpty, s"$format truncated to $n bytes")
      if (format != "bmp") { // a BMP's pixel bytes are all valid pixels
        val corrupt = good.clone()
        for (i <- good.length / 3 until good.length * 2 / 3) corrupt(i) = (i * 31).toByte
        assert(decodeImage(corrupt).isEmpty, s"$format corrupt")
      }
    }
  }

  test("gif: encode → decode round-trips pixels exactly (lossless)") {
    for ((w, h) <- Seq((13, 9), (8, 8), (1, 1), (40, 3))) {
      val img = blockImage(w, h, 4, seed = w + h * 100L)
      val dec = decodeImage(encodeImage(img, "gif"))
      assert(dec.nonEmpty, s"decode failed at ${w}x$h")
      assert(maxChannelDiff(img, dec.get) === 0, s"lossy at ${w}x$h")
    }
    // exactly 256 distinct colours still fit the palette
    val rgb = Array.tabulate(16 * 16 * 3)(j => (j / 3 * (1 + j % 3 * 6)).toByte)
    val full = PngImage(16, 16, rgb)
    assert(maxChannelDiff(full, decodeImage(encodeImage(full, "gif")).get) === 0)
  }

  test("gif: 2-4-row images round-trip exactly (the writer does not interlace)") {
    // the JDK reader returns wrong pixels for INTERLACED images this short
    for (h <- 2 to 4; w <- Seq(1, 5, 17); seed <- 1L to 3L) {
      val img = blockImage(w, h, 1, seed * 100 + w)
      val dec = decodeImage(encodeImage(img, "gif"))
      assert(dec.nonEmpty && maxChannelDiff(img, dec.get) === 0, s"${w}x$h seed=$seed")
    }
  }

  test("gif: our decoder reads ImageIO-written bytes to identical pixels") {
    val img = blockImage(19, 11, 4, seed = 5)
    // the JDK's default GIF writer interlaces
    val dec = decodeImage(jdkWritten(img, "gif"))
    assert(dec.nonEmpty, "decoder rejected a JDK-written GIF")
    assert(maxChannelDiff(img, dec.get) === 0)
  }

  test("gif: a first frame offset on a larger logical screen decodes at the screen size") {
    val img = blockImage(5, 3, 1, seed = 11)
    val gif = encodeImage(img, "gif")
    // widen the logical screen to 12×8 and move the frame to (4, 2)
    val (sw, sh, left, top) = (12, 8, 4, 2)
    gif(6) = sw.toByte; gif(7) = 0; gif(8) = sh.toByte; gif(9) = 0
    val desc = gif.indices.find(i =>
      gif.slice(i, i + 9).toSeq == Seq[Byte](0x2c, 0, 0, 0, 0, 5, 0, 3, 0)).get
    gif(desc + 1) = left.toByte; gif(desc + 3) = top.toByte
    assert(sniffDims(gif) === Some(("gif", sw, sh)))
    val bg =
      if ((gif(10) & 0x80) == 0) Seq[Byte](0, 0, 0)
      else gif.slice(13 + (gif(11) & 0xff) * 3, 16 + (gif(11) & 0xff) * 3).toSeq
    val dec = decodeImage(gif).get
    assert((dec.width, dec.height) === ((sw, sh)))
    for (y <- 0 until sh; x <- 0 until sw) {
      val inFrame = x >= left && x < left + 5 && y >= top && y < top + 3
      val p = ((y - top) * 5 + x - left) * 3
      val want = if (inFrame) img.rgb.slice(p, p + 3).toSeq else bg
      assert(dec.rgb.slice((y * sw + x) * 3, (y * sw + x) * 3 + 3).toSeq === want, s"($x, $y)")
    }
  }

  test("gif: >256 distinct colors refuses to encode; corrupt bytes refuse to decode") {
    // 1024 pixels, each a distinct (r,g) pair → 1024 distinct colors
    val rgb = new Array[Byte](32 * 32 * 3)
    for (j <- 0 until 32 * 32) {
      rgb(j * 3) = (j % 256).toByte
      rgb(j * 3 + 1) = (j / 8).toByte
      rgb(j * 3 + 2) = 7
    }
    assertThrows[IllegalArgumentException](encodeImage(PngImage(32, 32, rgb), "gif"))
    assert(decodeImage("GIF89a".getBytes("US-ASCII")).isEmpty)
    val good = encodeImage(blockImage(8, 8, 4, 1), "gif")
    assert(decodeImage(good.take(good.length / 2)).isEmpty)
  }

  test("bmp: encode → decode round-trips exactly, incl. row padding widths") {
    for (w <- 1 to 13; h <- Seq(1, 7)) {
      val img = blockImage(w, h, 2, seed = w * 1000L + h)
      val dec = decodeImage(encodeImage(img, "bmp"))
      assert(dec.nonEmpty && maxChannelDiff(img, dec.get) === 0, s"${w}x$h")
    }
  }

  test("bmp: our decoder reads ImageIO-written bytes to identical pixels") {
    val img = blockImage(15, 9, 3, seed = 2)
    val dec = decodeImage(jdkWritten(img, "bmp"))
    assert(dec.nonEmpty && maxChannelDiff(img, dec.get) === 0)
  }

  test("png: 16-bit gray and gray+alpha decode to their samples, not gamma-mapped") {
    import java.awt.color.ColorSpace
    import java.awt.image.{BufferedImage, ComponentColorModel, DataBuffer}
    val (w, h) = (7, 3)
    val levels = Array.tabulate(w * h)(i => i * 12) // 0..240, mid-greys included
    val gray16 = new BufferedImage(w, h, BufferedImage.TYPE_USHORT_GRAY)
    gray16.getRaster.setSamples(0, 0, w, h, 0, levels.map(v => v * 256 + 100)) // high byte v
    val cm = new ComponentColorModel(ColorSpace.getInstance(ColorSpace.CS_GRAY),
      true, false, java.awt.Transparency.TRANSLUCENT, DataBuffer.TYPE_BYTE)
    val grayAlpha = new BufferedImage(cm, cm.createCompatibleWritableRaster(w, h), false, null)
    grayAlpha.getRaster.setSamples(0, 0, w, h, 0, levels)
    grayAlpha.getRaster.setSamples(0, 0, w, h, 1, Array.fill(w * h)(200))
    for ((bi, name) <- Seq((gray16, "16-bit gray"), (grayAlpha, "gray+alpha"))) {
      val out = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(bi, "png", out), name)
      val dec = decodeImage(out.toByteArray)
      assert(dec.nonEmpty, name)
      assert(dec.get.rgb.map(_ & 0xff).toSeq === levels.flatMap(v => Seq(v, v, v)).toSeq, name)
    }
  }

  test("decodeImage dispatches on magic bytes across all four formats") {
    val img = blockImage(16, 12, 4, seed = 9)
    val Seq(png, jpg, gif, bmp) = Seq("png", "jpeg", "gif", "bmp").map(encodeImage(img, _))
    assert(maxChannelDiff(img, decodeImage(png).get) === 0)
    assert(maxChannelDiff(img, decodeImage(gif).get) === 0)
    assert(maxChannelDiff(img, decodeImage(bmp).get) === 0)
    // 4×4 blocks inside 8×8 DCT blocks → real AC energy → looser bound
    assert(maxChannelDiff(img, decodeImage(jpg).get) <= 32)
    assert(decodeImage(Array[Byte](9, 9, 9, 9)).isEmpty)
    // formats the JDK reads but the magic-byte dispatch does not name
    val tiff = jdkWritten(img, "tiff")
    val wbmp = Array[Byte](0, 0, 8, 1, 0x5a) // type 0, 8×1, one row byte
    for (foreign <- Seq(tiff, wbmp)) {
      assert(ImageIO.read(new ByteArrayInputStream(foreign)) != null)
      assert(decodeImage(foreign).isEmpty)
    }
    assertThrows[IllegalArgumentException](encodeImage(img, "tiff"))
  }

  test("progressive JPEG is EXCLUDED from fingerprinting, never grouped-as-equal") {
    // The honesty probe: a malformed progressive (SOF2) stream — frame
    // header, no scan — must flow through the dedup pipeline as "no
    // fingerprint", NOT as a shared sentinel that would make two
    // unrelated undecodable files perceptual "duplicates".
    def progressiveJpeg(payload: Int): Array[Byte] = Array(
      0xFF, 0xD8,             // SOI
      0xFF, 0xC2, 0x00, 0x0B, // SOF2 (progressive), len 11
      0x08, 0x00, 0x08, 0x00, 0x08, 0x01, payload, 0x11, 0x00,
      0xFF, 0xD9              // EOI
    ).map(_.toByte)
    val p1 = progressiveJpeg(0x01)
    val p2 = progressiveJpeg(0x02)
    // the decoder rejects the stream (None), so the fingerprint is absent…
    assert(decodeImage(p1).isEmpty)
    assert(Multimodal.imageFingerprint(p1).isEmpty)
    assert(Multimodal.imageFingerprint(p2).isEmpty)
    // …and a decodable image still fingerprints
    val img = blockImage(32, 32, 8, seed = 3)
    assert(Multimodal.imageFingerprint(encodeImage(img, "png")).nonEmpty)
    // pipeline form: flatMap-over-Option drops both progressive rows — no
    // hash group can ever contain them (the poisoning the sentinel had)
    val rows = Seq(("a", p1), ("b", p2), ("c", encodeImage(img, "png")))
      .flatMap { case (id, bytes) =>
        Multimodal.imageFingerprint(bytes).map(h => (id, h)) }
    assert(rows.map(_._1) === Seq("c"))
  }

  test("aHash64 matches across formats for the same image (cross-format dedup)") {
    // the crawl story: one page image stored as PNG by one crawler, JPEG
    // by another, GIF by a third — byte dedup sees 3 blobs, perceptual
    // dedup must see 1. Blocky high-contrast content keeps every 8×8
    // cell far from the mean, so JPEG loss cannot flip a hash bit.
    for (seed <- 1L to 8L) {
      val img = blockImage(32, 32, 8, seed)
      val h0 = Multimodal.aHash64(img)
      for (format <- Seq("jpeg", "gif", "bmp")) {
        val dec = decodeImage(encodeImage(img, format)).get
        assert(Multimodal.aHash64(dec) === h0, s"$format hash drift, seed=$seed")
      }
    }
  }
}
