package graft

import graft.multimodal.{MediaItem, Multimodal}

class MultimodalSpec extends SparkSpec {

  private def items() = {
    import spark.implicits._
    spark.createDataset(Seq(
      MediaItem(1L, "image", Array[Byte](1, 2, 3, 4), "image/png", 2, 2, 0L),
      MediaItem(2L, "image", Array[Byte](1, 2, 3, 4), "image/png", 2, 2, 0L),
      MediaItem(3L, "audio", Array[Byte](9, 9, 9), "audio/wav", 0, 0, 2500L),
      MediaItem(4L, "video", Array[Byte](5), "video/mp4", 640, 480, 3500L)))
  }

  test("batched feature extraction is deterministic and shape-stable") {
    val out = Multimodal.extractFeatures(items(), batchSize = 2).collect()
    assert(out.length === 4)
    out.foreach(f => assert(f.features.length === Multimodal.FeatureDim))
    val byId = out.map(f => f.media_id -> f).toMap
    // identical bytes -> identical (deterministic) stub features
    assert(byId(1L).features.toSeq === byId(2L).features.toSeq)
    assert(byId(1L).features.toSeq !== byId(3L).features.toSeq)
    assert(byId(3L).n_bytes === 3)
  }

  test("frame sampling emits one stub frame per interval for video only") {
    val frames = Multimodal.sampleFrames(items(), everyMs = 1000L).collect()
    assert(frames.map(_.getLong(0)).toSet === Set(4L))
    assert(frames.map(_.getLong(1)).sorted.toSeq === Seq(0L, 1000L, 2000L, 3000L))
  }

  import graft.multimodal.MediaCodec

  test("png encode/decode round-trips pixels exactly") {
    for ((w, h) <- Seq((7, 10), (1, 1), (13, 2))) {
      val rgb = Array.tabulate(w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
      val png = MediaCodec.encodeImage(MediaCodec.PngImage(w, h, rgb), "png")
      val decoded = MediaCodec.decodeImage(png)
      assert(decoded.isDefined)
      assert(decoded.get.width === w)
      assert(decoded.get.height === h)
      assert(decoded.get.rgb.toSeq === rgb.toSeq)
      // and the header sniffer agrees without a full decode
      assert(MediaCodec.sniffDims(png) === Some(("png", w, h)))
    }
  }

  test("wav encode/decode round-trips format and duration") {
    val samples = Array.tabulate(441)(i => (math.sin(i / 10.0) * 8000).toShort)
    val wav = MediaCodec.encodeWavPcm16(44100, 1, samples)
    val a = MediaCodec.decodeWav(wav).get
    assert(wav.length === 44 + 882) // canonical 44-byte RIFF header
    assert(a.data.toSeq === wav.drop(44).toSeq)
    assert(a.data.grouped(2).map(b => ((b(0) & 0xff) | (b(1) << 8)).toShort).toSeq === samples.toSeq)
    assert(a.sampleRate === 44100)
    assert(a.channels === 1)
    assert(a.bitsPerSample === 16)
    assert(a.nFrames === 441)
    assert(a.durationMs === 441L * 1000 / 44100)
    // stereo: frames are per channel pair
    val stereo = Array.tabulate(800)(i => (i * 41 - 16000).toShort)
    val stWav = MediaCodec.encodeWavPcm16(8000, 2, stereo)
    val st = MediaCodec.decodeWav(stWav).get
    assert(st.channels === 2)
    assert(st.nFrames === 400)
    assert(st.durationMs === 50L)
    assert(st.data.toSeq === stWav.drop(44).toSeq)
    // junk and truncated bytes decode to None
    assert(MediaCodec.decodeWav(null) === None)
    assert(MediaCodec.decodeWav(Array[Byte](1, 2, 3)) === None)
    assert(MediaCodec.decodeWav(stWav.take(stWav.length - 2)) === None)
    // AIFF and AU hold big-endian samples that WavAudio cannot describe
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    for (kind <- Seq(AudioFileFormat.Type.AIFF, AudioFileFormat.Type.AU)) {
      val pcm = new AudioInputStream(new java.io.ByteArrayInputStream(stWav.drop(44)),
        new AudioFormat(8000f, 16, 2, true, false), 400)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(pcm, kind, out)
      assert(AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(out.toByteArray)) != null)
      assert(MediaCodec.decodeWav(out.toByteArray) === None, kind.toString)
    }
  }

  test("avi encode/decode round-trips frames, dims and duration") {
    // w=3 → rowBytes 9, padded to 12: exercises the 4-byte row padding
    val w = 3; val h = 4; val n = 5
    val frames = Seq.tabulate(n)(f =>
      Array.tabulate(w * h * 3)(i => ((f * 41 + i * 7 + 3) % 256).toByte))
    val avi = MediaCodec.encodeAviRgb24(w, h, 200000L, frames)
    val v = MediaCodec.decodeAvi(avi).get
    assert(v.width === w)
    assert(v.height === h)
    assert(v.nFrames === n)
    assert(v.microSecPerFrame === 200000L)
    assert(v.durationMs === n * 200L)
    (0 until n).foreach(f => assert(v.frames(f).toSeq === frames(f).toSeq,
      s"frame $f mismatch"))
    // width already a multiple of 4 (no padding) also round-trips
    val w4 = MediaCodec.decodeAvi(MediaCodec.encodeAviRgb24(
      4, 2, 1000000L, Seq(Array.tabulate(24)(_.toByte)))).get
    assert(w4.frames.head.toSeq === Array.tabulate(24)(_.toByte).toSeq)
  }

  test("avi decode rejects corrupt, truncated and non-AVI bytes") {
    val good = MediaCodec.encodeAviRgb24(2, 2, 100000L,
      Seq(Array.tabulate(12)(_.toByte)))
    assert(MediaCodec.decodeAvi(good).isDefined)
    assert(MediaCodec.decodeAvi(null) === None)
    assert(MediaCodec.decodeAvi(Array.empty[Byte]) === None)
    assert(MediaCodec.decodeAvi("RIFFxxxxWAVE".getBytes("US-ASCII")) === None)
    assert(MediaCodec.decodeAvi(good.take(good.length / 2)) === None) // truncated
    val flipped = good.clone() // corrupt a header field: biCompression != 0
    // find strf payload and set compression dword to 1 (non-BI_RGB)
    val idx = {
      var i = 0; var at = -1
      while (i + 4 <= flipped.length && at < 0) {
        if (flipped(i) == 's' && flipped(i + 1) == 't' && flipped(i + 2) == 'r' && flipped(i + 3) == 'f') at = i
        i += 1
      }
      at
    }
    assert(idx > 0)
    flipped(idx + 24) = 1 // biCompression @ strf payload +16 (strf id+len = 8)
    assert(MediaCodec.decodeAvi(flipped) === None)
  }

  test("video features decode real AVI properties, stub only for junk") {
    val avi = MediaCodec.encodeAviRgb24(6, 4, 250000L,
      Seq.tabulate(3)(f => Array.fill(72)(f.toByte)))
    val feats = Multimodal.decodeFeatures("video", avi)
    assert(feats(0) === 6f) // width
    assert(feats(1) === 4f) // height
    assert(feats(2) === 3f) // frames
    assert(feats(3) === 750f) // duration ms
    assert(feats(4) === 1f) // mean intensity of frames 0,1,2
    val junk = Multimodal.decodeFeatures("video", Array[Byte](1, 2, 3))
    assert(junk.toSeq === Multimodal.decodeStub(Array[Byte](1, 2, 3)).toSeq)
  }

  test("nearest-neighbor resize picks floor-mapped source pixels") {
    val w = 8; val h = 6
    val rgb = Array.tabulate(w * h * 3)(i => (i % 256).toByte)
    val img = MediaCodec.PngImage(w, h, rgb)
    val r = Multimodal.resizeRgb(img, 4, 3)
    assert(r.width === 4 && r.height === 3 && r.rgb.length === 36)
    for (y <- 0 until 3; x <- 0 until 4; c <- 0 until 3) {
      val src = ((y * h / 3) * w + (x * w / 4)) * 3 + c
      assert((r.rgb((y * 4 + x) * 3 + c) & 0xff) === (rgb(src) & 0xff),
        s"pixel ($x,$y,c$c)")
    }
    // identity resize is a no-op; upscale replicates pixels
    assert(Multimodal.resizeRgb(img, w, h).rgb.toSeq === rgb.toSeq)
    val up = Multimodal.resizeRgb(MediaCodec.PngImage(1, 1, Array[Byte](7, 8, 9)), 3, 2)
    assert(up.rgb.toSeq === Seq.fill(6)(Seq[Byte](7, 8, 9)).flatten)
  }

  test("header sniffing parses jpeg/gif/bmp and rejects corrupt bytes") {
    // minimal JPEG: SOI, APP0 (zero payload), SOF0 with h=480 w=640, EOI
    val jpeg = Array[Int](
      0xff, 0xd8,
      0xff, 0xe0, 0x00, 0x04, 0x4a, 0x46, // APP0, len 4
      0xff, 0xc0, 0x00, 0x0b, 0x08, 0x01, 0xe0, 0x02, 0x80, 0x01, 0x00, // SOF0: 480x640
      0xff, 0xd9).map(_.toByte)
    assert(MediaCodec.sniffDims(jpeg) === Some(("jpeg", 640, 480)))
    val gif = ("GIF89a").getBytes("US-ASCII") ++
      Array[Int](0x20, 0x01, 0xc8, 0x00, 0, 0, 0, 0).map(_.toByte) // 288x200
    assert(MediaCodec.sniffDims(gif) === Some(("gif", 288, 200)))
    val bmp = new Array[Byte](30)
    bmp(0) = 'B'; bmp(1) = 'M'
    bmp(18) = 0x40; bmp(19) = 0x01 // width 320 LE
    bmp(22) = 0xf0.toByte; bmp(23) = 0x00 // height 240 LE
    assert(MediaCodec.sniffDims(bmp) === Some(("bmp", 320, 240)))
    assert(MediaCodec.sniffDims(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13)) === None)
    assert(MediaCodec.sniffDims(null) === None)
    assert(MediaCodec.decodeImage(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0, 0, 0, 0)) === None)
    assert(MediaCodec.decodeWav("RIFFxxxxWAVE".getBytes("US-ASCII")) === None)
  }

  test("image_dims expression decodes real png headers and nulls junk") {
    import spark.implicits._
    val png = MediaCodec.encodeImage(MediaCodec.PngImage(3, 2, new Array[Byte](18)), "png")
    val df = Seq((1L, png), (2L, Array[Byte](1, 2, 3)))
      .toDF("id", "bytes")
    df.createOrReplaceTempView("media_bytes")
    val rows = spark.sql(
      "SELECT id, image_dims(bytes).format AS f, image_dims(bytes).width AS w FROM media_bytes ORDER BY id")
      .collect()
    assert(rows(0).getString(1) === "png")
    assert(rows(0).getInt(2) === 3)
    assert(rows(1).isNullAt(1))
  }

  test("aHash64 is invariant to uniform brightness shift and re-encode, not to content") {
    import graft.multimodal.MediaCodec
    def img(seed: Long, w: Int, h: Int, shift: Int = 0) =
      MediaCodec.PngImage(w, h, Array.tabulate(w * h * 3)(i =>
        (((seed * 2654435761L + i * 40503L) % 200) + shift).toByte))
    val base = img(7L, 5, 4)
    // uniform brightness shift → identical hash
    assert(Multimodal.aHash64(base) === Multimodal.aHash64(img(7L, 5, 4, shift = 40)))
    // encode → decode round trip (a re-encoded copy) → identical hash
    val reencoded = MediaCodec.decodeImage(MediaCodec.encodeImage(base, "png")).get
    assert(Multimodal.aHash64(base) === Multimodal.aHash64(reencoded))
    // different content → hashes differ across a seed sweep (no trivial
    // constant-hash degeneracy)
    val hashes = (1L to 40L).map(s => Multimodal.aHash64(img(s, 5, 4))).toSet
    assert(hashes.size > 20, s"aHash collapsed to ${hashes.size} values over 40 seeds")
  }

  test("embedImage: deterministic unit vectors with the perceptual JL contract") {
    import graft.multimodal.MediaCodec
    // structured (smooth) images so perceptual similarity is meaningful
    def gradient(seed: Long, w: Int, h: Int) =
      MediaCodec.PngImage(w, h, Array.tabulate(w * h * 3) { i =>
        val p = i / 3; val x = p % w; val y = p / w
        (((seed * 37 + 1) % 7 + 1) * x * 255 / w / 2 +
          ((seed * 53 + 2) % 5 + 1) * y * 255 / h / 3).min(255).toByte
      })
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum

    val base = gradient(1L, 32, 24)
    val e1 = Multimodal.embedImage(base)
    // deterministic + unit-normalized
    assert(e1.toSeq === Multimodal.embedImage(gradient(1L, 32, 24)).toSeq)
    assert(math.abs(cos(e1, e1) - 1.0) < 1e-5, "embedding not unit-norm")
    // a resized copy of the same content embeds nearby (the 16×16 grid
    // sees the same signal through nearest-neighbor resampling)
    val resized = Multimodal.resizeRgb(base, 16, 12)
    assert(cos(e1, Multimodal.embedImage(resized)) > 0.9,
      "resized copy drifted away from its original")
    // a re-encoded copy is byte-identical content → identical embedding
    val reenc = MediaCodec.decodeImage(MediaCodec.encodeImage(base, "png")).get
    assert(e1.toSeq === Multimodal.embedImage(reenc).toSeq)
    // different content lands far away (JL preserves separation too)
    val other = gradient(4L, 32, 24)
    assert(cos(e1, Multimodal.embedImage(other)) < 0.9,
      "unrelated gradients embedded as near-duplicates")
    // unrelated RANDOM content ≈ orthogonal (seeded → deterministic; the
    // earlier arithmetic pattern (seed·K + i·K') % 256 shares its
    // i-dependence across seeds and embeds as a near-duplicate — which
    // the embedding CORRECTLY reported; true independent noise is needed
    // to test orthogonality)
    def noise(seed: Long) = {
      val rnd = new scala.util.Random(seed)
      MediaCodec.PngImage(16, 16,
        Array.fill(16 * 16 * 3)(rnd.nextInt(256).toByte))
    }
    val sims = (1L to 20L).map(s =>
      math.abs(cos(Multimodal.embedImage(noise(s)), Multimodal.embedImage(noise(s + 100)))))
    assert(sims.sum / sims.size < 0.3,
      s"random images should embed near-orthogonal, mean |cos|=${sims.sum / sims.size}")
  }

  test("embedImages: a flat image yields NULL (excluded), never a zero vector") {
    import graft.multimodal.MediaCodec
    import spark.implicits._
    // constant pixels ⇒ mean-centered grid is all zeros ⇒ JL projection is
    // the zero vector ⇒ must surface as NULL so no downstream cosine can
    // divide by zero (the ScaleBench synth corpus hit exactly this)
    val flat = MediaCodec.encodeImage(
      MediaCodec.PngImage(6, 6, Array.fill(6 * 6 * 3)(77.toByte)), "png")
    val grad = MediaCodec.encodeImage(
      MediaCodec.PngImage(6, 6, Array.tabulate(6 * 6 * 3)(i => (i % 97).toByte)), "png")
    val ds = spark.createDataset(Seq(
      MediaItem(1L, "image", flat, "image/png", 6, 6, 0L),
      MediaItem(2L, "image", grad, "image/png", 6, 6, 0L)))
    val rows = Multimodal.embedImages(ds).collect().map(r =>
      r.getLong(0) -> r.isNullAt(1)).toMap
    assert(rows(1L), "flat image must embed to NULL")
    assert(!rows(2L), "structured image must embed normally")
  }
}
