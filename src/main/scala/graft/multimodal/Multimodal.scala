package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One media row: opaque bytes + typed metadata (the schema a 100 TB
  * multimodal corpus table carries alongside its text/doc tables).
  */
final case class MediaItem(
    media_id: Long,
    kind: String, // "image" | "audio" | "video"
    bytes: Array[Byte],
    mime: String,
    width: Int,
    height: Int,
    duration_ms: Long)

final case class MediaFeatures(
    media_id: Long,
    kind: String,
    n_bytes: Int,
    features: Array[Float])

/** Multimodal columns — image/audio/video as opaque binary columns with
  * typed metadata, processed in per-partition batches.
  *
  * The Spark-side plumbing is real: binary schema, batched
  * `mapPartitions` (one decoder init per partition, not per row — the
  * shape a JNI codec or an ONNX session needs), deterministic
  * partitioning. Image, audio AND video decode are REAL — PNG, JPEG
  * (baseline and progressive), GIF, BMP and WAV through the JDK's own
  * image and sound readers, uncompressed-RGB AVI hand-written, all
  * behind MediaCodec; the image EMBED step is real too
  * (`embedImage` — a Johnson–Lindenstrauss patch projection over decoded
  * pixels). The remaining stub is `decodeStub`, the fallback for codecs
  * the JVM cannot decode natively (modern video, arithmetic-coded or
  * malformed JPEG) — undecodable bytes degrade to stub features rather
  * than failing the job.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = true),
    StructField("mime", StringType, nullable = true),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))

  val FeatureDim = 16

  /** Real decode where the JDK can: PNG → [width, height, meanR, meanG,
    * meanB, …]; WAV → [sampleRate, channels, durationMs, meanAbsSample,
    * …]; uncompressed-RGB AVI → [width, height, nFrames, durationMs,
    * meanIntensity, …]; anything undecodable (compressed codecs, corrupt
    * bytes) falls back to the deterministic stub. Zero-padded to
    * FeatureDim.
    */
  def decodeFeatures(kind: String, bytes: Array[Byte]): Array[Float] = {
    import graft.multimodal.{MediaCodec => C}
    def pad(v: Array[Float]): Array[Float] =
      if (v.length >= FeatureDim) v.take(FeatureDim)
      else v ++ Array.fill(FeatureDim - v.length)(0f)
    kind match {
      case "image" => C.decodeImage(bytes) match {
        case Some(img) =>
          val n = (img.rgb.length / 3).max(1)
          val sums = Array.fill(3)(0L)
          var i = 0
          while (i < img.rgb.length) { sums(i % 3) += img.rgb(i) & 0xff; i += 1 }
          pad(Array(img.width.toFloat, img.height.toFloat,
            sums(0).toFloat / n, sums(1).toFloat / n, sums(2).toFloat / n))
        case None => decodeStub(bytes)
      }
      case "audio" => C.decodeWav(bytes) match {
        // the sample loop reads 16-bit LE frames; other accepted bit
        // depths (8/24/32) would misalign, so they take the stub path
        case Some(a) if a.bitsPerSample == 16 =>
          var absSum = 0.0
          var i = 0
          while (i + 1 < a.data.length) {
            val s = ((a.data(i) & 0xff) | (a.data(i + 1) << 8)).toShort
            absSum += math.abs(s.toInt); i += 2
          }
          val nSamples = (a.data.length / 2).max(1)
          pad(Array(a.sampleRate.toFloat, a.channels.toFloat,
            a.durationMs.toFloat, (absSum / nSamples).toFloat))
        case _ => decodeStub(bytes)
      }
      case "video" => C.decodeAvi(bytes) match {
        case Some(v) =>
          var sum = 0L; var n = 0L
          v.frames.foreach { f =>
            var i = 0
            while (i < f.length) { sum += f(i) & 0xff; i += 1 }
            n += f.length
          }
          pad(Array(v.width.toFloat, v.height.toFloat, v.nFrames.toFloat,
            v.durationMs.toFloat, if (n == 0) 0f else (sum.toDouble / n).toFloat))
        case None => decodeStub(bytes)
      }
      case _ => decodeStub(bytes)
    }
  }

  /** Nearest-neighbor resize on a decoded RGB8 image — the thumbnail /
    * model-input-normalization step of a multimodal pipeline. Pure
    * per-row compute (src pixel = floor(dst · src/dst) on each axis), so
    * in a plan it rides the same batched decode path as feature
    * extraction — no shuffle, no state.
    */
  def resizeRgb(img: MediaCodec.PngImage, dstW: Int, dstH: Int): MediaCodec.PngImage = {
    require(dstW > 0 && dstH > 0, s"bad target ${dstW}x$dstH")
    val out = new Array[Byte](dstW * dstH * 3)
    var y = 0
    while (y < dstH) {
      val srcY = y * img.height / dstH
      var x = 0
      while (x < dstW) {
        val srcX = x * img.width / dstW
        val src = (srcY * img.width + srcX) * 3
        val dst = (y * dstW + x) * 3
        out(dst) = img.rgb(src)
        out(dst + 1) = img.rgb(src + 1)
        out(dst + 2) = img.rgb(src + 2)
        x += 1
      }
      y += 1
    }
    MediaCodec.PngImage(dstW, dstH, out)
  }

  /** Fingerprint-or-EXCLUDE: a blob the codecs reject (arithmetic-coded
    * or malformed JPEG, foreign containers, truncated streams) yields
    * None so dedup pipelines DROP the row — never a shared sentinel
    * value, which would silently group unrelated undecodable blobs as
    * "duplicates of each other".
    */
  def imageFingerprint(bytes: Array[Byte]): Option[Long] =
    MediaCodec.decodeImage(bytes).map(aHash64)

  /** 64-bit average-hash (aHash) perceptual fingerprint: resize to 8×8
    * (nearest-neighbor), integer grayscale, one bit per cell = gray ≥
    * mean. The training-corpus image-dedup signal: re-encoded or
    * uniformly brightness-shifted copies keep the IDENTICAL hash (shift
    * moves every gray and the mean by the same amount, so every
    * comparison is unchanged), while byte-level dedup sees them as
    * distinct blobs. Scan-local pure compute — corpus-wide image dedup
    * is then groupBy(ahash), the same shape as q_dedup_exact.
    */
  def aHash64(img: MediaCodec.PngImage): Long = {
    val small = resizeRgb(img, 8, 8)
    val gray = new Array[Int](64)
    var i = 0
    var sum = 0
    while (i < 64) {
      val p = i * 3
      gray(i) = ((small.rgb(p) & 0xff) + (small.rgb(p + 1) & 0xff) +
        (small.rgb(p + 2) & 0xff)) / 3
      sum += gray(i)
      i += 1
    }
    val mean = sum.toDouble / 64
    var h = 0L
    i = 0
    while (i < 64) { if (gray(i) >= mean) h |= (1L << i); i += 1 }
    h
  }

  /** STUB decoder: deterministic features from a rolling byte hash — the
    * fallback for kinds the JVM cannot decode natively (video) and for
    * undecodable bytes; a real deployment swaps in a codec/model here.
    */
  def decodeStub(bytes: Array[Byte]): Array[Float] = {
    val out = Array.fill(FeatureDim)(0L)
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) {
      h = 31 * h + bytes(i)
      out(i % FeatureDim) ^= h
      i += 1
    }
    out.map(v => (v % 1000003L).toFloat / 1000003f)
  }

  /** Batched per-partition feature extraction. Batches amortize decoder
    * init; partition count controls parallel decoder instances at scale.
    */
  def extractFeatures(items: Dataset[MediaItem], batchSize: Int = 64): Dataset[MediaFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      // one "decoder session" per partition (stubbed as a no-op handle)
      it.grouped(batchSize).flatMap { batch =>
        batch.map { m =>
          val b = Option(m.bytes).getOrElse(Array.empty[Byte])
          MediaFeatures(m.media_id, m.kind, b.length, decodeFeatures(m.kind, b))
        }
      }
    }
  }

  val EmbedDim = 64

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** REAL image embedding — the model step, no longer a stub: a
    * Johnson–Lindenstrauss ±1 random projection (Achlioptas 2003) of the
    * mean-centered 16×16 grayscale downsample of the DECODED pixels.
    * Deterministic (projection signs come from splitmix64 of the fixed
    * coordinate index), unit-normalized, and distance-preserving in the
    * JL sense — perceptually similar images (resizes, small perturbations)
    * land at high cosine while unrelated images land near 0, which is
    * exactly the contract the embedding-dedup/ANN operators need from a
    * learned model. A production deployment swaps this function for an
    * ONNX vision encoder behind the SAME batched mapPartitions seam;
    * nothing else in the pipeline changes.
    */
  def embedImage(img: MediaCodec.PngImage, dim: Int = EmbedDim): Array[Float] = {
    val G = 16
    val g = new Array[Double](G * G)
    var y = 0
    while (y < G) {
      var x = 0
      while (x < G) {
        val sx = x * img.width / G
        val sy = y * img.height / G
        val i = (sy * img.width + sx) * 3
        g(y * G + x) = 0.299 * (img.rgb(i) & 0xff) +
          0.587 * (img.rgb(i + 1) & 0xff) + 0.114 * (img.rgb(i + 2) & 0xff)
        x += 1
      }
      y += 1
    }
    val mean = g.sum / (G * G)
    val out = new Array[Float](dim)
    var j = 0
    while (j < dim) {
      var s = 0.0
      var i = 0
      while (i < G * G) {
        val c = g(i) - mean
        s += (if ((splitmix64(j.toLong * (G * G) + i) & 1L) == 0L) c else -c)
        i += 1
      }
      out(j) = s.toFloat
      j += 1
    }
    var n2 = 0.0
    out.foreach(v => n2 += v.toDouble * v)
    val nrm = math.sqrt(n2)
    if (nrm > 0) {
      var k = 0
      while (k < dim) { out(k) = (out(k) / nrm).toFloat; k += 1 }
    }
    out // a perfectly flat image embeds to the zero vector; callers filter
  }

  /** Batched per-partition image embedding — the same seam as
    * extractFeatures (one model session per partition, batch-amortized).
    * Undecodable bytes yield a NULL embedding (excluded, never grouped —
    * the q_dedup_image honesty rule), so an undecodable blob in the crawl
    * cannot poison similarity results.
    */
  def embedImages(items: Dataset[MediaItem], batchSize: Int = 64): DataFrame = {
    import items.sparkSession.implicits._
    items.filter(_.kind == "image").mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { m =>
          val emb = MediaCodec.decodeImage(m.bytes).map(embedImage(_))
            // A perfectly flat image projects to the zero vector — no
            // signal, so NULL (excluded) rather than a vector that would
            // divide-by-zero every downstream cosine (same honesty rule
            // as undecodable bytes).
            .filter(_.exists(_ != 0f))
          (m.media_id, emb)
        }
      }
    }.toDF("media_id", "embedding")
  }

  /** Frame sampling plumbing for video rows: emits (media_id, frame_ts_ms)
    * stub frames every `everyMs` over the clip duration. Fully declarative
    * (`sequence` + `explode`, codegen'd) — the frame axis is generated
    * inside the scan stage, no typed lambda, no object serialization; the
    * per-frame decode then rides `extractFeatures`' batched path.
    */
  def sampleFrames(items: Dataset[MediaItem], everyMs: Long = 1000L): DataFrame =
    items.toDF()
      .filter(col("kind") === "video")
      .select(
        col("media_id"),
        explode(sequence(
          lit(0L), greatest(col("duration_ms"), lit(1L)) - 1, lit(everyMs)))
          .as("frame_ts_ms"))
}
