package graft.queries

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.engine.Tables
import graft.functions.expressions.ImageDims
import graft.multimodal.{MediaCodec, MediaItem, Multimodal}

/** §K multimodal — binary media columns with REAL decode: documents
  * synthesize genuine PNG, JPEG, GIF and BMP files and RIFF/WAVE PCM
  * audio (the JDK's own writers) and uncompressed-RGB RIFF AVI video
  * (hand-written), all through
  * graft.multimodal.MediaCodec, whose decoded dimensions/audio
  * properties/frame pixels are deterministic functions of doc_id — so
  * DuckDB verifies that every encode → decode loop is byte-correct.
  * Compressed video codecs (H.26x etc.) remain out of scope (no av libs
  * in this container) and fall back to the documented stub feature path.
  */
object MultimodalQueries {

  /** Deterministic media corpus derived from documents: real PNGs (kind
    * image), real WAVs (kind audio), stub blobs (kind video).
    */
  private def mediaItems(s: SparkSession, d: String): Dataset[MediaItem] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .as[(Long, String)]
      .map { case (id, src) =>
        (id % 3).toInt match {
          case 0 =>
            val w = 1 + (id % 8).toInt
            val h = 1 + (id % 5).toInt
            val rgb = Array.tabulate(w * h * 3)(i => ((id * 31 + i) % 256).toByte)
            MediaItem(id, "image",
              MediaCodec.encodeImage(MediaCodec.PngImage(w, h, rgb), "png"),
              "image/png", w, h, 0L)
          case 1 =>
            val rate = 8000 + (id % 4).toInt * 4000
            val ch = 1 + (id % 2).toInt
            val frames = 100 + (id % 50).toInt
            val samples = Array.tabulate(frames * ch)(i => (((id * 7 + i) % 2048) - 1024).toShort)
            MediaItem(id, "audio",
              MediaCodec.encodeWavPcm16(rate, ch, samples),
              "audio/wav", 0, 0, frames * 1000L / rate)
          case _ =>
            // Real uncompressed-RGB AVI. 250 ms/frame and 2 + id%10 frames
            // keep the clip duration equal to the original metadata
            // formula (500 + id%10 * 250 ms) that q_multimodal_frames'
            // oracle verifies.
            val w = 2 + (id % 6).toInt
            val h = 2 + (id % 4).toInt
            val n = 2 + (id % 10).toInt
            val frames = Seq.tabulate(n)(f =>
              Array.tabulate(w * h * 3)(i => ((id * 17 + f * 13 + i) % 256).toByte))
            MediaItem(id, "video",
              MediaCodec.encodeAviRgb24(w, h, 250000L, frames),
              "video/avi", w, h, n * 250L)
        }
      }
  }

  /** q_dedup_image's and q_dedup_image_exact's fixture: 32×32 of 8×8
    * high-contrast blocks, five levels per channel from 32 to 224.
    */
  private def blockyImage(id: Long): MediaCodec.PngImage = {
    val (w, h, bs) = (32, 32, 8)
    val rgb = new Array[Byte](w * h * 3)
    var i = 0
    while (i < w * h) {
      val block = (i / w / bs) * (w / bs) + (i % w / bs)
      val v = id * 2654435761L + block * 40503L
      rgb(i * 3) = (32 + (v % 5) * 48).toByte
      rgb(i * 3 + 1) = (32 + ((v >> 3) % 5) * 48).toByte
      rgb(i * 3 + 2) = (32 + ((v >> 6) % 5) * 48).toByte
      i += 1
    }
    MediaCodec.PngImage(w, h, rgb)
  }

  /** The fixture with every channel +24 (224+24 < 256: no clip). */
  private def brightened(img: MediaCodec.PngImage): MediaCodec.PngImage =
    img.copy(rgb = img.rgb.map(b => ((b & 0xff) + 24).toByte))

  val defs: Seq[QueryDef] = Seq(
    // Decoded image metadata via the codegen'd image_dims expression: the
    // oracle recomputes width/height from the synthesis formula, so a
    // parser or encoder bug (wrong endianness, off-by-one scanline, bad
    // chunk layout) hash-mismatches immediately.
    QueryDef(
      "q_multimodal_dims",
      (s, d) =>
        mediaItems(s, d).toDF()
          .filter(col("kind") === "image")
          .select(col("media_id").as("doc_id"),
            ColumnBridge.column(ImageDims(ColumnBridge.expression(col("bytes")))).as("dims"))
          .select(col("doc_id"), col("dims.format").as("format"),
            col("dims.width").as("width"), col("dims.height").as("height"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, 'png' AS format,
                     CAST(1 + doc_id % 8 AS INT) AS width,
                     CAST(1 + doc_id % 5 AS INT) AS height
              FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id""")),

    // Decoded audio properties (RIFF chunk walk): sample rate, channels,
    // and frame-count-derived duration all verified against the synthesis
    // arithmetic.
    QueryDef(
      "q_multimodal_audio",
      (s, d) => {
        import s.implicits._
        mediaItems(s, d)
          .filter(col("kind") === "audio")
          .map { m =>
            val a = MediaCodec.decodeWav(m.bytes).getOrElse(
              MediaCodec.WavAudio(-1, -1, -1, Array.empty))
            (m.media_id, a.sampleRate, a.channels, a.durationMs)
          }
          .toDF("doc_id", "sample_rate", "channels", "duration_ms")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
                     CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
                     CAST(1 + doc_id % 2 AS INT) AS channels,
                     CAST(floor((100 + doc_id % 50) * 1000.0
                                / (8000 + (doc_id % 4) * 4000)) AS BIGINT) AS duration_ms
              FROM documents WHERE doc_id % 3 = 1 ORDER BY doc_id""")),

    // Per-kind feature aggregates through the batched decode path. f0/f1
    // are the first two REAL decoded features per kind (image width+
    // height / audio sample rate+channels / video width+height) — all
    // deterministic functions of doc_id, so the whole encode → batched
    // mapPartitions decode → feature loop is hash-verified against the
    // synthesis formulas (the round-7 rows-only gap; the embed/model
    // stub remains out of the measured columns by construction).
    QueryDef(
      "q_multimodal_features",
      (s, d) =>
        Multimodal.extractFeatures(mediaItems(s, d), batchSize = 128)
          .groupBy("kind")
          .agg(
            count(lit(1)).as("n_items"),
            round(avg(element_at(col("features"), 1)), 4).as("avg_f0"),
            round(avg(element_at(col("features"), 2)), 4).as("avg_f1"))
          .orderBy("kind"),
      Some("""SELECT kind, count(*) AS n_items,
                     round(avg(f0), 4) AS avg_f0,
                     round(avg(f1), 4) AS avg_f1
              FROM (SELECT CASE doc_id % 3 WHEN 0 THEN 'image'
                                           WHEN 1 THEN 'audio'
                                           ELSE 'video' END AS kind,
                           CASE doc_id % 3 WHEN 0 THEN 1 + doc_id % 8
                                           WHEN 1 THEN 8000 + (doc_id % 4) * 4000
                                           ELSE 2 + doc_id % 6 END AS f0,
                           CASE doc_id % 3 WHEN 0 THEN 1 + doc_id % 5
                                           WHEN 1 THEN 1 + doc_id % 2
                                           ELSE 2 + doc_id % 4 END AS f1
                    FROM documents)
              GROUP BY 1 ORDER BY kind""")),

    // PIXELS → EMBEDDING → kNN, end to end: decode each image, embed it
    // with the real JL patch-projection model step (Multimodal.embedImage
    // — no stub in this path), and serve cosine top-3 neighbors for a
    // bounded query set through the same audited brute-force kNN operator
    // the embeddings table uses. This is the multimodal retrieval shape:
    // a production deployment swaps the embed function for a vision model
    // behind the same batched mapPartitions seam and NOTHING downstream
    // changes. Rows-only (the projection is not SQL-expressible);
    // MultimodalSpec pins determinism, unit norm, and the perceptual
    // contract (resized copy ≈ original, unrelated ≈ orthogonal).
    QueryDef(
      "q_multimodal_embed",
      (s, d) => {
        // one decode->embed pass serves both kNN sides (the query slice
        // and the corpus) instead of re-running the model per side (r15)
        val emb = Multimodal.embedImages(
            mediaItems(s, d).repartition(
              s.conf.get("spark.sql.shuffle.partitions").toInt),
            batchSize = 128)
          .filter(col("embedding").isNotNull)
          .select(col("media_id").as("vec_id"), col("embedding"))
          .localCheckpoint(eager = false)
        graft.similarity.Ann
          .knnBruteForce(emb.filter(col("vec_id") < 30), emb, k = 3)
          .select(col("q_id"), col("cand_id"), col("rank"),
            round(col("sim"), 4).as("sim"))
          .orderBy("q_id", "rank")
      },
      None),

    // q_multimodal_embed's EXACT-REGIME twin (the q_ann_ivf_exact
    // promotion pattern): the image corpus is CLASS-CONSTANT — bytes
    // depend only on doc_id % 4 — so decode → JL embedding maps every
    // class member to the IDENTICAL vector (the projection is a pure
    // deterministic function of the pixels): within-class cosine is
    // exactly 1 (same float bits pairwise, so the (sim desc, cand_id asc)
    // tie-break is fully determined), cross-class strictly lower, and
    // top-3 of every query is the 3 smallest other same-class ids —
    // an arithmetically derivable answer DuckDB hash-verifies. Any drift
    // in the PNG encode/decode loop, the grayscale downsample, the JL
    // projection, or the kNN heap ordering breaks class identity and
    // hash-mismatches. Same decode → embedImages → knnBruteForce code
    // path as the rows-only row, only the pixel fixture differs.
    QueryDef(
      "q_multimodal_embed_exact",
      (s, d) => {
        import s.implicits._
        val items = Tables.documents(s, d)
          .select(col("doc_id")).as[Long]
          .map { id =>
            val c = (id % 4).toInt
            val w = 4 + c
            val h = 3 + c
            // distinct non-flat ramp per class (flat images embed to the
            // zero vector and are filtered — keep every class alive)
            val rgb = Array.tabulate(w * h * 3)(i =>
              ((c * 89 + i * (2 * c + 7)) % 256).toByte)
            MediaItem(id, "image",
              MediaCodec.encodeImage(MediaCodec.PngImage(w, h, rgb), "png"),
              "image/png", w, h, 0L)
          }
        val emb = Multimodal.embedImages(
            items.repartition(s.conf.get("spark.sql.shuffle.partitions").toInt),
            batchSize = 128)
          .filter(col("embedding").isNotNull)
          .select(col("media_id").as("vec_id"), col("embedding"))
          .localCheckpoint(eager = false)
        graft.similarity.Ann
          .knnBruteForce(emb.filter(col("vec_id") < 20), emb, k = 3)
          .select(col("q_id"), col("cand_id"), col("rank"),
            round(col("sim"), 4).as("sim"))
          .orderBy("q_id", "rank")
      },
      Some("""WITH q AS (SELECT doc_id AS q_id FROM documents WHERE doc_id < 20),
                   pairs AS (SELECT q.q_id, c.doc_id AS cand_id,
                                    row_number() OVER (PARTITION BY q.q_id
                                                       ORDER BY c.doc_id) AS rk
                             FROM q JOIN documents c
                               ON c.doc_id % 4 = q.q_id % 4
                              AND c.doc_id <> q.q_id)
              SELECT q_id, cand_id, CAST(rk AS INT) AS rank,
                     CAST(1.0 AS DOUBLE) AS sim
              FROM pairs WHERE rk <= 3 ORDER BY q_id, rank""")),

    // RESIZE through the real decode path: PNG decode → nearest-neighbor
    // resize to 4×3 → re-encode → re-decode, probing two pixels of the
    // round-tripped result. The oracle recomputes the nearest-neighbor
    // source indices (floor(dst·src/dst)) and the synthesis pixel formula,
    // so the resize arithmetic AND the second encode/decode loop are both
    // hash-verified.
    QueryDef(
      "q_multimodal_resize",
      (s, d) => {
        import s.implicits._
        mediaItems(s, d)
          .filter(col("kind") === "image")
          .map { m =>
            val out = MediaCodec.decodeImage(m.bytes)
              .map(img => Multimodal.resizeRgb(img, 4, 3))
              .map(r => MediaCodec.decodeImage(MediaCodec.encodeImage(r, "png")).get)
            out match {
              case Some(r) =>
                val centre = ((1 * 4 + 2) * 3) // dst (x=2, y=1), R channel
                (m.media_id, r.width, r.height,
                  r.rgb(0) & 0xff, r.rgb(centre) & 0xff)
              case None => (m.media_id, -1, -1, -1, -1)
            }
          }
          .toDF("doc_id", "width", "height", "first_r", "centre_r")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, 4 AS width, 3 AS height,
                     CAST((doc_id * 31) % 256 AS INT) AS first_r,
                     CAST((doc_id * 31
                           + (((1 + doc_id % 5) // 3) * (1 + doc_id % 8)
                              + (2 * (1 + doc_id % 8)) // 4) * 3) % 256 AS INT) AS centre_r
              FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id""")),

    // Decoded video properties (RIFF AVI walk + DIB frame decode): the
    // container metadata (dims, frame count, duration) AND two decoded
    // pixel probes (first byte of frame 0, last byte of the last frame)
    // are deterministic functions of doc_id, so the oracle catches a
    // BGR/RGB swap, bottom-up row mix-up, or row-padding bug — not just a
    // header misparse.
    QueryDef(
      "q_multimodal_video",
      (s, d) => {
        import s.implicits._
        mediaItems(s, d)
          .filter(col("kind") === "video")
          .map { m =>
            MediaCodec.decodeAvi(m.bytes) match {
              case Some(v) =>
                val first = v.frames.head(0) & 0xff
                val last = v.frames.last(v.frames.last.length - 1) & 0xff
                (m.media_id, v.width, v.height, v.nFrames, v.durationMs, first, last)
              case None => (m.media_id, -1, -1, -1, -1L, -1, -1)
            }
          }
          .toDF("doc_id", "width", "height", "n_frames", "duration_ms",
            "first_byte", "last_byte")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
                     CAST(2 + doc_id % 6 AS INT) AS width,
                     CAST(2 + doc_id % 4 AS INT) AS height,
                     CAST(2 + doc_id % 10 AS INT) AS n_frames,
                     CAST((2 + doc_id % 10) * 250 AS BIGINT) AS duration_ms,
                     CAST((doc_id * 17) % 256 AS INT) AS first_byte,
                     CAST((doc_id * 17 + (1 + doc_id % 10) * 13
                           + (2 + doc_id % 6) * (2 + doc_id % 4) * 3 - 1) % 256 AS INT) AS last_byte
              FROM documents WHERE doc_id % 3 = 2 ORDER BY doc_id""")),

    // Perceptual image dedup ACROSS CONTAINER FORMATS: each doc
    // synthesizes one blocky image and stores it four ways — PNG,
    // baseline JPEG (lossy!), GIF, and a uniformly brightness-shifted
    // BMP. Byte-level dedup sees four unrelated blobs; the 64-bit aHash
    // over MediaCodec.decodeImage (format-dispatched pixel decode)
    // merges all four: high-contrast 8×8 blocks keep every hash cell
    // far from the mean, so JPEG quantization error cannot flip a bit,
    // and the shift moves grays and mean together. Corpus-wide dedup is
    // then groupBy(ahash) — the q_dedup_exact shape on a scan-local
    // fingerprint. Rows-only (the hash is not SQL-expressible);
    // MultimodalSpec + MediaCodecFormatsSpec pin the invariance,
    // cross-format and anti-collision properties.
    QueryDef(
      "q_dedup_image",
      (s, d) => {
        import s.implicits._
        // spread the 4-codec encode->decode->hash work across the
        // session's shuffle parallelism: the one-row-group scan is
        // unsplittable, so without this the whole pipeline runs as a
        // single task (guide's unsplittable-input rule; the r15
        // EmbeddingLsh.spreadScan pattern). Per-row work, result-set
        // identical.
        val n = s.conf.get("spark.sql.shuffle.partitions").toInt
        val hashed = Tables.documents(s, d)
          .select(col("doc_id")).as[Long]
          .repartition(n)
          .flatMap { id =>
            val img = blockyImage(id)
            val shifted = brightened(img)
            Seq(
              (id, 0, MediaCodec.encodeImage(img, "png")),
              (id, 1, MediaCodec.encodeImage(img, "jpeg")),
              (id, 2, MediaCodec.encodeImage(img, "gif")),
              (id, 3, MediaCodec.encodeImage(shifted, "bmp")))
          }
          // fingerprint-or-EXCLUDE: an undecodable variant (e.g. a
          // malformed or arithmetic-coded JPEG the reader rejects) drops
          // out rather than collapsing onto a shared sentinel hash that
          // would group unrelated blobs (MediaCodecFormatsSpec pins this)
          .flatMap { case (id, variant, bytes) =>
            Multimodal.imageFingerprint(bytes).map(h => (id, variant, h))
          }
          .toDF("doc_id", "variant", "ahash")
          // both consumers (per-doc rollup + global distinct-hash count)
          // read the one materialized fingerprint pass instead of
          // re-running the 4-codec encode→decode→hash pipeline each
          // (r15: measured as the whole query running twice)
          .localCheckpoint(eager = false)
        val perDoc = hashed.groupBy("doc_id")
          .agg(countDistinct(col("ahash")).as("n_doc_hashes"))
        perDoc.agg(
          count(lit(1)).as("n_images"),
          sum(when(col("n_doc_hashes") === 1, 1L).otherwise(0L))
            .as("n_variant_matched"))
          .crossJoin(hashed.agg(
            countDistinct(col("ahash")).as("n_distinct_hashes")))
      },
      None),

    // q_dedup_image's EXACT-REGIME twin (the q_dedup_simhash_exact
    // pattern): radius-0 image dedup is EXACT pixel equality, so the
    // fingerprint tightens from lossy aHash to the md5 of the decoded
    // RGB buffer and the result is SQL-decidable. Every 11th doc emits a
    // PNG, a GIF and a BMP of the SAME synthesized 32×32 buffer (all
    // three codecs are lossless — MediaCodecFormatsSpec pins the
    // round-trips) plus a PNG of a +24-shifted buffer that must NOT
    // match. The engine work — format-dispatched decode, fingerprint,
    // equi-join on the fingerprint (the q_dedup_exact shape, never
    // pairwise pixels) — must therefore produce EXACTLY the
    // {png,gif,bmp} triangle per doc and nothing else; the oracle
    // replays that closed form. A lossy decode, a codec round-trip bug,
    // or a fingerprint collision with the shifted twin all break the
    // hash.
    QueryDef(
      "q_dedup_image_exact",
      (s, d) => {
        import s.implicits._
        val fp = Tables.documents(s, d)
          .filter(col("doc_id") % 11 === 0)
          .select(col("doc_id")).as[Long]
          .flatMap { id =>
            val img = blockyImage(id)
            val shifted = brightened(img)
            Seq(
              (id, 0, MediaCodec.encodeImage(img, "png")),
              (id, 2, MediaCodec.encodeImage(img, "gif")),
              (id, 3, MediaCodec.encodeImage(img, "bmp")),
              (id, 4, MediaCodec.encodeImage(shifted, "png")))
          }
          .flatMap { case (id, variant, bytes) =>
            MediaCodec.decodeImage(bytes).map { img =>
              val md = java.security.MessageDigest.getInstance("MD5")
              (id, variant, md.digest(img.rgb)
                .map(b => f"${b & 0xff}%02x").mkString)
            }
          }
          .toDF("doc_id", "variant", "fp")
        fp.as("a")
          .join(fp.as("b"),
            col("a.doc_id") === col("b.doc_id") &&
              col("a.fp") === col("b.fp") &&
              col("a.variant") < col("b.variant"))
          .select(col("a.doc_id").as("doc_id"),
            col("a.variant").as("variant_a"),
            col("b.variant").as("variant_b"))
          .orderBy("doc_id", "variant_a", "variant_b")
      },
      Some("""SELECT doc_id, a AS variant_a, b AS variant_b
              FROM (SELECT doc_id FROM documents WHERE doc_id % 11 = 0),
                   (VALUES (0, 2), (0, 3), (2, 3)) AS v(a, b)
              ORDER BY doc_id, variant_a, variant_b""")),

    // Frame sampling over video rows: the frame axis is deterministic
    // arithmetic over the synthesized duration, so DuckDB can verify the
    // sampled frame counts exactly (floor((dur-1)/step)+1 per clip).
    QueryDef(
      "q_multimodal_frames",
      (s, d) =>
        Multimodal.sampleFrames(mediaItems(s, d), everyMs = 250L)
          .agg(
            countDistinct(col("media_id")).as("n_videos"),
            count(lit(1)).as("n_frames")),
      Some("""SELECT count(DISTINCT doc_id) AS n_videos,
                     CAST(sum(CAST(floor((dur - 1) / 250) + 1 AS BIGINT)) AS BIGINT) AS n_frames
              FROM (SELECT doc_id, 500 + (doc_id % 10) * 250 AS dur
                    FROM documents WHERE doc_id % 3 = 2)""")),

    // Audio CONTENT analysis, not just container metadata: pure-sine WAVs
    // (frequency a deterministic function of doc_id, integer cycles per
    // window so candidate bins are orthogonal) go through the full
    // encode → RIFF decode → Goertzel pitch-detect loop, and the detected
    // frequency must equal the synthesis frequency for EVERY clip — a
    //16-bit quantization bug, byte-order swap, or off-by-one sample walk
    // breaks the detection and hash-mismatches. Per-row compute rides the
    // same typed decode path as the other media queries (a stateful codec
    // + O(n·candidates) DSP loop is exactly what the batched-decode
    // exception is for).
    QueryDef(
      "q_multimodal_pitch",
      (s, d) => {
        import s.implicits._
        val rate = 8000
        val n = 800 // 100 ms window; candidates are multiples of 10 Hz
        Tables.documents(s, d)
          .select(col("doc_id")).as[Long]
          .filter((id: Long) => id % 3 == 1)
          .map { id =>
            val f = 400 + (id % 8).toInt * 200
            val samples = Array.tabulate(n)(i =>
              math.round(8000.0 * math.sin(2 * math.Pi * f * i / rate)).toShort)
            val a = MediaCodec.decodeWav(
              MediaCodec.encodeWavPcm16(rate, 1, samples)).get
            def goertzelPower(freq: Int): Double = {
              val w = 2 * math.Pi * freq / rate
              val coeff = 2 * math.cos(w)
              var s1 = 0.0; var s2 = 0.0
              var i = 0
              val m = a.data.length / 2
              while (i < m) {
                val x = ((a.data(2 * i) & 0xff) | (a.data(2 * i + 1) << 8))
                  .toShort.toDouble
                val s0 = x + coeff * s1 - s2
                s2 = s1; s1 = s0
                i += 1
              }
              s1 * s1 + s2 * s2 - coeff * s1 * s2
            }
            val detected = (0 until 8).map(k => 400 + k * 200).maxBy(goertzelPower)
            (id, detected, f)
          }
          .toDF("doc_id", "detected_hz", "true_hz")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
                     CAST(400 + (doc_id % 8) * 200 AS INT) AS detected_hz,
                     CAST(400 + (doc_id % 8) * 200 AS INT) AS true_hz
              FROM documents WHERE doc_id % 3 = 1 ORDER BY doc_id""")),

    // Per-channel pixel statistics — the NORMALIZATION pass an image
    // training pipeline runs over a corpus (channel means feed the
    // (x−μ)/σ input transform). Every PNG goes through the full
    // encode → decode loop and the per-channel sums are integer-exact;
    // the oracle recomputes each mean from the pixel synthesis formula
    // ((id·31+i) mod 256 at channel-strided offsets), so a channel-order
    // swap, stride bug, or sign error on the unsigned bytes
    // hash-mismatches. One batched decode pass, dictionary-sized output.
    QueryDef(
      "q_image_stats",
      (s, d) => {
        import s.implicits._
        mediaItems(s, d)
          .filter(col("kind") === "image")
          .map { m =>
            val img = MediaCodec.decodeImage(m.bytes).get
            val sums = new Array[Long](3)
            var i = 0
            while (i < img.rgb.length) {
              sums(i % 3) += img.rgb(i) & 0xff
              i += 1
            }
            val n = (img.width * img.height).toDouble
            def r4(x: Double) = math.rint(x * 10000) / 10000 + 0.0
            (m.media_id, img.width, img.height,
              r4(sums(0) / n), r4(sums(1) / n), r4(sums(2) / n))
          }
          .toDF("doc_id", "width", "height", "mean_r", "mean_g", "mean_b")
          .orderBy("doc_id")
      },
      Some("""WITH img AS (SELECT doc_id,
                                  CAST(1 + doc_id % 8 AS INT) AS width,
                                  CAST(1 + doc_id % 5 AS INT) AS height
                           FROM documents WHERE doc_id % 3 = 0),
                   px AS (SELECT doc_id, width, height,
                                 unnest(generate_series(
                                   0, width * height - 1)) AS j
                          FROM img),
                   ch AS (SELECT doc_id, width, height,
                                 avg((doc_id * 31 + 3 * j) % 256) AS mr,
                                 avg((doc_id * 31 + 3 * j + 1) % 256) AS mg,
                                 avg((doc_id * 31 + 3 * j + 2) % 256) AS mb
                          FROM px GROUP BY 1, 2, 3)
              SELECT doc_id, width, height,
                     round(mr, 4) + 0 AS mean_r,
                     round(mg, 4) + 0 AS mean_g,
                     round(mb, 4) + 0 AS mean_b
              FROM ch ORDER BY doc_id""")),

    // Energy-based VOICE-ACTIVITY gating — the silence-trim pass an audio
    // training pipeline runs before feature extraction: fixed 64-sample
    // frames over the decoded PCM stream, a frame is ACTIVE when its
    // sum-of-squares reaches 64·512² (RMS ≥ 512 — expressed as the
    // integer inequality so both engines compare exact sums, zero
    // floating-point drift). The trailing partial frame is dropped on
    // both sides. The oracle replays the sample-synthesis ramp
    // ((id·7+i) mod 2048 − 1024) per frame, so a byte-order swap or
    // off-by-one sample walk flips frame energies and hash-mismatches.
    QueryDef(
      "q_audio_vad",
      (s, d) => {
        import s.implicits._
        mediaItems(s, d)
          .filter(col("kind") === "audio")
          .map { m =>
            val a = MediaCodec.decodeWav(m.bytes).get
            val ns = a.data.length / 2
            val nf = ns / 64
            var active = 0
            var f = 0
            while (f < nf) {
              var e = 0L
              var i = f * 64
              while (i < (f + 1) * 64) {
                val v = ((a.data(2 * i) & 0xff) | (a.data(2 * i + 1) << 8))
                  .toShort.toLong
                e += v * v
                i += 1
              }
              if (e >= 64L * 512 * 512) active += 1
              f += 1
            }
            (m.media_id, nf, active)
          }
          .toDF("doc_id", "n_frames", "n_active")
          .orderBy("doc_id")
      },
      Some("""WITH a AS (SELECT doc_id,
                                (100 + doc_id % 50) * (1 + doc_id % 2) AS ns
                         FROM documents WHERE doc_id % 3 = 1),
                   idx AS (SELECT doc_id,
                                  unnest(generate_series(
                                    0, (ns // 64) * 64 - 1)) AS i
                           FROM a),
                   fr AS (SELECT doc_id, i // 64 AS f,
                                 sum(((doc_id * 7 + i) % 2048 - 1024)
                                     * ((doc_id * 7 + i) % 2048 - 1024)) AS e
                          FROM idx GROUP BY 1, 2)
              SELECT doc_id, CAST(count(*) AS INT) AS n_frames,
                     CAST(sum(CASE WHEN e >= 16777216 THEN 1 ELSE 0 END) AS INT)
                       AS n_active
              FROM fr GROUP BY 1 ORDER BY doc_id"""))
  )
}
