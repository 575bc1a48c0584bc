package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** A realtime event row (mirrors the `events` table schema). */
final case class Event(
    event_id: Long,
    ts: java.sql.Timestamp,
    user_id: Long,
    event_type: String,
    value: Double)

/** Latest-seen state per key for the streaming upsert view. */
final case class LatestState(
    user_id: Long,
    last_event_id: Long,
    last_type: String,
    last_value: Double,
    last_ts: java.sql.Timestamp)

/** One attributed conversion: the purchase event plus its credited
  * channel (the user's most recent prior non-purchase event type).
  */
final case class Attributed(
    user_id: Long,
    event_id: Long,
    ts: java.sql.Timestamp,
    value: Double,
    channel: String)

/** Carried last-touch state per user: the newest non-purchase touch seen. */
final case class TouchState(
    touch_type: String,
    touch_ts: java.sql.Timestamp,
    touch_event_id: Long)

/** One completed per-(series, day) total — the unit the streaming anomaly
  * detector consumes (emitted by an upstream windowedAgg at watermark
  * close).
  */
final case class SeriesPoint(event_type: String, day: java.sql.Timestamp, v: Double)

/** Trailing ring of the last N (epoch-ms day, value) pairs per series. */
final case class SeriesRing(points: List[(Long, Double)])

/** One emitted anomaly flag (matches the batch q_anomaly_series row). */
final case class AnomalyFlag(
    event_type: String, day: java.sql.Timestamp, v: Double, ma: Double, z: Double)

/** Per-series CUSUM chart state: warmup accumulator (reference mean),
  * the two one-sided cumulative sums, and the newest day seen.
  */
final case class CusumState(
    warmSum: Double, warmN: Int, mu: Double,
    sPos: Double, sNeg: Double, lastDayMs: Long)

/** One emitted CUSUM alarm: the day the one-sided sum crossed the
  * threshold, which side drifted, and the sum at crossing.
  */
final case class CusumAlarm(
    event_type: String, day: java.sql.Timestamp, v: Double,
    direction: String, s: Double)

/** One scored example flowing into the streaming AUC monitor. */
final case class ScorePoint(model: String, positive: Boolean, cents: Long)

/** Per-model score histogram state: (cents, positives, negatives)
  * triples — the SAME dictionary the batch q_auc rolls up, carried
  * incrementally (bounded by the score dictionary, never example count).
  */
final case class ScoreHist(entries: List[(Long, Long, Long)])

/** One running-AUC snapshot emitted after a micro-batch. */
final case class AucPoint(model: String, n_pos: Long, n_neg: Long, auc: Double)

/** Realtime ingestion — Pinot's realtime server consumes a stream and
  * serves fresh segments (reference: /root/reference/basics/
  * Architecture.md, realtime flow; /root/reference/Introduction.md:7
  * Kafka/Kinesis ingestion). Spark-native: Structured Streaming — the
  * same declarative transforms run incrementally; watermarks bound state;
  * `flatMapGroupsWithState` carries the upsert (latest-per-key) state.
  * Sources are pluggable (`readStream.format("kafka"|"parquet"|...)`);
  * tests drive a MemoryStream, production uses the same plans unchanged.
  */
object Realtime {

  /** Decode a Kafka-wire-schema stream (key/value binary, topic,
    * partition, offset, timestamp — exactly what
    * `readStream.format("kafka")` emits) whose values are JSON-encoded
    * events into typed Event rows. This is the complete adapter a real
    * Kafka topic needs: swap the source format, keep every downstream
    * plan (windowedAgg / latestByKey) unchanged. Malformed payloads
    * drop (from_json null-safety) instead of poisoning the query.
    */
  def fromKafkaJson(kafka: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val eventSchema = new StructType()
      .add("event_id", LongType).add("ts", TimestampType)
      .add("user_id", LongType).add("event_type", StringType)
      .add("value", DoubleType)
    kafka
      .select(from_json(col("value").cast("string"), eventSchema).as("e"))
      .filter(col("e").isNotNull && col("e.event_id").isNotNull)
      .select("e.*")
  }

  /** The Avro writer schema for Event payloads on the wire — the contract
    * a producer serializes against (ts is timestamp-micros, Avro's
    * standard logical type for Kafka event time).
    */
  val eventAvroSchema: String =
    """{"type":"record","name":"Event","fields":[
      |{"name":"event_id","type":"long"},
      |{"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}},
      |{"name":"user_id","type":"long"},
      |{"name":"event_type","type":"string"},
      |{"name":"value","type":"double"}]}""".stripMargin

  /** Spec-side encoder for the wire contract (raw binary Avro, no
    * container framing — the per-record shape a Kafka topic carries);
    * producers serialize against `eventAvroSchema` themselves.
    */
  private[graft] def encodeEventAvro(e: Event): Array[Byte] = {
    val schema = new org.apache.avro.Schema.Parser().parse(eventAvroSchema)
    val rec = new org.apache.avro.generic.GenericData.Record(schema)
    rec.put("event_id", e.event_id)
    rec.put("ts", e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L)
    rec.put("user_id", e.user_id)
    rec.put("event_type", e.event_type)
    rec.put("value", e.value)
    val out = new java.io.ByteArrayOutputStream()
    val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
    new org.apache.avro.generic.GenericDatumWriter[
      org.apache.avro.generic.GenericRecord](schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  /** Decode a Kafka-wire-schema stream whose VALUES are raw binary-Avro
    * Event records — the schema-registry pipeline shape (fromKafkaJson's
    * sibling for the other dominant wire format; Introduction.md:46 lists
    * Avro first among the reference's ingest formats). Decoding is
    * mapPartitions with ONE reusable decoder/record per task (Avro's
    * recommended zero-allocation loop), so the cost is the decode itself,
    * not per-record object churn; malformed payloads drop instead of
    * poisoning the query, matching fromKafkaJson's null-safety contract.
    * Works identically on a batch DataFrame (same analysis path).
    */
  def fromKafkaAvro(
      kafka: DataFrame,
      writerSchemaJson: String = eventAvroSchema): Dataset[Event] = {
    import org.apache.spark.sql.Encoders
    implicit val eventEnc: org.apache.spark.sql.Encoder[Event] =
      Encoders.product[Event]
    kafka.select(col("value")).as[Array[Byte]](Encoders.BINARY).mapPartitions { it =>
      val schema = new org.apache.avro.Schema.Parser().parse(writerSchemaJson)
      val reader = new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord](schema)
      var decoder: org.apache.avro.io.BinaryDecoder = null
      var record: org.apache.avro.generic.GenericRecord = null
      it.flatMap { bytes =>
        try {
          decoder = org.apache.avro.io.DecoderFactory.get()
            .binaryDecoder(bytes, decoder)
          record = reader.read(record, decoder)
          val micros = record.get("ts").asInstanceOf[Long]
          val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
          ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
          Some(Event(
            record.get("event_id").asInstanceOf[Long],
            ts,
            record.get("user_id").asInstanceOf[Long],
            record.get("event_type").toString,
            record.get("value").asInstanceOf[Double]))
        } catch { case _: Exception => None }
      }
    }
  }

  /** Watermarked tumbling-window aggregation — the realtime dashboard
    * query shape (counts + sums per window × event_type).
    */
  def windowedAgg(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_val"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("cnt"), col("sum_val"))

  /** Session-window aggregation: gap-based sessions per key — watermark
    * bounds state, each session closes `gap` after its last event.
    */
  def sessionAgg(
      events: DataFrame,
      gap: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_val"))
      .select(
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"), col("sum_val"))

  /** Streaming dedup — Pinot realtime-table dedup semantics: drop records
    * whose primary key was already seen, with state bounded by the
    * watermark (Pinot's analog is the metadata TTL on the dedup store).
    * First-arrival wins; late duplicates beyond the watermark age out of
    * state, the standard at-scale trade.
    */
  def dedupByKey(
      events: DataFrame,
      keyCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Windowed HEAVY-HITTER terms over a document stream: the
    * `frequent_items` Misra–Gries aggregate running INSIDE Structured
    * Streaming. The sketch was built mergeable for map-side partials —
    * and a mergeable O(k) buffer is exactly the state shape incremental
    * execution needs: each window's standing state is one k-entry
    * summary, never the term dictionary, and micro-batch order cannot
    * change the guarantee (counts are lower bounds with error ≤
    * n/(k+1), split-invariance property-checked in SketchPropertySpec).
    * Watermark bounds how long a window's sketch stays in the store.
    */
  def frequentTermsWindowed(
      docs: DataFrame, textCol: String, tsCol: String,
      k: Int = 8, windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol),
        explode(array_remove(
          graft.functions.TextShingles.wordTokens(col(textCol)), "")).as("term"))
      .groupBy(window(col(tsCol), windowLength))
      .agg(graft.functions.TextShingles.frequentItems(col("term"), k).as("top"))
      .select(col("window.start").as("window_start"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("window_start"), col("pos"), col("t.item").as("term"))

  /** Streaming NEAR-dup suppression: drop documents whose 64-bit SimHash
    * signature was already seen within the watermark — catches
    * reformatted/whitespace-variant re-posts that exact-key dedup misses,
    * with the same watermark-bounded state as `dedupByKey`. The signature
    * is the scan-local codegen'd simhash64 expression; state per doc is
    * ONE long. (Hamming-distance>0 matching needs the batch pairing path
    * — graft.dedup.SimHash — this is the stream-safe signature-equality
    * form.)
    */
  def nearDedupByContent(
      docs: DataFrame, textCol: String, tsCol: String,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    docs
      .withColumn("__sig", ColumnBridge.column(
        graft.functions.expressions.SimHash64(
          ColumnBridge.expression(
            array_remove(graft.functions.TextShingles.wordTokens(col(textCol)), "")))))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("__sig"))
      .drop("__sig")
  }

  /** Stream–stream INTERVAL join — the attribution shape (impressions ⋈
    * clicks on the same key, click within `within` after the impression).
    * Both sides carry watermarks and the join condition carries an
    * event-time range, so Spark derives a state-cleanup bound for BOTH
    * join buffers — state is O(key-rate × (watermark + within)), never
    * unbounded (the reference's realtime servers bound their upsert/dedup
    * stores with TTLs the same way). Columns other than `keyCol` must be
    * distinct across the two sides; the right side's key is dropped from
    * the output.
    */
  def intervalJoin(
      left: DataFrame, leftTs: String,
      right: DataFrame, rightTs: String,
      keyCol: String, within: String = "10 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
      .withColumnRenamed(keyCol, s"__r_$keyCol")
    l.join(r,
        l(keyCol) === r(s"__r_$keyCol") &&
          r(rightTs) >= l(leftTs) &&
          r(rightTs) <= l(leftTs) + expr(s"INTERVAL $within"))
      .drop(s"__r_$keyCol")
  }

  /** Stream–static dimension enrichment: the realtime lookup join (Pinot
    * serves realtime segments joined against dimension/lookup tables —
    * reference: /root/reference/basics/Architecture.md realtime flow +
    * Introduction.md:51 lookup joins). Spark-native: a stream–static
    * equi-join; the static side is broadcast per micro-batch and no
    * streaming state accumulates — the join is stateless on the stream
    * side. NOTE: a file-backed dimension DataFrame caches its file
    * listing at creation, so NEW dimension files are not reliably seen
    * mid-query; for live dimension refresh, recreate the dim DataFrame
    * inside `foreachBatch` and join there instead.
    */
  def enrich(
      events: DataFrame, dim: DataFrame, keyCol: String,
      dimCols: Seq[String]): DataFrame =
    events.join(
      broadcast(dim.select((keyCol +: dimCols).map(col): _*)),
      Seq(keyCol), "left_outer")

  /** Starts `stream` as an append-mode `foreachBatch` sink whose progress
    * lives in `checkpointDir` — the start-up every checkpointed sink below
    * shares.
    */
  private def foreachBatchSink(stream: DataFrame, checkpointDir: String)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(f)
      .start()

  /** One micro-batch of a FOLDING CUBE SINK — the skeleton all five cube
    * sinks below run: only the batch's own mini-cube (`build`) is
    * aggregated, and it folds into the materialized cube at `cubePath`
    * (`merge`, through StarTree.foldInto) — history is never rescanned.
    * The first batch builds the cube; an empty batch changes nothing.
    *
    * Replay contract: foreachBatch is AT-LEAST-ONCE — after a crash
    * between the batch's side effects and the checkpoint commit, the same
    * (batchId, rows) is re-delivered. With an `archive` (fact root, batch
    * id), two guards make a weight-additive fold safe:
    *  - the batch is archived to `<fact root>/batch_id=<id>` with
    *    overwrite (re-running replaces the same files — no duplicate rows);
    *  - a batch id whose subdir already exists is a re-delivery, so the
    *    cube may ALREADY contain its partials: instead of folding the
    *    delta again (double counting), the cube is rebuilt from the whole
    *    archive — correct by construction, and the rebuild is paid only on
    *    crash recovery, never in steady state.
    * Without an archive every batch folds unconditionally, which is only
    * correct for a set-idempotent `merge`.
    *
    * foreachBatch runs batches serially per query, so folds never race
    * each other; the cube is overwritten in place, so a concurrent reader
    * can still hit missing files. Returns whether a cube was written.
    */
  private def foldCubeBatch(
      batch: DataFrame, cubePath: String, archive: Option[(String, Long)],
      build: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame): Boolean = {
    val spark = batch.sparkSession
    val hc = spark.sparkContext.hadoopConfiguration
    def exists(path: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(hc).exists(p)
    }
    def publish(cube: DataFrame): Unit = cube.write.mode("overwrite").parquet(cubePath)
    batch.persist()
    try {
      if (batch.isEmpty) false
      else {
        val replay = archive.exists { case (factPath, id) =>
          val batchDir = s"$factPath/batch_id=$id"
          val seen = exists(batchDir)
          batch.write.mode("overwrite").parquet(batchDir)
          seen
        }
        if (!exists(cubePath)) publish(build(batch))
        else if (replay) publish(build(spark.read.parquet(archive.get._1)))
        else graft.operators.StarTree.foldInto(cubePath, build(batch))(merge)
        true
      }
    } finally batch.unpersist()
  }

  /** A sketch cube: one `sk` blob per `dims` cell. */
  private def sketchCube(dims: Seq[String], sketch: Column)(df: DataFrame): DataFrame =
    df.groupBy(dims.map(col): _*).agg(sketch.as("sk"))

  /** Folds two sketch cubes: a cell on one side only carries over, a
    * shared cell `union`s its two blobs.
    */
  private def mergeSketchCells(dims: Seq[String], union: (Column, Column) => Column)(
      old: DataFrame, delta: DataFrame): DataFrame =
    old.withColumnRenamed("sk", "sk_old")
      .join(delta.withColumnRenamed("sk", "sk_new"), dims, "full_outer")
      .select(dims.map(col) :+
        when(col("sk_old").isNull, col("sk_new"))
          .when(col("sk_new").isNull, col("sk_old"))
          .otherwise(union(col("sk_old"), col("sk_new"))).as("sk"): _*)

  /** Streaming star-tree maintenance: each micro-batch appends to the
    * fact archive and folds its OWN mini-cube (sums, counts, min/max, HLL
    * `distinctMetrics`) into the materialized cube (Pinot's realtime
    * servers build star-trees per consuming segment and serve them fresh
    * — the reference's basics/Architecture.md realtime flow +
    * basics/indexing/README.md:16 star-tree). After every batch the cube
    * is re-registered, so the transparent rewrite (StarTreeRewriteRule)
    * serves the refreshed cube and dashboard aggregates stay cube-fast
    * while the stream runs. The fact archive is written before the fold,
    * so its files no longer match the registration until the re-register:
    * a reader in that window scans the fact instead of reading a stale
    * cube. Archived replay guard (`foldCubeBatch`).
    */
  def cubeRefreshSink(
      stream: DataFrame, factPath: String, cubePath: String,
      dims: Seq[String], sumMetrics: Seq[String],
      checkpointDir: String,
      distinctMetrics: Seq[String] = Nil): StreamingQuery =
    foreachBatchSink(stream, checkpointDir)(
      processCubeBatch(_, _, factPath, cubePath, dims, sumMetrics, distinctMetrics))

  private[graft] def processCubeBatch(
      batch: DataFrame, id: Long, factPath: String, cubePath: String,
      dims: Seq[String], sumMetrics: Seq[String],
      distinctMetrics: Seq[String]): Unit = {
    import graft.operators.StarTree
    if (foldCubeBatch(batch, cubePath, Some(factPath -> id),
        StarTree.buildCube(_, dims, sumMetrics, distinctMetrics),
        StarTree.mergeCubes(_, _, dims, sumMetrics, distinctMetrics)))
      graft.plans.StarTreeCatalog.register(
        factPath, dims, sumMetrics, cubePath, distinctMetrics)
  }

  /** Streaming QUANTILE-cube maintenance — the hist-metric twin of
    * `cubeRefreshSink`: each micro-batch's value histogram folds into the
    * materialized per-cell histograms (StarTree.mergeHistCubes — counts
    * add value-wise, losslessly), so `StarTree.percentileRollup` serves
    * EXACT percentiles over everything ingested so far. Counts add, so
    * the sink keeps the archived replay guard (`foldCubeBatch`). The
    * metric must be dictionary-encoded (integral — enforced by
    * buildHistCube) or per-cell state would grow with rows, not values.
    */
  def histCubeRefreshSink(
      stream: DataFrame, factPath: String, cubePath: String,
      dims: Seq[String], metric: String,
      checkpointDir: String): StreamingQuery =
    foreachBatchSink(stream, checkpointDir)(
      processHistCubeBatch(_, _, factPath, cubePath, dims, metric))

  private[graft] def processHistCubeBatch(
      batch: DataFrame, id: Long, factPath: String, cubePath: String,
      dims: Seq[String], metric: String): Unit = {
    import graft.operators.StarTree
    foldCubeBatch(batch, cubePath, Some(factPath -> id),
      StarTree.buildHistCube(_, dims, metric),
      StarTree.mergeHistCubes(_, _, dims, metric))
  }

  /** Streaming DISTINCT-COUNT cube via theta sketches. KMV union is
    * SET-idempotent (re-merging the hashes of an already-folded batch
    * changes nothing), so an at-least-once re-delivery needs no archive
    * and no rebuild path — the delta folds unconditionally, every time.
    * State per dim cell is O(k) regardless of ingested volume, and the
    * folded sketches keep the FULL set algebra: union/intersect/a-not-b
    * across cells still work on the materialized cube.
    */
  def thetaCubeRefreshSink(
      stream: DataFrame, cubePath: String,
      dims: Seq[String], valueCol: String, k: Int,
      checkpointDir: String): StreamingQuery =
    foreachBatchSink(stream, checkpointDir)((batch, _) =>
      processThetaBatch(batch, cubePath, dims, valueCol, k))

  private[graft] def processThetaBatch(
      batch: DataFrame, cubePath: String,
      dims: Seq[String], valueCol: String, k: Int): Unit = {
    import graft.functions.SketchFns._
    foldCubeBatch(batch, cubePath, archive = None,
      sketchCube(dims, thetaSketch(col(valueCol), k)),
      mergeSketchCells(dims, thetaUnion))
  }

  /** Streaming QUANTILE cube via KLL sketches: per-cell state is O(k)
    * regardless of ingested volume, and the folded blobs keep composing
    * (any coarser grouping unions the cells). KLL union is weight-ADDITIVE,
    * so the sink keeps the archived replay guard (`foldCubeBatch`). The
    * trade vs the hist cube: CONTINUOUS metrics work (any double column)
    * at bounded-error instead of exact percentiles — exact while cells
    * stay under k.
    */
  def kllCubeRefreshSink(
      stream: DataFrame, factPath: String, cubePath: String,
      dims: Seq[String], valueCol: String, k: Int,
      checkpointDir: String): StreamingQuery =
    foreachBatchSink(stream, checkpointDir)(
      processKllCubeBatch(_, _, factPath, cubePath, dims, valueCol, k))

  private[graft] def processKllCubeBatch(
      batch: DataFrame, id: Long, factPath: String, cubePath: String,
      dims: Seq[String], valueCol: String, k: Int): Unit = {
    import graft.functions.SketchFns._
    foldCubeBatch(batch, cubePath, Some(factPath -> id),
      sketchCube(dims, kllSketch(col(valueCol), k)),
      mergeSketchCells(dims, kllUnion))
  }

  /** Streaming TUPLE-sketch cube — (distinct count AND metric total) per
    * cell: tuple blobs carry a summed long metric per retained key, so
    * the refreshed cube answers "how many distinct users and how much
    * revenue per segment" (and their intersections) from O(cells · k)
    * state. Tuple union is summary-ADDITIVE per key, so the sink keeps the
    * archived replay guard (`foldCubeBatch`). The metric must be a LONG
    * (quantize money to cents per row first — the integer-grid rule), so
    * rebuild and fold agree exactly.
    */
  def tupleCubeRefreshSink(
      stream: DataFrame, factPath: String, cubePath: String,
      dims: Seq[String], keyCol: String, metricCol: String, k: Int,
      checkpointDir: String): StreamingQuery =
    foreachBatchSink(stream, checkpointDir)(
      processTupleCubeBatch(_, _, factPath, cubePath, dims, keyCol, metricCol, k))

  private[graft] def processTupleCubeBatch(
      batch: DataFrame, id: Long, factPath: String, cubePath: String,
      dims: Seq[String], keyCol: String, metricCol: String, k: Int): Unit = {
    import graft.functions.SketchFns._
    foldCubeBatch(batch, cubePath, Some(factPath -> id),
      sketchCube(dims, tupleSketch(col(keyCol), col(metricCol), k)),
      mergeSketchCells(dims, tupleUnion))
  }

  /** Streaming SCD TYPE-2 maintenance — the history-preserving dual of
    * the streaming upsert view: each micro-batch of changelog events
    * updates the versioned-validity dimension INCREMENTALLY. Only the
    * batch's AFFECTED KEYS rebuild their history (from a batch-id-keyed
    * fact archive — at 100 TB the archive is bucketed by key so a batch
    * touches only its buckets); untouched keys' interval rows are carried
    * over verbatim, so per-batch work is O(affected keys' history), not
    * O(dim). Rebuild-from-archive makes replay IDEMPOTENT by
    * construction: a re-delivered batch overwrites its own archive
    * partition and re-derives byte-identical intervals. Exact batch
    * parity (streamed dim ≡ Scd2.build over everything ingested) holds
    * at every prefix because rebuild IS the batch operator.
    */
  def scd2IngestSink(
      stream: DataFrame, factPath: String, dimPath: String,
      checkpointDir: String): StreamingQuery =
    foreachBatchSink(stream, checkpointDir)(processScd2Batch(_, _, factPath, dimPath))

  private[graft] def processScd2Batch(
      batch: DataFrame, id: Long, factPath: String, dimPath: String): Unit = {
    val spark = batch.sparkSession
    batch.persist()
    try {
      if (batch.isEmpty) ()
      else {
        val hc = spark.sparkContext.hadoopConfiguration
        batch.write.mode("overwrite").parquet(s"$factPath/batch_id=$id")
        val keys = batch.select("user_id").distinct()
        val affected = spark.read.parquet(factPath)
          .select("user_id", "event_type", "ts", "event_id")
          .join(keys, Seq("user_id"), "left_semi")
        val rebuilt = graft.operators.Scd2.build(affected)
        val dp = new org.apache.hadoop.fs.Path(dimPath)
        if (!dp.getFileSystem(hc).exists(dp))
          rebuilt.write.mode("overwrite").parquet(dimPath)
        else graft.operators.StarTree.foldInto(dimPath, rebuilt)(
          _.join(keys, Seq("user_id"), "left_anti").unionByName(_))
      }
    } finally batch.unpersist()
  }

  /** Streaming DENORMALIZED ingest — Pinot's realtime lookup join: each
    * micro-batch of fact rows resolves its dimension columns ON INGEST
    * (broadcast dim join, DenormView.refreshIncremental — O(batch),
    * existing view files untouched) so the queryable view never joins at
    * read time. The dim re-reads per batch, so a slowly-changing
    * dimension takes effect on the NEXT micro-batch and each fact row
    * permanently carries the dim as of its own arrival — the
    * denormalized contract (history is never rewritten).
    */
  def denormIngestSink(
      stream: DataFrame, dim: () => DataFrame, key: String,
      viewPath: String,
      checkpointDir: String): StreamingQuery =
    foreachBatchSink(stream, checkpointDir) { (batch, _) =>
      if (!batch.isEmpty)
        graft.sources.DenormView.refreshIncremental(
          batch.sparkSession, viewPath, batch, dim(), key)
    }

  /** Streaming ingest INTO A HYBRID TABLE with cadenced realtime→offline
    * promotion — Pinot's consuming-segment + RealtimeToOfflineSegments
    * pair as one sink (reference: /root/reference/basics/Architecture.md,
    * hybrid tables): each micro-batch lands as a
    * `realtime/batch_id=<id>` parquet partition (INT64-micros timestamps
    * so the promotion decision stays a footer read), and every
    * `promoteEvery` batches the sink promotes the complete granules and
    * advances the boundary — in the stream's own cadence, lease-guarded,
    * and SKIP-on-held-lease so a concurrent external promoter can never
    * fail a streaming batch.
    *
    * Replay is idempotent: a re-delivered batch overwrites exactly its
    * own partition, and promotion staging overwrites its range-named
    * stage dir. The sink keeps realtime APPEND-ONLY (promotion runs with
    * gcRealtime = false, pinned): physically rewriting realtime under
    * batch-id replay could double-serve a replayed batch's rows next to
    * their GC-survivor copies, whereas the boundary filter retires
    * promoted rows from serving unconditionally. Physical cleanup
    * belongs to retention once the boundary has passed the data
    * (SegmentWriter.applyRetention), not to the ingest path.
    */
  def hybridIngestSink(
      stream: DataFrame, root: String, tsCol: String, checkpointDir: String,
      promoteEvery: Int = 0, granuleUs: Long = 86400000000L)
      : StreamingQuery =
    foreachBatchSink(stream, checkpointDir) { (batch, id) =>
      val spark = batch.sparkSession
      graft.sources.HybridTable.withMicrosTimestamps(spark) {
        batch.write.mode("overwrite")
          .parquet(s"${graft.sources.HybridTable.realtimeDir(root)}/batch_id=$id")
      }
      if (promoteEvery > 0 && id > 0 && id % promoteEvery == 0) {
        graft.sources.HybridTable.promoteRealtime(
          spark, root, tsCol, granuleUs, gcRealtime = false)
        () // None = lease held elsewhere: skip, next cadence tick retries
      }
    }

  /** Streaming INGEST dedup against a SELF-GROWING MinHash band index —
    * the q_dedup_incremental loop run continuously: each micro-batch
    * probes the on-disk band index (only the batch is shingled; the
    * index join prunes by band partition), exact-Jaccard-verifies the
    * candidates at `threshold` (bands recall, Jaccard decides — the same
    * two-stage contract as the batch operator), drops docs near-dupping
    * the standing corpus, then drops within-batch near-dup followers
    * (greater id of any verified pair — conservative on chains), and
    * appends BOTH the accepted docs and their bands as
    * `batch_id=<id>` partitions. Replay is IDEMPOTENT by construction:
    * a re-delivered batch excludes its OWN batch_id from the index read
    * (otherwise its prior attempt's bands would mark every doc dup) and
    * overwrites exactly its own partitions, re-deriving byte-identical
    * output. State lives entirely on disk — the stream side holds none;
    * doc ids must be globally unique across batches (the upsert-key
    * contract every ingest sink here shares).
    */
  def dedupIngestSink(
      stream: DataFrame, idCol: String, textCol: String,
      indexPath: String, acceptedPath: String, checkpointDir: String,
      threshold: Double = 0.8, shingleSize: Int = 3,
      numBands: Int = graft.dedup.MinHashLsh.NumBands,
      /** Auto-compaction cadence: every `compactEvery` micro-batches the
        * sink folds all COMMITTED batch partitions into the sentinel
        * partition (see compactDedupIndex) so the roots stay at O(1)
        * directories instead of one per batch forever. Runs AFTER the
        * batch's own writes, so the batch being processed is always the
        * kept-newest partition and replay semantics are untouched.
        * 0 disables (the operational default for an external maintenance
        * job owning the cadence).
        */
      compactEvery: Int = 0)
      : StreamingQuery =
    foreachBatchSink(stream, checkpointDir) { (batch, id) =>
      processDedupBatch(batch, id, idCol, textCol, indexPath,
        acceptedPath, threshold, shingleSize, numBands)
      if (compactEvery > 0 && id > 0 && id % compactEvery == 0) {
        // skip-on-held-lease: a concurrent external compactor must not
        // fail the streaming batch; the next cadence tick retries
        tryCompactDedupIndex(batch.sparkSession, indexPath, acceptedPath,
          idCol)
        ()
      }
    }

  private[graft] def processDedupBatch(
      batch: DataFrame, id: Long, idCol: String, textCol: String,
      indexPath: String, acceptedPath: String, threshold: Double,
      shingleSize: Int, numBands: Int): Unit = {
    import graft.dedup.MinHashLsh
    import graft.functions.TextShingles
    val spark = batch.sparkSession
    // exact trigram-Jaccard verify of band candidates (the same second
    // stage as q_dedup_incremental — a lone shared band is a RECALL
    // device, not a duplicate verdict; without this, exhaustive banding
    // would drop any doc sharing one shingle with the corpus).
    // The corpus side is semi-join-PRUNED to the candidate ids before it
    // is shingled: candidates are bounded by the batch's band matches, so
    // the verify stage costs O(batch + matches) — without the prune every
    // micro-batch would re-shingle the ENTIRE accepted corpus and
    // per-batch cost would grow with corpus size, breaking the O(batch)
    // contract the index exists to provide. The candidate id set is
    // micro-batch-bounded, hence safe to broadcast explicitly.
    def verified(cands0: DataFrame, aIdAlias: String, a: DataFrame,
        bIdAlias: String, b: DataFrame): DataFrame = {
      // materialized once — feeds both the id prune and the verify join
      // (recomputing candidatePairsAgainst per consumer would re-probe
      // the on-disk index twice per batch)
      val cands = cands0.localCheckpoint(true)
      val bIds = cands.select(col(bIdAlias).as(idCol)).distinct()
      val bPruned = b.join(broadcast(bIds), Seq(idCol), "left_semi")
      val aSh = TextShingles.withShingleHashes(a, idCol, textCol, shingleSize)
        .select(col(idCol).as(aIdAlias), col("sh").as("__a_sh"))
      val bSh = TextShingles.withShingleHashes(bPruned, idCol, textCol, shingleSize)
        .select(col(idCol).as(bIdAlias), col("sh").as("__b_sh"))
      cands.join(aSh, aIdAlias).join(bSh, bIdAlias)
        .withColumn("__inter",
          size(array_intersect(col("__a_sh"), col("__b_sh"))))
        .filter(col("__inter").cast("double") /
          (size(col("__a_sh")) + size(col("__b_sh")) - col("__inter"))
          >= threshold)
    }
    batch.persist()
    try {
      if (batch.isEmpty) ()
      else {
        val hc = spark.sparkContext.hadoopConfiguration
        val ip = new org.apache.hadoop.fs.Path(indexPath)
        val vsIndex =
          if (!ip.getFileSystem(hc).exists(ip)) batch
          else {
            // exclude this batch's OWN partition: present only on replay,
            // where it would otherwise mark the whole batch duplicate
            val idx = spark.read.parquet(indexPath)
              .filter(col("batch_id") =!= lit(id))
            val corpus = spark.read.parquet(acceptedPath)
              .filter(col("batch_id") =!= lit(id))
              .select(col(idCol), col(textCol))
            val cands = MinHashLsh.candidatePairsAgainst(
              batch, idCol, textCol, idx, shingleSize, numBands,
              broadcastBatch = true)
            val dup = verified(cands, "new_id", batch, "corpus_id", corpus)
              .select(col("new_id").as(idCol)).distinct()
            batch.join(dup, Seq(idCol), "left_anti")
          }
        val withinCands = MinHashLsh.candidatePairs(
          vsIndex, idCol, textCol, shingleSize, numBands)
        val follower = verified(withinCands, "a_id", vsIndex, "b_id", vsIndex)
          .select(col("b_id").as(idCol)).distinct()
        val novel = vsIndex.join(follower, Seq(idCol), "left_anti")
          .localCheckpoint(true)
        novel.write.mode("overwrite")
          .parquet(s"$acceptedPath/batch_id=$id")
        MinHashLsh.bands(novel, idCol, textCol, shingleSize, numBands)
          .withColumnRenamed(idCol, "doc_id")
          .write.mode("overwrite").partitionBy("band_idx")
          .parquet(s"$indexPath/batch_id=$id")
      }
    } finally batch.unpersist()
  }

  final case class DedupCompactionStats(
      batchesCompacted: Long, indexFilesBefore: Long, indexFilesAfter: Long,
      acceptedFilesBefore: Long, acceptedFilesAfter: Long)

  /** Compaction for `dedupIngestSink`'s self-growing state — the
    * SegmentWriter.compact discipline applied to the band index. The sink
    * appends one `batch_id=N` partition per micro-batch to BOTH roots, so
    * after 10k batches each root is 10k directories and the probe
    * equi-join's file listing + per-file open cost grow linearly with
    * batch count — the quiet scale-killer in an otherwise zero-state
    * design. `compactDedupIndex` rewrites every COMMITTED batch partition
    * (plus any previous compaction output) into ONE fresh sentinel
    * partition `batch_id=<negative>`, with few large sorted files.
    *
    * Replay-contract preservation: Structured Streaming's foreachBatch
    * re-delivers at most the LATEST batch after a failure — earlier ids
    * are sealed in the checkpoint commit log — so the newest live
    * partition is always KEPT in place. A replayed latest batch therefore
    * still (a) excludes exactly its own bands via the
    * `batch_id =!= id` probe filter (compacted rows live at a negative
    * id no real batch — ids are >= 0 — ever matches) and (b) overwrites
    * exactly its own partitions, re-deriving byte-identical output.
    *
    * Crash-safety is CONVERGENT rather than atomic: the compacted
    * partition is fully written under a temp path and renamed in before
    * the source partitions are deleted, so no committed row is ever lost;
    * a crash between rename and delete leaves duplicate rows, and the
    * next compaction run collapses them (it re-reads survivors + the
    * previous output and `dropDuplicates` on the natural key). Sentinel
    * ids are fresh per run (min(existing) - 1), so a half-finished run
    * never collides with its successor.
    *
    * CONCURRENCY contract — single compactor, enforced by a lease:
    * two compactions planning over the same listing would each pick a
    * fresh sentinel and double-materialize every row (converged by the
    * next run, but a real window), so the run takes an exclusive lease
    * file `_compact_lease` under the index root via atomic
    * create-if-absent and throws IllegalStateException if another
    * compactor holds it (`tryCompactDedupIndex` is the skip-instead-of-
    * throw form the in-sink cadence uses). A lease older than
    * `leaseTtlMs` is presumed crashed and broken — so the TTL must
    * exceed the longest expected compaction (the default 15 min is ~100×
    * the spec-scale runtimes; a deployment whose compactions approach the
    * TTL should raise it or add heartbeat refreshes — breaking a
    * still-live holder reopens the double-materialize window, which the
    * next run converges but should not be routine). The lease serializes
    * compactor-vs-compactor only: an EXTERNAL compactor racing a live
    * `dedupIngestSink` micro-batch can still delete source partitions
    * between the batch's probe LISTING and its read — a transient
    * FileNotFoundException batch failure (data stays safe: rename
    * precedes delete, and replay re-probes the compacted index). Either
    * let the sink's own `compactEvery` cadence own compaction (it runs
    * between batches, inside the lease), or schedule the external job in
    * the stream's idle windows.
    */
  def compactDedupIndex(
      spark: SparkSession, indexPath: String, acceptedPath: String,
      idCol: String = "doc_id", numFiles: Int = 1,
      leaseTtlMs: Long = 15 * 60 * 1000L): DedupCompactionStats =
    withCompactionLease(spark, indexPath, leaseTtlMs) {
      compactDedupIndexLocked(spark, indexPath, acceptedPath, idCol, numFiles)
    }.getOrElse(throw new IllegalStateException(
      s"compactDedupIndex: another compactor holds $indexPath/$LeaseName " +
        s"(younger than ${leaseTtlMs}ms); compaction must be serialized"))

  /** Non-throwing form: returns None (skips the run) when another
    * compactor holds a live lease — the in-sink cadence path, where a
    * concurrent external job must not fail the streaming batch.
    */
  def tryCompactDedupIndex(
      spark: SparkSession, indexPath: String, acceptedPath: String,
      idCol: String = "doc_id", numFiles: Int = 1,
      leaseTtlMs: Long = 15 * 60 * 1000L): Option[DedupCompactionStats] =
    withCompactionLease(spark, indexPath, leaseTtlMs) {
      compactDedupIndexLocked(spark, indexPath, acceptedPath, idCol, numFiles)
    }

  private val LeaseName = "_compact_lease"

  /** Acquire `<indexRoot>/_compact_lease`, run `body`, release — the
    * shared graft.sources.FsLease discipline (JVM set for same-process
    * racers; token-verified, TTL-breakable lease file for cross-process
    * ones — see FsLease for the race analysis). Returns None without
    * running when a concurrent holder's lease is live. Hidden-prefixed,
    * so FileIndex listings and the sink's batch_id partition discovery
    * never see it.
    */
  private def withCompactionLease[A](
      spark: SparkSession, indexPath: String, leaseTtlMs: Long)(body: => A)
      : Option[A] =
    graft.sources.FsLease.withLease(spark, indexPath, LeaseName, leaseTtlMs)(body)

  private def compactDedupIndexLocked(
      spark: SparkSession, indexPath: String, acceptedPath: String,
      idCol: String, numFiles: Int): DedupCompactionStats = {
    import org.apache.hadoop.fs.Path
    val hc = spark.sparkContext.hadoopConfiguration
    def listIds(root: String): Seq[Long] = {
      val p = new Path(root)
      val fs = p.getFileSystem(hc)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_id="))
        .map(_.getPath.getName.stripPrefix("batch_id=").toLong)
    }
    def countFiles(root: String): Long = {
      val p = new Path(root)
      val fs = p.getFileSystem(hc)
      if (!fs.exists(p)) 0L
      else {
        val it = fs.listFiles(p, true)
        var n = 0L
        while (it.hasNext) {
          if (it.next().getPath.getName.endsWith(".parquet")) n += 1
        }
        n
      }
    }
    val allIds = (listIds(indexPath) ++ listIds(acceptedPath)).distinct
    // both roots keep the same newest batch (they are written by the same
    // foreachBatch; a crash between the two writes is healed by replay,
    // which must find both own-partitions overwritable)
    val live = allIds.filter(_ >= 0)
    val keepId = if (live.isEmpty) Long.MinValue else live.max
    val newId = (allIds :+ 0L).min - 1L
    val ibefore = countFiles(indexPath); val abefore = countFiles(acceptedPath)

    def compactRoot(root: String, dedupKey: Seq[String],
        bandPartitioned: Boolean): Long = {
      val ids = listIds(root).filter(_ != keepId)
      if (ids.isEmpty) return 0L
      val fs = new Path(root).getFileSystem(hc)
      val tmp = new Path(root.stripSuffix("/") + s"__compact_tmp")
      fs.delete(tmp, true) // stale temp from a crashed run
      val df = spark.read.parquet(root)
        .filter(col("batch_id").isin(ids: _*))
        .drop("batch_id")
        .dropDuplicates(dedupKey)
      if (bandPartitioned)
        // one sorted file per band dir: band_hash row groups stay tight so
        // the probe's min/max pruning survives compaction
        df.repartition(col("band_idx"))
          .sortWithinPartitions("band_hash", "doc_id")
          .write.mode("overwrite").partitionBy("band_idx")
          .parquet(tmp.toString)
      else
        df.repartition(numFiles).sortWithinPartitions(idCol)
          .write.mode("overwrite").parquet(tmp.toString)
      require(fs.rename(tmp, new Path(s"$root/batch_id=$newId")),
        s"compactDedupIndex: rename into $root/batch_id=$newId failed")
      ids.foreach(i => fs.delete(new Path(s"$root/batch_id=$i"), true))
      ids.length.toLong
    }

    val n = compactRoot(indexPath, Seq("doc_id", "band_idx", "band_hash"),
      bandPartitioned = true)
    compactRoot(acceptedPath, Seq(idCol), bandPartitioned = false)
    DedupCompactionStats(n, ibefore, countFiles(indexPath),
      abefore, countFiles(acceptedPath))
  }

  /** Streaming ANN serving: each micro-batch of query vectors
    * (vec_id, embedding) probes the MATERIALIZED IVF index
    * (similarity.IvfAnn.materialize — cell-partitioned parquet, nProbe
    * directory pruning per probe). The stream side carries NO state: the
    * index is the state, lives on disk, and refreshes independently of
    * the serving query — knnIvfIndexed refreshes the path's cached file
    * listing per call, so a rebuild lands on the NEXT micro-batch
    * (spec-proven: the hot-swap test re-materializes mid-stream). This is
    * the retrieval-serving shape of the realtime flow — Pinot servers
    * answer queries from on-disk segments the ingestion side keeps
    * refreshing, reference: /root/reference/basics/Architecture.md
    * realtime query path.
    */
  def annServe(
      queryStream: DataFrame, indexPath: String, k: Int, nProbe: Int = 2)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    queryStream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.similarity.IvfAnn.knnIvfIndexed(
          batch.sparkSession, indexPath, batch, k, nProbe), id)
      }
      .start()

  /** annServe's PQ sibling: serve a materialized byte-code index
    * (Pq.materialize / Pq.appendToIndex) against a stream of query
    * vectors. Same hot-swap contract — knnPqIndexed refreshes the index
    * path per micro-batch, so a rebuild or an incremental append is
    * visible to the NEXT batch without restarting the stream. `corpus`
    * supplies float vectors to the exact-cosine rerank only (per-query
    * shortlist point lookups; pass rerankFactor = 1 for the codes-only
    * pure-ADC path).
    */
  def annServePq(
      queryStream: DataFrame, indexPath: String, corpus: DataFrame,
      k: Int, rerankFactor: Int = 8)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    queryStream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.similarity.Pq.knnPqIndexed(
          batch.sparkSession, indexPath, batch, corpus, k, rerankFactor), id)
      }
      .start()

  /** Streaming last-touch attribution — the incremental form of the batch
    * q_attribution rollup: every purchase is emitted once, credited to the
    * user's most recent PRIOR non-purchase event type ('direct' when none).
    * Per-user state is ONE carried touch (type, ts, event_id) — never an
    * event list — so state size is |users|, the same bound as latestByKey.
    *
    * Ordering contract: within a micro-batch events process in the
    * (ts, event_id) total order (the batch query's order), and a stored
    * touch only advances to a NEWER (ts, event_id), so late touches never
    * regress the state. Exact batch parity therefore holds under in-order
    * delivery (StreamingSpec asserts it across batch splits); a touch
    * arriving AFTER a purchase it should have credited cannot re-attribute
    * the already-emitted row — the standard append-mode attribution
    * trade-off, stated rather than hidden.
    */
  def lastTouchAttribution(events: Dataset[Event]): Dataset[Attributed] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, Attributed](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[TouchState]) =>
          val ordered = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var touch = state.getOption
          val out = Seq.newBuilder[Attributed]
          ordered.foreach { e =>
            if (e.event_type == "purchase") {
              out += Attributed(userId, e.event_id, e.ts, e.value,
                touch.map(_.touch_type).getOrElse("direct"))
            } else {
              val newer = touch.forall { t =>
                val (et, tt) = (e.ts.getTime, t.touch_ts.getTime)
                et > tt || (et == tt && e.event_id > t.touch_event_id)
              }
              if (newer) touch = Some(TouchState(e.event_type, e.ts, e.event_id))
            }
          }
          touch.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming trailing-window anomaly detection — the incremental form of
    * the batch q_anomaly_series flags (the ThirdEye-style alerting read
    * over a realtime table): input is the COMPLETED per-(series, day)
    * totals an upstream windowedAgg emits once its watermark closes each
    * day; per-series state is a ring of the last `window` (day, value)
    * pairs — O(window) per series, never an event list. A day with a full
    * trailing window computes z = (v − ma)/sd over the stored ring and
    * emits when |z| > `zThreshold` (sd > 0), exactly the batch gate.
    *
    * Ordering contract (lastTouchAttribution's): within a micro-batch,
    * days process in ascending (day) order; a day at-or-before the newest
    * stored day is LATE — it is dropped, not retro-inserted (its window
    * context is gone; append mode cannot recall emitted flags). In-order
    * delivery therefore gives exact batch parity (StreamingSpec asserts
    * it across micro-batch splits).
    */
  def anomalySeries(
      daily: Dataset[SeriesPoint],
      window: Int = 7,
      zThreshold: Double = 1.5): Dataset[AnomalyFlag] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[SeriesRing, AnomalyFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (series: String, batch: Iterator[SeriesPoint], state: GroupState[SeriesRing]) =>
          var ring = state.getOption.map(_.points).getOrElse(List.empty)
          val out = Seq.newBuilder[AnomalyFlag]
          batch.toSeq.sortBy(_.day.getTime).foreach { p =>
            val dayMs = p.day.getTime
            if (ring.forall(_._1 < dayMs)) {
              if (ring.length == window) {
                val vs = ring.map(_._2)
                val n = vs.length
                val ma = vs.sum / n
                val sd = math.sqrt(
                  vs.map(v => (v - ma) * (v - ma)).sum / (n - 1))
                if (sd > 0) {
                  val z = (p.v - ma) / sd
                  if (math.abs(z) > zThreshold)
                    out += AnomalyFlag(series, p.day, p.v, ma, z)
                }
              }
              ring = (ring :+ (dayMs, p.v)).takeRight(window)
            } // else: late day — window context already advanced past it
          }
          state.update(SeriesRing(ring))
          out.result().iterator
      }
  }

  /** Streaming CUSUM change-point monitor — the ONLINE form of the batch
    * q_changepoint screen (which finds the level shift offline by global
    * argmax; a realtime table can't wait for the series to end). Classic
    * one-sided CUSUM control chart (Page 1954): after a `warmup`-day
    * reference mean μ per series, track
    *   S⁺ = max(0, S⁺ + (v − μ − k)),  S⁻ = max(0, S⁻ + (μ − v − k))
    * with slack k = `slackFrac`·μ, and raise an alarm when either sum
    * crosses h = `thresholdFrac`·μ — then reset that side (restart
    * detection). State is O(1) per series (six numbers), the streaming
    * analog of the batch query's exact-long day rollup; determinism
    * comes from the same ordering contract as anomalySeries: within a
    * micro-batch days process ascending, late days (at-or-before the
    * newest seen) drop rather than retro-insert, so any micro-batch
    * split of an in-order feed emits the identical alarm sequence
    * (StreamingSpec asserts split parity against a single-shot replay).
    */
  def cusumMonitor(
      daily: Dataset[SeriesPoint],
      warmup: Int = 7,
      slackFrac: Double = 0.05,
      thresholdFrac: Double = 0.5): Dataset[CusumAlarm] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumAlarm](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (series: String, batch: Iterator[SeriesPoint], state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(CusumState(0.0, 0, 0.0, 0.0, 0.0, Long.MinValue))
          val out = Seq.newBuilder[CusumAlarm]
          batch.toSeq.sortBy(_.day.getTime).foreach { p =>
            val dayMs = p.day.getTime
            if (dayMs > st.lastDayMs) {
              if (st.warmN < warmup) {
                val ws = st.warmSum + p.v
                val wn = st.warmN + 1
                st = CusumState(ws, wn, if (wn == warmup) ws / warmup else 0.0,
                  0.0, 0.0, dayMs)
              } else {
                val k = slackFrac * st.mu
                val h = thresholdFrac * st.mu
                var sp = math.max(0.0, st.sPos + (p.v - st.mu - k))
                var sn = math.max(0.0, st.sNeg + (st.mu - p.v - k))
                if (sp > h) {
                  out += CusumAlarm(series, p.day, p.v, "up", sp)
                  sp = 0.0
                }
                if (sn > h) {
                  out += CusumAlarm(series, p.day, p.v, "down", sn)
                  sn = 0.0
                }
                st = CusumState(st.warmSum, st.warmN, st.mu, sp, sn, dayMs)
              }
            } // else: late day — chart already advanced past it
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming EXACT-AUC monitor — the online form of q_auc (model-eval
    * on a live scored stream: "is the model's separation degrading as
    * traffic shifts?"). State per model is the SCORE-cents histogram —
    * exactly the dictionary the batch query rolls up, merged
    * incrementally, so state is bounded by the score dictionary, never
    * by example count. After each micro-batch the rank-sum U is
    * recomputed from the sorted histogram in exact longs (one O(dict)
    * pass) and one snapshot row emits per model: the SAME
    * 2·U = Σ cp·(2·cumn_before + cn) arithmetic as the batch side, so
    * any prefix of the stream yields exactly the batch AUC of that
    * prefix (StreamingSpec asserts final-prefix parity against q_auc and
    * split-invariance of every snapshot).
    */
  def aucMonitor(scores: Dataset[ScorePoint]): Dataset[AucPoint] = {
    import scores.sparkSession.implicits._
    scores
      .groupByKey(_.model)
      .flatMapGroupsWithState[ScoreHist, AucPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (model: String, batch: Iterator[ScorePoint], state: GroupState[ScoreHist]) =>
          val m = scala.collection.mutable.TreeMap[Long, (Long, Long)]()
          state.getOption.foreach(_.entries.foreach { case (c, p, n) =>
            m(c) = (p, n)
          })
          batch.foreach { sp =>
            val (p, n) = m.getOrElse(sp.cents, (0L, 0L))
            m(sp.cents) = if (sp.positive) (p + 1, n) else (p, n + 1)
          }
          state.update(ScoreHist(m.iterator.map { case (c, (p, n)) =>
            (c, p, n)
          }.toList))
          var (cumn, u2, np, nn) = (0L, 0L, 0L, 0L)
          m.foreach { case (_, (cp, cn)) =>
            u2 += cp * (2 * cumn + cn)
            cumn += cn; np += cp; nn += cn
          }
          if (np > 0 && nn > 0)
            Iterator.single(AucPoint(model, np, nn,
              u2.toDouble / (2.0 * np * nn)))
          else Iterator.empty
      }
  }

  /** Streaming upsert: emits the new latest record for a key whenever it
    * changes (Pinot upsert table semantics, incremental form).
    */
  def latestByKey(events: Dataset[Event]): Dataset[LatestState] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LatestState, LatestState](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[LatestState]) =>
          val incoming = batch.toSeq
          if (incoming.isEmpty) Iterator.empty
          else {
            val newest = incoming.maxBy(e => (e.ts.getTime, e.event_id))
            val cur = state.getOption
            val newer = cur.forall { c =>
              val (nt, ct) = (newest.ts.getTime, c.last_ts.getTime)
              nt > ct || (nt == ct && newest.event_id > c.last_event_id)
            }
            if (newer) {
              val next = LatestState(userId, newest.event_id, newest.event_type,
                newest.value, newest.ts)
              state.update(next)
              Iterator.single(next)
            } else Iterator.empty
          }
      }
  }
}
