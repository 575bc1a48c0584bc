package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{Event, Realtime, SeriesPoint}

class StreamingSpec extends SparkSpec {

  private def ev(id: Long, t: String, user: Long, typ: String, v: Double) =
    Event(id, Timestamp.valueOf(t), user, typ, v)

  test("watermarked windowed aggregation over a stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Realtime.windowedAgg(input.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("win_out").outputMode("complete").start()
    try {
      input.addData(
        ev(1, "2024-01-01 00:10:00", 1, "click", 1.0),
        ev(2, "2024-01-01 00:40:00", 2, "click", 2.0),
        ev(3, "2024-01-01 01:10:00", 1, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_out").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows === Set(
        ("2024-01-01 00:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 01:00:00.0", "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("file-source streaming ingestion matches the batch aggregation") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Paths.get(tempDir("stream_in"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/orders.parquet"),
      dir.resolve("part-0.parquet"))
    val schema = spark.read.parquet(s"$sfDir/orders.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("tp"))
    val q = stream.writeStream.format("memory").queryName("orders_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("orders_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = spark.read.parquet(s"$sfDir/orders.parquet")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("tp"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming ANN serving probes the materialized index per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.similarity.IvfAnn
    val e = graft.engine.Tables.embeddings(spark, sfDir)
    val dir = tempDir("annserve")
    IvfAnn.materialize(e, dir, numCentroids = 8)
    val qVecs = e.filter(col("vec_id") < 4).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(qVecs.length === 4)

    val input = MemoryStream[(Long, Array[Float])]
    val results = scala.collection.mutable.Map[Long, Set[(Long, Long, Long)]]()
    val q = Realtime.annServe(
        input.toDF().toDF("vec_id", "embedding"), dir, k = 3, nProbe = 4) {
      (out, id) =>
        val rows = out.select("q_id", "cand_id", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
        results.synchronized { results(id) = rows }
    }
    try {
      input.addData(qVecs(0), qVecs(1))
      q.processAllAvailable()
      input.addData(qVecs(2), qVecs(3))
      q.processAllAvailable()
    } finally q.stop()

    // two micro-batches served, each from the on-disk index, and the
    // union of streamed answers equals the batch-mode probe of the same
    // queries — serving adds no state and changes no results
    assert(results.size === 2)
    val streamed = results.values.flatten.toSet
    val batchMode = IvfAnn.knnIvfIndexed(
        spark, dir, e.filter(col("vec_id") < 4), k = 3, nProbe = 4)
      .select("q_id", "cand_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
    assert(streamed === batchMode)
    assert(streamed.map(_._1) === Set(0L, 1L, 2L, 3L))
  }

  test("annServe picks up a rebuilt index on the next micro-batch (hot swap)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.similarity.IvfAnn
    val e = graft.engine.Tables.embeddings(spark, sfDir)
    val dir = tempDir("annswap")
    // v1 index: only even vec_ids; v2 index: only odd vec_ids — any
    // answer row reveals which index generation served it
    val v1 = e.filter(col("vec_id") % 2 === 0)
    val v2 = e.filter(col("vec_id") % 2 === 1)
    IvfAnn.materialize(v1, dir, numCentroids = 4)

    val qVec = e.filter(col("vec_id") === 0).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val input = MemoryStream[(Long, Array[Float])]
    val results = scala.collection.mutable.Map[Long, Set[Long]]()
    val q = Realtime.annServe(
        input.toDF().toDF("vec_id", "embedding"), dir, k = 5, nProbe = 4) {
      (out, id) =>
        val cands = out.select("cand_id").collect().map(_.getLong(0)).toSet
        results.synchronized { results(id) = cands }
    }
    try {
      input.addData(qVec(0))
      q.processAllAvailable()
      // rebuild the index IN PLACE while the stream is running
      IvfAnn.materialize(v2, dir, numCentroids = 4)
      input.addData(qVec(0))
      q.processAllAvailable()
    } finally q.stop()

    assert(results.size === 2)
    val batches = results.toSeq.sortBy(_._1).map(_._2)
    assert(batches(0).nonEmpty && batches(0).forall(_ % 2 == 0),
      s"batch 0 should serve the even-id v1 index, got ${batches(0)}")
    assert(batches(1).nonEmpty && batches(1).forall(_ % 2 == 1),
      s"batch 1 should serve the odd-id v2 index after the hot swap, got ${batches(1)}")
  }

  test("annServePq serves the byte-code index; an incremental append is visible next batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.similarity.Pq
    val e = graft.engine.Tables.embeddings(spark, sfDir)
    val dir = tempDir("annservepq")
    // generation 1: even ids only; the odd half arrives later via
    // appendToIndex — candidate parity reveals which generation served
    Pq.materialize(e.filter(col("vec_id") % 2 === 0), dir)

    val qVec = e.filter(col("vec_id") === 0).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val input = MemoryStream[(Long, Array[Float])]
    val results = scala.collection.mutable.Map[Long, Set[Long]]()
    val q = Realtime.annServePq(
        input.toDF().toDF("vec_id", "embedding"), dir, e, k = 20,
        rerankFactor = 1) { (out, id) =>
      val cands = out.select("cand_id").collect().map(_.getLong(0)).toSet
      results.synchronized { results(id) = cands }
    }
    try {
      input.addData(qVec(0))
      q.processAllAvailable()
      // ingest the odd half WHILE the stream runs — no restart, no retrain
      Pq.appendToIndex(spark, dir, e.filter(col("vec_id") % 2 === 1))
      input.addData(qVec(0))
      q.processAllAvailable()
    } finally q.stop()

    assert(results.size === 2)
    val batches = results.toSeq.sortBy(_._1).map(_._2)
    assert(batches(0).nonEmpty && batches(0).forall(_ % 2 == 0),
      s"batch 0 should only see generation-1 (even-id) codes, got ${batches(0)}")
    assert(batches(1).exists(_ % 2 == 1),
      s"batch 1 should see appended odd-id codes, got ${batches(1)}")
  }

  test("kafka-wire-schema stream decodes and upserts like the batch path") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // exact kafka source projection: binary key/value + topic/partition/offset
    val input = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long, Timestamp)]
    val kafkaShaped = input.toDF()
      .toDF("key", "value", "topic", "partition", "offset", "timestamp")
    val events = Realtime.fromKafkaJson(kafkaShaped).as[Event]
    val q = Realtime.latestByKey(events)
      .writeStream.format("memory").queryName("kafka_upsert")
      .outputMode("append").start()
    def rec(id: Long, ts: String, user: Long, typ: String, v: Double) = {
      val json =
        s"""{"event_id":$id,"ts":"$ts","user_id":$user,"event_type":"$typ","value":$v}"""
      (s"$user".getBytes, json.getBytes, "events", 0, id, Timestamp.valueOf(ts))
    }
    try {
      input.addData(
        rec(1, "2024-01-01 00:00:01", 7, "signup", 1.0),
        rec(2, "2024-01-01 00:00:05", 7, "click", 2.0))
      q.processAllAvailable()
      // malformed payload must drop, not poison the stream
      input.addData(("k".getBytes, "not json".getBytes, "events", 0, 99L,
        Timestamp.valueOf("2024-01-01 00:00:06")))
      input.addData(rec(3, "2024-01-01 00:00:09", 8, "view", 9.0))
      q.processAllAvailable()
      val emitted = spark.table("kafka_upsert").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(emitted === Set((7L, 2L, "click"), (8L, 3L, "view")))
    } finally q.stop()
  }

  test("kafka avro-payload stream decodes and upserts like the json path") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long, Timestamp)]
    val kafkaShaped = input.toDF()
      .toDF("key", "value", "topic", "partition", "offset", "timestamp")
    val events = Realtime.fromKafkaAvro(kafkaShaped)
    val q = Realtime.latestByKey(events)
      .writeStream.format("memory").queryName("kafka_avro_upsert")
      .outputMode("append").start()
    def rec(id: Long, ts: String, user: Long, typ: String, v: Double) = {
      val bytes = Realtime.encodeEventAvro(
        Event(id, Timestamp.valueOf(ts), user, typ, v))
      (s"$user".getBytes, bytes, "events", 0, id, Timestamp.valueOf(ts))
    }
    try {
      input.addData(
        rec(1, "2024-01-01 00:00:01", 7, "signup", 1.0),
        rec(2, "2024-01-01 00:00:05", 7, "click", 2.0))
      q.processAllAvailable()
      // malformed avro payload must drop, not poison the stream
      input.addData(("k".getBytes, Array[Byte](1, 2, 3), "events", 0, 99L,
        Timestamp.valueOf("2024-01-01 00:00:06")))
      input.addData(rec(3, "2024-01-01 00:00:09", 8, "view", 9.0))
      q.processAllAvailable()
      val emitted = spark.table("kafka_avro_upsert").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(emitted === Set((7L, 2L, "click"), (8L, 3L, "view")))
    } finally q.stop()

    // micro-timestamp round-trip: encode → decode preserves microseconds
    val e = Event(5L, {
      val t = Timestamp.valueOf("2024-02-29 12:34:56")
      t.setNanos(789012000); t
    }, 9L, "x", 1.25)
    val back = Realtime.fromKafkaAvro(
      Seq(("k".getBytes, Realtime.encodeEventAvro(e), "t", 0, 0L, e.ts))
        .toDF("key", "value", "topic", "partition", "offset", "timestamp"))
      .collect().head
    assert(back === e)
  }

  test("rate source drives the windowed aggregation (non-memory, non-file source)") {
    import org.apache.spark.sql.functions._
    val events = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
      .select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        pmod(col("value"), lit(10)).as("user_id"),
        when(pmod(col("value"), lit(2)) === 0, "click").otherwise("view").as("event_type"),
        (col("value") % 100).cast("double").as("value"))
    val q = Realtime.windowedAgg(events, "1 minute", "5 seconds")
      .writeStream.format("memory").queryName("rate_win")
      .outputMode("complete").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n == 0 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        n = spark.table("rate_win").count()
      }
      assert(n > 0, "rate-source stream produced no windows in 30s")
      val row = spark.table("rate_win").head()
      assert(Set("click", "view").contains(row.getString(1)))
    } finally q.stop()
  }

  test("session windows split a key's events at the gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Realtime.sessionAgg(input.toDF(), "5 minutes", "1 minute")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try {
      input.addData(
        ev(1, "2024-01-01 00:00:00", 7, "click", 1.0),
        ev(2, "2024-01-01 00:02:00", 7, "click", 2.0), // same session (< 5m gap)
        ev(3, "2024-01-01 00:30:00", 7, "click", 4.0)) // new session
      q.processAllAvailable()
      val sessions = spark.table("sess_out").collect()
        .map(r => (r.getLong(3), r.getDouble(4)))
      assert(sessions.toSet === Set((2L, 3.0), (1L, 4.0)),
        s"got ${sessions.toSeq}")
    } finally q.stop()
  }

  test("streaming last-touch attribution matches the batch window rollup") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // Real event rows, in (ts, event_id) order, split mid-user across three
    // micro-batches — the carried TouchState must bridge the splits.
    val rows = graft.engine.Tables.events(spark, sfDir)
      .filter(col("user_id") < 40)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    assert(rows.exists(_.event_type == "purchase"), "fixture has no purchases")

    val input = MemoryStream[Event]
    val q = Realtime.lastTouchAttribution(input.toDS())
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        input.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val streamed = spark.table("attr_out")
        .groupBy("channel")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("rev"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val batch = rows.toSeq.toDS()
        .withColumn("channel",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("channel"), lit("direct")).as("channel"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("rev"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

      assert(streamed === batch,
        s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Realtime.dedupByKey(input.toDF(), Seq("event_id"), "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        ev(1, "2024-01-01 00:00:01", 7, "signup", 1.0),
        ev(1, "2024-01-01 00:00:02", 7, "signup", 1.0), // same key, same batch
        ev(2, "2024-01-01 00:00:03", 8, "click", 2.0))
      q.processAllAvailable()
      input.addData(ev(1, "2024-01-01 00:00:30", 7, "signup", 9.9)) // late dup
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L), "duplicate event_id leaked through")
    } finally q.stop()
  }

  test("streaming upsert emits the latest record per key incrementally") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Realtime.latestByKey(input.toDS())
      .writeStream.format("memory").queryName("upsert_out").outputMode("append").start()
    try {
      input.addData(ev(1, "2024-01-01 00:00:01", 7, "signup", 1.0))
      q.processAllAvailable()
      input.addData(ev(2, "2024-01-01 00:00:05", 7, "click", 2.0))
      q.processAllAvailable()
      // out-of-order stale event must NOT displace the newer state
      input.addData(ev(3, "2024-01-01 00:00:03", 7, "view", 9.0))
      q.processAllAvailable()
      val emitted = spark.table("upsert_out").collect()
        .map(r => (r.getLong(1), r.getString(2)))
      assert(emitted.toSeq === Seq((1L, "signup"), (2L, "click")))
    } finally q.stop()
  }

  test("streaming near-dedup drops whitespace-variant re-posts by signature") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val out = Realtime.nearDedupByContent(docs, "text", "ts")
    val q = out.writeStream.format("memory").queryName("neardedup_out")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      input.addData(
        (1L, t("2024-01-01 00:00:01"), "the quick brown fox"),
        (2L, t("2024-01-01 00:00:02"), "a completely different doc"))
      q.processAllAvailable()
      input.addData(
        // same token multiset, different whitespace — must be dropped
        (3L, t("2024-01-01 00:00:03"), "the  quick   brown fox"),
        (4L, t("2024-01-01 00:00:04"), "yet another doc"))
      q.processAllAvailable()
      val kept = spark.table("neardedup_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("stream-static dimension enrichment joins each micro-batch without state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[Event]
    val enriched = Realtime.enrich(input.toDF(), dim, "user_id", Seq("tier"))
    val q = enriched.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      input.addData(
        ev(1, "2024-01-01 00:00:01", 1, "click", 1.0),
        ev(2, "2024-01-01 00:00:02", 2, "click", 2.0),
        ev(3, "2024-01-01 00:00:03", 9, "click", 3.0)) // no dim row -> null tier
      q.processAllAvailable()
      val rows = spark.table("enrich_out")
        .select("event_id", "tier").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(rows === Map(1L -> Some("gold"), 2L -> Some("basic"), 3L -> None))
    } finally q.stop()
  }

  test("stream-stream interval join attributes clicks to impressions within the window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val imps = MemoryStream[(Long, Long, Timestamp)]
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val joined = Realtime.intervalJoin(
      imps.toDF().toDF("imp_id", "user_id", "imp_ts"), "imp_ts",
      clicks.toDF().toDF("click_id", "user_id", "click_ts"), "click_ts",
      keyCol = "user_id", within = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("attrib_out")
      .outputMode("append").start()
    try {
      imps.addData(
        (100L, 1L, t("2024-01-01 00:00:00")),
        (101L, 2L, t("2024-01-01 00:00:00")),
        (102L, 3L, t("2024-01-01 00:30:00")))
      clicks.addData(
        (900L, 1L, t("2024-01-01 00:05:00")), // within 10 min -> attributed
        (901L, 2L, t("2024-01-01 00:20:00")), // 20 min later -> outside window
        (902L, 3L, t("2024-01-01 00:29:00")), // BEFORE the impression -> no join
        (903L, 3L, t("2024-01-01 00:31:00"))) // 1 min after -> attributed
      q.processAllAvailable()
      val pairs = spark.table("attrib_out").select("imp_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs === Set((100L, 900L), (102L, 903L)))
      // the output keeps exactly one user_id column (right key dropped)
      assert(spark.table("attrib_out").columns.count(_ == "user_id") === 1)
    } finally q.stop()
  }

  test("streaming cube refresh folds each micro-batch; rewrite serves the fresh cube") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = tempDir("cube_stream")
    val factPath = s"$base/fact"; val cubePath = s"$base/cube"
    val input = MemoryStream[Event]
    val q = Realtime.cubeRefreshSink(
      input.toDF(), factPath, cubePath,
      dims = Seq("event_type"), sumMetrics = Seq("value"),
      checkpointDir = s"$base/ckpt", distinctMetrics = Seq("user_id"))
    try {
      input.addData(
        ev(1, "2024-01-01 00:10:00", 1, "click", 1.0),
        ev(2, "2024-01-01 00:40:00", 2, "click", 2.0),
        ev(3, "2024-01-01 01:10:00", 1, "view", 5.0))
      q.processAllAvailable()
      input.addData(
        ev(4, "2024-01-01 01:20:00", 3, "click", 4.0),
        ev(5, "2024-01-01 01:30:00", 2, "view", 6.0))
      q.processAllAvailable()

      // the cube absorbed BOTH batches: rollup equals a direct aggregate
      // over the full fact archive
      val fromCube = spark.read.parquet(cubePath)
        .groupBy("event_type")
        .agg(sum("s_value").as("sv"), sum("cube_cnt").as("cnt"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      assert(fromCube === Set(("click", 7.0, 3L), ("view", 11.0, 2L)))

      // the transparent rewrite answers fact-table aggregates from the
      // refreshed cube (no fact rescan) with correct post-merge values,
      // including the HLL distinct metric
      val agg = spark.read.parquet(factPath)
        .groupBy("event_type")
        .agg(sum("value").as("sv"), count(lit(1)).as("cnt"),
          approx_count_distinct(col("user_id")).as("nd_users"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("cube"), s"expected cube scan in plan:\n$plan")
      val served = agg.collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSet
      assert(served === Set(("click", 7.0, 3L, 3L), ("view", 11.0, 2L, 2L)))
    } finally q.stop()
  }

  test("cube refresh is idempotent under foreachBatch at-least-once replay") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = tempDir("cube_replay")
    val factPath = s"$base/fact"; val cubePath = s"$base/cube"
    def b(rows: (Long, String, Double)*) =
      rows.toDF("user_id", "event_type", "value")
    def cubeState() = spark.read.parquet(cubePath)
      .groupBy("event_type").agg(sum("s_value").as("sv"), sum("cube_cnt").as("cnt"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    def process(batch: org.apache.spark.sql.DataFrame, id: Long) =
      Realtime.processCubeBatch(batch, id, factPath, cubePath,
        dims = Seq("event_type"), sumMetrics = Seq("value"), distinctMetrics = Nil)

    process(b((1L, "click", 1.0), (2L, "click", 2.0)), id = 0)
    process(b((1L, "view", 5.0)), id = 1)
    val healthy = cubeState()
    assert(healthy === Set(("click", 3.0, 2L), ("view", 5.0, 1L)))
    // crash-replay: the SAME batch id 1 is delivered again — the cube must
    // not double-count and the fact archive must not duplicate rows
    process(b((1L, "view", 5.0)), id = 1)
    assert(cubeState() === healthy)
    assert(spark.read.parquet(factPath).count() === 3)
  }

  test("theta distinct-cube folds micro-batches; replay is set-idempotent, algebra survives") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cubePath = tempDir("theta_cube") + "/cube"
    def b(rows: (Long, String)*) = rows.toDF("user_id", "event_type")
    def process(batch: org.apache.spark.sql.DataFrame) =
      Realtime.processThetaBatch(batch, cubePath,
        dims = Seq("event_type"), valueCol = "user_id", k = 256)
    def estimates() = spark.read.parquet(cubePath)
      .select(col("event_type"), theta_sketch_estimate(col("sk")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap

    process(b((1L to 60L).map(u => (u, "click")): _*))
    val batch2 = b(((41L to 100L).map(u => (u, "click")) ++
      (1L to 10L).map(u => (u, "view"))): _*)
    process(batch2)
    // below k=256 the sketch is exact: 100 distinct clickers despite the
    // 41..60 overlap folding in twice, 10 viewers
    assert(estimates() === Map("click" -> 100L, "view" -> 10L))

    // at-least-once replay: folding the SAME batch again merges the same
    // hashes — a set no-op, byte-identical state, no rebuild needed
    val before = spark.read.parquet(cubePath).collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]]("sk").toSeq)).toMap
    process(batch2)
    val after = spark.read.parquet(cubePath).collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]]("sk").toSeq)).toMap
    assert(after === before)

    // the materialized sketches keep their set algebra: click∪view = 100
    // (viewers are all clickers), click∩view = 10
    val row = spark.read.parquet(cubePath)
      .groupBy().pivot("event_type", Seq("click", "view")).agg(first("sk"))
      .select(
        theta_sketch_estimate(theta_union(col("click"), col("view"), 8)).as("u"),
        theta_sketch_estimate(theta_intersection(col("click"), col("view"))).as("i"))
      .head()
    assert(row.getLong(0) === 100L)
    assert(row.getLong(1) === 10L)
  }

  test("KLL quantile-cube folds micro-batches; replay rebuilds instead of double-counting") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = tempDir("kll_cube")
    val factPath = s"$base/fact"
    val cubePath = s"$base/cube"
    def b(rows: (String, Double)*) = rows.toDF("event_type", "value")
    def process(batch: org.apache.spark.sql.DataFrame, id: Long) =
      Realtime.processKllCubeBatch(batch, id, factPath, cubePath,
        dims = Seq("event_type"), valueCol = "value", k = 1024)
    def medians() = spark.read.parquet(cubePath)
      .select(col("event_type"), kll_sketch_get_quantile_double(col("sk"), lit(0.5)).as("p50"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap

    // two batches; k=1024 > totals so folded quantiles are EXACT order
    // statistics over everything ingested so far
    process(b((1 to 50).map(i => ("click", i.toDouble)): _*), id = 0)
    process(b(((51 to 100).map(i => ("click", i.toDouble)) ++
      (1 to 9).map(i => ("view", i * 10.0))): _*), id = 1)
    // click = 1..100 → rank ceil(0.5·100)=50; view = 10..90 → rank 5 = 50
    assert(medians() === Map("click" -> 50.0, "view" -> 50.0))

    // at-least-once replay of batch 1: weight-additive union would
    // double-count — the batch-id guard rebuilds from the fact archive
    process(b(((51 to 100).map(i => ("click", i.toDouble)) ++
      (1 to 9).map(i => ("view", i * 10.0))): _*), id = 1)
    assert(medians() === Map("click" -> 50.0, "view" -> 50.0))
    assert(spark.read.parquet(factPath).count() === 109)

    // the materialized blobs keep composing: the all-types rollup is the
    // exact multiset union — 109 values, rank ceil(0.5·109)=55, and
    // cum(50) = 50 clicks + 5 views = 55, so the median is 50.0
    val merged = spark.read.parquet(cubePath)
      .agg(kll_sketch_get_quantile_double(kll_merge_agg_double(col("sk"), 1024), lit(0.5)).as("p50"))
      .head().getDouble(0)
    assert(merged === 50.0)
  }

  test("tuple cube folds micro-batches; replay rebuilds counts AND metric sums") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.SketchFns._
    val base = tempDir("tuple_cube")
    val factPath = s"$base/fact"
    val cubePath = s"$base/cube"
    def b(rows: (String, Long, Long)*) = rows.toDF("event_type", "user_id", "cents")
    def process(batch: org.apache.spark.sql.DataFrame, id: Long) =
      Realtime.processTupleCubeBatch(batch, id, factPath, cubePath,
        dims = Seq("event_type"), keyCol = "user_id", metricCol = "cents",
        k = 1024)
    def stats() = spark.read.parquet(cubePath)
      .select(col("event_type"),
        tupleDistinct(col("sk")).as("n"), tupleSum(col("sk")).as("s"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap

    // k=1024 > key cardinality: untrimmed, so counts AND sums are exact
    process(b((1L to 50L).map(u => ("click", u, 10L)): _*), id = 0)
    process(b(((51L to 100L).map(u => ("click", u, 10L)) ++
      (1L to 9L).map(u => ("view", u, 100L))): _*), id = 1)
    assert(stats() === Map("click" -> ((100L, 1000L)), "view" -> ((9L, 900L))))

    // at-least-once replay of batch 1: the summary-additive union would
    // double-count cents — the batch-id guard rebuilds from the archive
    process(b(((51L to 100L).map(u => ("click", u, 10L)) ++
      (1L to 9L).map(u => ("view", u, 100L))): _*), id = 1)
    assert(stats() === Map("click" -> ((100L, 1000L)), "view" -> ((9L, 900L))))
    assert(spark.read.parquet(factPath).count() === 109)

    // blobs keep composing: the all-types rollup is 100 distinct users
    // (viewers all click) carrying 1000 + 900 total cents
    val merged = spark.read.parquet(cubePath)
      .agg(tupleDistinct(tupleUnionAgg(col("sk"), 1024)).as("n"),
        tupleSum(tupleUnionAgg(col("sk"), 1024)).as("s"))
      .head()
    assert(merged.getLong(0) === 100L)
    assert(merged.getLong(1) === 1900L)
  }

  test("hist, theta, KLL and tuple cube sinks fold two MemoryStream micro-batches into the batch build") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.SketchFns._
    import graft.operators.StarTree
    val base = tempDir("cube_sinks")
    val dims = Seq("event_type")
    // (event_type, user_id, cents): "view" only in batch 1 and "buy" only
    // in batch 2, so the folds both carry over cells and merge shared ones
    val batch1 = (1L to 40L).map(u => ("click", u, u * 7)) ++
      (1L to 5L).map(u => ("view", u, 100L))
    val batch2 = (31L to 80L).map(u => ("click", u, u * 3)) ++
      (1L to 9L).map(u => ("buy", u, 250L))
    val all = (batch1 ++ batch2).toDF("event_type", "user_id", "cents")
    // k exceeds every cell's size, so every sketch here is exact (theta
    // takes log2 k = 10)
    val k = 1024

    val inputs = Seq.fill(4)(MemoryStream[(String, Long, Long)])
    def rows(i: Int) = inputs(i).toDF().toDF("event_type", "user_id", "cents")
    def dir(name: String) = s"$base/$name"
    val queries = Seq(
      Realtime.histCubeRefreshSink(rows(0), dir("hist_fact"), dir("hist"),
        dims, "cents", dir("hist_ckpt")),
      Realtime.thetaCubeRefreshSink(rows(1), dir("theta"),
        dims, "user_id", k, dir("theta_ckpt")),
      Realtime.kllCubeRefreshSink(
        rows(2).withColumn("cents", col("cents").cast("double")),
        dir("kll_fact"), dir("kll"), dims, "cents", k, dir("kll_ckpt")),
      Realtime.tupleCubeRefreshSink(rows(3), dir("tuple_fact"), dir("tuple"),
        dims, "user_id", "cents", k, dir("tuple_ckpt")))
    try {
      Seq(batch1, batch2).foreach { b =>
        inputs.foreach(_.addData(b: _*))
        queries.foreach(_.processAllAvailable())
      }
    } finally queries.foreach(_.stop())

    // each folded cube, and the same cube built in one batch over all
    // rows, read through what it serves per cell
    def cells(cube: DataFrame, served: Column*): Map[String, Seq[Any]] =
      cube.select(col("event_type") +: served: _*).collect()
        .map(r => r.getString(0) -> r.toSeq.tail).toMap
    def same(name: String, folded: DataFrame, batch: DataFrame, served: Column*) = {
      val got = cells(folded, served: _*)
      assert(got.keySet === Set("click", "view", "buy"), name)
      assert(got === cells(batch, served: _*), s"$name cube diverged from the batch build")
    }
    same("hist", spark.read.parquet(dir("hist")),
      StarTree.buildHistCube(all, dims, "cents"), col("hist_cents"))
    same("theta", spark.read.parquet(dir("theta")),
      all.groupBy("event_type").agg(theta_sketch_agg(col("user_id"), 10).as("sk")),
      theta_sketch_estimate(col("sk")))
    val ranks = Seq(0.1, 0.5, 0.9, 1.0)
      .map(p => kll_sketch_get_quantile_double(col("sk"), lit(p)))
    same("kll", spark.read.parquet(dir("kll")),
      all.groupBy("event_type")
        .agg(kll_sketch_agg_double(col("cents").cast("double"), k).as("sk")),
      ranks: _*)
    same("tuple", spark.read.parquet(dir("tuple")),
      all.groupBy("event_type")
        .agg(tupleSketch(col("user_id"), col("cents"), k).as("sk")),
      tupleDistinct(col("sk")), tupleSum(col("sk")))
    assert(spark.read.parquet(dir("theta")).filter(col("event_type") === "click")
      .select(theta_sketch_estimate(col("sk"))).head().getLong(0) === 80L)
  }

  test("theta and KLL cube sinks reject an unsupported k before the query starts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = tempDir("sketch_k")
    val rows = MemoryStream[(String, Long)].toDF().toDF("event_type", "v")
    val active = spark.streams.active.length
    // theta takes k nominal entries as log2 k: a power of two in [16, 2^26]
    for (k <- Seq(8, 1000, 1 << 27)) {
      val e = intercept[IllegalArgumentException](Realtime.thetaCubeRefreshSink(
        rows, s"$base/theta", Seq("event_type"), "v", k, s"$base/theta_ckpt_$k"))
      assert(e.getMessage.contains("power of two in [16, 2^26]"), k)
    }
    // Spark's KLL takes 8 ≤ k ≤ 65535
    for (k <- Seq(4, 65536)) {
      val e = intercept[IllegalArgumentException](Realtime.kllCubeRefreshSink(
        rows, s"$base/fact", s"$base/kll", Seq("event_type"), "v", k, s"$base/kll_ckpt_$k"))
      assert(e.getMessage.contains("[8, 65535]"), k)
    }
    assert(spark.streams.active.length === active)
  }

  test("streaming SCD2 maintenance matches the batch build at every prefix; replay is idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = tempDir("scd2_stream")
    val factPath = s"$base/fact"
    val dimPath = s"$base/dim"
    // one user's run is SPLIT mid-batch (u1: A,A | A,B) — the rebuild
    // must merge the run across the batch boundary, which a naive
    // append-only fold would break into two versions
    val b0 = Seq((1L, "A", 10L, 100L), (1L, "A", 20L, 101L),
      (2L, "X", 10L, 200L))
    val b1 = Seq((1L, "A", 30L, 102L), (1L, "B", 40L, 103L),
      (3L, "Z", 5L, 300L))
    def df(rows: Seq[(Long, String, Long, Long)]) =
      rows.toDF("user_id", "event_type", "ts", "event_id")
    def dimRows() = spark.read.parquet(dimPath)
      .orderBy("user_id", "version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5)))
      .toSeq
    def batchRows(rows: Seq[(Long, String, Long, Long)]) =
      graft.operators.Scd2.build(df(rows))
        .orderBy("user_id", "version").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5)))
        .toSeq

    Realtime.processScd2Batch(df(b0), 0L, factPath, dimPath)
    assert(dimRows() === batchRows(b0), "prefix parity after batch 0")

    Realtime.processScd2Batch(df(b1), 1L, factPath, dimPath)
    assert(dimRows() === batchRows(b0 ++ b1), "prefix parity after batch 1")
    // the split run stayed ONE version: u1 = (A over 4 events, then B)
    val u1 = dimRows().filter(_._1 == 1L)
    assert(u1.map(_._3) === Seq("A", "B"))
    assert(u1.head._6 === 3L, "split run must merge across the batch boundary")

    // at-least-once replay of batch 1: rebuild-from-archive re-derives
    // byte-identical intervals — nothing double-counts
    val before = dimRows()
    Realtime.processScd2Batch(df(b1), 1L, factPath, dimPath)
    assert(dimRows() === before)
  }

  test("streaming denormalized ingest resolves dims per batch, history never rewritten") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = tempDir("denorm_stream")
    val viewPath = s"$base/view"
    // slowly-changing dimension: swapped between micro-batches
    @volatile var dimRows = Seq((0L, "tier-bronze"), (1L, "tier-silver"))
    def dim() = dimRows.toDF("tier_key", "tier_name")
    val input = MemoryStream[(Long, Long)]
    val stream = Realtime.denormIngestSink(
      input.toDF().toDF("event_id", "tier_key"), () => dim(), "tier_key",
      viewPath, s"$base/ckpt")
    try {
      input.addData((1L, 0L), (2L, 1L))
      stream.processAllAvailable()
      dimRows = Seq((0L, "tier-gold"), (1L, "tier-silver"))
      input.addData((3L, 0L))
      stream.processAllAvailable()
      val view = graft.sources.DenormView.read(spark, viewPath)
        .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[String]("tier_name")))
        .toMap
      // row 1 keeps the dim AS OF its ingest; row 3 sees the updated dim
      assert(view === Map(1L -> "tier-bronze", 2L -> "tier-silver", 3L -> "tier-gold"))
      // and the queryable view joins nothing at read time
      val plan = graft.sources.DenormView.read(spark, viewPath)
        .filter(col("tier_name") === "tier-gold")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), plan)
    } finally stream.stop()
  }

  test("windowed frequent-terms sketch streams to the same top-k as batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Long, Timestamp, String)]
    val stream = Realtime.frequentTermsWindowed(
      input.toDF().toDF("doc_id", "ts", "text"), "text", "ts",
      k = 4, windowLength = "1 hour")
      .writeStream.format("memory").queryName("freq_out")
      .outputMode("complete").start()
    val docs = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:05:00"), "spark spark spark scan merge"),
      (2L, Timestamp.valueOf("2024-01-01 00:15:00"), "spark scan scan join"),
      (3L, Timestamp.valueOf("2024-01-01 00:25:00"), "merge merge spark join join"),
      (4L, Timestamp.valueOf("2024-01-01 01:05:00"), "window window watermark"))
    try {
      // deliver across two micro-batches to force a sketch-state merge
      input.addData(docs.take(2): _*)
      stream.processAllAvailable()
      input.addData(docs.drop(2): _*)
      stream.processAllAvailable()
      val streamed = spark.table("freq_out").collect()
        .map(r => (r.getTimestamp(0).toString, r.getInt(1), r.getString(2))).toSet
      val batch = Realtime.frequentTermsWindowed(
        docs.toDF("doc_id", "ts", "text").withColumn("ts", col("ts")),
        "text", "ts", k = 4, windowLength = "1 hour")
      // the same plan over the same rows as one batch: incremental sketch
      // merges across micro-batches must not change the reported top-k
      val expected = batch.collect()
        .map(r => (r.getTimestamp(0).toString, r.getInt(1), r.getString(2))).toSet
      assert(streamed === expected)
      assert(streamed.exists { case (w, _, t) => w.startsWith("2024-01-01 00:00") && t == "spark" })
    } finally stream.stop()
  }

  test("streaming hist-cube refresh serves exact percentiles over all ingested batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.{Percentiles, StarTree}
    val root = tempDir("graft_histcube_s")
    val (factPath, cubePath) = (s"$root/fact", s"$root/cube")
    val rows = graft.engine.Tables.events(spark, sfDir)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(String, Long)].collect()

    val chunks = rows.grouped(math.max(1, rows.length / 3)).toSeq
    chunks.zipWithIndex.foreach { case (chunk, id) =>
      Realtime.processHistCubeBatch(
        chunk.toSeq.toDF("event_type", "cents"), id.toLong,
        factPath, cubePath, Seq("event_type"), "cents")
    }
    def served() = StarTree.percentileRollup(
        spark.read.parquet(cubePath), Seq("event_type"), "cents",
        Seq(("p50", 0.5), ("p90", 0.9)))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val expected = Percentiles.exact(
        rows.toSeq.toDF("event_type", "cents"), Seq("event_type"),
        Seq(("p50", "cents", 0.5), ("p90", "cents", 0.9)))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(served() === expected, "cube-served percentiles diverged from batch")

    // at-least-once replay: re-delivering batch 1 must not double-count
    Realtime.processHistCubeBatch(
      chunks(1).toSeq.toDF("event_type", "cents"), 1L,
      factPath, cubePath, Seq("event_type"), "cents")
    assert(served() === expected, "replayed batch double-counted into the cube")
  }

  test("streaming anomaly flags match the batch q_anomaly_series rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // The completed daily series (cents-quantized, like the batch query's
    // pre-window rollup), in day order, split mid-series across three
    // micro-batches — the carried ring must bridge the splits.
    val daily = graft.engine.Tables.events(spark, sfDir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg((round(sum("value"), 2) + lit(0.0)).as("v"))
      .select(col("event_type"), col("day").cast("timestamp").as("day"), col("v"))
      .as[SeriesPoint]
    val rows = daily.collect().sortBy(p => (p.day.getTime, p.event_type))

    val input = MemoryStream[SeriesPoint]
    val q = Realtime.anomalySeries(input.toDS())
      .writeStream.format("memory").queryName("anom_out")
      .outputMode("append").start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        input.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val streamed = spark.table("anom_out")
        .select(col("event_type"), col("day"), col("v"),
          round(col("ma"), 2).as("ma"), round(col("z"), 3).as("z"))
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString,
          r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSet
      val batch = graft.queries.Registry.queries("q_anomaly_series")(spark, sfDir)
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString,
          r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSet
      assert(batch.nonEmpty, "batch fixture produced no anomaly flags")
      assert(streamed === batch, s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("streaming CUSUM alarms on the level shift and is micro-batch-split invariant") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def pt(day: Int, v: Double) = SeriesPoint("rev",
      java.sql.Timestamp.valueOf(f"2024-02-$day%02d 00:00:00"), v)
    // level 100 for the 7 warmup days + 3 in-control days, then a +40%
    // shift: S+ must cross h = 0.5*mu within a few shifted days. A flat
    // control series must stay silent.
    val shifted = (1 to 10).map(i => pt(i, 100.0)) ++
      (11 to 16).map(i => pt(i, 140.0))
    val flat = (1 to 16).map(i =>
      SeriesPoint("ctl", java.sql.Timestamp.valueOf(f"2024-02-$i%02d 00:00:00"), 100.0))
    val all = (shifted ++ flat).sortBy(_.day.getTime)

    def runChunks(parts: Int): Seq[(String, String, Double, String)] = {
      val input = MemoryStream[SeriesPoint]
      val name = s"cusum_out_$parts"
      val q = Realtime.cusumMonitor(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        all.grouped(math.max(1, all.length / parts)).foreach { chunk =>
          input.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        spark.table(name).collect()
          .map(r => (r.getString(0), r.getTimestamp(1).toString,
            r.getDouble(2), r.getString(3)))
          .sortBy(_._2).toSeq
      } finally q.stop()
    }

    val oneShot = runChunks(1)
    val split = runChunks(4)
    assert(oneShot === split,
      s"micro-batch split changed the alarm sequence: $oneShot vs $split")
    assert(oneShot.nonEmpty, "no CUSUM alarm on a 40% level shift")
    assert(oneShot.forall(_._1 == "rev"), s"flat series alarmed: $oneShot")
    assert(oneShot.head._4 == "up", s"shift up flagged as ${oneShot.head._4}")
    // alarm must land within the shifted region (day >= 11)
    assert(oneShot.head._2 >= "2024-02-11", oneShot.head._2)
  }

  test("streaming AUC monitor reaches the batch q_auc value on any split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the exact scored stream the batch query rolls up
    val pts = graft.engine.Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(lit("m1").as("model"),
        (col("event_type") === "purchase").as("positive"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[graft.streaming.ScorePoint].collect().toSeq
    val batchRow = graft.queries.Registry.queries("q_auc")(spark, sfDir)
      .collect()(0)
    val batchAuc = batchRow.getAs[Double]("auc")

    def lastAuc(parts: Int): (Long, Long, Double) = {
      val input = MemoryStream[graft.streaming.ScorePoint]
      val name = s"auc_out_$parts"
      val q = Realtime.aucMonitor(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        pts.grouped(math.max(1, pts.length / parts)).foreach { chunk =>
          input.addData(chunk)
          q.processAllAvailable()
        }
        val rows = spark.table(name).collect()
          .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
        rows.last
      } finally q.stop()
    }

    val (np1, nn1, a1) = lastAuc(1)
    val (np3, nn3, a3) = lastAuc(3)
    assert((np1, nn1) === (np3, nn3))
    assert(a1 === a3, s"split changed the final AUC: $a1 vs $a3")
    assert(math.rint(a1 * 1e6) / 1e6 === batchAuc,
      s"streamed AUC $a1 != batch $batchAuc")
    assert(np1 === batchRow.getAs[Long]("n_pos") && nn1 === batchRow.getAs[Long]("n_neg"))
  }

  test("streaming ingest dedup: self-growing band index drops cross-batch and within-batch near-dups; replay is idempotent") {
    import spark.implicits._
    val base = tempDir("dedup_ingest")
    val indexPath = s"$base/bandidx"
    val acceptedPath = s"$base/accepted"
    // exhaustive-recall banding (numBands = NumHashes) so exact duplicates
    // are caught deterministically — the q_dedup_incremental regime
    val nb = graft.dedup.MinHashLsh.NumHashes
    def run(rows: Seq[(Long, String)], id: Long): Unit =
      Realtime.processDedupBatch(rows.toDF("doc_id", "text"), id,
        "doc_id", "text", indexPath, acceptedPath, 0.8, 3, nb)
    def accepted(): Set[Long] =
      spark.read.parquet(acceptedPath).select("doc_id")
        .collect().map(_.getLong(0)).toSet

    val tA = "the quick brown fox jumps over the lazy dog tonight"
    val tB = "pack my box with five dozen fresh liquor jugs today"
    val tC = "sphinx of black quartz judge my vow at once again"
    run(Seq((1L, tA), (2L, tB)), 0L)
    assert(accepted() === Set(1L, 2L), "first batch is all-novel")

    // batch 1: 10 re-posts tA (cross-batch dup), 11 is novel, 12/13 are
    // within-batch duplicates of each other (follower 13 must drop)
    run(Seq((10L, tA), (11L, tC), (12L, tB + " extra words appended here"),
      (13L, tB + " extra words appended here")), 1L)
    assert(accepted() === Set(1L, 2L, 11L, 12L),
      "cross-batch dup and within-batch follower are dropped")

    // the index grew: batch 2 re-posting batch-1's accepted text is dup
    run(Seq((20L, tC)), 2L)
    assert(accepted() === Set(1L, 2L, 11L, 12L), "index includes batch 1")

    // at-least-once replay of batch 1 re-derives identical partitions —
    // its own prior bands must not mark the batch duplicate
    run(Seq((10L, tA), (11L, tC), (12L, tB + " extra words appended here"),
      (13L, tB + " extra words appended here")), 1L)
    assert(accepted() === Set(1L, 2L, 11L, 12L), "replay is idempotent")
  }

  test("dedupIngestSink wiring: a MemoryStream drives the self-growing index end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = tempDir("dedup_sink")
    val input = MemoryStream[(Long, String)]
    // compactEvery = 2: the maintenance cadence runs INSIDE the sink —
    // batch 2 folds batches 0-1 into the sentinel partition right after
    // its own writes
    val stream = Realtime.dedupIngestSink(
      input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$base/bandidx", s"$base/accepted", s"$base/ckpt",
      threshold = 0.8, numBands = graft.dedup.MinHashLsh.NumHashes,
      compactEvery = 2)
    try {
      val t = "the quick brown fox jumps over the lazy dog tonight"
      input.addData((1L, t))
      stream.processAllAvailable()
      input.addData((2L, t), (3L, "sphinx of black quartz judge my vow at once again"))
      stream.processAllAvailable()
      input.addData((4L, t), (5L, "pack my box with five dozen fresh liquor jugs today"))
      stream.processAllAvailable()
      val ids = spark.read.parquet(s"$base/accepted")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 3L, 5L), "re-posted text dropped; novel docs accepted")
      // batch 2 compacted batches 0-1 into batch_id=-1; batch 2 itself
      // (the newest at compaction time) stayed in place
      val dirs = new java.io.File(s"$base/accepted").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(dirs === Set("batch_id=-1", "batch_id=2"),
        s"cadence compaction should fold committed batches: $dirs")
    } finally stream.stop()
  }

  test("hybridIngestSink: batches land in realtime, cadence promotes, a held lease skips without failing the batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.sources.{FsLease, HybridTable}
    def ev(id: Long, t: String) =
      Event(id, Timestamp.valueOf(t), id % 3, "click", id.toDouble)
    val root = tempDir("hybrid_sink")
    val ckpt = tempDir("hybrid_sink_ckpt")
    val input = MemoryStream[Event]
    val q = Realtime.hybridIngestSink(
      input.toDS().toDF(), root, "ts", ckpt, promoteEvery = 2)
    val fed = scala.collection.mutable.ArrayBuffer[Long]()
    def feed(evs: Event*): Unit = {
      fed ++= evs.map(_.event_id); input.addData(evs); q.processAllAvailable()
    }
    def served(): Set[Long] = HybridTable.read(spark, root, "ts")
      .select("event_id").collect().map(_.getLong(0)).toSet
    try {
      // batch 0 (no cadence): everything serves from realtime, bootstrap
      feed(ev(1, "2024-03-01 08:00:00"), ev(2, "2024-03-02 09:00:00"),
        ev(3, "2024-03-03 10:00:00"))
      assert(HybridTable.readBoundary(spark, root).isEmpty)
      assert(served() === fed.toSet)
      feed(ev(4, "2024-03-03 18:00:00")) // batch 1: still no cadence
      assert(HybridTable.readBoundary(spark, root).isEmpty)
      // batch 2: cadence fires — days 03-01..03 complete, 03-04 stays open
      feed(ev(5, "2024-03-04 07:00:00"))
      val b1 = HybridTable.readBoundary(spark, root)
        .getOrElse(fail("cadence promotion must commit a boundary"))
      assert(served() === fed.toSet, "no loss/double-serve across the swap")
      feed(ev(6, "2024-03-04 09:00:00")) // batch 3: off-cadence
      // batch 4: cadence tick under an EXTERNALLY HELD lease — the batch
      // must land and serve; promotion skips; boundary unchanged
      val leased = FsLease.withLease(spark, root, "_promote_lease", 60000L) {
        feed(ev(7, "2024-03-05 08:00:00"))
        assert(HybridTable.readBoundary(spark, root).contains(b1),
          "held lease must skip promotion, not race it")
        served()
      }
      assert(leased.contains(fed.toSet), "batch under held lease still serves")
      // next cadence tick after release promotes the backlog
      feed(ev(8, "2024-03-05 09:00:00")) // batch 5
      feed(ev(9, "2024-03-06 08:00:00")) // batch 6: cadence fires again
      val b2 = HybridTable.readBoundary(spark, root)
        .getOrElse(fail("second cadence promotion must commit"))
      assert(b2 > b1, "boundary must advance past the backlog granules")
      assert(served() === fed.toSet)
    } finally q.stop()
  }

  test("band-index compaction: 24 micro-batches -> compact -> probe parity, replay idempotence, bounded file count") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = tempDir("dedup_compact")
    val indexPath = s"$base/bandidx"
    val acceptedPath = s"$base/accepted"
    val nb = graft.dedup.MinHashLsh.NumHashes
    def text(i: Int): String =
      (0 until 8).map(w => s"w${i}x$w").mkString(" ") // word-disjoint docs
    def run(rows: Seq[(Long, String)], id: Long): Unit =
      Realtime.processDedupBatch(rows.toDF("doc_id", "text"), id,
        "doc_id", "text", indexPath, acceptedPath, 0.8, 3, nb)
    def countFiles(root: String): Long = {
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    // 24 micro-batches: one novel doc each; from batch 1 on, also a
    // re-post of an earlier batch's text (must drop against the index)
    (0 until 24).foreach { i =>
      val rows = Seq((100L + i, text(i))) ++
        (if (i > 0) Seq((1000L + i, text(i / 2))) else Nil)
      run(rows, i.toLong)
    }
    val expected = (0 until 24).map(100L + _).toSet
    def accepted(): Set[Long] =
      spark.read.parquet(acceptedPath).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    assert(accepted() === expected, "pre-compaction: only novel docs accepted")

    // probe parity input: candidates of a fixed probe batch against the
    // full index, before vs after compaction
    val probe = Seq((9001L, text(5)), (9002L, text(999))).toDF("doc_id", "text")
    def probeCands(): Set[(Long, Long)] =
      graft.dedup.MinHashLsh.candidatePairsAgainst(
        probe, "doc_id", "text",
        spark.read.parquet(indexPath), 3, nb, broadcastBatch = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val candsBefore = probeCands()
    assert(candsBefore.nonEmpty, "probe fixture must hit the index")

    val filesBefore = countFiles(indexPath)
    val stats = Realtime.compactDedupIndex(spark, indexPath, acceptedPath)
    assert(stats.batchesCompacted === 23L, "all committed batches compact; newest kept")
    // (c) bounded file count: compacted = one file per band dir + the kept
    // newest batch's own files; must be far below one-dir-per-batch
    assert(stats.indexFilesAfter < filesBefore / 2,
      s"index files ${stats.indexFilesAfter} not bounded (before: $filesBefore)")
    assert(stats.acceptedFilesAfter <= stats.acceptedFilesBefore / 2,
      s"accepted files ${stats.acceptedFilesAfter} vs ${stats.acceptedFilesBefore}")
    // (a) probe parity: identical candidate set from the compacted index
    assert(probeCands() === candsBefore, "compaction changed probe candidates")
    assert(accepted() === expected, "compaction changed the accepted corpus")
    val acceptedRows = spark.read.parquet(acceptedPath)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(acceptedRows.size === expected.size, "no duplicate accepted rows")

    // (b) replay of the newest batch — the only one Structured Streaming
    // re-delivers — re-derives identical partitions: its own bands are
    // still excluded (they were kept, not compacted), docs 123/1023 get
    // the same verdicts, and the corpus is unchanged
    run(Seq((100L + 23, text(23)), (1000L + 23, text(11))), 23L)
    assert(accepted() === expected, "replay after compaction is idempotent")
    assert(probeCands() === candsBefore, "replay after compaction changed the index")
  }

  test("compaction lease: concurrent compactors are serialized — held lease rejects, stale lease breaks, interleaved runs converge") {
    import spark.implicits._
    val base = tempDir("dedup_lease")
    val indexPath = s"$base/bandidx"; val acceptedPath = s"$base/accepted"
    val nb = graft.dedup.MinHashLsh.NumHashes
    def text(i: Int): String = (0 until 8).map(w => s"w${i}x$w").mkString(" ")
    (0 until 6).foreach { i =>
      Realtime.processDedupBatch(Seq((100L + i, text(i))).toDF("doc_id", "text"),
        i.toLong, "doc_id", "text", indexPath, acceptedPath, 0.8, 3, nb)
    }
    val expected = (0 until 6).map(100L + _).toSet
    def accepted(): Set[Long] = spark.read.parquet(acceptedPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def dirs(root: String): Set[String] = new java.io.File(root).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    val hc = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(indexPath).getFileSystem(hc)
    val lease = new org.apache.hadoop.fs.Path(indexPath, "_compact_lease")

    // (a) a LIVE lease held by another compactor: the throwing form fails
    // fast, the skip form returns None, and neither touches the data
    fs.create(lease, false).close()
    val dirsBefore = dirs(indexPath)
    intercept[IllegalStateException] {
      Realtime.compactDedupIndex(spark, indexPath, acceptedPath)
    }
    assert(Realtime.tryCompactDedupIndex(spark, indexPath, acceptedPath).isEmpty,
      "in-sink cadence form must skip, not fail, on a held lease")
    assert(dirs(indexPath) === dirsBefore, "a rejected run must not touch data")

    // (b) a STALE lease (crashed compactor): broken and the run proceeds
    fs.setTimes(lease, System.currentTimeMillis() - 60 * 60 * 1000L, -1)
    val stats = Realtime.compactDedupIndex(spark, indexPath, acceptedPath)
    assert(stats.batchesCompacted === 5L, "stale lease must be broken")
    assert(!fs.exists(lease), "lease must be released after the run")
    assert(accepted() === expected)

    // (c) two compactors racing from two threads: the lease serializes
    // them — whatever the interleaving (one skips, or they run back to
    // back), the index converges with zero row loss and no duplicates
    (6 until 10).foreach { i =>
      Realtime.processDedupBatch(Seq((100L + i, text(i))).toDF("doc_id", "text"),
        i.toLong, "doc_id", "text", indexPath, acceptedPath, 0.8, 3, nb)
    }
    val all = (0 until 10).map(100L + _).toSet
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val outcomes = (0 until 2).map { _ =>
      pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = {
          go.await()
          try {
            if (Realtime.tryCompactDedupIndex(spark, indexPath, acceptedPath)
                .isDefined) "ran" else "skipped"
          } catch { case e: Throwable => s"failed: $e" }
        }
      })
    }
    go.countDown()
    val results = outcomes.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(results.forall(r => r == "ran" || r == "skipped"),
      s"racing compactors must run or skip, never fail: $results")
    assert(results.contains("ran"), s"at least one compactor must win: $results")
    assert(accepted() === all, "no row lost under racing compactors")
    val rows = spark.read.parquet(acceptedPath).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length === rows.toSet.size,
      "no duplicate rows under racing compactors")
    assert(!fs.exists(lease), "lease must be released by both paths")
  }

  test("dedup sink soak: 50 batches at compactEvery=5 with a mid-soak replay equal the no-compaction run") {
    import spark.implicits._
    // the r13 spec compacts once; this soaks the CADENCE — repeated folds
    // while the index keeps growing, plus a forced replay right after a
    // fold — and pins accepted-set parity against an untouched control
    val base = tempDir("dedup_soak")
    val soakIdx = s"$base/s_idx"; val soakAcc = s"$base/s_acc"
    val ctlIdx = s"$base/c_idx"; val ctlAcc = s"$base/c_acc"
    val nb = graft.dedup.MinHashLsh.NumHashes
    def text(i: Int): String = (0 until 8).map(w => s"w${i}x$w").mkString(" ")
    def batch(i: Int): Seq[(Long, String)] =
      Seq((100L + i, text(i))) ++
        (if (i > 0) Seq((1000L + i, text(i / 2))) else Nil) // re-post: dup
    def run(idx: String, acc: String, rows: Seq[(Long, String)], id: Long): Unit =
      Realtime.processDedupBatch(rows.toDF("doc_id", "text"), id,
        "doc_id", "text", idx, acc, 0.8, 3, nb)
    (0 until 50).foreach { i =>
      run(soakIdx, soakAcc, batch(i), i.toLong)
      // the sink's own cadence (dedupIngestSink compactEvery = 5)
      if (i > 0 && i % 5 == 0)
        Realtime.tryCompactDedupIndex(spark, soakIdx, soakAcc)
      if (i == 25) // forced replay of the newest batch right after a fold
        run(soakIdx, soakAcc, batch(i), i.toLong)
      run(ctlIdx, ctlAcc, batch(i), i.toLong) // control: never compacted
    }
    def rowsOf(acc: String): Set[(Long, String)] =
      spark.read.parquet(acc).select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val soak = rowsOf(soakAcc)
    assert(soak === rowsOf(ctlAcc),
      "soak accepted set must equal the no-compaction control")
    assert(soak.map(_._1) === (0 until 50).map(100L + _).toSet,
      "exactly the novel docs survive")
    // state bound: the cadence keeps the roots at O(1) directories — the
    // sentinel fold + the ≤5 batches since the last fold — vs 50 for the
    // control
    def nDirs(root: String): Int = new java.io.File(root).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(nDirs(soakIdx) <= 7, s"index dirs ${nDirs(soakIdx)} not bounded")
    assert(nDirs(ctlIdx) === 50, "control grows one dir per batch")
  }

  /** State-collection sizes from a checkpoint via the Spark 4 state data
    * source: (number of state rows, per-row length of the collection at
    * `arrayField` inside the flatMapGroupsWithState state encoding) — the
    * observable for "state stays at its documented bound". Computed with
    * the declarative `size()` so no driver-side row reflection is
    * involved.
    */
  private def stateSizes(ckpt: String, arrayField: Option[String]): (Long, Seq[Int]) = {
    import org.apache.spark.sql.functions.{col, size => asize}
    val st = spark.read.format("statestore").load(ckpt)
    val lens = arrayField.map { f =>
      st.select(asize(col(s"value.groupState.$f")).as("n"))
        .collect().map(_.getInt(0)).toSeq
    }.getOrElse(Seq.empty)
    (st.count(), lens)
  }

  test("50-micro-batch soak: monitor state stays at its documented bound, outputs stay single-shot-parity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // ---------- AUC monitor: state = score-cents histogram ----------
    // 2000 examples over a FIXED cents dictionary (<=160 distinct values:
    // 80 negative cents + 80 shifted positive cents) — the documented
    // bound is the dictionary, never the example count.
    val pts = (0 until 2000).map { i =>
      val pos = i % 3 == 0
      graft.streaming.ScorePoint("m1", pos,
        (i % 80).toLong * 25 + (if (pos) 500 else 0))
    }
    def runAuc(parts: Int): (Seq[(Long, Long, Double)], String) = {
      val input = MemoryStream[graft.streaming.ScorePoint]
      val ckpt = tempDir(s"auc_soak_$parts")
      val name = s"auc_soak_$parts"
      val q = Realtime.aucMonitor(input.toDS())
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        pts.grouped(math.max(1, pts.length / parts)).foreach { chunk =>
          input.addData(chunk); q.processAllAvailable()
        }
        (spark.table(name).collect()
          .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq, ckpt)
      } finally q.stop()
    }
    val (oneShot, _) = runAuc(1)
    val (soaked, aucCkpt) = runAuc(50)
    assert(soaked.size >= 50, s"soak emitted only ${soaked.size} snapshots")
    assert(soaked.last === oneShot.last,
      "50-batch soak final AUC diverged from the single-shot run")
    val (aucKeys, histLens) = stateSizes(aucCkpt, Some("entries"))
    assert(aucKeys === 1L, "one state row per model")
    val histLen = histLens.max
    assert(histLen > 0 && histLen <= 160,
      s"score histogram grew past the cents dictionary: $histLen entries " +
        "(bound 160) — state must never track example count (2000)")

    // ---------- anomaly monitor: state = 7-day ring ----------
    def dayTs(i: Int): java.sql.Timestamp = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 3, 1).plusDays(i.toLong).atStartOfDay())
    val days = (1 to 50).map(i => graft.streaming.SeriesPoint("rev",
      dayTs(i), if (i == 40) 900.0 else 100.0 + (i % 5)))
    def runAnomaly(parts: Int): (Seq[String], String) = {
      val input = MemoryStream[graft.streaming.SeriesPoint]
      val ckpt = tempDir(s"anom_soak_$parts")
      val name = s"anom_soak_$parts"
      val q = Realtime.anomalySeries(input.toDS())
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        days.grouped(math.max(1, days.length / parts)).foreach { chunk =>
          input.addData(chunk); q.processAllAvailable()
        }
        (spark.table(name).collect().map(_.toString).sorted.toSeq, ckpt)
      } finally q.stop()
    }
    val (flags1, _) = runAnomaly(1)
    val (flags50, anomCkpt) = runAnomaly(50)
    assert(flags50 === flags1, "anomaly flags diverged under the 50-batch soak")
    assert(flags1.nonEmpty, "the 9x spike day must flag")
    val (anomKeys, ringLens) = stateSizes(anomCkpt, Some("points"))
    assert(anomKeys === 1L, "one state row per series")
    val ringLen = ringLens.max
    assert(ringLen > 0 && ringLen <= 7,
      s"day ring grew past its 7-point bound after 50 batches: $ringLen")

    // ---------- CUSUM monitor: state = 6 scalars, one row per series ----------
    val cusumDays = (1 to 50).map(i => graft.streaming.SeriesPoint(
      if (i % 2 == 0) "rev" else "clicks",
      dayTs(i), if (i > 30) 160.0 else 100.0))
    def runCusum(parts: Int): (Seq[String], String) = {
      val input = MemoryStream[graft.streaming.SeriesPoint]
      val ckpt = tempDir(s"cusum_soak_$parts")
      val name = s"cusum_soak_$parts"
      val q = Realtime.cusumMonitor(input.toDS())
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        cusumDays.grouped(math.max(1, cusumDays.length / parts)).foreach { chunk =>
          input.addData(chunk); q.processAllAvailable()
        }
        (spark.table(name).collect().map(_.toString).sorted.toSeq, ckpt)
      } finally q.stop()
    }
    val (alarms1, _) = runCusum(1)
    val (alarms50, cusumCkpt) = runCusum(50)
    assert(alarms50 === alarms1, "CUSUM alarms diverged under the 50-batch soak")
    val (cusumKeys, _) = stateSizes(cusumCkpt, None)
    assert(cusumKeys === 2L, "one fixed-width state row per series")
    // fixed-width by SCHEMA: the CUSUM state encoding carries no
    // collection type at all (6 scalars only)
    val cusumValueSchema = spark.read.format("statestore").load(cusumCkpt)
      .schema("value").dataType
    def hasCollection(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasCollection(f.dataType))
      case _: org.apache.spark.sql.types.ArrayType => true
      case _: org.apache.spark.sql.types.MapType => true
      case _ => false
    }
    assert(!hasCollection(cusumValueSchema),
      "CUSUM state must hold no unbounded collection (6 scalars only)")
  }

  test("restart from checkpoint: a NEW sink instance resumes the soak with accepted-set byte-parity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // 16 micro-batches, 2 docs each; every 4th batch re-posts the text of
    // a doc from two batches earlier (a cross-RESTART near-dup once the
    // stop lands between them), so recovered state is load-bearing.
    def text(i: Int): String = (0 until 8).map(w => s"w${i}x$w").mkString(" ")
    def rows(b: Int): Seq[(Long, String)] = Seq(
      (b * 10L, if (b % 4 == 0 && b >= 4) text((b - 2) * 10) else text(b * 10)),
      (b * 10L + 1, text(b * 10 + 1)))
    val nb = graft.dedup.MinHashLsh.NumHashes

    def sink(input: MemoryStream[(Long, String)], base: String) =
      Realtime.dedupIngestSink(
        input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", s"$base/bandidx", s"$base/accepted", s"$base/ckpt",
        threshold = 0.8, numBands = nb, compactEvery = 5)
    def acceptedIds(base: String): Seq[Long] =
      spark.read.parquet(s"$base/accepted")
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

    // interrupted run: STOP after batch 7, restart a NEW query instance
    // from the same checkpointLocation, finish the soak
    val baseA = tempDir("restart_a")
    val inA = MemoryStream[(Long, String)]
    val q1 = sink(inA, baseA)
    try {
      (0 until 8).foreach { b => inA.addData(rows(b)); q1.processAllAvailable() }
    } finally q1.stop()
    val q2 = sink(inA, baseA) // new instance, same checkpoint + state roots
    try {
      (8 until 16).foreach { b => inA.addData(rows(b)); q2.processAllAvailable() }
    } finally q2.stop()

    // uninterrupted twin
    val baseB = tempDir("restart_b")
    val inB = MemoryStream[(Long, String)]
    val q3 = sink(inB, baseB)
    try {
      (0 until 16).foreach { b => inB.addData(rows(b)); q3.processAllAvailable() }
    } finally q3.stop()

    val a = acceptedIds(baseA)
    val b = acceptedIds(baseB)
    assert(a === b, s"restart diverged: ${a.diff(b)} / ${b.diff(a)}")
    // the re-posts really were dropped (state survived the restart,
    // including the one spanning it: batch 8 duplicates batch 6)
    assert(!a.contains(80L), "batch-8 re-post of batch-6 text must be dropped across the restart")
    // index side: same surviving doc ids visible to the probe path
    def indexIds(base: String): Seq[Long] =
      spark.read.parquet(s"$base/bandidx")
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSeq.sorted
    assert(indexIds(baseA) === indexIds(baseB),
      "band-index contents diverged across the restart")
  }
}
