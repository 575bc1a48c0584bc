package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.sources.{Ingest, SegmentWriter}
import graft.streaming.{Event, Realtime}

/** End-to-end segment lifecycle — the realtime flow of
  * /root/reference/basics/Architecture.md: a stream lands as many small
  * consuming-segment files, compaction merges them into completed
  * segments, and the compacted table answers the same query as the batch
  * path; plus malformed-record-tolerant batch ingestion.
  */
class LifecycleSpec extends SparkSpec {

  private def ev(id: Long, t: String, user: Long, typ: String, v: Double) =
    Event(id, java.sql.Timestamp.valueOf(t), user, typ, v)

  test("stream lands micro-batch files, compaction merges them, query parity holds") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val consuming = tempDir("consuming")
    val completed = tempDir("completed")
    val ckpt = tempDir("ckpt")
    val input = MemoryStream[Event]
    val q = input.toDS().writeStream
      .format("parquet").option("path", consuming)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      // three micro-batches -> at least three small files
      input.addData(ev(1, "2024-01-01 00:00:01", 1, "click", 1.0),
        ev(2, "2024-01-01 00:10:00", 2, "view", 2.0))
      q.processAllAvailable()
      input.addData(ev(3, "2024-01-01 01:00:00", 1, "purchase", 30.0))
      q.processAllAvailable()
      input.addData(ev(4, "2024-01-01 02:00:00", 3, "click", 4.0))
      q.processAllAvailable()
    } finally q.stop()

    val stats = SegmentWriter.compact(spark, consuming, completed,
      SegmentWriter.Config(numSegments = 1, sortCols = Seq("ts"),
        derivedTimeCols = Seq("ts" -> "hour")))
    assert(stats.filesBefore >= 3)
    assert(stats.filesAfter === 1)
    assert(stats.rows === 4)

    // the completed segments answer the same aggregation as the raw stream
    // output, and carry the derived timestamp-index column
    val agg = spark.read.parquet(completed)
      .groupBy(col(SegmentWriter.derivedName("ts", "hour")).as("h"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sv"))
      .orderBy("h").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
    assert(agg.toSeq === Seq(
      ("2024-01-01 00:00:00.0", 2L, 3.0),
      ("2024-01-01 01:00:00.0", 1L, 30.0),
      ("2024-01-01 02:00:00.0", 1L, 4.0)))
  }

  test("10x-scale file-stream cube lifecycle: cube state stays dictionary-bounded, compaction + parity hold") {
    // The J-section sinks are spec-tested at MemoryStream fixture size;
    // this runs the same cube-refresh lifecycle at ~100× that volume
    // (the full sf0.1 events table, 100k rows, streamed as 10 real
    // file-source micro-batches) and pins the SCALE claims: per-batch
    // cube state is bounded by the dims dictionary (never by rows
    // ingested), the fact archive compacts to sized segments, and both
    // the cube and the compacted table agree with the batch aggregate
    // EXACTLY (cents-quantized metric — no float fold drift).
    val src = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_type"), col("user_id"),
        round(col("value") * 100).cast("long").as("vc"))
    val base = tempDir("lc10x")
    val incoming = s"$base/in"
    src.repartition(10).write.parquet(incoming) // 10 files -> 10 micro-batches
    val factPath = s"$base/fact"; val cubePath = s"$base/cube"
    val stream = spark.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", 1).parquet(incoming)
    val q = Realtime.cubeRefreshSink(stream, factPath, cubePath,
      dims = Seq("event_type"), sumMetrics = Seq("vc"),
      checkpointDir = s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()

    // state bound: the cube (incl. star rollup rows) is dictionary-sized
    val nTypes = src.select("event_type").distinct().count()
    val cubeRows = spark.read.parquet(cubePath).count()
    assert(cubeRows <= nTypes * 2 + 2,
      s"cube grew past the dictionary bound: $cubeRows rows for $nTypes types")
    // all 10 micro-batches archived under batch-id-keyed subdirs
    val batchDirs = new java.io.File(factPath).listFiles()
      .count(_.getName.startsWith("batch_id="))
    assert(batchDirs === 10, s"expected 10 archived batches, got $batchDirs")

    val expected = src.groupBy("event_type")
      .agg(sum("vc").as("sv"), count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // cube parity: ten incremental folds lost nothing
    val fromCube = spark.read.parquet(cubePath)
      .groupBy("event_type")
      .agg(sum("s_vc").as("sv"), sum("cube_cnt").as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromCube === expected)

    // compaction: 10 consuming batch dirs -> 2 completed segments, parity
    val completed = s"$base/completed"
    val stats = SegmentWriter.compact(spark, factPath, completed,
      SegmentWriter.Config(numSegments = 2))
    assert(stats.rows === 100000L)
    val fromCompacted = spark.read.parquet(completed)
      .groupBy("event_type")
      .agg(sum("vc").as("sv"), count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromCompacted === expected)
  }

  test("tolerant json ingestion splits good rows from corrupt lines") {
    val dir = java.nio.file.Paths.get(tempDir("jsonl"))
    Files.writeString(dir.resolve("part1.json"),
      """{"event_id": 1, "user_id": 10, "value": 1.5}
        |{"event_id": 2, "user_id": 20, "value": 2.5}
        |{"event_id": 3, "user_id": broken !!!
        |not json at all
        |{"event_id": 4, "user_id": 40, "value": 4.5}
        |""".stripMargin)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("event_id", "long").add("user_id", "long").add("value", "double")
    val (good, bad) = Ingest.jsonLinesTolerant(spark, dir.toString, schema)
    assert(good.count() === 3)
    assert(good.agg(sum("event_id")).head().getLong(0) === 7L)
    assert(bad.count() === 2)
    assert(bad.collect().map(_.getString(0)).exists(_.contains("broken")))
  }

  test("orc ingestion round-trips the events table and pushes filters to the scan") {
    val src = graft.engine.Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value")
    val dir = tempDir("orc_seg")
    src.write.mode("overwrite").orc(dir)
    val back = Ingest.orc(spark, dir)
    assert(back.count() === src.count())
    val a = back.agg(sum("event_id")).head().getLong(0)
    val b = src.agg(sum("event_id")).head().getLong(0)
    assert(a === b, s"orc round-trip changed checksum: $a vs $b")
    // predicate pushdown reaches the ORC scan like it does for parquet
    val plan = back.filter(col("user_id") === 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]")
      || plan.contains("EqualTo(user_id,7)"), plan.take(800))
  }

  test("hybrid promotion: catalog boundary, no loss/double-serve across the swap, idempotent replay") {
    import graft.sources.HybridTable
    val root = tempDir("hybrid")
    val ev = graft.engine.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val cut = to_timestamp(lit("2024-01-10"))
    HybridTable.withMicrosTimestamps(spark) {
      ev.filter(col("ts") < cut).write.parquet(HybridTable.offlineDir(root))
      // realtime arrives time-clustered in production (micro-batch files
      // track arrival order); range-cluster the fixture the same way so
      // the per-file GC has wholly-retired files to reclaim
      ev.filter(col("ts") >= cut).repartitionByRange(8, col("ts"))
        .write.parquet(HybridTable.realtimeDir(root))
    }
    def snapshot(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_id").collect().toSeq
    val whole = snapshot(ev)
    assert(whole.nonEmpty)

    // catalog-derived boundary (no boundary file yet): floor(max offline
    // ts) + 1 day == the build cut, read-back parity exact
    assert(HybridTable.readBoundary(spark, root).isEmpty)
    val derived = HybridTable.deriveBoundary(spark, root, "ts").get
    assert(derived ===
      java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli * 1000L)
    assert(snapshot(HybridTable.read(spark, root, "ts")) === whole,
      "pre-promotion hybrid read lost or duplicated rows")

    // promotion: completed realtime granules move, boundary file advances
    val stats = HybridTable.promoteRealtime(spark, root, "ts").get
    assert(stats.oldBoundaryUs === derived)
    assert(stats.newBoundaryUs > stats.oldBoundaryUs)
    assert(stats.promotedRows > 0)
    assert(HybridTable.readBoundary(spark, root) === Some(stats.newBoundaryUs))
    assert(snapshot(HybridTable.read(spark, root, "ts")) === whole,
      "post-promotion hybrid read lost or duplicated rows")
    // GC is per-FILE (atomic, idempotent, never moves the dir): every
    // file wholly below the boundary is gone, straddlers stay whole
    val rtRanges = graft.sources.SegmentCatalog
      .dataFileRangesLong(spark, HybridTable.realtimeDir(root), "ts")
    assert(rtRanges.nonEmpty, "open granule must survive GC")
    assert(rtRanges.forall {
      case (_, Some((_, hi))) => hi >= stats.newBoundaryUs
      case (_, None) => true // stats-free foreign files are kept
    }, "realtime GC left a wholly-retired file behind")
    assert(rtRanges.size < 8, "time-clustered fixture should reclaim files")

    // replay is a no-op: nothing new completed, boundary holds, parity holds
    val replay = HybridTable.promoteRealtime(spark, root, "ts").get
    assert(replay.promotedRows === 0L)
    assert(replay.newBoundaryUs === stats.newBoundaryUs)
    assert(snapshot(HybridTable.read(spark, root, "ts")) === whole)
  }

  test("streaming ingest + mid-stream promotions: the hybrid view stays whole-stream-exact") {
    import graft.sources.HybridTable
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tempDir("hybrid_stream")
    val ckpt = tempDir("hybrid_ckpt")
    val input = MemoryStream[Event]
    // the realtime side IS a streaming parquet sink (Pinot's consuming
    // segments); promotions run in the stream's idle windows. The sink
    // dir keeps its _spark_metadata exactly-once log, so this layout
    // promotes with gcRealtime = false — the boundary filter retires the
    // promoted rows from serving, and the sink's own retention owns
    // physical cleanup (rewriting a live sink dir would break its log).
    val q = input.toDS().writeStream
      .format("parquet").option("path", HybridTable.realtimeDir(root))
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val fed = scala.collection.mutable.ArrayBuffer[Event]()
    def feed(evs: Event*): Unit = { fed ++= evs; input.addData(evs); q.processAllAvailable() }
    def served(): Seq[(Long, java.sql.Timestamp)] =
      HybridTable.read(spark, root, "ts")
        .select("event_id", "ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).toSeq.sortBy(_._1)
    def wholeStream(): Seq[(Long, java.sql.Timestamp)] =
      fed.map(e => (e.event_id, e.ts)).sortBy(_._1).toSeq
    try {
      feed(ev(1, "2024-02-01 08:00:00", 1, "click", 1.0),
        ev(2, "2024-02-01 20:00:00", 2, "view", 2.0),
        ev(3, "2024-02-02 09:00:00", 1, "click", 3.0))
      feed(ev(4, "2024-02-03 07:00:00", 3, "view", 4.0))
      assert(served() === wholeStream(), "pre-promotion stream view wrong")

      // promotion 1: days 02-01 and 02-02 complete; 02-03 stays realtime
      val s1 = HybridTable.promoteRealtime(spark, root, "ts", gcRealtime = false).get
      assert(s1.promotedRows === 3L)
      assert(served() === wholeStream(), "promotion 1 lost or duplicated rows")

      // stream keeps landing into the open granule and beyond
      feed(ev(5, "2024-02-03 18:00:00", 2, "purchase", 5.0),
        ev(6, "2024-02-04 06:00:00", 3, "click", 6.0))
      assert(served() === wholeStream(), "post-promotion ingest not served")

      // promotion 2: day 02-03 completes (both its rows, one ingested
      // AFTER promotion 1), boundary advances again
      val s2 = HybridTable.promoteRealtime(spark, root, "ts", gcRealtime = false).get
      assert(s2.promotedRows === 2L)
      assert(s2.newBoundaryUs > s1.newBoundaryUs)
      assert(served() === wholeStream(), "promotion 2 lost or duplicated rows")
    } finally q.stop()
  }
}
