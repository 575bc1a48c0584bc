package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.operators.StarTree
import graft.streaming.{Event, Realtime}

/** `ingest`: a generator replays the `events` table in time order, one
  * seeded batch every `IntervalMs` on a fixed schedule, into
  * `Realtime.cubeRefreshSink` (dim event_type, sum value, distinct user_id)
  * and `Realtime.histCubeRefreshSink` (integral cents). Once both sinks
  * have committed a batch, one read round runs before the next send: a
  * dashboard aggregate over the fact path (which StarTreeRewrite serves
  * from the cube) and a `StarTree.percentileRollup` over the hist cube.
  * Every read is checked against the exact answer over all batches sent.
  *
  * Reads never overlap a micro-batch: the sinks overwrite their cube in
  * place, and a read that lists the cube while a micro-batch rewrites it
  * fails (FILE_NOT_EXIST, or no schema to infer), so reads beside writes
  * would fail on every seed.
  */
object Ingest {
  /** One send every 2.5 s, about as long as a batch's trip through both
    * sinks (about 1.0 s on four cores) and the read round after it (about
    * 1.2 s). A send waits for the round before it, so a slow round makes
    * the next send late (`streaming.generator_late_ms`); freshness runs
    * from the actual send, so the lateness does not count in it.
    */
  val IntervalMs = 2500
  /** HLL++ at Spark's default 5% relative standard deviation. */
  val DistinctTolerance = 0.10
  /** Unmeasured sends and read rounds, back to back, between the cold round
    * and the window. Without them the JIT was still compiling the sinks' and
    * the reads' paths through the window: freshness fell from 1.5 s at its
    * first send to 1.0 s at its fifth, and the run's median moved with how
    * far the warming had got. */
  val WarmupCycles = 6
  /** How long a send may wait for both sinks to commit it. */
  val CommitTimeoutMs = 60000

  /** Seeded batch boundaries: 20-80 rows a batch. The set-up batch, the
    * warm-up and a 20 s window of sends take 15 batches, 750 rows on
    * average, of the 1,000-row `events` table. */
  final class BatchSizes(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    def next(): Int = 20 + rnd.nextInt(61)
  }

  /** The `events` table in time order, as the generator replays it. */
  def loadEvents(spark: SparkSession, dataDir: String): IndexedSeq[Event] = {
    import spark.implicits._
    graft.engine.Tables.events(spark, dataDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id").as[Event].collect().toIndexedSeq
  }

  /** Replays `events` in seeded batches. Past the last row it starts again
    * from the first, with event ids shifted past the table's, so that a
    * longer window still has data.
    */
  final class Generator(seed: Long, events: IndexedSeq[Event]) {
    private val sizes = new BatchSizes(seed)
    private val idSpan = events.map(_.event_id).max + 1
    private var pos = 0L
    def batch(): Vector[Event] = Vector.fill(sizes.next()) {
      val lap = pos / events.size
      val e = events((pos % events.size).toInt)
      pos += 1
      if (lap == 0) e else e.copy(event_id = e.event_id + lap * idSpan)
    }
  }

  /** Every batch the generator sent, in order, with its send time. A
    * dropped batch (self-test) is still in the ledger, so reads that should
    * include it fail.
    */
  final class Ledger {
    val batches = ArrayBuffer.empty[Vector[Event]]
    val sentAt = ArrayBuffer.empty[Double]

    def add(b: Vector[Event], at: Double): Int = synchronized {
      batches += b
      sentAt += at
      batches.size - 1
    }
    def size: Int = synchronized(batches.size)
    def events: Seq[Event] = synchronized(batches.flatten.toSeq)
    def inputBytes: Long = synchronized(batches.flatten.map(e => 32L + e.event_type.length).sum)
  }

  /** Exact interpolated percentile, as Percentiles.interpolate computes it. */
  def percentile(sorted: IndexedSeq[Long], p: Double): Double = {
    val h = (sorted.size - 1) * p
    val lo = sorted(math.floor(h).toInt)
    val hi = sorted(math.ceil(h).toInt)
    lo + (h - math.floor(h)) * (hi - lo)
  }

  val Percentiles: Seq[(String, Double)] = Seq(("p50", 0.5), ("p90", 0.9))

  /** One started pair of sinks with its inputs and commit bookkeeping. */
  final class Streams(spark: SparkSession, base: String, clock: Clock, generator: Generator) {
    val factPath = s"$base/fact"
    val cubePath = s"$base/cube"
    val histFactPath = s"$base/hist_fact"
    val histCubePath = s"$base/hist_cube"
    val ledger = new Ledger
    /** MemoryStream offset -> ledger index (a dropped batch has no offset). */
    private val offsetBatch = ArrayBuffer.empty[Int]
    /** Per sink: ledger index -> time its micro-batch's progress arrived. */
    val committed = Array.fill(2)(new ConcurrentHashMap[Int, Double])
    private val lastEnd = Array(-1L, -1L)
    final case class MicroBatch(addBatchMs: Double, walCommitMs: Double, triggerMs: Double)
    val microBatches = new java.util.concurrent.ConcurrentLinkedQueue[MicroBatch]

    private val sp = spark
    import sp.implicits._
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val sumIn = MemoryStream[Event]
    private val histIn = MemoryStream[Event]

    private val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val sink = if (p.id == sumQuery.id) 0 else if (p.id == histQuery.id) 1 else -1
        val end = Option(p.sources.headOption.map(_.endOffset).orNull)
          .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).map(_.toLong)
        if (sink >= 0) end.foreach { e =>
          val now = clock.now
          offsetBatch.synchronized {
            (lastEnd(sink) + 1 to e).foreach(o => committed(sink).putIfAbsent(offsetBatch(o.toInt), now))
            lastEnd(sink) = math.max(lastEnd(sink), e)
          }
          if (p.numInputRows > 0) {
            def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
            microBatches.add(MicroBatch(d("addBatch"), d("walCommit"), d("triggerExecution")))
          }
        }
      }
    }
    val sumQuery: StreamingQuery = Realtime.cubeRefreshSink(
      sumIn.toDF(), factPath, cubePath, dims = Seq("event_type"),
      sumMetrics = Seq("value"), checkpointDir = s"$base/ckpt_sum",
      distinctMetrics = Seq("user_id"))
    val histQuery: StreamingQuery = Realtime.histCubeRefreshSink(
      histIn.toDF().select(col("event_type"), round(col("value") * 100).cast("long").as("cents")),
      histFactPath, histCubePath, dims = Seq("event_type"), metric = "cents",
      checkpointDir = s"$base/ckpt_hist")
    spark.streams.addListener(listener)

    /** Sends the next seeded batch (or only records it, when `drop`). */
    def send(at: Double, drop: Boolean): Int = {
      val b = generator.batch()
      offsetBatch.synchronized {
        val i = ledger.add(b, at)
        if (!drop) {
          offsetBatch += i
          sumIn.addData(b: _*)
          histIn.addData(b: _*)
        }
        i
      }
    }

    def sentOffsets: Int = offsetBatch.synchronized(offsetBatch.size)
    def committedOffsets(sink: Int): Long = offsetBatch.synchronized(lastEnd(sink) + 1)

    /** Waits until both sinks have committed every batch sent, so that
      * neither runs a micro-batch until the next send. */
    def drain(): Unit = {
      sumQuery.processAllAvailable()
      histQuery.processAllAvailable()
      val deadline = clock.now + CommitTimeoutMs
      while ((0 to 1).exists(s => committedOffsets(s) < sentOffsets) && clock.now < deadline)
        Thread.sleep(10)
    }

    def stop(): Unit = {
      sumQuery.stop()
      histQuery.stop()
      spark.streams.removeListener(listener)
    }
  }

  /** One read; `span` and `execSpan` are its root and execute span ids
    * (0 when untraced), `codegenMs` the compile time of its execute phase
    * (the sinks are idle while a read runs, so all of it is the read's). */
  final case class Read(id: Long, kind: String, start: Double, built: Double,
      end: Double, ok: Boolean, cubeServed: Boolean, span: Long, execSpan: Long,
      codegenMs: Double) {
    def ms: Double = end - start
  }

  /** The dashboard aggregate (served from the cube by StarTreeRewrite)
    * must equal the exact per-type sum and count, and the distinct users
    * within HLL++'s error, of every batch sent. */
  def checkAgg(rows: Seq[Row], ledger: Ledger): Boolean = {
    val got = rows.map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
    val want = ledger.events.groupBy(_.event_type).map { case (t, es) =>
      t -> ((es.map(_.value).sum, es.size.toLong, es.map(_.user_id).distinct.size))
    }
    want.keySet == got.keySet && want.forall { case (t, (sum, cnt, nd)) =>
      val (gs, gc, gnd) = got(t)
      gc == cnt && math.abs(gs - sum) <= 1e-9 * math.max(1.0, math.abs(sum)) &&
        math.abs(gnd - nd) <= math.max(1.0, DistinctTolerance * nd)
    }
  }

  /** The percentile rollup must equal the exact percentiles of every batch
    * sent. */
  def checkPercentiles(rows: Seq[Row], ledger: Ledger): Boolean = {
    val got = rows.map(r => r.getString(0) -> Percentiles.indices.map(i => r.getDouble(i + 1))).toMap
    val byType = ledger.events.groupBy(_.event_type)
      .map { case (t, es) => t -> es.map(e => math.round(e.value * 100)).sorted.toIndexedSeq }
    byType.keySet == got.keySet && byType.forall { case (t, vs) =>
      Percentiles.map(_._2).zip(got(t)).forall { case (p, g) => math.abs(percentile(vs, p) - g) <= 1e-6 }
    }
  }

  /** Root paths of the file relations in the optimized plan (after
    * StarTreeRewrite has swapped a fact scan for its cube). */
  def scannedPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }.collect {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location.rootPaths.map(_.toString.stripSuffix("/"))
    }.flatten

  /** (bytes, batch_id= directories, parquet files) under `root`. */
  private def dirStats(root: String): (Long, Int, Int) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala.toSeq
    val data = files.filter(p => java.nio.file.Files.isRegularFile(p))
    (data.map(p => java.nio.file.Files.size(p)).sum,
      files.count(p => java.nio.file.Files.isDirectory(p) && p.getFileName.toString.startsWith("batch_id=")),
      data.count(_.getFileName.toString.endsWith(".parquet")))
  }

  /** Streaming and sources layers on workloads that do not stream. */
  val idleStreamingLayers: Map[String, Double] = Seq(
    "streaming.add_batch_ms", "streaming.wal_commit_ms", "streaming.trigger_ms",
    "streaming.batches", "streaming.backlog_max_batches", "streaming.generator_late_ms",
    "sources.bytes_written", "sources.write_amp", "sources.stored_per_input",
    "sources.fact_dirs", "sources.cube_files").map(_ -> 0.0).toMap

  def run(cfg: Config): Map[String, Any] = {
    if (cfg.inputsOnly) {
      val sizes = new BatchSizes(cfg.seed)
      return Map("inputs" -> Map("batch_sizes" -> Seq.fill(20)(sizes.next())))
    }
    val clock = new Clock
    val gc = new GcWatch(clock)
    val (spark, streams, setup) = Setup(cfg) { s =>
      val generator = new Generator(cfg.seed, loadEvents(s, cfg.dataDir))
      val st = new Streams(s, s"${cfg.workDir}/ingest", clock, generator)
      st.send(clock.now, drop = false)
      st.drain()
      st
    }
    val tracer = if (cfg.trace) Some(new Tracer(spark, clock)) else None
    val sc = spark.sparkContext
    val dropAt = if (cfg.inject == "drop") 3 else -1
    val readIds = new java.util.concurrent.atomic.AtomicLong
    def read(kind: String): Read = {
      val id = readIds.incrementAndGet()
      val spanIds = tracer.map(t => (t.spans.newId(), t.spans.newId(), t.spans.newId()))
      spanIds.foreach { case (_, build, _) => Props.set(sc, id, build, "build") }
      val t0 = clock.now
      var t1 = Double.NaN
      var t2 = Double.NaN
      var cg0 = Double.NaN
      var served = false
      val ok = try {
        val df = kind match {
          case "agg" => spark.read.parquet(streams.factPath).groupBy("event_type")
            .agg(sum("value").as("sv"), count(lit(1)).as("cnt"),
              approx_count_distinct(col("user_id")).as("nd"))
          case _ => StarTree.percentileRollup(spark.read.parquet(streams.histCubePath),
            Seq("event_type"), "cents", Percentiles)
        }
        t1 = clock.now
        cg0 = Codegen.compileMs
        spanIds.foreach { case (_, _, exec) => Props.set(sc, id, exec, "execute") }
        val rows = df.collect().toSeq
        t2 = clock.now
        if (tracer.nonEmpty && kind == "agg")
          served = scannedPaths(df).exists(_.endsWith(streams.cubePath))
        kind match {
          case "agg" => checkAgg(rows, streams.ledger)
          case _ => checkPercentiles(rows, streams.ledger)
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] $kind read failed: $e")
          false
      }
      if (t2.isNaN) t2 = clock.now
      if (t1.isNaN) t1 = t2
      val cgMs = if (cg0.isNaN) 0.0 else Codegen.compileMs - cg0
      tracer.foreach(_ => Props.clear(sc))
      for (t <- tracer; (root, build, exec) <- spanIds) {
        t.spans.add(Span(root, 0L, id, s"read:$kind", t0, t2))
        t.spans.add(Span(build, root, id, "build", t0, t1))
        t.spans.add(Span(exec, root, id, "execute", t1, t2))
      }
      Read(id, kind, t0, t1, t2, ok, served, spanIds.map(_._1).getOrElse(0L), spanIds.map(_._3).getOrElse(0L), cgMs)
    }
    val windowMs = cfg.seconds * 1000.0
    // The cold round: the first dashboard read of the fresh JVM, before the
    // first send of the window.
    val coldRound = Seq(read("agg"), read("pct"))
    val warmupReads = (1 to WarmupCycles).flatMap { _ =>
      streams.send(clock.now, drop = false)
      streams.drain()
      Seq(read("agg"), read("pct"))
    }
    val start = clock.now
    val cg0 = (Codegen.compiles, Codegen.compileMs)

    val sent = ArrayBuffer.empty[Int]
    val late = ArrayBuffer.empty[Double]
    val backlog = ArrayBuffer.empty[Long]
    val rounds = ArrayBuffer.empty[Seq[Read]]
    Iterator.from(0).takeWhile(_ * IntervalMs < windowMs).map(start + _ * IntervalMs).foreach { dueAt =>
      val wait = dueAt - clock.now
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      late += clock.now - dueAt
      sent += streams.send(clock.now, drop = sent.size == dropAt)
      backlog += streams.sentOffsets - (0 to 1).map(streams.committedOffsets).min
      streams.drain()
      rounds += Seq(read("agg"), read("pct"))
    }
    val end = clock.now
    val cg1 = (Codegen.compiles, Codegen.compileMs)
    // Before the stop: the sinks' state is still held.
    val liveHeap = gc.liveHeapMb()
    // Both sinks committed every batch in the ledger (a dropped one never).
    val finalOk = (0 until streams.ledger.size).forall(i => streams.committed.forall(_.containsKey(i)))
    streams.stop()
    val facts = Seq(streams.factPath, streams.histFactPath).map(dirStats)
    val cubes = Seq(streams.cubePath, streams.histCubePath).map(dirStats)
    val inputBytes = streams.ledger.inputBytes.toDouble
    spark.stop()

    val freshness = sent.toSeq.map { i =>
      val c = streams.committed.map(m => Option(m.get(i)))
      if (c.forall(_.nonEmpty)) Some(c.flatten.max - streams.ledger.sentAt(i)) else None
    }
    val fresh = freshness.flatten
    val roundMs = rounds.toSeq.map(_.map(_.ms).sum)
    // A dashboard round: the median successful read of each kind, as query
    // latency counts successful requests. Failed reads count in `failed`.
    def okReads(i: Int): Seq[Read] = {
      val rs = rounds.toSeq.map(_(i))
      val ok = rs.filter(_.ok)
      if (ok.nonEmpty) ok else rs
    }
    def readMs(i: Int): Double = Stats.median(okReads(i).map(_.ms))
    val metrics = Map(
      "setup_s" -> setup.metrics("setup_s"),
      "p50_ms" -> (if (fresh.isEmpty) Double.NaN else Stats.quantile(fresh, 0.5)),
      "pass_s" -> (readMs(0) + readMs(1)) / 1e3,
      "cold_pass_s" -> coldRound.map(_.ms).sum / 1e3,
      "live_heap_mb" -> liveHeap)

    val allReads = coldRound ++ warmupReads ++ rounds.flatten.toSeq
    // The reader's Catalyst phases, as plan spans under the execute span of
    // the read whose collect contains them (the sinks run no collects).
    val readPlans = tracer.toSeq.flatMap { t =>
      t.plans.all.filter(_.funcName == "collect").flatMap { p =>
        allReads.find(r => r.built <= p.optimize._1 && p.physical._2 <= r.end + 1).map(r => (r, p))
      }
    }
    for (t <- tracer; (r, p) <- readPlans) {
      p.spans(t.spans, r.execSpan, r.id).foreach(t.spans.add)
    }
    val accounted = tracer.map(_.spans.accountedMs).getOrElse(Map.empty[Long, Double])

    val layers = tracer.map { t =>
      val n = math.max(1, rounds.size).toDouble
      val readIdSet = rounds.flatten.map(_.id).toSet
      val windowReads = rounds.flatten.toSeq
      val plans = readPlans.collect { case (r, p) if readIdSet(r.id) => p }
      val optimizeMs = plans.map(p => p.optimize._2 - p.optimize._1).sum
      val physicalMs = plans.map(p => p.physical._2 - p.physical._1).sum
      val execMs = windowReads.map(r => r.end - r.built).sum - optimizeMs - physicalMs
      val mbs = streams.microBatches.asScala.toSeq
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      val written = t.exec.stages.filter(s => s.req == 0L && s.start >= start && s.end <= end)
        .map(_.outputBytes).sum.toDouble
      val gcs = gc.between(start, end)
      ExecLayers(t.exec, readIdSet, n, execMs) ++ Map(
        "engine.session_ms" -> setup.metrics("engine.session_ms"),
        "engine.first_touch_ms" -> setup.metrics("engine.first_touch_ms"),
        "queries.build_ms" -> windowReads.map(r => r.built - r.start).sum / n,
        "queries.build_jobs" -> t.exec.jobList.count(j => readIdSet(j.req) && j.phase == "build") / n,
        "catalyst.optimize_ms" -> optimizeMs / n,
        "catalyst.physical_ms" -> physicalMs / n,
        "plans.cube_served" -> windowReads.count(_.cubeServed) / n,
        "codegen.compiles" -> (cg1._1 - cg0._1).toDouble,
        "codegen.compile_ms" -> (cg1._2 - cg0._2),
        "codegen.warm_compiles" -> (cg1._1 - cg0._1) / n,
        "jvm.gc_ms" -> gcs.map(_.ms).sum / n,
        "jvm.gc_max_pause_ms" -> (0.0 +: gcs.map(_.ms)).max,
        "artifacts.first_build_ms" -> 0.0,
        "streaming.add_batch_ms" -> mean(mbs.map(_.addBatchMs)),
        "streaming.wal_commit_ms" -> mean(mbs.map(_.walCommitMs)),
        "streaming.trigger_ms" -> mean(mbs.map(_.triggerMs)),
        "streaming.batches" -> mbs.size.toDouble,
        "streaming.backlog_max_batches" -> (0L +: backlog.toSeq).max.toDouble,
        "streaming.generator_late_ms" -> (0.0 +: late.toSeq).max,
        "sources.bytes_written" -> written,
        "sources.write_amp" -> written / inputBytes,
        "sources.stored_per_input" -> (facts ++ cubes).map(_._1).sum / inputBytes,
        "sources.fact_dirs" -> facts.map(_._2).sum.toDouble,
        "sources.cube_files" -> cubes.map(_._3).sum.toDouble,
        "trace.spans" -> t.spans.toSeq.size.toDouble)
    }
    tracer.foreach(_.spans.writeJsonl(cfg.spansOut))
    val failed = freshness.count(_.isEmpty) + allReads.count(!_.ok) + (if (finalOk) 0 else 1)
    Map(
      "metrics" -> metrics,
      "layers" -> layers,
      "attempted" -> (sent.size + allReads.size + 1),
      "failed" -> failed,
      "checks" -> Seq.empty,
      "per_query" -> Seq("agg", "pct").zipWithIndex.map { case (kind, i) =>
        val rs = okReads(i)
        kind -> (Map("ms" -> readMs(i)) ++
          (if (tracer.isEmpty) Map.empty else Map("accounted_ms" -> Stats.median(rs.map(r => accounted(r.span) + r.codegenMs)),
            "codegen_ms" -> Stats.median(rs.map(_.codegenMs)))))
      }.toMap,
      "batches" -> sent.size,
      "uncommitted_batches" -> freshness.count(_.isEmpty),
      "failed_reads" -> allReads.count(!_.ok),
      "final_state_ok" -> finalOk,
      "samples" -> Map("freshness_ms" -> fresh, "late_ms" -> late.toSeq, "round_ms" -> roundMs,
        "read_ms" -> allReads.map(r => Map("kind" -> r.kind, "ms" -> r.ms, "ok" -> r.ok))),
      "freshness_samples" -> fresh.size,
      "p90_ms" -> (if (fresh.isEmpty) Double.NaN else Stats.quantile(fresh, 0.9)),
      "read_rounds" -> rounds.size,
      "inputs" -> Map("batch_sizes" -> streams.ledger.batches.map(_.size).take(20)))
  }
}
