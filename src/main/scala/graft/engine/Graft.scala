package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One-call session factory with the engine's recommended configuration.
  * `shufflePartitions` should track cluster parallelism (≈2-3× total
  * cores on a real cluster; the test rigs pass their local thread count).
  */
object Graft {

  /** `spark.sql.codegen.cache.maxEntries` for every engine session and the
    * test session; the measurement is at its use in `session`.
    */
  private[graft] val CodegenCacheEntries = 2000

  def session(
      master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors,
      appName: String = "graft",
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b0 = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // star-schema dims broadcast up to 64 MB (executors are sized for
      // it; re-shuffling a dim per join is the worse trade at 100 TB)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // fewer, larger scan tasks: 256 MB splits keep task-scheduling
      // overhead sane on a 100 TB table while still far exceeding the
      // cluster's core count in task parallelism
      .config("spark.sql.files.maxPartitionBytes", (256L * 1024 * 1024).toString)
      // runtime bloom-filter semi-join reduction (Pinot's IN_ID_SET /
      // runtime-filter analog, explicit here because the engine depends on
      // it): when a fact-fact join's build side carries a selective filter,
      // the optimizer injects a bloom filter that prunes the probe side
      // BEFORE its shuffle — at 100 TB that is the difference between
      // shuffling the full fact table and shuffling the matching slice
      // (RuntimeFilterSpec asserts the injection)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // ObjectHashAggregate (every TypedImperativeAggregate: theta/KLL/
      // tuple sketches, frequent_items, top_k_by, vector_avg) falls back
      // to SORT-BASED aggregation after only 128 distinct groups by
      // default — a pre-AQE conservatism that turns any sketch aggregate
      // over a real group domain into a full sort of its input. Sketch
      // buffers are O(k) and grow lazily with the values actually seen,
      // so per-task memory is bounded by the task's input rows, not the
      // group count; 256k in-memory groups keeps the hash path for
      // dictionary- and Expand-sized domains while still bounding truly
      // adversarial cardinality. Scale note: this is a per-TASK map-side
      // bound — on a cluster each task sees maxPartitionBytes of input,
      // so the worst case is unchanged from the local bench.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (256 * 1024).toString)
      // Long-lived sessions accumulate weak-referenced Spark state —
      // localCheckpoint RDD blocks, broadcast pieces, shuffle
      // registrations — that the ContextCleaner only reclaims after a
      // full GC notices the references died. A right-sized heap makes
      // full GCs RARE, so the default 30min cleaner cadence lets hours
      // of queries pile state into the BlockManager and driver maps:
      // measured on the 363-query bench (32 threads, sf0.1, medians of
      // 3), the accumulation inflated mid-run queries up to 16×
      // (q_datetime_format 0.21→2.58 s, q_geo_polygon 0.21→1.85 s —
      // each fast again in isolation) and the total 208→158 s once the
      // cleaner ran every 60 s (~17 full GCs × ≤1.2 s pause over 10 min
      // — two orders cheaper than the waste). Time-based, so it is the
      // same posture at any scale: this is the long-lived-server
      // (Pinot-like) deployment the engine targets. G1 +
      // ExplicitGCInvokesConcurrent was A/B-measured WORSE (219 s) than
      // ParallelGC + this cadence on the same bench.
      .config("spark.cleaner.periodicGC.interval", "60s")
      // Generated classes are cached by their source in one JVM-wide map
      // that holds 100 entries by default, while interleaved query shapes
      // need more: perfbench's `query` workload (17 shapes in seeded
      // order) compiles 222-237 distinct classes on its cold pass and
      // q_rfm_segments alone 137, so with 100 entries every warm pass
      // recompiled 102-111 classes. At 2000 entries, same-day A/B on a
      // 4-core host, medians of 10 alternating runs: warm compiles per
      // pass → 0, `query` p50 204 → 131 ms, pass 3.92 → 2.51 s; `ingest`
      // (8 runs) read round 1.54 → 0.90 s, its sinks no longer recompiling
      // per micro-batch. A cached class holds about 65 KB of live heap
      // (`query` +17 MB for its working set), so 2000 entries cap it near
      // 130 MB. The full registry compiles ≈6,000 classes cold; Bench's
      // back-to-back reps need only one query's set.
      // A STATIC conf, read once when CodeGenerator's cache first
      // initializes and shared by the whole JVM: the value applies only
      // if a session carrying it is the first to generate code in the JVM.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // read parquet timestamps written without isAdjustedToUTC as plain
      // TIMESTAMP, not TIMESTAMP_NTZ — the session timezone is pinned to
      // UTC above, so values are identical and epoch arithmetic
      // (cast-to-bigint, unix_micros, RANGE window frames) stays legal
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.engine.GraftExtensions")
    // extraConf applies LAST so callers (and invariance harnesses — e.g.
    // re-running the whole registry with AQE disabled) can override any
    // engine default above
    val s = extraConf.foldLeft(b0) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Per-scan execution statistics — the analog of Pinot's query response
    * metadata (`numSegmentsQueried` / `numSegmentsProcessed` /
    * `numSegmentsMatched`, reference: /root/reference/basics/
    * Architecture.md:139): how many segment files each scan actually
    * touched after partition pruning, the bytes read after column
    * pruning, and the filters that reached the scan. Runs the query
    * (foreach-noop) and reads the final adaptive plan's scan metrics.
    */
  final case class ScanStats(
      location: String, filesRead: Long, bytesRead: Long,
      pushedFilters: String, readSchema: String)

  def scanStats(df: DataFrame): Seq[ScanStats] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // Execute THIS QueryExecution's plan (df.foreach/rdd would build a new
    // one and leave these metrics untouched); count() on the internal RDD
    // moves no rows to the driver.
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case scan: FileSourceScanExec =>
      ScanStats(
        scan.metadata.getOrElse("Location", ""),
        scan.metrics.get("numFiles").map(_.value).getOrElse(-1L),
        scan.metrics.get("filesSize").map(_.value).getOrElse(-1L),
        scan.metadata.getOrElse("PushedFilters", ""),
        scan.metadata.getOrElse("ReadSchema", ""))
    }
  }

  /** Register every sf-dir table as a temp view so the whole engine
    * surface is reachable from `spark.sql(...)` (the reference is queried
    * over SQL; so is this).
    */
  def registerTables(spark: SparkSession, dir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach { t =>
        // Route through each table's dedicated loader so SQL views see the
        // same schema as the DataFrame API (events: nanos-long → timestamp).
        val df = t match {
          case "events" => Tables.events(spark, dir)
          case other => Tables(spark, dir, other)
        }
        df.createOrReplaceTempView(t)
      }
}
