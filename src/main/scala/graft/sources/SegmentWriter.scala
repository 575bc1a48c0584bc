package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Segment generation — the Spark-native analog of Pinot's segment build
  * with its index trio (reference: /root/reference/basics/indexing/
  * forward-index.md sorted forward index, range-index.md, bloom-filter.md):
  *
  *   - `partitionCols`: directory partitioning → partition pruning (the
  *     inverted-index / time-partition analog; equality and range filters
  *     on these never touch irrelevant files).
  *   - `sortCols`: `sortWithinPartitions` → clustered row groups, so
  *     parquet min/max statistics prune row groups exactly like Pinot's
  *     sorted + range index.
  *   - `bloomFilterCols`: parquet bloom filters → point-lookup skipping on
  *     high-cardinality columns, Pinot's bloom filter analog.
  *
  * At 100 TB this layout is what turns full scans into touching a handful
  * of files: time partition first, sorted column second, bloom for the
  * needle-in-haystack keys.
  */
object SegmentWriter {

  final case class Config(
      partitionCols: Seq[String] = Seq.empty,
      sortCols: Seq[String] = Seq.empty,
      bloomFilterCols: Seq[String] = Seq.empty,
      numSegments: Int = 0, /* 0 = leave partitioning alone */
      /** Timestamp-index analog (reference: /root/reference/basics/
        * indexing/timestamp-index.md — Pinot materializes
        * `$ts$GRANULARITY` columns so DATETRUNC filters hit a stored
        * column): (timeCol, granularity) pairs become `<col>_<gran>`
        * columns, filterable/groupable without re-truncating and usable
        * as partition columns.
        */
      derivedTimeCols: Seq[(String, String)] = Seq.empty,
      /** JSON-index analog (reference: /root/reference/basics/indexing/
        * json-index.md — Pinot flattens configured JSON paths into
        * indexed posting lists so JSON predicates never parse documents
        * at query time): (jsonCol, '$.path') pairs become stored STRING
        * columns with parquet min/max stats, and
        * plans.DerivedColumnRewriteRule transparently redirects matching
        * `get_json_object` calls onto them.
        */
      derivedJsonCols: Seq[(String, String)] = Seq.empty,
      /** Text-index analog (reference: /root/reference/basics/indexing/
        * native-text-index.md — Pinot tokenizes text columns at INGEST so
        * TEXT_CONTAINS never re-tokenizes documents at query time): each
        * listed text column gains a stored `<col>__terms` array of its
        * distinct lowercase whitespace-run tokens. The
        * DerivedColumnRewriteRule then serves textContains predicates from
        * the stored array — the per-row split+lower disappears from the
        * query plan.
        */
      derivedTermCols: Seq[String] = Seq.empty,
      /** Parquet codec — zstd: better ratio than snappy at comparable
        * decode speed, which at 100 TB is mostly an IO-bytes win.
        */
      codec: String = "zstd")

  /** Derived-column name for a (timeCol, granularity) pair. */
  def derivedName(timeCol: String, granularity: String): String =
    s"${timeCol}_$granularity"

  /** Derived-column name for a (jsonCol, path) pair: '$.user.id' over
    * `props` → `props__user_id` (path chars outside [A-Za-z0-9] fold to
    * '_', so the mapping is total and collision-resistant for the
    * dotted-path shapes the json-index supports).
    */
  /** Stored token-array column name for the text-index analog. */
  def derivedTermsName(textCol: String): String = s"${textCol}__terms"

  def derivedJsonName(jsonCol: String, path: String): String = {
    val p = path.stripPrefix("$").stripPrefix(".")
      .map(c => if (c.isLetterOrDigit) c else '_')
    s"${jsonCol}__$p"
  }

  def write(df0: DataFrame, path: String, cfg: Config): Unit = {
    val dfT = cfg.derivedTimeCols.foldLeft(df0) { case (acc, (c, g)) =>
      acc.withColumn(derivedName(c, g), date_trunc(g, col(c)))
    }
    val dfJ = cfg.derivedJsonCols.foldLeft(dfT) { case (acc, (c, p)) =>
      acc.withColumn(derivedJsonName(c, p), get_json_object(col(c), p))
    }
    val df = cfg.derivedTermCols.foldLeft(dfJ) { case (acc, c) =>
      acc.withColumn(derivedTermsName(c),
        array_distinct(array_remove(split(lower(col(c)), "\\s+"), "")))
    }
    val repartitioned =
      if (cfg.partitionCols.nonEmpty)
        // co-locate rows of one output partition dir into one task each so
        // each dir gets few, large files (small-file problem at scale)
        df.repartition(cfg.partitionCols.map(col): _*)
      else if (cfg.numSegments > 0) df.repartition(cfg.numSegments)
      else df
    val sorted =
      if (cfg.sortCols.nonEmpty)
        repartitioned.sortWithinPartitions(cfg.sortCols.map(col): _*)
      else repartitioned
    val writer0 = sorted.write.mode("overwrite").option("compression", cfg.codec)
    val writer = cfg.bloomFilterCols.foldLeft(writer0) { (w, c) =>
      // parquet-mr drops the bloom when a chunk ends fully dictionary-
      // encoded (the dictionary page already gives readers an exact
      // membership test), so a bloom column must opt out of dictionary
      // encoding or small segments silently carry no filter. That is
      // also the honest production posture: bloom columns are high-
      // cardinality point-lookup keys that overflow the dictionary page
      // anyway — dictionary encoding and blooms target disjoint column
      // classes (IngestFormatsSpec asserts the filter is WRITTEN and
      // rejects absent probes, from the footer, not from these options).
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.enable.dictionary#$c", "false")
    }
    (if (cfg.partitionCols.nonEmpty) writer.partitionBy(cfg.partitionCols: _*) else writer)
      .parquet(path)
  }

  final case class CompactionStats(filesBefore: Long, filesAfter: Long, rows: Long)

  /** Segment compaction — the consuming→completed merge of the realtime
    * flow (reference: /root/reference/basics/Architecture.md:171: realtime
    * servers flush many small in-memory segments which later merge into
    * completed segments). Structured Streaming sinks have exactly this
    * shape — one small parquet file per micro-batch per partition — and
    * small files are the classic 100 TB scan killer (per-file open cost,
    * no row-group pruning leverage). `compact` rewrites a segment dir
    * through `write`, restoring the full index layout (partition dirs,
    * sorted row groups, blooms, derived time columns) with few large
    * files. Reads and writes are both distributed; only file listing
    * happens on the driver.
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String, destPath: String, cfg: Config): CompactionStats = {
    require(srcPath != destPath, "compact cannot overwrite its own input in-flight")
    def countFiles(p: String): Long = {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(path, true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val before = countFiles(srcPath)
    val df = spark.read.parquet(srcPath)
    write(df, destPath, cfg)
    CompactionStats(before, countFiles(destPath), spark.read.parquet(destPath).count())
  }

  final case class RetentionStats(
      partitionsDropped: Long, partitionsKept: Long, filesDropped: Long)

  /** Retention management — Pinot's retention manager purges segments
    * past the table's retention period (reference: /root/reference/basics/
    * Architecture.md:185-186 — realtime tables keep a short retention,
    * offline tables a long one, enforced by dropping whole segments).
    * Spark-native analog: segments are TIME-PARTITIONED directories
    * (`write` with a derived time column in `partitionCols`), so retention
    * is dropping the partition directories whose value sorts below the
    * cutoff — a file-metadata operation: no data rewrite, no scan, cost
    * independent of table size (only the partition count matters, which
    * is why the time column must be the partition key at 100 TB).
    *
    * `cutoff` is compared lexicographically against the partition value
    * (ISO timestamps/dates sort correctly as strings); partitions with
    * value >= cutoff survive. The `__HIVE_DEFAULT_PARTITION__` (null) dir
    * is never dropped — null timestamps are a data-quality signal, not
    * expired data.
    */
  def applyRetention(
      spark: org.apache.spark.sql.SparkSession,
      path: String, timePartitionCol: String, cutoff: String): RetentionStats = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = s"$timePartitionCol="
    var dropped = 0L; var kept = 0L; var files = 0L
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith(prefix)) {
        // Partition values are Hive-escaped on disk (only '%xx' sequences;
        // Hive never encodes '+' or space as '+'). URLDecoder would turn a
        // LITERAL '+' in a partition value (e.g. a '+02:00' tz offset) into
        // a space and the cutoff compare would run on a mangled value —
        // escape '+' first so only the '%xx' decoding applies.
        val value = java.net.URLDecoder.decode(
          name.stripPrefix(prefix).replace("+", "%2B"), "UTF-8")
        if (value != "__HIVE_DEFAULT_PARTITION__" && value < cutoff) {
          val it = fs.listFiles(st.getPath, true)
          while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) files += 1 }
          fs.delete(st.getPath, true)
          dropped += 1
        } else kept += 1
      }
    }
    RetentionStats(dropped, kept, files)
  }

  final case class RollupStats(
      partitionsRolledUp: Long, rowsBefore: Long, rowsAfter: Long)

  /** Age-based MERGE-ROLLUP — Pinot's minion MergeRollupTask (reference:
    * /root/reference/basics/Architecture.md — minions rewrite older
    * segments at coarser granularity so a long-retention table stays
    * queryable without raw-row cost): partitions whose time-partition
    * value sorts BELOW `cutoff` are re-aggregated — the raw time column
    * collapses to `granularity` buckets and every metric pre-aggregates
    * by SUM over `dims` (plus a `rollup_count` so COUNT/AVG remain
    * answerable) — while partitions at/after the cutoff pass through raw
    * with `rollup_count = 1`. Aggregate queries over the union are
    * EXACTLY preserved (sum/count/avg — spec-asserted); raw-row lookups
    * inside the rolled span are the traded-away capability, same
    * contract as Pinot's task. Every column must be named as a dim or a
    * metric (the task cannot guess how to merge an unlisted column).
    *
    * Shape at 100 TB: one partition-pruned scan each side, the rollup's
    * group-by shuffles only the OLD slice, and the output keeps the same
    * partition layout so readers and the retention manager are unchanged.
    */
  def mergeRollup(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String, destPath: String,
      timePartitionCol: String, cutoff: String,
      timeCol: String, granularity: String,
      dims: Seq[String], sumMetrics: Seq[String]): RollupStats = {
    require(srcPath != destPath, "mergeRollup cannot overwrite its own input in-flight")
    val df = spark.read.parquet(srcPath)
    val named = (dims ++ sumMetrics ++ Seq(timeCol, timePartitionCol)).toSet
    val unlisted = df.columns.filterNot(named.contains)
    require(unlisted.isEmpty,
      s"mergeRollup: columns ${unlisted.mkString(", ")} are neither dims nor metrics")
    val isOld = col(timePartitionCol).cast("string") < lit(cutoff)
    val old = df.filter(isOld)
    val rowsBefore = old.count()
    val outCols = (dims :+ timeCol) ++ sumMetrics ++ Seq("rollup_count", timePartitionCol)
    val rolled = old
      .groupBy((dims.map(col) :+ col(timePartitionCol)) :+
        date_trunc(granularity, col(timeCol)).as(timeCol): _*)
      .agg(count(lit(1)).as("rollup_count"),
        sumMetrics.map(m => sum(m).as(m)): _*)
      .select(outCols.map(col): _*)
    val recent = df.filter(!isOld)
      .withColumn("rollup_count", lit(1L))
      .select(outCols.map(col): _*)
    rolled.unionByName(recent)
      .write.mode("overwrite").partitionBy(timePartitionCol).parquet(destPath)
    val out = spark.read.parquet(destPath)
    RollupStats(
      old.select(timePartitionCol).distinct().count(),
      rowsBefore,
      out.filter(col(timePartitionCol).cast("string") < lit(cutoff)).count())
  }

  /** Morton (Z-order) bit interleave of two pre-scaled long columns: bit i
    * of `a` lands at position 2i, bit i of `b` at 2i+1. Pure codegen'd
    * shift/mask expression tree — no UDF. Callers must scale both inputs
    * into [0, 2^bits).
    */
  def interleaveBits(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(a.bitwiseAND(lit(1L << i)), i))
        .bitwiseOR(shiftleft(b.bitwiseAND(lit(1L << i)), i + 1))
    }
  }

  /** Z-ordered segment layout — the MULTI-column range-index analog
    * (reference: /root/reference/basics/indexing/range-index.md). A plain
    * sorted layout clusters row groups on ONE leading column: min/max
    * stats prune range filters on it, but every file spans the full range
    * of any other column. Z-ordering sorts by the Morton interleave of TWO
    * columns, so each output file covers a small rectangle in (a, b) space
    * — min/max stats stay tight on BOTH columns and a range filter on
    * EITHER prunes most files/row groups. This is the public lakehouse
    * layout trick (Delta/Iceberg Z-ORDER) applied to the segment writer;
    * at 100 TB it is the difference between a two-dimension dashboard
    * filter touching a handful of segments and scanning the table.
    *
    * Both columns min/max-scale into [0, 2^bits) via one metadata-sized
    * aggregate (a single tiny driver-side row — the only non-distributed
    * step, same cost class as file listing). Rows then range-repartition
    * and sort by the z-value, which is dropped before writing so the
    * on-disk schema is unchanged.
    */
  def writeZOrdered(
      df: DataFrame, path: String, colA: String, colB: String,
      numSegments: Int, bits: Int = 16, codec: String = "zstd"): Unit = {
    val stats = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    // An empty frame or an all-null column yields null min/max — degrade
    // that column to a constant z-contribution (plain write layout)
    // instead of NPE-ing on getDouble.
    def bound(i: Int): Double = if (stats.isNullAt(i)) 0.0 else stats.getDouble(i)
    def scaled(c: String, mn: Double, mx: Double): Column = {
      val levels = (1L << bits) - 1
      if (!(mx > mn)) lit(0L)
      else coalesce(least(lit(levels),
        floor((col(c).cast("double") - mn) / (mx - mn) * levels).cast("long")),
        lit(0L))
    }
    val z = interleaveBits(
      scaled(colA, bound(0), bound(1)),
      scaled(colB, bound(2), bound(3)), bits)
    df.withColumn("__z", z)
      .repartitionByRange(numSegments, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").option("compression", codec)
      .parquet(path)
  }

  /** Bucketed catalog table — the co-located-join layout (Pinot analog:
    * partitioned segment assignment, where both tables hash on the join
    * key so a key join never reshuffles either side). Spark: `bucketBy`
    * on the join key + `sortBy` within buckets; two tables bucketed the
    * same way join with ZERO Exchange nodes — at 100 TB that removes the
    * dominant cost of every fact-fact join on the bucketed key
    * (spec-asserted in SegmentWriterSpec).
    */
  def writeBucketed(
      df: DataFrame, table: String, bucketCol: String, numBuckets: Int,
      sortCols: Seq[String] = Seq.empty): Unit = {
    val w = df.repartition(numBuckets, col(bucketCol))
      .write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet")
      .saveAsTable(table)
  }
}
