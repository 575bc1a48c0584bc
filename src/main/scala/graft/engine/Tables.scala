package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch "segment" loader (reference: /root/reference/basics/Concepts.md:17
  * — Pinot tables are collections of columnar segments). Each table is a
  * parquet dataset under the driver-provided scale-factor directory
  * (TESTDATA.md). All access goes through these helpers so scans stay
  * declarative: Catalyst pushes filters and column pruning into the parquet
  * scan, which is the Spark-native analog of Pinot's per-segment
  * inverted/range indexes and is what makes a 100 TB scan viable.
  */
object Tables {

  /** NOTE on the test fixtures: each table ships as a SINGLE parquet row
    * group, which parquet cannot split — the raw scan is one partition.
    * Two remedies were measured at sf0.1/local[32] and BOTH lost: a
    * round-robin fan-out above every scan (sort-before-repartition +
    * an exchange per query, total 73s → 100s) and a session-scoped
    * hash-partitioned cache (Pinot's loaded-segment analog; cache-scan
    * overhead offset the parallel map stages, 73s → 75s). Plain scans win
    * because the heavy pipelines gain their parallelism at their first
    * shuffle anyway, and simple queries are dominated by fixed cost. On a
    * production SegmentWriter layout (many files, sized row groups) scans
    * split natively and none of this arises.
    */
  /** Reads through SegmentCatalog.readStableSchema's schema cache: without
    * an explicit schema every `spark.read.parquet` fires a footer-inference
    * Spark job, so EVERY query build paid one job per table touched (the
    * BuildLazinessSpec floor was 1, not 0). A production catalog knows its
    * table schemas; the first touch of a path infers once and every later
    * build plans with zero jobs.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.SegmentCatalog.readStableSchema(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS), which Spark only reads as a
    * raw long (spark.sql.legacy.parquet.nanosAsLong=true, set by
    * Verify/Bench/specs). Convert to a microsecond timestamp here —
    * truncating division, matching DuckDB's ns→us cast — so every query
    * downstream sees a normal timestamp column.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
