package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.sources.SegmentWriter

/** The transparent timestamp-index rewrite (plans.DerivedColumnRewrite):
  * date_trunc over a scan carrying SegmentWriter-derived granularity
  * columns must read the derived column instead of truncating per row,
  * and truncated-value filters must push down to the parquet scan.
  */
class TimestampIndexSpec extends SparkSpec {

  private lazy val segDir: String = {
    val dir = tempDir("graft_tsidx")
    SegmentWriter.write(
      Tables.events(spark, sfDir).select("event_id", "user_id", "ts", "value"),
      dir,
      SegmentWriter.Config(derivedTimeCols = Seq(("ts", "day"), ("ts", "month"))))
    dir
  }

  test("date_trunc group-by is rewritten onto the derived column") {
    val df = spark.read.parquet(segDir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("date_trunc"),
      s"per-row truncation survived the rewrite:\n$optimized")
    assert(optimized.contains("ts_day"), s"derived column not used:\n$optimized")
  }

  test("rewritten results match the rule-off raw truncation exactly") {
    def run() = spark.read.parquet(segDir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sv"))
      .orderBy("day").collect().toSeq
    val rewritten = run()
    spark.conf.set("spark.graft.timestampIndex.enabled", "false")
    try {
      val raw = run()
      assert(rewritten === raw)
    } finally spark.conf.set("spark.graft.timestampIndex.enabled", "true")
  }

  test("a filter on the truncated value pushes down to the parquet scan") {
    val someDay = spark.read.parquet(segDir).select(min("ts_day")).head().getTimestamp(0)
    val df = spark.read.parquet(segDir)
      .filter(date_trunc("day", col("ts")) === lit(someDay))
      .select("event_id")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [IsNotNull(ts_day), EqualTo(ts_day"),
      s"truncated-value filter did not reach the scan:\n$physical")
    // and it selects the same rows the raw predicate does
    spark.conf.set("spark.graft.timestampIndex.enabled", "false")
    try {
      val raw = spark.read.parquet(segDir)
        .filter(date_trunc("day", col("ts")) === lit(someDay))
        .count()
      assert(df.count() === raw)
    } finally spark.conf.set("spark.graft.timestampIndex.enabled", "true")
  }

  test("an unknown granularity or a scan without the derived column is left alone") {
    val hourPlan = spark.read.parquet(segDir)
      .select(date_trunc("hour", col("ts")).as("h"))
      .queryExecution.optimizedPlan.toString
    assert(hourPlan.contains("date_trunc"),
      s"hour has no derived column; truncation must remain:\n$hourPlan")
    val rawTable = Tables.events(spark, sfDir)
      .select(date_trunc("day", col("ts")).as("d"))
      .queryExecution.optimizedPlan.toString
    assert(rawTable.contains("date_trunc"),
      s"raw events table has no derived columns; truncation must remain:\n$rawTable")
  }

  test("month granularity rewrites independently of day") {
    val optimized = spark.read.parquet(segDir)
      .groupBy(date_trunc("month", col("ts")).as("m"))
      .agg(count(lit(1)).as("cnt"))
      .queryExecution.optimizedPlan.toString
    assert(!optimized.contains("date_trunc") && optimized.contains("ts_month"),
      s"month rewrite failed:\n$optimized")
  }
}
