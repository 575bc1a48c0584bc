package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.sources.SegmentWriter

/** The transparent json-index rewrite (plans.DerivedColumnRewrite):
  * get_json_object over a scan carrying SegmentWriter-derived extracted
  * columns must read the stored column instead of parsing per row, and
  * extracted-value filters must push down to the parquet scan.
  */
class JsonIndexSpec extends SparkSpec {

  private lazy val segDir: String = {
    val dir = tempDir("graft_jsonidx")
    SegmentWriter.write(
      Tables.events(spark, sfDir).select("event_id", "props", "value"),
      dir,
      SegmentWriter.Config(derivedJsonCols = Seq(("props", "$.k"))))
    dir
  }

  test("get_json_object group-by is rewritten onto the derived column") {
    val df = spark.read.parquet(segDir)
      .groupBy(get_json_object(col("props"), "$.k").as("k"))
      .agg(count(lit(1)).as("cnt"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("get_json_object"),
      s"per-row JSON parse survived the rewrite:\n$optimized")
    assert(optimized.contains("props__k"), s"derived column not used:\n$optimized")
  }

  test("an unindexed path keeps the raw extraction (rewrite must not overfire)") {
    val df = spark.read.parquet(segDir)
      .select(get_json_object(col("props"), "$.missing").as("m"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("get_json_object"),
      s"extraction of an unindexed path was rewritten:\n$optimized")
  }

  test("rewritten results match the rule-off raw extraction exactly") {
    def run() = spark.read.parquet(segDir)
      .filter(get_json_object(col("props"), "$.k").cast("int") >= 50)
      .groupBy(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sv"))
      .orderBy("k").collect().toSeq
    val rewritten = run()
    spark.conf.set("spark.graft.jsonIndex.enabled", "false")
    try {
      val raw = run()
      assert(rewritten === raw)
      assert(rewritten.nonEmpty)
    } finally spark.conf.set("spark.graft.jsonIndex.enabled", "true")
  }

  test("a filter on the extracted value pushes down to the parquet scan") {
    val df = spark.read.parquet(segDir)
      .filter(get_json_object(col("props"), "$.k") === "69")
      .select("event_id")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [IsNotNull(props__k), EqualTo(props__k"),
      s"extracted-value filter did not reach the scan:\n$physical")
    spark.conf.set("spark.graft.jsonIndex.enabled", "false")
    try {
      val raw = spark.read.parquet(segDir)
        .filter(get_json_object(col("props"), "$.k") === "69")
        .count()
      assert(df.count() === raw)
      assert(raw > 0, "fixture has no rows with k=69")
    } finally spark.conf.set("spark.graft.jsonIndex.enabled", "true")
  }
}
