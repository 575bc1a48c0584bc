package graft

import org.apache.spark.sql.SparkSession

/** The one bootstrap of the `main`s: Bench's timing loop keeps its
  * two-line stdout contract, a query selection names what it cannot
  * resolve, and `SPARK_GRAFT_EXTRA_CONF` entries reach the session intact
  * or fail.
  */
class HarnessSpec extends SparkSpec {

  private val three = Seq("q_select_project", "q_filter_basic", "q_agg_groupby")

  /** Top-level keys of a one-line JSON object, in order. */
  private def keys(line: String): Seq[String] =
    "\"(\\w+)\":".r.findAllMatchIn(line).map(_.group(1)).toSeq

  test("Bench.run returns the per-query line, then the summary with the driver's keys") {
    val (lines, failed) = Bench.run(spark, sfDir, Harness.select(three), reps = 2)
    assert(lines.size == 2)
    assert(lines.head.startsWith("""{"metric":"per_query","queries":{"""))
    three.foreach(n => assert(lines.head.contains(s""""$n":"""), n))
    val total = lines.last
    assert(total.startsWith("""{"metric":"total""""))
    assert(keys(total) == Seq("metric", "value", "unit", "n_queries", "failed", "reps", "sf"))
    assert(total.contains(""""n_queries":3,"failed":0,"reps":2,"""), total)
    assert(total.endsWith(s""""sf":"$sfDir"}"""))
    assert(failed.isEmpty)
  }

  test("Bench.run counts a query that throws as failed") {
    val broken: Harness.Query = (_, _) => throw new IllegalStateException("boom")
    val (lines, failed) = Bench.run(spark, sfDir,
      Harness.select(three.take(1)) + ("q_broken" -> broken), reps = 1)
    assert(failed == Seq("q_broken"))
    assert(lines.last.contains(""""n_queries":2,"failed":1,"""), lines.last)
  }

  test("a selection names every unknown query and keeps registry entries otherwise") {
    val e = intercept[IllegalArgumentException](
      Harness.select(Seq("q_agg_groupby", "q_typo", "q_nope")))
    assert(e.getMessage.contains("q_typo") && e.getMessage.contains("q_nope"), e.getMessage)
    assert(!e.getMessage.contains("q_agg_groupby"), e.getMessage)
    assert(Harness.select(three).keySet == three.toSet)
    assert(Harness.select(Nil).size == SparkEntry.queries.size)
  }

  test("extra conf trims keys and values and rejects malformed entries") {
    assert(Harness.parseConf(" a.b = x ;c=y=z;; ") == Map("a.b" -> "x", "c" -> "y=z"))
    Seq("spark.sql.adaptive.enabled", "=false", "ok=1;broken").foreach { bad =>
      val e = intercept[IllegalArgumentException](Harness.parseConf(bad))
      assert(e.getMessage.contains("malformed"), bad)
    }
  }

  test("\"k = v\" overrides reach the Harness session") {
    // Harness.session gets the thread's active session and applies its
    // settings there; a child session keeps them off the shared one
    val child = spark.newSession()
    SparkSession.setActiveSession(child)
    try {
      val s = Harness.session("graft-harness-spec",
        Some("spark.sql.adaptive.enabled = false ; spark.sql.autoBroadcastJoinThreshold= -1"))
      assert(s eq child)
      assert(s.conf.get("spark.sql.adaptive.enabled") == "false")
      assert(s.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1")
      assert(!s.conf.getAll.keys.exists(_.endsWith(" ")))
    } finally SparkSession.setActiveSession(spark)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }
}
