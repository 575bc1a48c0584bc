package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.queries.Registry

/** Warm runs reuse generated code. The shared session carries the
  * engine's codegen cache size (`Graft.CodegenCacheEntries`); a query set
  * whose first pass compiles more classes than Spark's default 100-entry
  * cache must compile nothing on its second pass. With the default size
  * the second pass recompiles what the first pass evicted.
  */
class CodegenReuseSpec extends SparkSpec {

  // Statistics queries with many window and aggregate stages and no
  // per-run values in their generated code; no other spec executes them.
  // Not q_rfm_segments: AQE numbers its codegen stages in the order it
  // plans them, which varies between runs, and the number is part of the
  // generated class name.
  private val names = Seq("q_mad_outliers", "q_winsorize", "q_histogram_eqdepth",
    "q_percentile_daily", "q_ltv_decay", "q_ntile", "q_top_p_vocab")

  /** Classes compiled while running every query once through the noop
    * sink. The counter is JVM-global; specs run one at a time.
    */
  private def pass(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    names.foreach { n =>
      Registry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second pass over a query set larger than Spark's default codegen cache compiles nothing") {
    val first = pass()
    assert(first > 100,
      s"the set must compile more than the default 100 entries cold; got $first")
    val second = pass()
    info(s"first pass compiled $first classes, second pass $second")
    assert(second == 0, s"warm pass recompiled $second of the $first classes")
  }
}
