package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.functions.TextSearch
import graft.sources.SegmentWriter

/** The transparent text-index rewrite (plans.DerivedColumnRewrite):
  * TEXT_CONTAINS over a scan carrying a SegmentWriter-derived token
  * array must read the stored terms instead of re-tokenizing per row —
  * and the rewrite must not fire for columns without a stored array,
  * must survive being disabled, and must serve whole boolean
  * TEXT_MATCH trees (each term predicate rewrites independently).
  */
class TermIndexSpec extends SparkSpec {

  private lazy val segDir: String = {
    val dir = tempDir("graft_termidx")
    SegmentWriter.write(
      Tables.documents(spark, sfDir).select("doc_id", "text", "lang"),
      dir,
      SegmentWriter.Config(derivedTermCols = Seq("text")))
    dir
  }

  test("textContains is rewritten onto the stored token array") {
    val df = spark.read.parquet(segDir)
      .filter(TextSearch.textContains(col("text"), "spark"))
      .select("doc_id")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("split("),
      s"per-row tokenization survived the rewrite:\n$optimized")
    assert(optimized.contains("text__terms"),
      s"stored token array not used:\n$optimized")
  }

  test("a column without a stored array keeps the raw tokenization") {
    val df = spark.read.parquet(segDir)
      .filter(TextSearch.textContains(col("lang"), "en"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("split("),
      s"rewrite overfired on an unindexed column:\n$optimized")
  }

  test("boolean TEXT_MATCH trees rewrite term-by-term and match the rule-off run") {
    def run() = spark.read.parquet(segDir)
      .filter(TextSearch.textMatch(col("text"), "(spark OR scan) AND NOT merge"))
      .select("doc_id").orderBy("doc_id").collect().toSeq
    val rewritten = run()
    val optimized = spark.read.parquet(segDir)
      .filter(TextSearch.textMatch(col("text"), "(spark OR scan) AND NOT merge"))
      .queryExecution.optimizedPlan.toString
    assert(!optimized.contains("split("),
      s"some term kept per-row tokenization:\n$optimized")
    spark.conf.set("spark.graft.termIndex.enabled", "false")
    try {
      val raw = run()
      assert(rewritten === raw)
      assert(rewritten.nonEmpty)
    } finally spark.conf.set("spark.graft.termIndex.enabled", "true")
  }

  test("a terms-only query never reads the text column") {
    val df = spark.read.parquet(segDir)
      .filter(TextSearch.textContains(col("text"), "spark"))
      .select("doc_id")
    val physical = df.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema.*".r.findFirstIn(physical).getOrElse("")
    assert(readSchema.contains("text__terms"), s"no token-array read:\n$physical")
    assert(!readSchema.contains("text:") && !readSchema.contains("text,"),
      s"document bodies still read for a terms-only query:\n$readSchema")
  }
}
