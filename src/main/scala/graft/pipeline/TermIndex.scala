package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextShingles, VectorFns}

/** Materialized per-shard frequent-terms index — the fourth incremental
  * index alongside the dedup band index (MinHashLsh.materializeBands),
  * the TF-IDF DF index (Tfidf.materializeDf) and the LM vocabulary
  * (LmScore.materializeVocab): a daily-ingest pipeline keeps per-segment
  * Misra–Gries term sketches on disk and answers corpus-wide top-k
  * term queries from sketch rows alone, never rescanning text.
  *
  * Why plain summation is a sound merge: each shard sketch holds ≤ k'
  * counters, each understating its shard-true count by at most
  * nₛ/(k'+1) (the MG bound), and items a shard DROPS had shard count
  * ≤ nₛ/(k'+1). Summing the stored counters item-wise therefore
  * understates the corpus-true count by at most Σ nₛ/(k'+1) = n/(k'+1)
  * — the standard mergeable-summaries argument (Agarwal et al.,
  * PODS'12), with no further shrink step because the union is only
  * S·k' rows (segments × sketch width, never vocabulary-sized). Any
  * term with corpus frequency > 2n/(k'+1) is guaranteed to surface.
  *
  * Scale shape: materialize is one shard-keyed aggregate whose state is
  * O(k') per (shard × partition); the query side touches S·k' sketch
  * rows, sums per item, and selects the global top-k with the bounded
  * heap — no text scan, no vocabulary-sized window.
  */
object TermIndex {

  /** Write per-shard sketches to `path`: one row per shard —
    * (shard, top: array<struct<item, est_count>>, n_terms). `k` is the
    * sketch WIDTH (keep it a few × the k you query for: the bound
    * tightens as n/(k+1)).
    */
  def materialize(
      docs: DataFrame, textCol: String, shardCol: Column,
      path: String, k: Int = 64): Unit =
    docs
      .select(shardCol.as("shard"),
        explode(array_remove(TextShingles.wordTokens(col(textCol)), ""))
          .as("term"))
      .groupBy("shard")
      .agg(
        TextShingles.frequentItems(col("term"), k).as("top"),
        count(lit(1)).as("n_terms"))
      .write.mode("overwrite").parquet(path)

  /** Corpus-wide top-k heavy terms from the stored sketches:
    * (rank, term, cnt_lb) with cnt_lb the summed lower-bound count.
    * refreshByPath first so a serving loop picks up a re-materialized
    * index on its next call (the IvfAnn hot-swap lesson).
    */
  def topTermsIndexed(spark: SparkSession, path: String, k: Int = 15): DataFrame = {
    spark.catalog.refreshByPath(path)
    graft.sources.SegmentCatalog.readStableSchema(spark, path)
      .select(explode(col("top")).as("t"))
      .groupBy(col("t.item").as("term"))
      .agg(sum("t.est_count").as("cnt"))
      .agg(VectorFns.topKByStr(col("cnt").cast("double"), col("term"), k).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("col.key").as("term"), col("col.score").cast("long").as("cnt_lb"))
  }

  /** Total term count across the index (the n in the n/(k'+1) bound). */
  private[graft] def totalTerms(spark: SparkSession, path: String): Long = {
    spark.catalog.refreshByPath(path)
    spark.read.parquet(path).agg(sum("n_terms")).head().getLong(0)
  }
}
