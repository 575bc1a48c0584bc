package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding TOKENIZER TRAINING (Sennrich et al. 2016 — the
  * subword algorithm behind GPT-2/RoBERTa-class vocabularies), shaped for
  * a 100 TB corpus by the same observation production trainers use: BPE
  * never needs the corpus after the word histogram exists. The ONLY
  * corpus-sized stage is one (word, count) rollup — map-side combined,
  * any number of reducers; the merge loop itself runs entirely on the
  * Zipf-tiny word DICTIONARY (each round: adjacent-pair counts weighted
  * by word frequency → argmax pair → greedy left-to-right merge rewrite
  * of the dictionary's symbol arrays).
  *
  * Each round takes exactly one driver-resident row (the winning pair) —
  * the algorithm's inherent sequential dependency, same class as the
  * k-center/PQ training loops — and caches the rewritten dictionary so
  * round r+1 does not replay rounds 1..r. Ties break (count desc, a, b)
  * so the learned merge sequence is deterministic under any partitioning.
  */
object Bpe {

  /** Corpus → word histogram. The one corpus-sized pass. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Word → initial symbol sequence: characters plus the `</w>` end-of-word
    * marker (so word-final merges stay distinct from word-internal ones —
    * the standard BPE alphabet).
    */
  private def initialSymbols(word: Column): Column =
    concat(filter(split(word, ""), x => x =!= ""), array(lit("</w>")))

  /** Greedy left-to-right single-pair merge of a symbol array: every
    * non-overlapping adjacent (a, b) becomes the fused symbol, scanning
    * once ("a a a" + merge (a,a) → ["aa", "a"]). One fold per word — no
    * shuffle; the lambda closes over constant strings only.
    */
  private[graft] def mergePair(syms: Column, a: String, b: String): Column = {
    val folded = aggregate(
      syms,
      struct(array().cast("array<string>").as("acc"), lit("").as("prev")),
      (st, t) => {
        val acc = st.getField("acc"); val prev = st.getField("prev")
        when(prev === lit(a) && t === lit(b),
          struct(array_append(acc, lit(a + b)).as("acc"), lit("").as("prev")))
          .when(prev === lit(""), struct(acc.as("acc"), t.as("prev")))
          .otherwise(struct(array_append(acc, prev).as("acc"), t.as("prev")))
      })
    when(folded.getField("prev") === lit(""), folded.getField("acc"))
      .otherwise(array_append(folded.getField("acc"), folded.getField("prev")))
  }

  /** Adjacent-pair counts over the dictionary, weighted by word count. */
  private def pairCounts(dict: DataFrame): DataFrame =
    dict.withColumn("n", size(col("syms")))
      .filter(col("n") >= 2)
      .select(col("cnt"), explode(expr(
        "zip_with(slice(syms, 1, n - 1), slice(syms, 2, n - 1), " +
          "(a, b) -> struct(a, b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("cnt").as("pair_cnt"))

  /** Train `k` merges. Returns the learned merge table rows
    * (step, a, b, pair_cnt) and the final symbol dictionary
    * (word, cnt, syms).
    *
    * OWNERSHIP: the returned dictionary is left `persist()`ed (round r+1
    * of any downstream use must not replay the merge chain); the CALLER
    * owns its lifecycle — either `unpersist()` it when done or memoize
    * one instance per (session, input) the way the registry wrappers do
    * (CorpusQueries, through engine.Artifacts), so repeated invocations
    * cannot leak one cached plan each.
    */
  def train(docs: DataFrame, textCol: String, k: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var dict = wordCounts(docs, textCol)
      .withColumn("syms", initialSymbols(col("word")))
      .persist()
    dict.count() // materialize the corpus pass once
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var done = false
    while (step <= k && !done) {
      val best = pairCounts(dict)
        .orderBy(col("pair_cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (a, b, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step, a, b, c))
        val next = dict.withColumn("syms", mergePair(col("syms"), a, b)).persist()
        next.count()
        dict.unpersist()
        dict = next
        step += 1
      }
    }
    (merges.result(), dict)
  }

  /** ENCODE the corpus with a trained dictionary — per-group subword
    * statistics (token counts before/after, compression ratio). The
    * insight that keeps this one-shuffle at 100 TB: encoding statistics
    * never need per-token rewriting of the corpus — each word's encoded
    * length is already in the trained dictionary, so the corpus pass is
    * a plain (group, word) rollup and the dictionary broadcasts onto it.
    */
  def encodeStats(docs: DataFrame, textCol: String, groupCol: String,
      dict: DataFrame): DataFrame =
    docs.select(col(groupCol),
        explode(expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("word"))
      .groupBy(groupCol, "word").agg(count(lit(1)).as("n"))
      .join(broadcast(dict.select(col("word"), size(col("syms")).as("n_syms"))), "word")
      .groupBy(groupCol)
      .agg(
        sum("n").as("n_words"),
        sum(col("n") * (length(col("word")) + 1)).as("n_char_syms"),
        sum(col("n") * col("n_syms")).as("n_bpe_syms"),
        round(sum(col("n") * col("n_syms")).cast("double") /
          sum(col("n") * (length(col("word")) + 1)), 6).as("compression"))
}
