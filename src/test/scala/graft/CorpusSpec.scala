package graft

import org.apache.spark.sql.functions._
import graft.dedup.SpanDedup
import graft.pipeline.Mixture

/** Edge-case specs for the round-6 corpus operators (the registry queries
  * over them are DuckDB-hash-verified; these cover the API semantics the
  * fixture can't reach).
  */
class CorpusSpec extends SparkSpec {

  import spark.implicits._

  test("LmScore: materialized vocabulary scores identically to the inline LM") {
    import graft.pipeline.LmScore
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val dir = tempDir("lmvocab")
    LmScore.materializeVocab(docs, "doc_id", "text", dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inline = rows(LmScore.score(docs, "doc_id", "text",
      LmScore.vocabulary(docs, "doc_id", "text"),
      LmScore.vocabulary(docs, "doc_id", "text").agg(sum("cnt").as("total"))))
    val indexed = rows(LmScore.scoreIndexed(spark, docs, "doc_id", "text", dir))
    assert(indexed === inline)
    assert(indexed.nonEmpty)
  }

  test("LmScore: out-of-vocabulary tokens take the maximum rarity penalty") {
    import graft.pipeline.LmScore
    val corpus = graft.engine.Tables.documents(spark, sfDir)
    val dir = tempDir("lmvocab2")
    LmScore.materializeVocab(corpus, "doc_id", "text", dir)
    // one batch doc made of common corpus tokens, one of pure OOV noise
    val common = corpus
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().orderBy(desc("count"), asc("w"))
      .limit(5).collect().map(_.getString(0)).mkString(" ")
    val batch = Seq((1L, common), (2L, "zzqx1 zzqx2 zzqx3 zzqx4 zzqx5"))
      .toDF("doc_id", "text")
    val scored = LmScore.scoreIndexed(spark, batch, "doc_id", "text", dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // the OOV doc must score strictly rarer than the common-token doc
    assert(scored(2L) > scored(1L))
  }

  test("LmScore: null-text docs surface as unscoreable instead of vanishing") {
    import graft.pipeline.LmScore
    val corpus = graft.engine.Tables.documents(spark, sfDir)
    val dir = tempDir("lmvocab3")
    LmScore.materializeVocab(corpus, "doc_id", "text", dir)
    val batch = Seq((1L, Some("the a and")), (2L, None))
      .toDF("doc_id", "text")
    val scored = LmScore.scoreIndexed(spark, batch, "doc_id", "text", dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    // a caller gating on avg_nll sees doc 2 as unscoreable (null), not
    // absent — both rows come back
    assert(scored.keySet === Set(1L, 2L))
    assert(scored(2L).getLong(1) === 0L)     // n_tokens
    assert(scored(2L).isNullAt(2))           // avg_nll
    assert(!scored(1L).isNullAt(2))
  }

  test("compression ratio: deterministic under repartitioning, ordered by redundancy") {
    // the query itself (deflate via one Deflater per partition)
    val run = SparkEntry.queries("q_compression_ratio")
    val a = run(spark, sfDir).collect().map(_.toSeq).toSeq
    val b = run(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(a === b) // bit-identical across runs/partitioning
    assert(a.nonEmpty)
    // ratios live in (0, 1.2] — deflate adds bounded overhead at worst
    a.foreach { r =>
      val (avg, mn, mx) =
        (r(2).asInstanceOf[Double], r(3).asInstanceOf[Double], r(4).asInstanceOf[Double])
      assert(mn > 0.0 && mx <= 1.2 && avg >= mn && avg <= mx)
    }
    // redundancy ordering: pure repetition compresses far below noise
    val deflater = new java.util.zip.Deflater(6)
    def ratio(s: String): Double = {
      val raw = s.getBytes("UTF-8")
      deflater.reset(); deflater.setInput(raw); deflater.finish()
      val buf = new Array[Byte](64 * 1024)
      var n = 0L
      while (!deflater.finished()) n += deflater.deflate(buf)
      n.toDouble / raw.length
    }
    val rep = ratio("spam ham " * 500)
    val noise = ratio(Seq.tabulate(1000)(i =>
      java.lang.Long.toHexString(i * 2654435761L)).mkString(" "))
    assert(rep < 0.05 && noise > 0.3 && rep < noise)
  }

  test("Mixture.sample: integer rate replicates exactly, zero rate drops the stratum") {
    val docs = Seq(
      (1L, "alpha beta", "a"), (2L, "gamma delta", "a"),
      (3L, "epsilon zeta", "b"), (4L, "eta theta", "c"))
      .toDF("doc_id", "text", "source")
    val out = Mixture.sample(docs, "text", "source",
      rates = Map("a" -> 3.0, "b" -> 0.0), defaultRate = 1.0)
    val byDoc = out.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc === Map(1L -> 3L, 2L -> 3L, 4L -> 1L)) // b dropped entirely
    // epoch column is the 1-based copy index
    val epochs = out.filter(col("doc_id") === 1L).select("epoch")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(epochs === Seq(1, 2, 3))
  }

  test("Mixture.sample: fractional rate is deterministic and bounded by ceil(rate)") {
    val docs = (1 to 400)
      .map(i => (i.toLong, s"doc number $i with content ${i * 37}", "s"))
      .toDF("doc_id", "text", "source")
    val out = Mixture.sample(docs, "text", "source", rates = Map("s" -> 1.5))
    val counts = out.groupBy("doc_id").count().collect().map(_.getLong(1))
    assert(counts.forall(c => c >= 1 && c <= 2)) // floor guaranteed, ceil bound
    val total = counts.sum.toDouble / 400
    assert(total > 1.3 && total < 1.7, s"mean copies $total should approximate rate 1.5")
    // deterministic under a different partitioning
    val again = Mixture.sample(docs.repartition(7, col("doc_id")), "text", "source",
      rates = Map("s" -> 1.5))
    assert(again.select("doc_id", "epoch").except(out.select("doc_id", "epoch")).isEmpty &&
      out.select("doc_id", "epoch").except(again.select("doc_id", "epoch")).isEmpty)
  }

  test("Mixture.sampleTemperature: flattens toward uniform at ~constant corpus size") {
    // 300 docs in a dominant source, 50 + 30 in small ones
    val docs = ((1 to 300).map(i => (i.toLong, s"big doc $i ${i * 13}", "big")) ++
      (301 to 350).map(i => (i.toLong, s"mid doc $i ${i * 7}", "mid")) ++
      (351 to 380).map(i => (i.toLong, s"small doc $i ${i * 3}", "small")))
      .toDF("doc_id", "text", "source")
    val out = Mixture.sampleTemperature(docs, "text", "source", alpha = 0.5)
    val rates = out.groupBy("source").agg(min("mix_rate")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // alpha<1: dominant source downsampled, small sources upsampled
    assert(rates("big") < 1.0, s"big rate ${rates("big")}")
    assert(rates("small") > 1.0, s"small rate ${rates("small")}")
    assert(rates("mid") > rates("big") && rates("mid") < rates("small"))
    // Σ rate_s·n_s = N exactly, so the sampled size ≈ N (hash noise only)
    val n = out.count().toDouble
    assert(n > 380 * 0.85 && n < 380 * 1.15, s"sampled $n vs 380")
    // deterministic under a different partitioning
    val again = Mixture.sampleTemperature(
      docs.repartition(7, col("doc_id")), "text", "source", alpha = 0.5)
    assert(again.select("doc_id", "epoch").except(out.select("doc_id", "epoch")).isEmpty &&
      out.select("doc_id", "epoch").except(again.select("doc_id", "epoch")).isEmpty)
  }

  test("Mixture.sampleTemperature: alpha=1 is the identity mixture (all rates 1)") {
    val docs = ((1 to 40).map(i => (i.toLong, s"x $i", "a")) ++
      (41 to 50).map(i => (i.toLong, s"y $i", "b")))
      .toDF("doc_id", "text", "source")
    val out = Mixture.sampleTemperature(docs, "text", "source", alpha = 1.0)
    assert(out.count() === 50)
    assert(out.select("mix_rate").distinct().collect().map(_.getDouble(0)).toSeq === Seq(1.0))
  }

  test("SpanDedup: an exact duplicate document loses every span; first occurrence survives") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"), // spans: [a..j], [k l]
      (2L, "a b c d e f g h i j k l"), // exact dup of doc 1
      (3L, "z y x w v u t s r q k l")) // last span "k l" duplicates doc 1's
    val df = docs.toDF("doc_id", "text")
    val out = SpanDedup.dedupText(df, "doc_id", "text", spanLen = 10)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) === ((1L, "a b c d e f g h i j k l", 2L, 2L)))
    assert(out(1) === ((2L, "", 2L, 0L))) // everything seen before
    assert(out(2) === ((3L, "z y x w v u t s r q", 2L, 1L))) // trailing dup span gone
  }

  test("SpanDedup: reassembly preserves original span order") {
    // doc 2 shares doc 1's MIDDLE span; its other spans survive around it
    val s1 = (1 to 10).map(i => s"w$i").mkString(" ")
    val shared = (1 to 10).map(i => s"c$i").mkString(" ")
    val s3 = (1 to 10).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, shared), (2L, s"$s1 $shared $s3")).toDF("doc_id", "text")
    val out = SpanDedup.dedupText(docs, "doc_id", "text", spanLen = 10)
      .filter(col("doc_id") === 2L).select("text").as[String].head()
    assert(out === s"$s1 $s3")
  }

  test("Chunker: overlapping windows cover every token; plan is shuffle-free") {
    val docs = Seq(
      (1L, (1 to 47).map(i => s"t$i").mkString(" ")), // 47 toks -> idx 0,1
      (2L, "a b"), // shorter than one window -> single short chunk
      (3L, "")) // empty text -> split yields [""], one 1-token chunk
      .toDF("doc_id", "text")
    val out = graft.pipeline.Chunker.slidingWindows(docs, "doc_id", "text",
      window = 30, stride = 20)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[String](2)))
      .sortBy(t => (t._1, t._2))
    // window 1 (tokens 21..47) reaches the end — no redundant suffix chunk
    assert(rows.map(t => (t._1, t._2, t._3.size)).toSeq === Seq(
      (1L, 0, 30), (1L, 1, 27), (2L, 0, 2), (3L, 0, 1)))
    // every token of doc 1 appears in at least one chunk (overlap covers)
    val covered = rows.filter(_._1 == 1L).flatMap(_._3).toSet
    assert((1 to 47).forall(i => covered.contains(s"t$i")))
    // windows 0 and 1 overlap by window - stride = 10 tokens
    assert(rows(0)._3.takeRight(10).toSeq === rows(1)._3.take(10).toSeq)
    // scan-local by construction: no Exchange anywhere in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunker plan shuffles:\n$plan")
  }

  test("Chunker: coverage and chunk counts hold across window/stride settings") {
    // stride = window → disjoint chunks that partition the token list;
    // stride = 1 → one chunk per token; mid strides overlap — in every
    // case each token appears in >= 1 chunk and chunk count is
    // ceil(max(n - window, 0) / stride) + 1 for non-empty docs
    val n = 53
    val doc = Seq((1L, (1 to n).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    for ((window, stride) <- Seq((10, 10), (10, 1), (16, 7), (60, 60), (1, 1))) {
      val chunks = graft.pipeline.Chunker
        .slidingWindows(doc, "doc_id", "text", window, stride)
        .collect().map(r => (r.getInt(1), r.getSeq[String](2))).sortBy(_._1)
      val expectedCount = math.ceil(math.max(n - window, 0).toDouble / stride).toInt + 1
      assert(chunks.length === expectedCount, s"count for w=$window s=$stride")
      val covered = chunks.flatMap(_._2).toSet
      assert((1 to n).forall(i => covered.contains(s"w$i")), s"coverage w=$window s=$stride")
      if (stride == window) // disjoint partition: no token in two chunks
        assert(chunks.flatMap(_._2).length === n, s"overlap at w=$window s=$stride")
    }
  }

  test("TextFeaturizer: empty and null texts keep their row as an all-zero vector") {
    val docs = Seq(
      (1L, "alpha beta alpha"),
      (2L, ""), // empty text -> no tokens -> all-zero, NOT a unit vector
      (3L, null.asInstanceOf[String]), // null text -> treated as empty
      (4L, "  ")) // whitespace only -> split artifacts filtered out
      .toDF("doc_id", "text")
    val out = graft.pipeline.TextFeaturizer.embed(docs, "doc_id", "text", dim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L)) // every doc keeps its row
    Seq(2L, 3L, 4L).foreach { id =>
      assert(out(id).forall(_ == 0.0), s"doc $id should be all-zero: ${out(id)}")
    }
    // the real doc is L2-normalized
    assert(math.abs(out(1L).map(v => v * v).sum - 1.0) < 1e-12)
  }

  test("Tfidf: materialized DF index scores identically to the inline path") {
    import graft.pipeline.Tfidf
    val docs = graft.engine.Tables.documents(spark, sfDir).limit(200)
    val idx = tempDir("tfidf_idx")
    Tfidf.materializeDf(docs, "doc_id", "text", idx)
    val inline = Tfidf.topTerms(docs, "doc_id", "text",
        Tfidf.docFrequencies(docs, "doc_id", "text"),
        Tfidf.corpusSize(docs, "doc_id"), k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val indexed = Tfidf.topTermsIndexed(spark, docs, "doc_id", "text", idx, k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(indexed === inline)
    // a new doc whose terms all exist in the index scores without
    // rescanning the corpus; unseen terms are dropped (no IDF yet)
    import spark.implicits._
    val fresh = Seq((999999L, "data data system zzzunseenzzz")).toDF("doc_id", "text")
    val scored = Tfidf.topTermsIndexed(spark, fresh, "doc_id", "text", idx, k = 5)
      .collect().map(r => (r.getString(1), r.getInt(2)))
    assert(scored.nonEmpty)
    assert(!scored.map(_._1).contains("zzzunseenzzz"))
  }

  test("Tfidf: top-k ranking is invariant under input repartitioning") {
    // rank ties broken only by non-deterministic partition order would
    // flip terms between runs; the (rounded score, term) total order must
    // make the answer partitioning-independent
    import graft.pipeline.Tfidf
    val docs = graft.engine.Tables.documents(spark, sfDir).limit(300)
    def run(d: org.apache.spark.sql.DataFrame) =
      Tfidf.topTerms(d, "doc_id", "text",
          Tfidf.docFrequencies(d, "doc_id", "text"),
          Tfidf.corpusSize(d, "doc_id"), k = 3)
        .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getString(1)).toMap
    assert(run(docs.repartition(17)) === run(docs.coalesce(1)))
  }

  test("TermIndex: stored sketch sums are sound lower bounds within the MG guarantee") {
    import graft.pipeline.TermIndex
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val dir = tempDir("termindex")
    val kWidth = 64
    TermIndex.materialize(docs, "text", col("source"), dir, k = kWidth)

    val trueCounts = docs
      .select(explode(array_remove(
        graft.functions.TextShingles.wordTokens(col("text")), "")).as("t"))
      .groupBy("t").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = trueCounts.values.sum
    val slack = n.toDouble / (kWidth + 1)

    // k wider than shards × sketch width, so the cut drops nothing and
    // assertion (b) sees every stored term
    val indexed = TermIndex.topTermsIndexed(spark, dir, k = 4096)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(indexed.nonEmpty)
    assert(TermIndex.totalTerms(spark, dir) === n)
    // (a) every reported count is a lower bound within n/(k'+1) of truth
    indexed.foreach { case (term, lb) =>
      val t = trueCounts(term)
      assert(lb <= t, s"$term: reported $lb above true $t")
      assert(t - lb <= slack, s"$term: understated by ${t - lb} > $slack")
    }
    // (b) no term heavier than n/(k'+1) can be missing from the index
    trueCounts.filter(_._2 > slack).keys.foreach { term =>
      assert(indexed.contains(term), s"heavy term $term missing from index")
    }
  }

  test("TermIndex: a re-materialized index serves fresh counts on the next call") {
    import graft.pipeline.TermIndex
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val dir = tempDir("termindex_swap")
    TermIndex.materialize(docs.filter(col("doc_id") % 2 === 0), "text",
      col("source"), dir)
    val half = TermIndex.topTermsIndexed(spark, dir, k = 5)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    TermIndex.materialize(docs, "text", col("source"), dir)
    val full = TermIndex.topTermsIndexed(spark, dir, k = 5)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val common = half.keySet.intersect(full.keySet)
    assert(common.nonEmpty, "no overlapping heavy terms across the swap")
    common.foreach { t =>
      assert(full(t) > half(t), s"$t: full-corpus count ${full(t)} !> ${half(t)}")
    }
  }
}
