package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.similarity.{Ann, Pq}

class PqSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("PQ codes are m one-byte symbols — the 32x compression claim") {
    val cb = Pq.trainCodebooks(emb, "vec_id", "embedding", m = 8, kCodes = 16)
    assert(cb.count() == 8 * 16)
    val codes = Pq.encode(emb, "vec_id", "embedding", cb, m = 8).collect()
    assert(codes.length == emb.count())
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 8, s"codes ${cs.length} != m")
      assert(cs.forall(c => c >= 0 && c < 16), s"code out of byte range: $cs")
    }
  }

  test("PQ shortlist + exact rerank recalls most exact top-k neighbors") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Ann.knnBruteForce(queries, emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Pq.knnPq(queries, emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(pq.contains).toDouble / exact.size
    assert(recall >= 0.5, s"PQ+rerank recall@5 $recall over ${exact.size} pairs")
  }

  test("pure ADC (no rerank) still beats the random-candidate baseline by far") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Ann.knnBruteForce(queries, emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Pq.knnPq(queries, emb, k = 5, rerankFactor = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(pq.contains).toDouble / exact.size
    // 8x16 codes on 64-dim near-random vectors are coarse — lossy by
    // design; the random baseline is k/N = 1%, so 15% proves the codes
    // carry real signal even before the rerank stage.
    assert(recall >= 0.15, s"ADC-only recall@5 $recall")
  }

  test("PQ approximate similarity tracks exact cosine") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Ann.knnBruteForce(queries, emb, k = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val approx = Pq.knnPq(queries, emb, k = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val common = exact.keySet.intersect(approx.keySet)
    assert(common.nonEmpty)
    val meanErr = common.toSeq.map(p => math.abs(exact(p) - approx(p))).sum / common.size
    assert(meanErr < 0.2, s"mean |approx - exact| = $meanErr")
  }

  test("IVFPQ probing every cell is identical to plain PQ") {
    val queries = emb.filter(col("vec_id") < 10)
    val all = Pq.knnIvfPq(queries, emb, k = 3, numCentroids = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val plain = Pq.knnPq(queries, emb, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(all == plain, "probe-all IVFPQ diverged from plain PQ")
  }

  test("IVFPQ with partial probing still recalls most exact neighbors") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Ann.knnBruteForce(queries, emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = Pq.knnIvfPq(queries, emb, k = 5, numCentroids = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(ivfpq.contains).toDouble / exact.size
    // probes half the cells AND quantizes — the compounding is the point;
    // random baseline is 1%
    assert(recall >= 0.3, s"IVFPQ recall@5 $recall")
  }

  test("materialized PQ index serves identical results to the inline path") {
    val dir = tempDir("graft_pq")
    Pq.materialize(emb, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val indexed = Pq.knnPqIndexed(spark, dir, queries, emb, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val inline = Pq.knnPq(queries, emb, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(indexed == inline, "indexed PQ diverged from inline PQ")
  }

  test("appendToIndex: batch codes ≡ one-shot encode under the same codebooks; index serves appended rows") {
    val dir = tempDir("graft_pq_inc")
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    Pq.materialize(half1, dir)
    Pq.appendToIndex(spark, dir, half2)
    // parity: appended codes must equal encoding the batch with the SAME
    // stored codebooks (no re-training happened)
    val cb = spark.read.parquet(s"$dir/codebooks")
    val expected = Pq.encode(half2, "vec_id", "embedding", cb, m = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val stored = spark.read.parquet(s"$dir/codes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(stored.size === emb.count(), "appended index lost rows")
    expected.foreach { case (id, codes) =>
      assert(stored(id) === codes, s"appended codes diverged for id $id")
    }
    // serving: the indexed query now sees appended vectors as candidates
    val queries = emb.filter(col("vec_id") < 4)
    val cands = Pq.knnPqIndexed(spark, dir, queries, emb, k = 5, rerankFactor = 1)
      .collect().map(_.getLong(1)).toSet
    assert(cands.exists(_ % 2 == 1), "no appended (odd-id) vector ever served")
  }

  test("exact-regime twin: covering shortlist makes PQ identical to brute force") {
    // the q_ann_pq_exact premise — k·rerankFactor ≥ n−1 at this sf, so the
    // rerank IS exact cosine over every candidate
    val queries = emb.filter(col("vec_id") < 10)
    assert(3L * 1024 >= emb.count() - 1, "fixture outgrew the covering factor")
    val pq = Pq.knnPq(queries, emb, k = 3, rerankFactor = 1024)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val brute = Ann.knnBruteForce(queries, emb, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(pq === brute, "covering-shortlist PQ diverged from brute force")
  }

  test("q_ann_pq returns ranked rows per query") {
    val out = graft.queries.Registry.queries("q_ann_pq")(spark, sfDir).collect()
    assert(out.nonEmpty)
    val byQ = out.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getInt(2)).sorted.sameElements(1 to rows.length),
        "ranks not contiguous from 1")
    }
  }
}
