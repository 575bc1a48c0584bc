package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.similarity.{Ann, IvfAnn}

class SimilaritySpec extends SparkSpec {

  test("brute-force knn returns k ranked neighbors per query with valid sims") {
    val e = Tables.embeddings(spark, sfDir)
    val out = Ann.knnBruteForce(e.filter(col("vec_id") < 5), e, k = 4).collect()
    assert(out.length === 5 * 4)
    out.foreach { r =>
      val sim = r.getDouble(3)
      assert(sim >= -1.0001 && sim <= 1.0001, s"cosine out of range: $sim")
      assert(r.getLong(0) !== r.getLong(1), "self-match leaked")
    }
    // ranks are 1..k and descending in sim per query
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(2))
      assert(byRank.map(_.getInt(2)).toSeq === (1 to 4))
      val sims = byRank.map(_.getDouble(3)).toSeq
      assert(sims === sims.sorted.reverse, s"sims not descending: $sims")
    }
  }

  test("knn top-k is a k-bounded aggregate, not a per-query window shuffle") {
    val e = Tables.embeddings(spark, sfDir)
    val plan = Ann.knnBruteForce(e.filter(col("vec_id") < 5), e, k = 4)
      .queryExecution.executedPlan.toString
    // Two-stage: ObjectHashAggregate(partial) map-side + final merge.
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate in:\n$plan")
    assert(!plan.contains("Window"), s"window top-k leaked back into:\n$plan")
    assert(plan.contains("partial_top_k_by"), s"expected map-side partial top_k_by in:\n$plan")
  }

  test("lsh ann only pairs vectors sharing a bucket and computes true cosine") {
    val e = Tables.embeddings(spark, sfDir)
    val buckets = e.select(col("vec_id"), Ann.lshBucket(col("embedding")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = Ann.knnLsh(e.filter(col("vec_id") < 10), e, k = 3).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(buckets(r.getLong(0)) === buckets(r.getLong(1)), "pair crosses buckets")
    }
    // spot-check: lsh sim equals brute-force sim for the same pair
    // k >= corpus size so every (query, candidate) pair is present
    val brute = Ann.knnBruteForce(e.filter(col("vec_id") < 10), e, k = 5000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    out.foreach { r =>
      val exact = brute((r.getLong(0), r.getLong(1)))
      assert(math.abs(exact - r.getDouble(3)) < 1e-9)
    }
  }

  test("materialized ivf index answers identically to the in-session build") {
    val e = Tables.embeddings(spark, sfDir)
    val qs = e.filter(col("vec_id") < 5)
    val dir = tempDir("ivf_idx")
    IvfAnn.materialize(e, dir, numCentroids = 8)
    val fromIndex = IvfAnn.knnIvfIndexed(spark, dir, qs, k = 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val inSession = IvfAnn.knnIvf(qs, e, k = 3, numCentroids = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fromIndex === inSession)
    // probes prune cell directories on the materialized layout
    val plan = IvfAnn.knnIvfIndexed(spark, dir, qs, k = 3, nProbe = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
  }

  test("incremental appendToIndex: probe-all parity, no lost rows, pruning intact") {
    val e = Tables.embeddings(spark, sfDir)
    val base = e.filter(col("vec_id") % 5 =!= 0)
    val batch = e.filter(col("vec_id") % 5 === 0 && col("vec_id") >= 5)
    val qs = e.filter(col("vec_id") < 5)
    val dir = tempDir("ivf_incr")
    IvfAnn.materialize(base, dir, numCentroids = 8)
    IvfAnn.appendToIndex(spark, dir, batch)
    val centroids = spark.read.parquet(s"$dir/centroids")

    // no lost or duplicated rows: the index now holds exactly base ∪ batch
    val assigned = spark.read.parquet(s"$dir/assigned")
    assert(assigned.count() === base.count() + batch.count())
    val served = assigned.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(batch.collect().map(_.getLong(0)).toSet.subsetOf(served),
      "appended batch rows missing from the index")

    // probe-all parity: with nProbe = numCentroids the incremental index
    // must answer exactly like a single-pass assignment of the same rows
    // against the same centroids (cell placement cannot hide results)
    val refDir = tempDir("ivf_ref")
    IvfAnn.assignCells(base.unionByName(batch), centroids)
      .repartition(col("cell")).write.partitionBy("cell").parquet(s"$refDir/assigned")
    val fromIndex = IvfAnn.knnIvfIndexed(spark, dir, qs, k = 3, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val reference = IvfAnn.knnIvfOn(
      spark.read.parquet(s"$refDir/assigned"), centroids, qs, k = 3, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fromIndex === reference)

    // the appended layout still prunes cell directories on partial probes
    val plan = IvfAnn.knnIvfIndexed(spark, dir, qs, k = 3, nProbe = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)

    // assignCells is deterministic (distance/cell tie-break is total)
    val a1 = IvfAnn.assignCells(batch, centroids)
      .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val a2 = IvfAnn.assignCells(batch.repartition(7), centroids)
      .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(a1 === a2)
  }

  test("ivf ann recalls a useful fraction of brute-force neighbors") {
    val e = Tables.embeddings(spark, sfDir)
    val qs = e.filter(col("vec_id") < 10)
    val ivf = IvfAnn.knnIvf(qs, e, k = 3, numCentroids = 8, nProbe = 4).collect()
    assert(ivf.nonEmpty)
    val ivfPairs = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val brutePairs = Ann.knnBruteForce(qs, e, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brutePairs.count(ivfPairs.contains).toDouble / brutePairs.size
    // probing half the cells must find a meaningful share of true top-3
    assert(recall >= 0.3, s"ivf recall $recall")
    // and every reported sim must be the true cosine for that pair
    val bruteSims = Ann.knnBruteForce(qs, e, k = 5000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    ivf.foreach(r => assert(math.abs(bruteSims((r.getLong(0), r.getLong(1))) - r.getDouble(3)) < 1e-9))
  }

  test("multi-probe lsh: nProbe=1 equals single-probe, recall rises with nProbe") {
    val e = Tables.embeddings(spark, sfDir)
    val qs = e.filter(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairs(Ann.knnLsh(qs, e, k = 3))
    val probe1 = pairs(Ann.knnLshMultiProbe(qs, e, k = 3, nProbe = 1))
    assert(probe1 === single, "nProbe=1 must reproduce the single-probe result")
    val brute = pairs(Ann.knnBruteForce(qs, e, k = 3))
    def recall(p: Set[(Long, Long)]) = brute.count(p.contains).toDouble / brute.size
    val r1 = recall(probe1)
    val r3 = recall(pairs(Ann.knnLshMultiProbe(qs, e, k = 3, nProbe = 3)))
    val r5 = recall(pairs(Ann.knnLshMultiProbe(qs, e, k = 3, nProbe = 5)))
    assert(r3 >= r1, s"recall must not drop with probes: $r1 -> $r3")
    assert(r5 >= r3, s"recall must not drop with probes: $r3 -> $r5")
    assert(r5 > r1, s"probing 5 buckets should beat 1 on the fixture ($r1 -> $r5)")
  }

  test("k-center coreset replays the naive greedy walk with deterministic ties") {
    import spark.implicits._
    // 2-D points embedded as float arrays; naive greedy is trivial to
    // recompute driver-side
    val pts = Seq(
      (0L, Array(0f, 0f)), (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(10f, 0f)), (4L, Array(0f, 10f)), (5L, Array(10f, 10f)),
      (6L, Array(5f, 5f)))
    val df = pts.toDF("vec_id", "embedding")
    val got = graft.similarity.Coreset.kCenters(df, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))

    def dist(a: Array[Float], b: Array[Float]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum)
    var sel = Vector(pts.head)
    var expect = Vector((1, 0L, 0.0))
    while (sel.size < 4) {
      val (next, d) = pts.filterNot(p => sel.exists(_._1 == p._1))
        .map(p => p -> sel.map(c => dist(p._2, c._2)).min)
        .minBy { case (p, d) => (-d, p._1) } // max dist, tie → smaller id
      sel = sel :+ next
      expect = expect :+ ((sel.size, next._1, d))
    }
    assert(got.map(t => (t._1, t._2)).toSeq === expect.map(t => (t._1, t._2)))
    got.zip(expect).foreach { case (g, e) => assert(math.abs(g._3 - e._3) < 1e-9) }
    // selection-time distances never increase (greedy invariant)
    val ds = got.map(_._3).drop(1)
    assert(ds.zip(ds.drop(1)).forall { case (a, b) => b <= a + 1e-12 })
  }

  test("k-center never re-picks an id when all remaining distances are zero") {
    import spark.implicits._
    // three ids at only two distinct locations; k=3 must still return
    // three DISTINCT ids (the zero-distance duplicate last), not loop on
    // the deterministic tie-break
    val pts = Seq(
      (0L, Array(0f, 0f)), (1L, Array(0f, 0f)), (2L, Array(9f, 0f)))
    val got = graft.similarity.Coreset.kCenters(
      pts.toDF("vec_id", "embedding"), "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSet === Set(0L, 1L, 2L))
    assert(got.last._2 === 0.0, "the duplicate point joins at distance 0")
  }
}
