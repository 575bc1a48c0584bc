package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.engine.Tables
import graft.functions.SketchFns._
import graft.functions.expressions.TupleState

/** Tuple-sketch correctness: exactness of BOTH the distinct count and the
  * carried metric sums while untrimmed, split-invariant merging (the
  * retained (key → metric-total) map is identical for any partitioning of
  * the stream), set-algebra exactness in the untrimmed regime, and fixture
  * error bounds for every estimate q_tuple_metrics emits in its trimmed
  * (k=64) configuration.
  */
class TupleSketchSpec extends SparkSpec {

  private def check(p: Prop): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(200)
      .withInitialSeed(org.scalacheck.rng.Seed(53L))
    val res = SCTest.check(params, p)
    assert(res.passed, res.status.toString)
  }

  private def stateOf(k: Int, xs: Iterable[(Long, Long)]): TupleState = {
    val st = new TupleState(k)
    xs.foreach { case (key, m) => st.add(TupleState.hash63(key), m) }
    st
  }

  private def entriesOf(st: TupleState): Map[Long, Long] = {
    val b = Map.newBuilder[Long, Long]
    st.entries.forEach((h, m) => b += (h.longValue() -> m.longValue()))
    b.result()
  }

  test("untrimmed sketch is exact for distinct count AND metric sums") {
    // 200 keys < k=256, each key seen twice with metrics summing to key*3
    val xs = (1L to 200L).map(k => (k, k)) ++ (1L to 200L).map(k => (k, 2 * k))
    val st = stateOf(256, xs)
    assert(st.theta == Long.MaxValue)
    assert(math.round(st.distinctEstimate) == 200L)
    assert(math.round(st.sumEstimate) == 3L * (200L * 201L / 2L))
  }

  test("merge is split-invariant for arbitrary streams (ScalaCheck)") {
    val pairs = Gen.listOf(Gen.zip(Gen.chooseNum(0L, 3000L), Gen.chooseNum(-100L, 100L)))
    check(Prop.forAll(pairs, Gen.chooseNum(2, 6)) { (xs, nParts) =>
      val whole = stateOf(64, xs)
      val parts = Seq.fill(nParts)(new TupleState(64))
      xs.zipWithIndex.foreach { case ((key, m), i) =>
        parts(i % nParts).add(TupleState.hash63(key), m)
      }
      val merged = new TupleState(64)
      parts.foreach(merged.mergeFrom)
      merged.theta == whole.theta && entriesOf(merged) == entriesOf(whole)
    })
  }

  test("serialization round-trips the full state") {
    val st = stateOf(64, (0L to 500L).map(k => (k, k % 7)))
    val rt = TupleState.deserialize(st.serialized)
    assert(rt.k == st.k && rt.theta == st.theta && entriesOf(rt) == entriesOf(st))
  }

  test("set algebra is exact (counts and sums) in the untrimmed regime") {
    val spark2 = spark
    import spark2.implicits._
    // A: keys 1..150 metric 2/key; B: keys 100..250 metric 5/key
    val a = (1L to 150L).map(k => (k, 2L)).toDF("k", "m")
    val b = (100L to 250L).map(k => (k, 5L)).toDF("k", "m")
    val ska = a.agg(tupleSketch(col("k"), col("m"), 512).as("sk"))
    val skb = b.agg(tupleSketch(col("k"), col("m"), 512).as("sk"))
    val row = ska.crossJoin(skb.withColumnRenamed("sk", "sk2"))
      .select(
        tupleDistinct(col("sk")).as("na"),
        tupleSum(col("sk")).as("suma"),
        tupleDistinct(tupleIntersect(col("sk"), col("sk2"))).as("nboth"),
        tupleSum(tupleIntersect(col("sk"), col("sk2"))).as("sumboth"),
        tupleDistinct(tupleANotB(col("sk"), col("sk2"))).as("nonly"),
        tupleSum(tupleANotB(col("sk"), col("sk2"))).as("sumonly"),
        tupleDistinct(tupleUnion(col("sk"), col("sk2"))).as("neither"),
        tupleSum(tupleUnion(col("sk"), col("sk2"))).as("sumeither"))
      .head()
    assert(row.getLong(0) == 150L)
    assert(row.getLong(1) == 300L)            // 150 keys × 2
    assert(row.getLong(2) == 51L)             // 100..150
    assert(row.getLong(3) == 51L * (2L + 5L)) // intersect keeps BOTH sides' sums
    assert(row.getLong(4) == 99L)             // 1..99
    assert(row.getLong(5) == 99L * 2L)        // A-only keeps A's sums
    assert(row.getLong(6) == 250L)            // 1..250
    assert(row.getLong(7) == 150L * 2L + 151L * 5L) // union sums both sides
  }

  test("trimmed estimates are within 3/sqrt(k) of truth for uniform streams") {
    // deterministic pseudo-random keys; truth metric = per-key metric sums
    val xs = (0 until 20000).map(i => ((i * 2654435761L) % 15000, (i % 7).toLong))
    val distinctTruth = xs.map(_._1).distinct.size
    val sumTruth = xs.map(_._2).sum
    val st = stateOf(1024, xs)
    assert(st.theta < Long.MaxValue) // genuinely trimmed
    val relD = math.abs(st.distinctEstimate - distinctTruth) / distinctTruth
    val relS = math.abs(st.sumEstimate - sumTruth) / sumTruth
    assert(relD <= 3.0 / math.sqrt(1024), s"distinct truth=$distinctTruth est=${st.distinctEstimate}")
    assert(relS <= 4.0 / math.sqrt(1024), s"sum truth=$sumTruth est=${st.sumEstimate}")
  }

  test("aggregate is partitioning-invariant on the fixture") {
    val e = Tables.events(spark, sfDir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
    def blob(df: org.apache.spark.sql.DataFrame): Seq[Byte] =
      df.agg(tupleSketch(col("user_id"), col("cents"), 64).as("sk"))
        .head().getAs[Array[Byte]](0).toSeq
    assert(blob(e) == blob(e.repartition(7)))
  }

  test("q_tuple_metrics estimates are within KMV error of the exact values") {
    import graft.queries.Registry
    val e = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("cents", round(col("value") * 100).cast("long"))
    val perUser = e.groupBy("event_type", "user_id")
      .agg(sum("cents").as("s")).collect()
    val clicks = perUser.filter(_.getString(0) == "click")
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    val purchases = perUser.filter(_.getString(0) == "purchase")
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    val bothKeys = clicks.keySet.intersect(purchases.keySet)
    val onlyKeys = clicks.keySet.diff(purchases.keySet)

    val r = Registry.queries("q_tuple_metrics")(spark, sfDir).head()
    def rel(got: Long, truth: Long): Double =
      math.abs(got - truth).toDouble / math.max(truth, 1L)
    // At sf0.001 (15 users) k=64 is untrimmed, so these pass exactly; the
    // bounds are sized for the trimmed sf0.01 regime (150 users > k=64,
    // rse ≈ 1/sqrt(k-1) ≈ 12.6%, 2σ; wider for intersection/difference
    // whose error scales with the union's theta) so the same assertions
    // hold if the fixture scale changes.
    def g(n: String): Long = r.getLong(r.fieldIndex(n))
    assert(rel(g("n_click"), clicks.size) <= 0.26, s"n_click ${g("n_click")} vs ${clicks.size}")
    assert(rel(g("click_cents"), clicks.values.sum) <= 0.30)
    assert(rel(g("n_purchase"), purchases.size) <= 0.26)
    assert(rel(g("purchase_cents"), purchases.values.sum) <= 0.30)
    val bothCents = bothKeys.toSeq.map(k => clicks(k) + purchases(k)).sum
    assert(rel(g("n_both"), bothKeys.size) <= 0.5, s"n_both ${g("n_both")} vs ${bothKeys.size}")
    assert(rel(g("both_cents"), bothCents) <= 0.5)
    assert(rel(g("n_click_only"), onlyKeys.size) <= 0.7)
  }

  test("tuple functions are SQL-registered via GraftExtensions") {
    Tables.events(spark, sfDir).createOrReplaceTempView("ev_tuple_sql")
    val row = spark.sql(
      """SELECT tuple_distinct(sk) AS n, tuple_sum(sk) AS s
         FROM (SELECT tuple_sketch_agg(user_id,
                        CAST(round(value * 100) AS BIGINT), 65536) AS sk
               FROM ev_tuple_sql)""").head()
    val exact = Tables.events(spark, sfDir)
      .agg(
        countDistinct("user_id").as("n"),
        sum(round(col("value") * 100).cast("long")).as("s")).head()
    assert(row.getLong(0) == exact.getLong(0))
    assert(row.getLong(1) == exact.getLong(1))
  }
}
