package graft

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.Sketch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.engine.Tables

/** Theta-sketch correctness of Spark's built-in `theta_*` functions as the
  * engine uses them: exactness below k, partition-invariant aggregation,
  * algebraic consistency of the set ops, and fixture error bounds for
  * every estimate q_theta_setops emits. `lg` is log2 of the nominal
  * entries k.
  */
class ThetaSketchSpec extends SparkSpec {

  private def longs(xs: Seq[Long]): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    xs.toDF("v")
  }

  private def sketchOf(df: DataFrame, lg: Int): Array[Byte] =
    df.agg(theta_sketch_agg(col("v"), lg)).head().getAs[Array[Byte]](0)

  private def estimate(sk: Array[Byte]): Long =
    spark.range(1).select(theta_sketch_estimate(lit(sk))).head().getLong(0)

  test("sketch is exact while untrimmed (distinct count < k)") {
    val sk = sketchOf(longs((1L to 200L) ++ (1L to 200L)), lg = 8)
    assert(!Sketch.wrap(Memory.wrap(sk)).isEstimationMode)
    assert(estimate(sk) == 200L)
  }

  test("merge is split-invariant for arbitrary streams (ScalaCheck)") {
    // 200 generated streams, each sketched on 1, 7 and 16 partitions: the
    // partial sketches merge to the same bytes however a stream was
    // split; k=16 trims any stream past ~30 distinct values
    val streams = Gen.listOfN(200, Gen.listOf(Gen.chooseNum(0L, 5000L)))
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(47L))
    val spark2 = spark
    import spark2.implicits._
    val rows = streams.zipWithIndex.flatMap { case (xs, i) => xs.map(i -> _) }
      .toDF("stream", "v")
    def sketches(df: DataFrame): Map[Int, Seq[Byte]] =
      df.groupBy("stream").agg(theta_sketch_agg(col("v"), 4)).collect()
        .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val one = sketches(rows.coalesce(1))
    assert(one.size === streams.count(_.nonEmpty))
    assert(one.values.exists(sk => Sketch.wrap(Memory.wrap(sk.toArray)).isEstimationMode))
    for (n <- Seq(7, 16)) assert(sketches(rows.repartition(n)) === one, s"$n partitions")
  }

  test("KMV estimate is within 3/sqrt(k) of truth for uniform streams") {
    // deterministic pseudo-random values; truth = distinct count
    val xs = (0 until 20000).map(i => (i * 2654435761L) % 15000)
    val truth = xs.distinct.size
    val est = estimate(sketchOf(longs(xs), lg = 10))
    val rel = math.abs(est - truth).toDouble / truth
    assert(rel <= 3.0 / math.sqrt(1024), s"truth=$truth est=$est rel=$rel")
  }

  test("set algebra: estimate(A∩B) + estimate(A\\B) == estimate(A) when untrimmed") {
    val ska = longs(1L to 150L).agg(theta_sketch_agg(col("v"), 9).as("sk"))
    val skb = longs(100L to 250L).agg(theta_sketch_agg(col("v"), 9).as("sk2"))
    val row = ska.crossJoin(skb)
      .select(
        theta_sketch_estimate(col("sk")).as("na"),
        theta_sketch_estimate(theta_intersection(col("sk"), col("sk2"))).as("nboth"),
        theta_sketch_estimate(theta_difference(col("sk"), col("sk2"))).as("nonly"),
        theta_sketch_estimate(theta_union(col("sk"), col("sk2"), 9)).as("neither"))
      .head()
    assert(row.getLong(0) == 150L)
    assert(row.getLong(1) == 51L)  // 100..150
    assert(row.getLong(2) == 99L)  // 1..99
    assert(row.getLong(3) == 250L) // 1..250
    assert(row.getLong(1) + row.getLong(2) == row.getLong(0))
  }

  test("aggregate is partitioning-invariant on the fixture") {
    val o = Tables.orders(spark, sfDir).select(col("o_custkey"))
    // k=32 trims the fixture's customer keys
    def est(df: DataFrame): Long =
      df.agg(theta_sketch_estimate(theta_sketch_agg(col("o_custkey"), 5)))
        .head().getLong(0)
    val one = est(o.coalesce(1))
    assert(est(o.repartition(7)) == one)
    assert(est(o.repartition(16)) == one)
  }

  test("q_theta_setops estimates are within KMV error of the exact counts") {
    import graft.queries.Registry
    val o = Tables.orders(spark, sfDir)
      .withColumn("yr", expr("year(o_orderdate)"))
      .filter(col("yr").isin(1996, 1997))
      .select("yr", "o_custkey")
    val a = o.filter(col("yr") === 1996).select("o_custkey").distinct()
    val b = o.filter(col("yr") === 1997).select("o_custkey").distinct()
    val na = a.count(); val nb = b.count()
    val nBoth = a.intersect(b).count()
    val nOnly = a.exceptAll(b.distinct()).count()
    val nEither = a.union(b).distinct().count()

    val est = Registry.queries("q_theta_setops")(spark, sfDir).head()
    def rel(got: Long, truth: Long): Double =
      math.abs(got - truth).toDouble / math.max(truth, 1L)
    // k=256: rse ≈ 1/sqrt(k-1) ≈ 6.3%; 2σ single-sketch bound,
    // wider for intersection/difference whose error scales with the
    // (larger) union's theta rather than the result size.
    assert(rel(est.getLong(est.fieldIndex("n_1996")), na) <= 0.13, s"n_1996 $est vs $na")
    assert(rel(est.getLong(est.fieldIndex("n_1997")), nb) <= 0.13, s"n_1997 $est vs $nb")
    assert(rel(est.getLong(est.fieldIndex("n_either")), nEither) <= 0.13)
    assert(rel(est.getLong(est.fieldIndex("n_both")), nBoth) <= 0.25)
    assert(rel(est.getLong(est.fieldIndex("n_only_1996")), nOnly) <= 0.25)
  }

  test("cube rollup: union of cell sketches is byte-identical to the direct sketch") {
    val ev = Tables.events(spark, sfDir)
    // k=64 is below every type's ~200 distinct event ids, so the sketches
    // trim and this pins the strong invariant: k-smallest-of-union ==
    // k-smallest, regardless of how the rows were grouped into cells first
    val cells = ev
      .groupBy(col("event_type"), expr("date_trunc('day', ts)").as("day"))
      .agg(theta_sketch_agg(col("event_id"), 6).as("sk"))
    val rolled = cells.groupBy("event_type")
      .agg(theta_union_agg(col("sk"), 6).as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val direct = ev.groupBy("event_type")
      .agg(theta_sketch_agg(col("event_id"), 6).as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(rolled.keySet === direct.keySet)
    direct.foreach { case (t, sk) =>
      assert(Sketch.wrap(Memory.wrap(sk.toArray)).isEstimationMode, s"$t is untrimmed")
    }
    rolled.foreach { case (t, sk) => assert(sk === direct(t), s"cube rollup differs for $t") }
    // and the registry query serves plausible estimates from the cells
    val est = graft.queries.Registry.queries("q_theta_cube")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val exact = ev.groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    est.foreach { case (t, e) =>
      val rel = math.abs(e - exact(t)).toDouble / math.max(exact(t), 1L)
      assert(rel <= 0.13, s"$t: est=$e exact=${exact(t)}")
    }
  }

  test("q_theta_jaccard estimates bound the exact cohort Jaccard per pair") {
    import graft.queries.Registry
    val ev = Tables.events(spark, sfDir).select("event_type", "user_id")
    val cohorts = ev.collect().groupBy(_.getString(0))
      .map { case (t, rows) => t -> rows.map(_.getLong(1)).toSet }
    val rows = Registry.queries("q_theta_jaccard")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (cohorts(r.getString(0)), cohorts(r.getString(1)))
      val exact = a.intersect(b).size.toDouble / a.union(b).size
      val est = r.getDouble(2)
      // intersection error dominates (scales with union's theta); the
      // ratio of two estimates gets an additive bound, not relative
      assert(math.abs(est - exact) <= 0.25,
        s"${r.getString(0)}/${r.getString(1)}: est=$est exact=$exact")
    }
  }
}
