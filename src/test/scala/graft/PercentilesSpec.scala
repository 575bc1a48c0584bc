package graft

import org.apache.spark.sql.functions._
import graft.operators.Percentiles

class PercentilesSpec extends SparkSpec {

  test("histogram percentiles equal the built-in exact percentile") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // duplicate-heavy (dictionary-like) and continuous columns, plus nulls
    val rows = (1 to 5000).map { i =>
      val g = Seq("a", "b", "c")(i % 3)
      val dict = (rnd.nextInt(40) + 1).toDouble
      val cont = rnd.nextDouble() * 1e6
      (g, dict, if (i % 11 == 0) None else Some(cont))
    }
    val df = rows.toDF("g", "dict", "cont")
    val got = Percentiles.exact(df, Seq("g"),
      Seq(("d50", "dict", 0.5), ("d90", "dict", 0.9),
        ("c25", "cont", 0.25), ("c95", "cont", 0.95)))
      .orderBy("g").collect()
    val want = df.groupBy("g").agg(
      expr("percentile(dict, 0.5)").as("d50"),
      expr("percentile(dict, 0.9)").as("d90"),
      expr("percentile(cont, 0.25)").as("c25"),
      expr("percentile(cont, 0.95)").as("c95"))
      .orderBy("g").collect()
    assert(got.length === want.length)
    got.zip(want).foreach { case (a, b) =>
      assert(a.getString(0) === b.getString(0))
      (1 to 4).foreach { i =>
        assert(math.abs(a.getDouble(i) - b.getDouble(i)) < 1e-6,
          s"col $i group ${a.getString(0)}: ${a.getDouble(i)} vs ${b.getDouble(i)}")
      }
    }
  }

  test("single-row and single-value groups interpolate to the value itself") {
    import spark.implicits._
    val df = Seq(("a", 5.0), ("b", 1.0), ("b", 1.0), ("b", 1.0)).toDF("g", "v")
    val out = Percentiles.exact(df, Seq("g"), Seq(("p50", "v", 0.5), ("p99", "v", 0.99)))
      .orderBy("g").collect()
    assert(out(0).getDouble(1) === 5.0 && out(0).getDouble(2) === 5.0)
    assert(out(1).getDouble(1) === 1.0 && out(1).getDouble(2) === 1.0)
  }

  test("discrete picks actual data values at the ceil-rank, incl. p=0 and p=1") {
    import spark.implicits._
    // 4 values with duplicates: cumulative shares 0.25/0.75/1.0
    val df = Seq(("g", 10.0), ("g", 20.0), ("g", 20.0), ("g", 30.0)).toDF("g", "v")
    val out = Percentiles.discrete(df, Seq("g"),
      Seq(("p0", "v", 0.0), ("p25", "v", 0.25), ("p50", "v", 0.5),
        ("p75", "v", 0.75), ("p100", "v", 1.0))).collect().head
    assert(out.getDouble(1) === 10.0) // p=0 → first element
    assert(out.getDouble(2) === 10.0) // ceil(.25·4)=1 → 1st
    assert(out.getDouble(3) === 20.0) // ceil(.5·4)=2 → 2nd
    assert(out.getDouble(4) === 20.0) // ceil(.75·4)=3 → 3rd
    assert(out.getDouble(5) === 30.0) // p=1 → last
    // never interpolates: every output is one of the input values
    val vals = Set(10.0, 20.0, 30.0)
    (1 to 5).foreach(i => assert(vals.contains(out.getDouble(i))))
  }

  test("weightedDiscrete: unit weights reduce to discrete; weights shift the pick") {
    import spark.implicits._
    val df = Seq(("g", 10.0, 1L), ("g", 20.0, 1L), ("g", 20.0, 1L), ("g", 30.0, 1L))
      .toDF("g", "v", "w")
    val unit = Percentiles.weightedDiscrete(df, Seq("g"), "v", "w",
      Seq(("p25", 0.25), ("p50", 0.5), ("p100", 1.0))).collect().head
    val disc = Percentiles.discrete(df, Seq("g"),
      Seq(("p25", "v", 0.25), ("p50", "v", 0.5), ("p100", "v", 1.0))).collect().head
    (1 to 3).foreach(i => assert(unit.getDouble(i) === disc.getDouble(i)))

    // one heavy row dominates: 10.0 carries 90 of 93 units of weight, so
    // every percentile up to p=0.9 picks it even though it is 1 of 4 rows
    val wdf = Seq(("g", 10.0, 90L), ("g", 20.0, 1L), ("g", 25.0, 1L), ("g", 30.0, 1L))
      .toDF("g", "v", "w")
    val out = Percentiles.weightedDiscrete(wdf, Seq("g"), "v", "w",
      Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99))).collect().head
    assert(out.getDouble(1) === 10.0)
    assert(out.getDouble(2) === 10.0) // rank ceil(.9·93)−1 = 83 < 90 → heavy value
    assert(out.getDouble(3) === 30.0) // rank ceil(.99·93)−1 = 92 → last unit of weight
  }

  test("weightedDiscrete ≡ discrete over the weight-expanded rows (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val spark2 = spark
    import spark2.implicits._
    val row = for {
      v <- Gen.chooseNum(0, 20)
      w <- Gen.chooseNum(1L, 5L)
    } yield (v.toDouble, w)
    val prop = Prop.forAll(Gen.nonEmptyListOf(row), Gen.chooseNum(0.0, 1.0)) {
      (rows, p) =>
        val df = rows.map { case (v, w) => ("g", v, w) }.toDF("g", "v", "w")
        val weighted = Percentiles.weightedDiscrete(
          df, Seq("g"), "v", "w", Seq(("q", p))).head().getDouble(1)
        val expanded = rows.flatMap { case (v, w) => Seq.fill(w.toInt)(("g", v)) }
          .toDF("g", "v")
        val plain = Percentiles.discrete(
          expanded, Seq("g"), Seq(("q", "v", p))).head().getDouble(1)
        weighted == plain
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40)
        .withInitialSeed(org.scalacheck.rng.Seed(47L)), prop)
    assert(res.passed, res.status.toString)
  }
}
