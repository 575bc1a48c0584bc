package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.queries.Registry

/** Math-level sanity for the model-eval family (q_auc /
  * q_classifier_eval / q_calibration_bins): the DuckDB oracle proves the
  * engines agree; these fixtures prove the metrics equal their textbook
  * values on hand-derivable inputs — perfect separation, a known tie
  * structure, a counted confusion matrix.
  */
class EvalSpec extends SparkSpec {

  private def eventsDir(rows: Seq[(Long, String, Double)]): String = {
    val dir = tempDir("graft_eval_spec")
    import spark.implicits._
    rows.zipWithIndex.map { case ((id, et, v), i) =>
      (id, Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 12:00:00"), 1L, et, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def run(name: String, dir: String): DataFrame =
    Registry.all.find(_.name == name).get.run(spark, dir)

  test("q_auc: perfect separation gives 1.0; all-tied gives 0.5") {
    val perfect = (1 to 10).map(i => (i.toLong, "click", 10.0 + i)) ++
      (11 to 20).map(i => (i.toLong, "purchase", 100.0 + i))
    val p = run("q_auc", eventsDir(perfect)).collect()(0)
    assert(p.getAs[Double]("auc") == 1.0, p.toString)

    val tied = (1 to 10).map(i => (i.toLong, "click", 50.0)) ++
      (11 to 20).map(i => (i.toLong, "purchase", 50.0))
    val t = run("q_auc", eventsDir(tied)).collect()(0)
    assert(t.getAs[Double]("auc") == 0.5, t.toString)
  }

  test("q_auc matches the hand-computed pair count on a mixed fixture") {
    // negatives at 10, 30; positives at 20, 30: pairs (pos > neg) =
    // {20>10, 30>10} = 2, ties = {30=30} = 1 → AUC = (2 + 0.5)/4 = 0.625
    val rows = Seq((1L, "click", 0.10), (2L, "click", 0.30),
      (3L, "purchase", 0.20), (4L, "purchase", 0.30))
    val r = run("q_auc", eventsDir(rows)).collect()(0)
    assert(r.getAs[Double]("auc") == 0.625, r.toString)
  }

  test("q_classifier_eval counts the confusion matrix and single-division metrics") {
    // threshold $50: 3 TP (purchase >= 50), 1 FN (purchase 40),
    // 2 FP (click 60, 70), 4 TN (clicks below)
    val rows = Seq(
      (1L, "purchase", 50.0), (2L, "purchase", 80.0), (3L, "purchase", 90.0),
      (4L, "purchase", 40.0),
      (5L, "click", 60.0), (6L, "click", 70.0),
      (7L, "click", 10.0), (8L, "click", 20.0), (9L, "click", 30.0),
      (10L, "click", 49.99))
    val r = run("q_classifier_eval", eventsDir(rows)).collect()(0)
    assert(r.getAs[Long]("tp") == 3 && r.getAs[Long]("fp") == 2 &&
      r.getAs[Long]("fn") == 1 && r.getAs[Long]("tn") == 4, r.toString)
    assert(r.getAs[Double]("accuracy") == 0.7)
    assert(r.getAs[Double]("precision_") == 0.6)
    assert(r.getAs[Double]("recall") == 0.75)
    // F1 = 2*3/(2*3+2+1) = 6/9
    assert(r.getAs[Double]("f1") == math.rint(6.0 / 9.0 * 1e6) / 1e6)
  }

  test("q_survival_km reproduces the hand-computed life table with censoring") {
    import spark.implicits._
    // u1 converts at t=2, u2 at t=4, u3 censored at t=2, u4 censored at
    // t=0. Table: t=0 (n=4, c=1, S=1), t=2 (n=3, d=1, c=1, S=2/3),
    // t=4 (n=1, d=1, S=0 terminal).
    def ev(id: Long, day: Int, uid: Long, et: String) =
      (id, Timestamp.valueOf(f"2024-03-$day%02d 09:00:00"), uid, et, 5.0)
    val rows = Seq(
      ev(1, 1, 1, "view"), ev(2, 3, 1, "purchase"),
      ev(3, 1, 2, "view"), ev(4, 5, 2, "purchase"),
      ev(5, 2, 3, "view"), ev(6, 4, 3, "click"),
      ev(7, 1, 4, "view"))
    val dir = tempDir("graft_km_spec")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = run("q_survival_km", dir).collect()
      .map(r => r.getAs[Int]("t") ->
        (r.getAs[Long]("n_risk"), r.getAs[Long]("d"), r.getAs[Long]("c"),
          r.getAs[Double]("survival_d"))).toMap
    assert(out(0) == ((4L, 0L, 1L, 1.0)), out.toString)
    assert(out(2) == ((3L, 1L, 1L, math.rint(2.0 / 3.0 * 1e6) / 1e6)), out.toString)
    assert(out(4) == ((1L, 1L, 0L, 0.0)), out.toString)
  }

  test("q_linreg_multi recovers exact coefficients on a noiseless linear fixture") {
    import spark.implicits._
    // per-user: y = 2 + 3*clicks + 0.5*views dollars, three independent
    // feature vectors -> the normal equations have the unique exact
    // solution (2, 3, 0.5).
    val users = Seq((1L, 2, 4), (2L, 5, 1), (3L, 1, 8), (4L, 7, 3))
    val rows = users.flatMap { case (u, cl, vw) =>
      val y = 2.0 + 3.0 * cl + 0.5 * vw
      (1 to cl).map(i => (u * 1000 + i, u, "click", 1.0)) ++
        (1 to vw).map(i => (u * 1000 + 100 + i, u, "view", 1.0)) :+
        ((u * 1000 + 999, u, "purchase", y))
    }
    val dir = tempDir("graft_ols_spec")
    rows.zipWithIndex.map { case ((id, uid, et, v), i) =>
      (id, Timestamp.valueOf(f"2024-04-${i % 28 + 1}%02d 10:00:00"), uid, et, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = run("q_linreg_multi", dir).collect()(0)
    assert(r.getAs[Long]("n") == 4)
    assert(r.getAs[Double]("b0_d") == 2.0, r.toString)
    assert(r.getAs[Double]("b_clicks_d") == 3.0, r.toString)
    assert(r.getAs[Double]("b_views_d") == 0.5, r.toString)
  }

  test("q_cuped: a perfectly predictive pre-period equalizes imbalanced arms") {
    import spark.implicits._
    // arm 0 (even users) has big spenders, arm 1 small — raw post-period
    // means differ; but post = 2 * pre exactly, so theta = 2 and the
    // CUPED adjustment removes ALL the pre-existing imbalance: adjusted
    // means must be equal (= 2 * global pre mean).
    val users = Seq((2L, 10.0), (4L, 20.0), (6L, 30.0),
      (1L, 1.0), (3L, 2.0), (5L, 3.0))
    val rows = users.zipWithIndex.flatMap { case ((uid, pre), i) =>
      Seq(
        (uid * 10 + 1, Timestamp.valueOf("2024-01-05 10:00:00"), uid,
          "purchase", pre),
        (uid * 10 + 2, Timestamp.valueOf("2024-01-20 10:00:00"), uid,
          "purchase", 2 * pre))
    }
    val dir = tempDir("graft_cuped_spec")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = run("q_cuped", dir).collect()(0)
    assert(r.getAs[Double]("theta") == 2.0, r.toString)
    assert(r.getAs[Double]("raw_mean0_d") != r.getAs[Double]("raw_mean1_d"))
    assert(r.getAs[Double]("cuped_mean0_d") == r.getAs[Double]("cuped_mean1_d"),
      r.toString)
    // both equal 2 * global pre mean = 2 * 11 = 22
    assert(r.getAs[Double]("cuped_mean0_d") == 22.0, r.toString)
  }

  test("q_gini: perfect equality is 0; a hand-computed two-user split is exact") {
    import spark.implicits._
    def giniDir(users: Seq[(Long, Double)]): String = {
      val d = tempDir("graft_gini_spec")
      users.zipWithIndex.map { case ((uid, v), i) =>
        (i.toLong + 1, Timestamp.valueOf(f"2024-05-${i + 1}%02d 10:00:00"),
          uid, "purchase", v)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
        .write.mode("overwrite").parquet(s"$d/events.parquet")
      d
    }
    val e = run("q_gini",
      giniDir((1 to 4).map(u => (u.toLong, 25.0)))).collect()(0)
    assert(e.getAs[Long]("n_users") == 4)
    assert(e.getAs[Double]("gini") == 0.0, e.toString)

    // users hold 1 and 99 cents: SiX=199, Sx=100, n=2 ->
    // G = (398-300)/200 = 0.49
    val g = run("q_gini",
      giniDir(Seq((1L, 0.01), (2L, 0.99)))).collect()(0)
    assert(g.getAs[Double]("gini") == 0.49, g.toString)
  }

  test("q_calibration_bins: rates rise with the bin on a monotone fixture") {
    // bin 0 ($0-20): 1 of 4 positive; bin 2 ($40-60): 3 of 4 positive
    val rows = Seq(
      (1L, "purchase", 10.0), (2L, "click", 11.0), (3L, "click", 12.0),
      (4L, "click", 13.0),
      (5L, "purchase", 45.0), (6L, "purchase", 46.0), (7L, "purchase", 47.0),
      (8L, "click", 48.0))
    val out = run("q_calibration_bins", eventsDir(rows)).collect()
      .map(r => r.getAs[Long]("bin") ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_pos"), r.getAs[Double]("pos_rate")))
      .toMap
    assert(out(0L) == ((4L, 1L, 0.25)), out.toString)
    assert(out(2L) == ((4L, 3L, 0.75)), out.toString)
  }
}
