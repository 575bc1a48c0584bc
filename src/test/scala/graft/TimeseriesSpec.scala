package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.queries.Registry

/** Math-level sanity for the time-series screen family (q_changepoint /
  * q_acf / q_cross_corr / q_trend_mk): the DuckDB oracle proves the two
  * engines agree; these fixtures prove the statistics DETECT what they
  * claim to detect — an injected level shift, a known period, a known
  * lead, a monotone trend — on synthetic series where the right answer
  * is derivable by hand.
  */
class TimeseriesSpec extends SparkSpec {

  private def day(i: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-${i}%02d 12:00:00")

  /** Write a synthetic events table (one or more rows per day) and return
    * its directory; schema mirrors the fixture events table.
    */
  private def eventsDir(rows: Seq[(Long, Timestamp, Long, String, Double)]): String = {
    val dir = tempDir("graft_ts_spec")
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def run(name: String, dir: String): DataFrame =
    Registry.all.find(_.name == name).get.run(spark, dir)

  test("q_changepoint pins the injected level shift to the exact split day") {
    // level 100 on days 1..10, level 500 on days 11..20: the CUSUM
    // statistic is maximized at the boundary (day 10), and the two
    // display means recover the levels exactly.
    val rows = (1 to 20).map { i =>
      val v = if (i <= 10) 100.0 else 500.0
      (i.toLong, day(i), 1L, "click", v)
    }
    val out = run("q_changepoint", eventsDir(rows)).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Timestamp]("split_day").toString.startsWith("2024-01-10"),
      s"split day was ${r.getAs[Timestamp]("split_day")}")
    assert(r.getAs[Long]("days_before") == 10L)
    assert(r.getAs[Double]("mean_before_d") == 100.0)
    assert(r.getAs[Double]("mean_after_d") == 500.0)
  }

  test("q_acf recovers an exact period-2 alternation: acf(1) = -(n-1)/n class") {
    // Daily revenue alternating 100/300 for 20 days: residuals alternate
    // ±100·n exactly, so acf at odd lags is strongly negative and at
    // even lags strongly positive — and lag 2 beats lag 1 in absolute
    // rank ordering of the sign pattern.
    val rows = (1 to 20).map { i =>
      val v = if (i % 2 == 0) 300.0 else 100.0
      (i.toLong, day(i), 1L, "view", v)
    }
    val acf = run("q_acf", eventsDir(rows)).collect()
      .map(r => r.getAs[Int]("lag_k") -> r.getAs[Double]("acf")).toMap
    assert(acf(1) < -0.9, s"acf(1)=${acf(1)}")
    assert(acf(2) > 0.85, s"acf(2)=${acf(2)}")
    assert(acf(3) < -0.8, s"acf(3)=${acf(3)}")
  }

  test("q_cross_corr peaks at the lag by which clicks lead purchase revenue") {
    // Click VOLUME spikes on days {3, 9, 15}; purchase revenue spikes
    // exactly 2 days later. The ccf must peak at lag +2 (rb leads by
    // +2 in the stack convention: lead(rb, 2) aligns with ra).
    val clickRows = (1 to 20).flatMap { i =>
      val n = if (Set(3, 9, 15)(i)) 40 else 4
      (1 to n).map(j => ((i * 1000 + j).toLong, day(i), j.toLong, "click", 1.0))
    }
    val purchaseRows = (1 to 20).map { i =>
      val v = if (Set(5, 11, 17)(i)) 900.0 else 50.0
      ((100000 + i).toLong, day(i), 99L, "purchase", v)
    }
    val ccf = run("q_cross_corr", eventsDir(clickRows ++ purchaseRows)).collect()
      .map(r => r.getAs[Int]("lag_k") -> r.getAs[Double]("ccf")).toMap
    val peak = ccf.maxBy(_._2)
    assert(peak._1 == 2, s"ccf peak at lag ${peak._1}, table $ccf")
    assert(peak._2 > 0.8, s"peak ccf ${peak._2}")
  }

  test("q_trend_mk: monotone series saturates S and z; flat series is zero") {
    val up = (1 to 15).map(i => (i.toLong, day(i), 1L, "view", 100.0 + i * 10))
    val outUp = run("q_trend_mk", eventsDir(up)).collect()(0)
    // strictly increasing: every pair agrees, S = n(n-1)/2 = 105
    assert(outUp.getAs[Long]("s") == 105L)
    assert(outUp.getAs[Double]("z") > 3.0, s"z=${outUp.getAs[Double]("z")}")

    val flat = (1 to 15).map(i => (i.toLong, day(i), 1L, "view", 250.0))
    val outFlat = run("q_trend_mk", eventsDir(flat)).collect()(0)
    assert(outFlat.getAs[Long]("s") == 0L)
    assert(outFlat.getAs[Double]("z") == 0.0)
  }

  test("q_spc_rules fires R1 on a spike and R4 on a sustained run") {
    // baseline days 1-10 alternate 99/101 (tight, nonzero variance);
    // day 12 spikes far beyond 3 sigma (R1); days 15-22 sit at 103 — an
    // 8-day run above the baseline mean (R4) that stays inside 3 sigma?
    // no: sigma is 1, so 103 is 3 sigma... use 100.8 (0.8 sigma: only
    // R4 fires, not R1/R2).
    val rows = (1 to 22).map { i =>
      val v =
        if (i <= 10) { if (i % 2 == 0) 101.0 else 99.0 }
        else if (i == 12) 500.0
        else if (i >= 15) 100.8
        else 100.0
      (i.toLong, day(i), 1L, "purchase", v)
    }
    val out = run("q_spc_rules", eventsDir(rows)).collect()
      .map(r => r.getAs[java.sql.Timestamp]("day").toString.take(10) ->
        (r.getAs[Long]("r1"), r.getAs[Long]("r2"), r.getAs[Long]("r3"),
          r.getAs[Long]("r4"))).toMap
    assert(out("2024-01-12")._1 == 1L, s"R1 missed the spike: $out")
    assert(out("2024-01-11")._1 == 0L)
    // R4: 8th consecutive above-mean day is day 22
    assert(out("2024-01-22")._4 == 1L, s"R4 missed the run: $out")
    assert(out("2024-01-21")._4 == 0L, s"R4 fired early: $out")
    // the run at 0.8 sigma must not trip the 2-sigma/1-sigma-run rules
    assert(out("2024-01-22")._2 == 0L && out("2024-01-22")._3 == 0L)
  }

  test("q_spc_rules survives 100x-scale daily revenue (variance chain must not overflow)") {
    // Regression for the THIRD instance of the Long-overflow class (after
    // the graph d²·13 and q_chisq n·r·c): daily cents past ~3.04e9 wrap
    // Long in the old sum(c²)/s² variance chain (the 100× value-shifted
    // corpus reaches ~3e15 cents/day). The chain now runs in exact
    // DECIMAL(38,0) (HUGEINT in the oracle) and converts to double only
    // at the final sqrt. Values here put c ≈ 5e9 — squarely in the old
    // overflow band — while keeping the alternating-baseline shape.
    val rows = (1 to 12).map { i =>
      val v =
        if (i <= 10) { if (i % 2 == 0) 5.0e7 + 1 else 5.0e7 - 1 }
        else 5.0e7
      (i.toLong, day(i), 1L, "purchase", v)
    }
    val out = run("q_spc_rules", eventsDir(rows)).collect()
    assert(out.length == 2, s"big-cents SPC screen must execute: ${out.length} rows")
  }

  test("q_forecast_hw matches an independent in-memory Holt-Winters fold") {
    // trending + weekly-seasonal series, one event per day for 28 days
    val seas = Array(70.0, 0.0, -70.0, 35.0, -35.0, 14.0, -14.0)
    val rows = (1 to 28).map { i =>
      val dollars = 1000.0 + 10.0 * i + seas((i - 1) % 7)
      (i.toLong, day(i), 1L, "purchase", dollars)
    }
    // reference fold in cents, same init and identical update order
    val y = rows.map(r => math.round(r._5 * 100).toDouble).toArray
    val w1 = y.take(7).sum; val w2 = y.slice(7, 14).sum
    var l = w1 / 7; var b = (w2 - w1) / 49
    var s = y.take(7).map(_ - w1 / 7)
    (7 until 28).foreach { i =>
      val s1 = s.head
      val ln = 0.3 * (y(i) - s1) + 0.7 * (l + b)
      val bn = 0.1 * (ln - l) + 0.9 * b
      val sn = 0.2 * (y(i) - ln) + 0.8 * s1
      l = ln; b = bn; s = s.tail :+ sn
    }
    val expect = (1 to 7).map(h =>
      h -> (math.rint((l + h * b + s(h - 1)) / 100 * 1e4) / 1e4)).toMap
    val got = run("q_forecast_hw", eventsDir(rows)).collect()
      .map(r => r.getAs[Int]("h") -> r.getAs[Double]("forecast_d")).toMap
    (1 to 7).foreach { h =>
      assert(math.abs(got(h) - expect(h)) < 1e-9,
        s"h=$h got ${got(h)} expect ${expect(h)}")
    }
    // the trend must show: later horizons forecast higher revenue
    assert(got(7) > got(1))
  }
}
