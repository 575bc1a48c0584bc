package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables

/** §B datetime functions — Pinot's DATETRUNC / DATETIMECONVERT and the
  * timestamp-index fast path (reference:
  * /root/reference/basics/indexing/timestamp-index.md — Pinot materializes
  * truncated-granularity columns; here the truncation is a codegen'd
  * expression on the scan, and at 100 TB the same shape rides on
  * time-partitioned layout for partition pruning).
  */
object DateTimeQueries {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_datetrunc",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_val"))
          .withColumn("week", date_trunc("week", col("day")))
          .orderBy("day"),
      Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS cnt,
                     round(sum(value), 2) AS sum_val,
                     CAST(date_trunc('week', date_trunc('day', ts)) AS TIMESTAMP) AS week
              FROM events GROUP BY date_trunc('day', ts) ORDER BY day""")),

    // DATETIMECONVERT('1:MILLISECONDS:EPOCH' -> '15:MINUTES' buckets):
    // epoch-millis floor-division bucketing, converted back to a timestamp.
    QueryDef(
      "q_datetimeconvert",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(expr("(unix_millis(ts) div 900000) * 900000").as("bucket_ms"))
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_val"))
          .withColumn("bucket_ts", expr("timestamp_millis(bucket_ms)"))
          .orderBy("bucket_ms"),
      Some("""SELECT (epoch_ms(ts) // 900000) * 900000 AS bucket_ms,
                     count(*) AS cnt, round(sum(value), 2) AS sum_val,
                     make_timestamp(((epoch_ms(ts) // 900000) * 900000) * 1000) AS bucket_ts
              FROM events GROUP BY 1 ORDER BY bucket_ms""")),

    // SIMPLE_DATE_FORMAT conversions (dateTimeFieldSpec format strings —
    // reference: /root/reference/configuration-reference/schema.md:70).
    QueryDef(
      "q_datetime_format",
      (s, d) =>
        Tables.orders(s, d)
          .select(
            col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyyMMdd").as("ymd"),
            date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
            year(col("o_orderdate")).as("y"),
            month(col("o_orderdate")).as("m"),
            dayofmonth(col("o_orderdate")).as("dom"),
            quarter(col("o_orderdate")).as("q"))
          .orderBy("o_orderkey")
          .limit(500),
      Some("""SELECT o_orderkey,
                     strftime(o_orderdate, '%Y%m%d') AS ymd,
                     strftime(o_orderdate, '%Y-%m') AS ym,
                     CAST(year(o_orderdate) AS INT) AS y,
                     CAST(month(o_orderdate) AS INT) AS m,
                     CAST(day(o_orderdate) AS INT) AS dom,
                     CAST(quarter(o_orderdate) AS INT) AS q
              FROM orders ORDER BY o_orderkey LIMIT 500""")),

    // EXTRACT field family (Pinot scalar time functions hour / dayOfWeek /
    // dayOfYear / week / quarter). Normalization: Spark's dayofweek is
    // 1=Sunday, the oracle's dow is 0=Sunday — the query emits the 0-based
    // form; week is ISO on both sides.
    QueryDef(
      "q_extract",
      (s, d) =>
        Tables.events(s, d)
          .filter(col("event_id") < 500)
          .select(
            col("event_id"),
            hour(col("ts")).as("h"),
            (dayofweek(col("ts")) - 1).as("dow"),
            dayofyear(col("ts")).as("doy"),
            weekofyear(col("ts")).as("wk"),
            quarter(col("ts")).as("q"))
          .orderBy("event_id"),
      Some("""SELECT event_id,
                     CAST(extract(hour FROM ts) AS INT) AS h,
                     CAST(extract(dow FROM ts) AS INT) AS dow,
                     CAST(extract(doy FROM ts) AS INT) AS doy,
                     CAST(extract(week FROM ts) AS INT) AS wk,
                     CAST(extract(quarter FROM ts) AS INT) AS q
              FROM events WHERE event_id < 500 ORDER BY event_id""")),

    // Timezone-aware DATETIMECONVERT (Pinot's tz-suffixed output formats):
    // UTC instants bucketed by AMERICA/NEW_YORK local hour-of-day — the
    // "traffic by local hour" dashboard query. The conversion is a codegen'd
    // expression; DST is exercised (the fixture spans both regimes iff the
    // generator does — either way both sides apply the same IANA rules).
    QueryDef(
      "q_datetime_tz",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(hour(from_utc_timestamp(col("ts"), "America/New_York")).as("local_hour"))
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_val"))
          .orderBy("local_hour"),
      Some("""SELECT CAST(extract(hour FROM
                       timezone('America/New_York', timezone('UTC', ts))) AS INT) AS local_hour,
                     count(*) AS cnt, round(sum(value), 2) AS sum_val
              FROM events GROUP BY 1 ORDER BY local_hour""")),

    QueryDef(
      "q_timeseries",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(
            count(lit(1)).as("cnt"),
            round(sum("value"), 2).as("sum_val"),
            countDistinct(col("user_id")).as("users"))
          .orderBy("hour", "event_type"),
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
                     count(*) AS cnt, round(sum(value), 2) AS sum_val,
                     count(DISTINCT user_id) AS users
              FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),

    // DAILY PERCENTILE SERIES — the observability staple (p50/p95/p99
    // latency per day, the chart every SLO dashboard renders): one
    // day-keyed DISCRETE percentile pass over the dictionary-histogram
    // operator — ranks SELECT actual data values, no interpolation
    // arithmetic, so no cent-midpoint can sit on a rounding boundary
    // (interpolated daily p95s DO land on exact half-cents; the first cut
    // of this query failed the gate that way). At 100 TB the day×metric
    // dictionary is what crosses the shuffle; q_kll_cube is the
    // sketch-served form of the same series.
    QueryDef(
      "q_percentile_daily",
      (s, d) =>
        graft.operators.Percentiles.discrete(
          Tables.events(s, d)
            .withColumn("day", date_trunc("day", col("ts"))),
          Seq("day"),
          Seq(("p50", "value", 0.5),
            ("p95", "value", 0.95),
            ("p99", "value", 0.99)))
          .select(col("day"),
            round(col("p50"), 2).as("p50"),
            round(col("p95"), 2).as("p95"),
            round(col("p99"), 2).as("p99"))
          .orderBy("day"),
      Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                     round(quantile_disc(value, 0.5), 2) AS p50,
                     round(quantile_disc(value, 0.95), 2) AS p95,
                     round(quantile_disc(value, 0.99), 2) AS p99
              FROM events GROUP BY 1 ORDER BY day""")),

    // EWMA smoothing per series — the timeseries-engine smoothing shape
    // (Pinot ships a PromQL-ish timeseries engine; EWMA is its canonical
    // stateful transform). Inherently sequential WITHIN a series and
    // parallel ACROSS series: state is one ordered per-user value list
    // (series-bounded, the sessionize shape), the fold is a codegen'd
    // array `aggregate` — identical left-fold arithmetic to the oracle's
    // `list_reduce` (both seed from the first element), so the doubles
    // match bit-for-bit before rounding.
    QueryDef(
      "q_ewma",
      (s, d) => {
        val alpha = 0.3
        val seq = Tables.events(s, d)
          .filter(col("user_id") < 50)
          .groupBy("user_id")
          .agg(sort_array(collect_list(struct(
            col("ts"), col("event_id"), col("value")))).as("seq"))
          .withColumn("vals", transform(col("seq"), x => x.getField("value")))
        seq.select(
            col("user_id"),
            size(col("vals")).as("n"),
            (round(element_at(col("vals"), -1), 4) + lit(0.0)).as("last_v"),
            (round(
              aggregate(
                slice(col("vals"), lit(2), greatest(size(col("vals")) - 1, lit(0))),
                element_at(col("vals"), 1),
                (acc, x) => lit(alpha) * x + lit(1 - alpha) * acc),
              4) + lit(0.0)).as("ewma"))
          .orderBy("user_id")
      },
      Some("""WITH seq AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vals
                           FROM events WHERE user_id < 50 GROUP BY 1)
              SELECT user_id, CAST(len(vals) AS INT) AS n,
                     round(vals[-1], 4) + 0 AS last_v,
                     round(list_reduce(vals, (acc, x) -> 0.3*x + 0.7*acc), 4) + 0 AS ewma
              FROM seq ORDER BY user_id""")),

    // TIMESTAMP-index serving path (timestamp-index.md: Pinot rewrites
    // datetrunc('DAY', ts) onto the pre-generated $ts$DAY column): the
    // query writes events once per session through SegmentWriter with a
    // derived ts_day column, then runs the SAME date_trunc group-by a
    // user would write — plans.DerivedColumnRewrite transparently swaps
    // the per-row truncation for the stored column (TimestampIndexSpec
    // asserts the plan shape and filter pushdown; here the DuckDB oracle
    // hash-pins that the rewritten path returns exactly the raw-events
    // answer). At 100 TB the derived column carries row-group min/max
    // stats — the reference's "range index on every granularity".
    QueryDef(
      "q_timestamp_rewrite",
      (s, d) =>
        graft.sources.SegmentCatalog.readStableSchema(s, tsSegment(s, d))
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_val"))
          .orderBy("day"),
      Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS cnt,
                     round(sum(value), 2) AS sum_val
              FROM events GROUP BY 1 ORDER BY day""")),

    // SELECTIVE day lookup through the same timestamp-index segment —
    // the SCAN-dominated shape where the rewrite earns its keep (the
    // aggregate row above is rollup-dominated; REWRITE_WINS_r12 measured
    // its serving win at ~1×): `date_trunc('day', ts) = <day>` is opaque
    // to pushdown as written, but the rewrite turns it into a plain
    // predicate on the stored ts_day PARTITION column, so the plan reads
    // ONE day directory out of the whole corpus — Pinot's timestamp
    // index + time-partitioned segment behavior end to end. Rule-off
    // parity (same rows via per-row truncation over the full scan) is
    // pinned by TimestampIndexSpec; the A/B serving win is recorded in
    // REWRITE_WINS_r*.json.
    QueryDef(
      "q_timestamp_filter",
      (s, d) =>
        graft.sources.SegmentCatalog.readStableSchema(s, tsSegment(s, d))
          .filter(date_trunc("day", col("ts")) ===
            to_timestamp(lit("2024-01-15 00:00:00")))
          .select(col("event_id"), col("user_id"), round(col("value"), 2).as("value"))
          .orderBy("event_id"),
      Some("""SELECT event_id, user_id, round(value, 2) AS value
              FROM events
              WHERE CAST(date_trunc('day', ts) AS TIMESTAMP)
                    = TIMESTAMP '2024-01-15 00:00:00'
              ORDER BY event_id""")),

    // NEEDLE lookup through the timestamp-index segment — the
    // dashboard-drilldown shape whose output is a handful of rows, so
    // the A/B ratio reads the SCAN saving itself (q_timestamp_filter's
    // 2.19× is output-bounded: a day lookup returns the whole day). The
    // rewritten day predicate prunes to ONE partition dir; the user
    // range predicate additionally pushes to parquet as a plain column
    // filter (PushedFilters) on both arms — the rule-off arm still
    // scans all 30 day dirs and re-truncates every row.
    QueryDef(
      "q_timestamp_needle",
      (s, d) =>
        graft.sources.SegmentCatalog.readStableSchema(s, tsSegment(s, d))
          .filter(date_trunc("day", col("ts")) ===
            to_timestamp(lit("2024-01-15 00:00:00")) && col("user_id") < 20)
          .select(col("event_id"), col("user_id"), round(col("value"), 2).as("value"))
          .orderBy("event_id"),
      Some("""SELECT event_id, user_id, round(value, 2) AS value
              FROM events
              WHERE CAST(date_trunc('day', ts) AS TIMESTAMP)
                    = TIMESTAMP '2024-01-15 00:00:00'
                AND user_id < 20
              ORDER BY event_id""")),

    // Week-over-week PERCENT CHANGE — the delta column every trend
    // dashboard renders next to a timeseries: weekly per-type revenue,
    // each week compared to the type's previous week via one lag window
    // over the (type, week) DICTIONARY (the corpus-sized work is the
    // weekly rollup; the window input is bounded by types × weeks).
    // Weekly sums round to 2 decimals BEFORE the ratio on both engines,
    // so the derived percentage divides identical numbers.
    QueryDef(
      "q_percent_change",
      (s, d) => {
        val wk = Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("week", col("ts")).as("week"))
          .agg(round(sum("value"), 2).as("rev"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("week")
        wk.withColumn("prev", lag("rev", 1).over(w))
          .filter(col("prev").isNotNull && col("prev") =!= 0.0)
          .select(col("event_type"), col("week"), col("rev"),
            round((col("rev") - col("prev")) / col("prev") * 100, 4)
              .as("pct_change"))
          .orderBy("event_type", "week")
      },
      Some("""WITH wk AS (SELECT event_type,
                                 CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
                                 round(sum(value), 2) AS rev
                          FROM events GROUP BY 1, 2),
                   l AS (SELECT event_type, week, rev,
                                lag(rev, 1) OVER (PARTITION BY event_type
                                                  ORDER BY week) AS prev
                         FROM wk)
              SELECT event_type, week, rev,
                     round((rev - prev) / prev * 100, 4) AS pct_change
              FROM l WHERE prev IS NOT NULL AND prev <> 0
              ORDER BY event_type, week""")),

    // Day-of-week × hour ACTIVITY HEATMAP — the usage-rhythm dashboard
    // tile: one scan-local (dow, hour) projection + a ≤168-cell rollup
    // with exact counts; share divides by the scalar total (broadcast).
    QueryDef(
      "q_dow_hour_heatmap",
      (s, d) => {
        val cells = Tables.events(s, d)
          .select((dayofweek(col("ts")) - 1).as("dow"),
            hour(col("ts")).as("hr"))
          .groupBy("dow", "hr")
          .agg(count(lit(1)).as("n_events"))
        val tot = cells.agg(sum("n_events").as("tot"))
        cells.crossJoin(broadcast(tot))
          .select(col("dow"), col("hr"), col("n_events"),
            round(col("n_events") / col("tot"), 6).as("share"))
          .orderBy("dow", "hr")
      },
      Some("""WITH c AS (SELECT CAST(date_part('dow', ts) AS INT) AS dow,
                                CAST(date_part('hour', ts) AS INT) AS hr,
                                count(*) AS n_events
                         FROM events GROUP BY 1, 2),
                   t AS (SELECT sum(n_events) AS tot FROM c)
              SELECT dow, hr, n_events,
                     round(CAST(n_events AS DOUBLE) / tot, 6) AS share
              FROM c, t ORDER BY dow, hr""")),

    // SEASONAL DECOMPOSITION (trend + day-of-week seasonal + residual —
    // the classic additive split a timeseries dashboard overlays): daily
    // revenue in INTEGER CENTS, centered 7-day trend kept as the exact
    // 7-day SUM (so detrended = 7·rev − trend7 stays integer — no 1/7
    // division ever happens), day-of-week seasonal as the average of
    // those integers (exact integer sum, ONE deterministic division,
    // rounded identically). Every window runs over the DAY DICTIONARY
    // (a few thousand rows for years of data), never raw events — the
    // corpus-sized work is the daily rollup (PlanLint exemption
    // documents the sequential-by-definition time axis).
    QueryDef(
      "q_seasonal_decompose",
      (s, d) => {
        // Per-row cents BEFORE the sum: round(double-SUM) is boundary-
        // fragile under accumulation reordering (r8 driver hash-FAIL);
        // summing per-row longs is integer-exact under ANY order.
        val day = Tables.events(s, d)
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(sum(round(col("value") * 100).cast("long")).as("rev_c"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("day")
        val trended = day
          .withColumn("trend7_c", sum("rev_c").over(w.rowsBetween(-3, 3)))
          .withColumn("n7", count(lit(1)).over(w.rowsBetween(-3, 3)))
          .filter(col("n7") === 7)
          .withColumn("det_c", col("rev_c") * 7 - col("trend7_c"))
          .withColumn("dow", dayofweek(col("day")) - 1)
        // explicit exact-long-sum / count (not avg) so both engines
        // perform the identical single IEEE division before rounding
        val seasonal = trended.groupBy("dow")
          .agg(round(sum("det_c").cast("double") / count(lit(1)), 4).as("seasonal_c"))
        trended.join(broadcast(seasonal), "dow")
          .select(col("day"), col("rev_c"), col("trend7_c"),
            col("det_c"), col("dow"),
            col("seasonal_c"),
            round(col("det_c") - col("seasonal_c"), 4).as("resid_c"))
          .orderBy("day")
      },
      Some("""WITH day AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                                  sum(CAST(round(value * 100) AS BIGINT)) AS rev_c
                           FROM events GROUP BY 1),
                   t AS (SELECT day, rev_c,
                                sum(rev_c) OVER (ORDER BY day
                                                 ROWS BETWEEN 3 PRECEDING
                                                 AND 3 FOLLOWING) AS trend7_c,
                                count(*) OVER (ORDER BY day
                                               ROWS BETWEEN 3 PRECEDING
                                               AND 3 FOLLOWING) AS n7
                         FROM day),
                   f AS (SELECT day, rev_c, trend7_c,
                                rev_c * 7 - trend7_c AS det_c,
                                date_part('dow', day) AS dow
                         FROM t WHERE n7 = 7),
                   se AS (SELECT dow, round(CAST(sum(det_c) AS DOUBLE) / count(*), 4)
                                        AS seasonal_c
                          FROM f GROUP BY 1)
              SELECT day, CAST(rev_c AS BIGINT) AS rev_c,
                     CAST(trend7_c AS BIGINT) AS trend7_c,
                     CAST(det_c AS BIGINT) AS det_c, CAST(f.dow AS INT) AS dow,
                     seasonal_c,
                     round(det_c - seasonal_c, 4) AS resid_c
              FROM f JOIN se ON f.dow = se.dow
              ORDER BY day""")),

    // CHANGE-POINT detection (CUSUM split statistic): the day whose
    // before/after split maximizes |n·cum_i − i·total| — the integer-
    // scaled CUSUM |Σ_{j≤i}(x_j − mean)|·n, so the argmax is computed in
    // EXACT LONG arithmetic (daily revenue is per-row cents, the repo's
    // integer-grid rule; scaling by n clears the mean's division). Every
    // window runs over the DAY dictionary; the corpus-sized work is the
    // daily rollup. Ties break to the earliest day in both engines; the
    // only float work is the two display means (one division each,
    // rounded identically).
    QueryDef(
      "q_changepoint",
      (s, d) => {
        val day = Tables.events(s, d)
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(sum(round(col("value") * 100).cast("long")).as("rev_c"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("day")
        val cum = day
          .withColumn("i", row_number().over(w).cast("long"))
          .withColumn("cum_c", sum("rev_c").over(w))
        val tot = day.agg(sum("rev_c").as("tot_c"), count(lit(1)).as("n"))
        cum.crossJoin(broadcast(tot))
          .filter(col("i") < col("n"))
          .withColumn("stat",
            abs(col("n") * col("cum_c") - col("i") * col("tot_c")))
          .orderBy(col("stat").desc, col("day").asc)
          .limit(1)
          .select(
            col("day").as("split_day"),
            col("i").as("days_before"),
            (col("n") - col("i")).as("days_after"),
            col("stat").as("cusum_stat"),
            round(col("cum_c").cast("double") / (col("i") * 100), 4)
              .as("mean_before_d"),
            round((col("tot_c") - col("cum_c")).cast("double") /
              ((col("n") - col("i")) * 100), 4).as("mean_after_d"))
      },
      Some("""WITH day AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                                  sum(CAST(round(value * 100) AS BIGINT)) AS rev_c
                           FROM events GROUP BY 1),
                   c AS (SELECT day, rev_c,
                                CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
                                sum(rev_c) OVER (ORDER BY day) AS cum_c
                         FROM day),
                   t AS (SELECT sum(rev_c) AS tot_c, count(*) AS n FROM day)
              SELECT day AS split_day, i AS days_before,
                     CAST(n - i AS BIGINT) AS days_after,
                     CAST(abs(n * cum_c - i * tot_c) AS BIGINT) AS cusum_stat,
                     round(CAST(cum_c AS DOUBLE) / (i * 100), 4) AS mean_before_d,
                     round(CAST(tot_c - cum_c AS DOUBLE) /
                           ((n - i) * 100), 4) AS mean_after_d
              FROM c, t
              WHERE i < n
              ORDER BY abs(n * cum_c - i * tot_c) DESC, day
              LIMIT 1""")),

    // AUTOCORRELATION function (lags 1..7 of daily revenue — the
    // seasonality screen a forecaster runs before picking a model):
    // r_k = Σ res_i·res_{i+k} / Σ res_i², with res_i = n·x_i − total
    // over integer DOLLARS (cents summed exactly per the integer-grid
    // rule, then one exact integer division by 100 so the lag products
    // stay far inside long range even at 30× scale). Numerator and
    // denominator are exact-long sums under any accumulation order; the
    // single float division happens once per lag, rounded identically in
    // both engines. All windows ride the day dictionary.
    QueryDef(
      "q_acf",
      (s, d) => {
        val day = Tables.events(s, d)
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(sum(round(col("value") * 100).cast("long")).as("rev_c"))
          .withColumn("rev_d", expr("rev_c DIV 100"))
        val tot = day.agg(sum("rev_d").as("tot_d"), count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("day")
        val res = day.crossJoin(broadcast(tot))
          .withColumn("r", col("n") * col("rev_d") - col("tot_d"))
        val withLeads = (1 to 7).foldLeft(res)((df, k) =>
          df.withColumn(s"lead_$k", lead(col("r"), k).over(w)))
        val den = res.agg(sum(col("r") * col("r")).as("den"))
        withLeads
          .select(col("r"), expr(
            """stack(7, 1, lead_1, 2, lead_2, 3, lead_3, 4, lead_4,
               5, lead_5, 6, lead_6, 7, lead_7) AS (lag_k, rlead)"""))
          .filter(col("rlead").isNotNull)
          .groupBy("lag_k")
          .agg(sum(col("r") * col("rlead")).as("num"),
            count(lit(1)).as("n_pairs"))
          .crossJoin(broadcast(den))
          .select(col("lag_k"), col("n_pairs"),
            (round(col("num").cast("double") / col("den").cast("double"), 4)
              + lit(0.0)).as("acf"))
          .orderBy("lag_k")
      },
      Some("""WITH day AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                                  sum(CAST(round(value * 100) AS BIGINT)) // 100
                                    AS rev_d
                           FROM events GROUP BY 1),
                   t AS (SELECT sum(rev_d) AS tot_d, count(*) AS n FROM day),
                   r AS (SELECT day, n * rev_d - tot_d AS r,
                                row_number() OVER (ORDER BY day) AS idx
                         FROM day, t),
                   dn AS (SELECT sum(r * r) AS den FROM r),
                   k AS (SELECT unnest(range(1, 8)) AS lag_k),
                   p AS (SELECT k.lag_k, a.r AS ra, b.r AS rb
                         FROM r a JOIN k ON true
                         JOIN r b ON b.idx = a.idx + k.lag_k)
              SELECT CAST(lag_k AS INT) AS lag_k, count(*) AS n_pairs,
                     round(CAST(sum(ra * rb) AS DOUBLE) /
                           CAST(den AS DOUBLE), 4) + 0 AS acf
              FROM p, dn GROUP BY lag_k, den ORDER BY lag_k""")),

    // Lead-lag CROSS-CORRELATION between two daily series (does click
    // volume LEAD purchase revenue?): ccf_k at k = −3..3 between the
    // daily click count and the daily purchase revenue in integer
    // dollars. Residuals n·x_i − total per series are exact longs, the
    // lag products and both denominator sums are exact-long sums; the
    // normalizer sqrt(Σra²·Σrb²) is computed by the IDENTICAL
    // double-cast expression in both engines (one multiply, one sqrt,
    // one divide, then the display round). Day-dictionary windows only.
    QueryDef(
      "q_cross_corr",
      (s, d) => {
        val day = Tables.events(s, d)
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(
            sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("a"),
            sum(when(col("event_type") === "purchase",
              round(col("value") * 100).cast("long")).otherwise(0L)).as("b_c"))
          .withColumn("b", expr("b_c DIV 100"))
        val tot = day.agg(
          sum("a").as("ta"), sum("b").as("tb"), count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("day")
        val res = day.crossJoin(broadcast(tot))
          .withColumn("ra", col("n") * col("a") - col("ta"))
          .withColumn("rb", col("n") * col("b") - col("tb"))
        val withOffs = (-3 to 3).foldLeft(res)((df, k) =>
          df.withColumn(s"rb_${if (k < 0) "m" + (-k) else "p" + k}",
            lead(col("rb"), k).over(w)))
        val den = res.agg(
          sum(col("ra") * col("ra")).as("sa"),
          sum(col("rb") * col("rb")).as("sb"))
        withOffs
          .select(col("ra"), expr(
            """stack(7, -3, rb_m3, -2, rb_m2, -1, rb_m1, 0, rb_p0,
               1, rb_p1, 2, rb_p2, 3, rb_p3) AS (lag_k, rbo)"""))
          .filter(col("rbo").isNotNull)
          .groupBy("lag_k")
          .agg(sum(col("ra") * col("rbo")).as("num"),
            count(lit(1)).as("n_pairs"))
          .crossJoin(broadcast(den))
          .select(col("lag_k"), col("n_pairs"),
            (round(col("num").cast("double") /
              sqrt(col("sa").cast("double") * col("sb").cast("double")), 4)
              + lit(0.0)).as("ccf"))
          .orderBy("lag_k")
      },
      Some("""WITH day AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                                  sum(CASE WHEN event_type = 'click'
                                           THEN 1 ELSE 0 END) AS a,
                                  sum(CASE WHEN event_type = 'purchase'
                                           THEN CAST(round(value * 100) AS BIGINT)
                                           ELSE 0 END) // 100 AS b
                           FROM events GROUP BY 1),
                   t AS (SELECT sum(a) AS ta, sum(b) AS tb, count(*) AS n
                         FROM day),
                   r AS (SELECT day, n * a - ta AS ra, n * b - tb AS rb,
                                row_number() OVER (ORDER BY day) AS idx
                         FROM day, t),
                   dn AS (SELECT sum(ra * ra) AS sa, sum(rb * rb) AS sb FROM r),
                   k AS (SELECT unnest(range(-3, 4)) AS lag_k),
                   p AS (SELECT k.lag_k, x.ra AS ra, y.rb AS rbo
                         FROM r x JOIN k ON true
                         JOIN r y ON y.idx = x.idx + k.lag_k)
              SELECT CAST(lag_k AS INT) AS lag_k, count(*) AS n_pairs,
                     round(CAST(sum(ra * rbo) AS DOUBLE) /
                           sqrt(CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)), 4)
                       + 0 AS ccf
              FROM p, dn GROUP BY lag_k, sa, sb ORDER BY lag_k""")),

    // MANN-KENDALL trend test (the non-parametric "is this series
    // actually trending?" screen — robust to outliers and needs no
    // distribution assumption): S = Σ_{i<j} sign(x_j − x_i) over the
    // daily-revenue day dictionary (n≤ a few thousand ⇒ the pairwise
    // comparison runs on the DICTIONARY self-join, never raw events),
    // with the normal-approximation z = (S∓1)/sqrt(n(n−1)(2n+5)/18).
    // S and the variance numerator are exact longs; sign() over exact
    // integer cents has no boundary fuzz.
    QueryDef(
      "q_trend_mk",
      (s, d) => {
        val day = Tables.events(s, d)
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(sum(round(col("value") * 100).cast("long")).as("rev_c"))
        val a = day.select(col("day").as("di"), col("rev_c").as("xi"))
        val b = day.select(col("day").as("dj"), col("rev_c").as("xj"))
        val s0 = a.join(b, col("di") < col("dj"))
          .agg(sum(signum(col("xj") - col("xi")).cast("long")).as("s"),
            count(lit(1)).as("n_pairs"))
        val nn = day.agg(count(lit(1)).as("n"))
        s0.crossJoin(broadcast(nn))
          .select(col("n"), col("n_pairs"), col("s"),
            (round(
              (col("s") - signum(col("s"))).cast("double") /
                sqrt((col("n") * (col("n") - 1) * (col("n") * 2 + 5))
                  .cast("double") / 18), 4) + lit(0.0)).as("z"))
      },
      Some("""WITH day AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                                  sum(CAST(round(value * 100) AS BIGINT)) AS rev_c
                           FROM events GROUP BY 1),
                   s0 AS (SELECT CAST(sum(sign(b.rev_c - a.rev_c)) AS BIGINT) AS s,
                                 count(*) AS n_pairs
                          FROM day a JOIN day b ON a.day < b.day),
                   nn AS (SELECT count(*) AS n FROM day)
              SELECT n, n_pairs, s,
                     round(CAST(s - sign(s) AS DOUBLE) /
                           sqrt(CAST(n * (n - 1) * (2 * n + 5) AS DOUBLE) / 18),
                           4) + 0 AS z
              FROM s0, nn"""))
  ) ++ Seq(

    // THEIL-SEN robust slope (the magnitude companion to q_trend_mk's
    // significance): median of the pairwise slopes (x_j − x_i)/(t_j −
    // t_i) over the day dictionary. Each slope is ONE IEEE division of
    // exact longs (cents diff / day diff) — identical bit pattern in
    // both engines — and the quantile SELECTION runs in the KLL sketch's
    // exact regime (k ≥ pair count: nothing compacts, the sketch IS the
    // sorted multiset, kll_quantile returns the true rank-ceil(q·m)
    // order statistic — the q_percentile_kll_exact argument), so the
    // whole thing is mergeable and distributed with NO global sort. k is
    // derived from the day count and the precondition is require()d, so
    // the regime can't silently expire as the series grows (the r9
    // ADVICE hazard: ≥363 days used to overflow the fixed k).
    QueryDef(
      "q_theil_sen",
      (s, d) => {
        import graft.functions.SketchFns._
        val day = Tables.events(s, d)
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(sum(round(col("value") * 100).cast("long")).as("rev_c"))
        // Machine-check the exact-regime precondition instead of letting
        // it silently expire: the KLL sketch is the exact sorted multiset
        // only while k ≥ n(n−1)/2 slope pairs. The day count is BOUNDED
        // from parquet FOOTER ts statistics (span in days ≥ distinct
        // days — a driver-side footer read, zero Spark jobs at build;
        // the BuildLazinessSpec discipline), falling back to a day-
        // dictionary count only when a writer omitted column stats.
        // k sized to the bound is still exact: k ≥ bound ≥ actual pairs.
        // Past ~15 years of daily data the exact sketch would stop being
        // a sensible buffer — fail loudly with the alternative rather
        // than silently turning approximate under an exactness oracle.
        val nd = graft.sources.SegmentCatalog
          .metadataColumnRangeLong(s, s"$d/events.parquet", "ts") match {
            case Some((loNs, hiNs)) => (hiNs - loNs) / 86400000000000L + 1
            case None => day.count()
          }
        val pairs = nd * (nd - 1) / 2
        require(pairs <= (1L << 24),
          s"q_theil_sen exact regime needs a k >= n(n-1)/2 = $pairs buffer; " +
            "beyond ~5793 days use the bounded-error KLL regime (fixed k, " +
            "drop the exactness oracle) or pre-thin the day series")
        val k = math.max(65536L, pairs).toInt
        val a = day.select(col("day").as("di"), col("rev_c").as("xi"))
        val b = day.select(col("day").as("dj"), col("rev_c").as("xj"))
        a.join(b, col("di") < col("dj"))
          .select(((col("xj") - col("xi")).cast("double") /
            datediff(col("dj"), col("di")).cast("double")).as("slope_c"))
          .agg(count(lit(1)).as("n_pairs"),
            kllSketch(col("slope_c"), k).as("sk"))
          .select(col("n_pairs"),
            round(kllQuantile(col("sk"), lit(0.25)) / 100, 6)
              .as("slope_q25_d"),
            round(kllQuantile(col("sk"), lit(0.5)) / 100, 6)
              .as("slope_med_d"),
            round(kllQuantile(col("sk"), lit(0.75)) / 100, 6)
              .as("slope_q75_d"))
      },
      Some("""WITH day AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                                  sum(CAST(round(value * 100) AS BIGINT)) AS rev_c
                           FROM events GROUP BY 1),
                   p AS (SELECT CAST(b.rev_c - a.rev_c AS DOUBLE) /
                                CAST(date_diff('day', a.day, b.day) AS DOUBLE)
                                  AS slope_c
                         FROM day a JOIN day b ON a.day < b.day),
                   st AS (SELECT slope_c,
                                 row_number() OVER (ORDER BY slope_c) AS rn,
                                 count(*) OVER () AS m
                          FROM p)
              SELECT max(m) AS n_pairs,
                     round(max(CASE WHEN rn = CAST(ceil(0.25 * m) AS BIGINT)
                              THEN slope_c END) / 100, 6) AS slope_q25_d,
                     round(max(CASE WHEN rn = CAST(ceil(0.5 * m) AS BIGINT)
                              THEN slope_c END) / 100, 6) AS slope_med_d,
                     round(max(CASE WHEN rn = CAST(ceil(0.75 * m) AS BIGINT)
                              THEN slope_c END) / 100, 6) AS slope_q75_d
              FROM st""")),

    // SEASONAL Mann-Kendall (Hirsch-Slack): the MK statistic computed
    // WITHIN each day-of-week stratum and summed — the trend test that
    // ignores the weekly cycle instead of mistaking it for trend.
    // S = Σ_dow S_dow and Var·18 = Σ_dow n_g(n_g−1)(2n_g+5) are exact
    // longs; the pairwise comparison is an EQUI-join on dow (hash join,
    // not a nested loop) with the `<` as a residual filter, still over
    // the day dictionary only. dow labels differ across engines (Spark
    // 1=Sun, DuckDB 0=Sun) but only partition the pairs — identical
    // partitions, label never output.
    QueryDef(
      "q_seasonal_mk",
      (s, d) => {
        val day = Tables.events(s, d)
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(sum(round(col("value") * 100).cast("long")).as("rev_c"))
          .withColumn("dow", dayofweek(col("day")))
        val a = day.select(col("dow").as("dwa"), col("day").as("di"),
          col("rev_c").as("xi"))
        val b = day.select(col("dow").as("dwb"), col("day").as("dj"),
          col("rev_c").as("xj"))
        val s0 = a.join(b, col("dwa") === col("dwb") && col("di") < col("dj"))
          .agg(sum(signum(col("xj") - col("xi")).cast("long")).as("s"),
            count(lit(1)).as("n_pairs"))
        val v = day.groupBy("dow").agg(count(lit(1)).as("ng"))
          .agg(sum(col("ng") * (col("ng") - 1) * (col("ng") * 2 + 5))
            .as("var18"),
            count(lit(1)).as("n_seasons"), sum("ng").as("n_days"))
        s0.crossJoin(broadcast(v))
          .select(col("n_days"), col("n_seasons"), col("n_pairs"), col("s"),
            (round((col("s") - signum(col("s"))).cast("double") /
              sqrt(col("var18").cast("double") / 18), 4) + lit(0.0)).as("z"))
      },
      Some("""WITH day AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                                  sum(CAST(round(value * 100) AS BIGINT)) AS rev_c
                           FROM events GROUP BY 1),
                   dd AS (SELECT day, rev_c, dayofweek(day) AS dow FROM day),
                   s0 AS (SELECT CAST(sum(sign(b.rev_c - a.rev_c)) AS BIGINT) AS s,
                                 count(*) AS n_pairs
                          FROM dd a JOIN dd b
                            ON a.dow = b.dow AND a.day < b.day),
                   g AS (SELECT dow, count(*) AS ng FROM dd GROUP BY 1),
                   v AS (SELECT sum(ng * (ng - 1) * (2 * ng + 5)) AS var18,
                                count(*) AS n_seasons, sum(ng) AS n_days
                         FROM g)
              SELECT CAST(n_days AS BIGINT) AS n_days, n_seasons, n_pairs, s,
                     round(CAST(s - sign(s) AS DOUBLE) /
                           sqrt(CAST(var18 AS DOUBLE) / 18), 4) + 0 AS z
              FROM s0, v""")),

    // SPC / WESTERN-ELECTRIC rules over the daily revenue series — the
    // BATCH control-chart screen pairing the streaming cusumMonitor
    // (CUSUM catches small persistent drift; WE rules catch spikes and
    // runs): baseline μ/σ from the first 10 days as EXACT LONGS
    // (S, Σx², and V = n·Σx² − S²), each rule comparison rewritten to
    // integer-vs-k·√V form (dev = n·x − S exact; x−μ > kσ ⟺ dev > k·√V)
    // so the only float op per flag is one sqrt+multiply — identical
    // IEEE on both engines, no division anywhere. Rules: R1 beyond 3σ,
    // R2 two-of-three beyond 2σ one side, R3 four-of-five beyond 1σ one
    // side, R4 eight consecutive one side; rolling indicator sums ride
    // the day dictionary.
    QueryDef(
      "q_spc_rules",
      (s, d) => {
        val day = Tables.events(s, d)
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(sum(round(col("value") * 100).cast("long")).as("c"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(asc("day"))
        val idx = day.withColumn("i", row_number().over(w))
        // Third instance of the Long-overflow class (graph d²·13, chisq
        // n·r·c): c² and s² wrap Long once daily cents pass ~3e9 (the
        // 100× value-shifted corpus reaches ~3e15). The variance chain
        // stays EXACT integer arithmetic in DECIMAL(38,0) — c² ≤ 1e31,
        // n·sxx − s² ≤ 1e33, both well inside 38 digits — and converts
        // to double only at the final sqrt; the oracle mirrors with
        // HUGEINT, so both engines cast the identical exact integer.
        val cDec = col("c").cast("decimal(19,0)")
        val base = idx.filter(col("i") <= 10).agg(
          count(lit(1)).as("n"), sum("c").as("s"),
          sum(cDec * cDec).as("sxx"))
        val sDec = col("s").cast("decimal(19,0)")
        val sv = sqrt((col("n").cast("decimal(38,0)") * col("sxx") - sDec * sDec)
          .cast("double"))
        val devd = (col("c") * col("n") - col("s")).cast("double")
        val marked = idx.crossJoin(broadcast(base))
          .withColumn("dev_c", col("c") * col("n") - col("s"))
          .withColumn("hi0", (devd > 0).cast("long"))
          .withColumn("lo0", (devd < 0).cast("long"))
          .withColumn("hi1", (devd > sv).cast("long"))
          .withColumn("lo1", (devd < -sv).cast("long"))
          .withColumn("hi2", (devd > lit(2) * sv).cast("long"))
          .withColumn("lo2", (devd < lit(-2) * sv).cast("long"))
          .withColumn("hi3", (devd > lit(3) * sv).cast("long"))
          .withColumn("lo3", (devd < lit(-3) * sv).cast("long"))
        def roll(c: String, k: Int) =
          sum(col(c)).over(w.rowsBetween(-(k - 1), 0))
        marked
          .withColumn("r1", greatest(col("hi3"), col("lo3")))
          .withColumn("r2",
            greatest((roll("hi2", 3) >= 2).cast("long"),
              (roll("lo2", 3) >= 2).cast("long")))
          .withColumn("r3",
            greatest((roll("hi1", 5) >= 4).cast("long"),
              (roll("lo1", 5) >= 4).cast("long")))
          .withColumn("r4",
            greatest((roll("hi0", 8) === 8).cast("long"),
              (roll("lo0", 8) === 8).cast("long")))
          .filter(col("i") > 10)
          .select(col("day"), round(col("c").cast("double") / 100, 2).as("rev_d"),
            col("dev_c"), col("r1"), col("r2"), col("r3"), col("r4"))
          .orderBy("day")
      },
      Some("""WITH day AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                                  sum(CAST(round(value * 100) AS BIGINT)) AS c
                           FROM events GROUP BY 1),
                   idx AS (SELECT day, c,
                                  row_number() OVER (ORDER BY day) AS i
                           FROM day),
                   base AS (SELECT CAST(count(*) AS BIGINT) AS n,
                                   CAST(sum(c) AS BIGINT) AS s,
                                   sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS sxx
                            FROM idx WHERE i <= 10),
                   m AS (SELECT day, i, c, c * n - s AS dev_c,
                                CAST(c * n - s AS DOUBLE) AS devd,
                                sqrt(CAST(CAST(n AS HUGEINT) * sxx
                                          - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)
                                     AS DOUBLE)) AS sv
                         FROM idx, base),
                   f AS (SELECT day, i, c, dev_c,
                                CASE WHEN devd > 0 THEN 1 ELSE 0 END AS hi0,
                                CASE WHEN devd < 0 THEN 1 ELSE 0 END AS lo0,
                                CASE WHEN devd > sv THEN 1 ELSE 0 END AS hi1,
                                CASE WHEN devd < -sv THEN 1 ELSE 0 END AS lo1,
                                CASE WHEN devd > 2 * sv THEN 1 ELSE 0 END AS hi2,
                                CASE WHEN devd < -2 * sv THEN 1 ELSE 0 END AS lo2,
                                CASE WHEN devd > 3 * sv THEN 1 ELSE 0 END AS hi3,
                                CASE WHEN devd < -3 * sv THEN 1 ELSE 0 END AS lo3
                         FROM m),
                   r AS (SELECT day, i, c, dev_c,
                                greatest(hi3, lo3) AS r1,
                                greatest(
                                  CASE WHEN sum(hi2) OVER (ORDER BY day
                                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                                    >= 2 THEN 1 ELSE 0 END,
                                  CASE WHEN sum(lo2) OVER (ORDER BY day
                                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                                    >= 2 THEN 1 ELSE 0 END) AS r2,
                                greatest(
                                  CASE WHEN sum(hi1) OVER (ORDER BY day
                                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                                    >= 4 THEN 1 ELSE 0 END,
                                  CASE WHEN sum(lo1) OVER (ORDER BY day
                                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                                    >= 4 THEN 1 ELSE 0 END) AS r3,
                                greatest(
                                  CASE WHEN sum(hi0) OVER (ORDER BY day
                                    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
                                    = 8 THEN 1 ELSE 0 END,
                                  CASE WHEN sum(lo0) OVER (ORDER BY day
                                    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
                                    = 8 THEN 1 ELSE 0 END) AS r4
                         FROM f)
              SELECT day, round(CAST(c AS DOUBLE) / 100, 2) AS rev_d,
                     CAST(dev_c AS BIGINT) AS dev_c,
                     CAST(r1 AS BIGINT) AS r1, CAST(r2 AS BIGINT) AS r2,
                     CAST(r3 AS BIGINT) AS r3, CAST(r4 AS BIGINT) AS r4
              FROM r WHERE i > 10 ORDER BY day""")),

    // HOLT-WINTERS additive forecast (level + trend + weekly seasonal)
    // of daily revenue — the model-based companion to q_forecast_des
    // (which has level+trend only, per user) and q_seasonal_decompose
    // (which describes, HW predicts). The whole state recursion is a
    // SEQUENTIAL LEFT FOLD over the day dictionary (30..a few thousand
    // elements — series-bounded state, the q_ewma discipline): both
    // engines execute the identical chain of IEEE ops in the identical
    // order (Spark codegen'd array `aggregate`, DuckDB recursive CTE
    // stepping i → i+1), so the doubles match bit-for-bit with NO
    // integer trick needed. Init: l₀/b₀ from the first two weeks (sums
    // of integer-valued doubles — exact under any order), s₀ = week-1
    // residuals. The corpus-sized work is the daily cents rollup
    // (per-row quantized longs, order-safe); everything after is a
    // single-row computation. Output: the 7-day-ahead forecast curve.
    QueryDef(
      "q_forecast_hw",
      (s, d) => {
        val day = Tables.events(s, d)
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(sum(round(col("value") * 100).cast("long")).as("rev_c"))
        val series = day
          .agg(sort_array(collect_list(struct(col("day"), col("rev_c"))))
            .as("seq"))
          .withColumn("vals",
            transform(col("seq"), x => x.getField("rev_c").cast("double")))
        def v(i: Int) = element_at(col("vals"), i)
        val w1 = v(1) + v(2) + v(3) + v(4) + v(5) + v(6) + v(7)
        val w2 = v(8) + v(9) + v(10) + v(11) + v(12) + v(13) + v(14)
        val l0 = w1 / 7
        val b0 = (w2 - w1) / 49
        val s0 = array((1 to 7).map(i => v(i) - (w1 / 7)): _*)
        val folded = aggregate(
          slice(col("vals"), lit(8), greatest(size(col("vals")) - 7, lit(0))),
          struct(l0.as("l"), b0.as("b"), s0.as("s")),
          (acc, y) => {
            val s1 = element_at(acc.getField("s"), 1)
            val ln = lit(0.3) * (y - s1) +
              lit(0.7) * (acc.getField("l") + acc.getField("b"))
            val bn = lit(0.1) * (ln - acc.getField("l")) +
              lit(0.9) * acc.getField("b")
            val sn = lit(0.2) * (y - ln) + lit(0.8) * s1
            struct(ln.as("l"), bn.as("b"),
              concat(slice(acc.getField("s"), 2, 6), array(sn)).as("s"))
          })
        series.withColumn("st", folded)
          .select(explode(sequence(lit(1), lit(7))).as("h"), col("st"))
          .select(col("h"),
            (round((col("st").getField("l") +
              col("h") * col("st").getField("b") +
              element_at(col("st").getField("s"), col("h"))) / 100, 4) +
              lit(0.0)).as("forecast_d"))
          .orderBy("h")
      },
      Some("""WITH RECURSIVE
                   days AS (SELECT date_trunc('day', ts) AS day,
                                   sum(CAST(round(value * 100) AS BIGINT))
                                     AS rev_c
                            FROM events GROUP BY 1),
                   v AS (SELECT row_number() OVER (ORDER BY day) AS i,
                                CAST(rev_c AS DOUBLE) AS y
                         FROM days),
                   n AS (SELECT max(i) AS mx FROM v),
                   i7 AS (SELECT sum(y) AS s7 FROM v WHERE i <= 7),
                   i14 AS (SELECT sum(y) AS s14 FROM v
                           WHERE i BETWEEN 8 AND 14),
                   init AS (SELECT s7 / 7 AS l0, (s14 - s7) / 49 AS b0,
                                   (SELECT list(y - s7 / 7 ORDER BY i)
                                    FROM v, i7 WHERE i <= 7) AS s0
                            FROM i7, i14),
                   r AS (SELECT 7 AS i, l0 AS l, b0 AS b, s0 AS s FROM init
                         UNION ALL
                         SELECT v.i,
                                0.3 * (v.y - r.s[1]) + 0.7 * (r.l + r.b),
                                0.1 * ((0.3 * (v.y - r.s[1])
                                        + 0.7 * (r.l + r.b)) - r.l)
                                  + 0.9 * r.b,
                                r.s[2:7] ||
                                  [0.2 * (v.y - (0.3 * (v.y - r.s[1])
                                                 + 0.7 * (r.l + r.b)))
                                   + 0.8 * r.s[1]]
                         FROM r JOIN v ON v.i = r.i + 1),
                   fin AS (SELECT r.l, r.b, r.s FROM r, n WHERE r.i = n.mx),
                   hs AS (SELECT CAST(range AS INT) AS h FROM range(1, 8))
              SELECT hs.h,
                     round((fin.l + hs.h * fin.b
                            + fin.s[hs.h]) / 100, 4) + 0 AS forecast_d
              FROM fin, hs ORDER BY h"""))
  )

  // The timestamp-index segment is memoized (the in-session analog of
  // the index Pinot materializes next to its segments): events written
  // once with the ts_day derived column, reused across reps/queries.
  private def tsSegment(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val ev = Tables.events(s, d).select("event_id", "user_id", "ts", "value")
    graft.engine.Artifacts.segment("tsidx", ev) { dir =>
      // Pinot's timestamp-index layout in full: the derived day column is
      // also the PARTITION key (one segment dir per day, rows time-sorted
      // within), so a rewritten day-filter prunes whole directories and a
      // rewritten group-by reads the dir value — the 100-TB time-series
      // posture (time partition first; see SURVEY §4).
      graft.sources.SegmentWriter.write(ev, dir,
        graft.sources.SegmentWriter.Config(
          derivedTimeCols = Seq(("ts", "day")),
          partitionCols = Seq(graft.sources.SegmentWriter.derivedName("ts", "day")),
          sortCols = Seq("ts")))
    }
  }
}
