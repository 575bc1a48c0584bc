package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.operators.Salting

/** §A+ advanced analytics — Pinot multi-stage window functions, statistical
  * aggregations, histogram binning, GAPFILL (Pinot's time-series gap
  * filling) and an ordered-funnel aggregation (Pinot funnel family).
  */
object AdvancedQueries {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_window_rank",
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        Tables.orders(s, d)
          .select(
            col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
            row_number().over(w).as("rn"),
            lag("o_totalprice", 1).over(w).as("prev_price"))
          .filter(col("rn") <= 3)
          .orderBy("o_orderpriority", "rn")
      },
      Some("""SELECT o_orderpriority, o_orderkey, o_totalprice, rn, prev_price
              FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                           row_number() OVER w AS rn,
                           lag(o_totalprice, 1) OVER w AS prev_price
                    FROM orders
                    WINDOW w AS (PARTITION BY o_orderpriority
                                 ORDER BY o_totalprice DESC, o_orderkey))
              WHERE rn <= 3 ORDER BY o_orderpriority, rn""")),

    // LEAD/LAG with explicit offsets and defaults — the
    // previous/next-event comparison family. One per-customer key shuffle;
    // ordering is total within each partition ((date, orderkey) with a
    // unique orderkey), so the offset neighbors are engine-independent.
    QueryDef(
      "q_window_leadlag",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(asc("o_orderdate"), asc("o_orderkey"))
        Tables.orders(s, d)
          .filter(col("o_custkey") < 100)
          .select(
            col("o_custkey"), col("o_orderkey"),
            round(lag("o_totalprice", 1, 0.0).over(w), 2).as("prev_price"),
            round(lead("o_totalprice", 2).over(w), 2).as("next2_price"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
                     round(lag(o_totalprice, 1, 0.0) OVER w, 2) AS prev_price,
                     round(lead(o_totalprice, 2) OVER w, 2) AS next2_price
              FROM orders WHERE o_custkey < 100
              WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
              ORDER BY o_custkey, o_orderkey""")),

    // ARG_MIN / ARG_MAX (Pinot's argMin/argMax): the value of one column
    // at another column's extreme, as a single-pass mergeable aggregate —
    // min_by/max_by with a (price, key) struct ordering so ties break on
    // the unique key and the answer is engine-independent. The oracle
    // replays the tie-break with ranked windows.
    QueryDef(
      "q_argminmax",
      (s, d) =>
        Tables.orders(s, d)
          .groupBy("o_orderstatus")
          .agg(
            max_by(col("o_orderkey"),
              struct(col("o_totalprice"), col("o_orderkey"))).as("top_order"),
            min_by(col("o_orderkey"),
              struct(col("o_totalprice"), col("o_orderkey"))).as("bottom_order"),
            round(max("o_totalprice"), 2).as("max_price"),
            round(min("o_totalprice"), 2).as("min_price"))
          .orderBy("o_orderstatus"),
      Some("""WITH ranked AS (
                SELECT o_orderstatus, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_orderstatus
                                          ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
                       row_number() OVER (PARTITION BY o_orderstatus
                                          ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
                FROM orders)
              SELECT o_orderstatus,
                     CAST(max(CASE WHEN rmax = 1 THEN o_orderkey END) AS BIGINT) AS top_order,
                     CAST(max(CASE WHEN rmin = 1 THEN o_orderkey END) AS BIGINT) AS bottom_order,
                     round(max(o_totalprice), 2) AS max_price,
                     round(min(o_totalprice), 2) AS min_price
              FROM ranked GROUP BY 1 ORDER BY o_orderstatus""")),

    // Window DISTRIBUTION functions: percent_rank / cume_dist / nth_value
    // — the remaining multi-stage window family (rank position as a
    // fraction, cumulative distribution, positional value). Same single
    // key-shuffle as any per-partition window.
    QueryDef(
      "q_window_dist",
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(asc("o_totalprice"), asc("o_orderkey"))
        Tables.orders(s, d)
          .filter(col("o_orderkey") <= 2000)
          .select(
            col("o_orderpriority"), col("o_orderkey"),
            (round(percent_rank().over(w), 4) + lit(0.0)).as("pr"),
            (round(cume_dist().over(w), 4) + lit(0.0)).as("cd"),
            nth_value(col("o_orderkey"), 2).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .as("second_key"))
          .orderBy("o_orderpriority", "o_orderkey")
      },
      Some("""SELECT o_orderpriority, o_orderkey,
                     round(percent_rank() OVER w, 4) + 0 AS pr,
                     round(cume_dist() OVER w, 4) + 0 AS cd,
                     nth_value(o_orderkey, 2) OVER
                       (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_key
              FROM orders WHERE o_orderkey <= 2000
              WINDOW w AS (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice, o_orderkey)
              ORDER BY o_orderpriority, o_orderkey""")),

    // Window FRAMES: moving aggregates over ROWS BETWEEN frames plus
    // ntile bucketing — the running-metric dashboard family. Partitioned
    // by user (many partitions → parallel), one hash shuffle total.
    QueryDef(
      "q_window_frame",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
        val mv = w.rowsBetween(-3, Window.currentRow)
        Tables.events(s, d)
          .filter(col("user_id") < 20)
          .select(
            col("user_id"), col("event_id"),
            round(avg("value").over(mv), 4).as("mov_avg4"),
            round(sum("value").over(mv), 4).as("mov_sum4"),
            ntile(4).over(w).as("quartile"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
                     round(avg(value) OVER mv, 4) AS mov_avg4,
                     round(sum(value) OVER mv, 4) AS mov_sum4,
                     CAST(ntile(4) OVER w AS INT) AS quartile
              FROM events WHERE user_id < 20
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
                     mv AS (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
              ORDER BY user_id, event_id""")),

    QueryDef(
      "q_stats_agg",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            round(stddev_samp(col("l_quantity")), 2).as("sd_qty"),
            round(var_samp(col("l_quantity")), 2).as("var_qty"),
            (round(corr(col("l_quantity"), col("l_extendedprice")), 4) + lit(0.0)).as("corr_qp"),
            (round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2) + lit(0.0)).as("cov_qp"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
                     round(stddev_samp(l_quantity), 2) AS sd_qty,
                     round(var_samp(l_quantity), 2) AS var_qty,
                     round(corr(l_quantity, l_extendedprice), 4) + 0 AS corr_qp,
                     round(covar_samp(l_quantity, l_extendedprice), 2) + 0 AS cov_qp
              FROM lineitem GROUP BY 1 ORDER BY l_returnflag""")),

    // Higher-moment aggregations (Pinot SKEWNESS / KURTOSIS family).
    // Spark's built-ins are population skewness and population EXCESS
    // kurtosis in one codegen pass; the oracle recomputes both from raw
    // central moments (m3/m2^1.5, m4/m2²−3), so the built-ins are checked
    // against the mathematical definition rather than another library's
    // sample-form convention.
    QueryDef(
      "q_moments",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            (round(skewness(col("l_quantity")), 4) + lit(0.0)).as("skew_qty"),
            (round(kurtosis(col("l_quantity")), 4) + lit(0.0)).as("kurt_qty"),
            (round(skewness(col("l_discount")), 4) + lit(0.0)).as("skew_disc"))
          .orderBy("l_returnflag"),
      Some("""WITH m AS (SELECT l_returnflag,
                     avg(l_quantity) AS mq, avg(l_discount) AS md
                   FROM lineitem GROUP BY 1),
                   c AS (SELECT l.l_returnflag,
                     avg(pow(l_quantity - mq, 2)) AS q2,
                     avg(pow(l_quantity - mq, 3)) AS q3,
                     avg(pow(l_quantity - mq, 4)) AS q4,
                     avg(pow(l_discount - md, 2)) AS d2,
                     avg(pow(l_discount - md, 3)) AS d3
                   FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
                   GROUP BY 1)
              SELECT l_returnflag,
                     round(q3 / pow(q2, 1.5), 4) + 0 AS skew_qty,
                     round(q4 / pow(q2, 2) - 3, 4) + 0 AS kurt_qty,
                     round(d3 / pow(d2, 1.5), 4) + 0 AS skew_disc
              FROM c ORDER BY l_returnflag""")),

    QueryDef(
      "q_histogram",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy(floor(col("l_extendedprice") / 10000).cast("bigint").as("bucket"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy("bucket"),
      Some("""SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS bucket,
                     count(*) AS cnt
              FROM lineitem GROUP BY 1 ORDER BY bucket""")),

    // HISTOGRAM with EXPLICIT bin edges (Pinot's histogram aggregation
    // takes an arbitrary edge array, not just fixed width): bin index is
    // one codegen'd conditional chain, counts come from the ordinary
    // partial-aggregating group-by. Rows outside [first, last) fall into
    // the open-ended edge bins.
    QueryDef(
      "q_histogram_bins",
      (s, d) => {
        val edges = Seq(1000.0, 5000.0, 20000.0, 50000.0, 80000.0)
        val x = col("l_extendedprice")
        val bin = edges.zipWithIndex.foldRight(lit(edges.size): org.apache.spark.sql.Column) {
          case ((e, i), acc) => when(x < e, i).otherwise(acc)
        }
        Tables.lineitem(s, d)
          .groupBy(bin.cast("int").as("bin"))
          .agg(count(lit(1)).as("cnt"),
            round(min("l_extendedprice"), 2).as("lo"),
            round(max("l_extendedprice"), 2).as("hi"))
          .orderBy("bin")
      },
      Some("""SELECT CAST(CASE WHEN l_extendedprice < 1000 THEN 0
                               WHEN l_extendedprice < 5000 THEN 1
                               WHEN l_extendedprice < 20000 THEN 2
                               WHEN l_extendedprice < 50000 THEN 3
                               WHEN l_extendedprice < 80000 THEN 4
                               ELSE 5 END AS INT) AS bin,
                     count(*) AS cnt,
                     round(min(l_extendedprice), 2) AS lo,
                     round(max(l_extendedprice), 2) AS hi
              FROM lineitem GROUP BY 1 ORDER BY bin""")),

    // EQUI-DEPTH histogram (the quantile-bucket twin of the equal-width
    // q_histogram family): bucket edges are the exact quartiles, so every
    // bucket holds ~25% of the rows whatever the value skew — the layout
    // Pinot's range index wants for balanced pruning, and the binning a
    // training pipeline uses for difficulty/length strata. Scale shape:
    // prices quantize to integer cents, the three edges come from the
    // dictionary-histogram percentile operator (bounded aggregate state,
    // never a per-group value map), land on exactly-representable
    // quarter-cent doubles, and broadcast back onto one counting scan.
    // The histogram the single ranking task sorts is DOMAIN-bounded, not
    // corpus-bounded: distinct cents ≤ price-range·100 (~11M for TPC-H
    // prices, ~200 MB of count rows) however many fact rows exist — the
    // state that grows with the corpus stays in the mergeable rollup.
    QueryDef(
      "q_histogram_eqdepth",
      (s, d) => {
        // Every output is a function of the cents HISTOGRAM (bucket id
        // depends only on the value; cnt/lo/hi regroup the dictionary),
        // so the bucket pass reads the same (g, cents) rollup the
        // quartile ranking uses — ONE lineitem scan instead of two, and
        // the second consumer's exchange is a ReusedExchange of the
        // first's (r15 optimization round; the q_winsorize pattern).
        // Exactness: cents and counts are integers (sums < 2^53), the
        // bucket predicate compares the same double values as the raw
        // row form, min/max over the dictionary equal min/max over rows.
        val li = Tables.lineitem(s, d)
          .select(round(col("l_extendedprice") * 100).cast("long").as("c"),
            lit(1).as("g"))
        val hist = li.filter(col("c").isNotNull)
          .groupBy(col("g"), col("c").cast("double").as("__v"))
          .agg(count(lit(1)).as("__cnt"))
        val edges = graft.operators.Percentiles.interpolate(
          hist, Seq("g"), Seq(("q1", 0.25), ("q2", 0.5), ("q3", 0.75)))
        hist.join(broadcast(edges), "g")
          .withColumn("bucket",
            when(col("__v") <= col("q1"), 0)
              .when(col("__v") <= col("q2"), 1)
              .when(col("__v") <= col("q3"), 2)
              .otherwise(3))
          .groupBy("bucket")
          .agg(sum("__cnt").as("cnt"),
            round(min("__v") / 100.0, 2).as("lo"),
            round(max("__v") / 100.0, 2).as("hi"))
          .orderBy("bucket")
      },
      Some("""WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
                         FROM lineitem),
                   e AS (SELECT quantile_cont(c, 0.25) AS q1,
                                quantile_cont(c, 0.5) AS q2,
                                quantile_cont(c, 0.75) AS q3 FROM c)
              SELECT CASE WHEN c <= q1 THEN 0 WHEN c <= q2 THEN 1
                          WHEN c <= q3 THEN 2 ELSE 3 END AS bucket,
                     count(*) AS cnt,
                     round(min(c) / 100.0, 2) AS lo,
                     round(max(c) / 100.0, 2) AS hi
              FROM c, e GROUP BY 1 ORDER BY bucket""")),

    // FREEDMAN-DIACONIS auto-binned histogram — the profiling histogram
    // that picks its own bin width from the data (h = 2·IQR/∛n, the rule
    // every auto-binning UI uses) instead of a caller-supplied bin count.
    // Deterministic across engines by construction: the IQR comes from
    // DISCRETE cent picks (rank selection, no interpolation), h is ONE
    // scalar computation on exact integers (identical double both
    // engines), quantized to whole cents, and bin ids are integer
    // division — no float accumulates anywhere. Same scale shape as
    // q_histogram_eqdepth: the heavy pass is the cents-dictionary rollup,
    // the single-row h broadcasts.
    QueryDef(
      "q_histogram_fd",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(round(col("value") * 100).cast("long").as("cents"))
        val base = e.withColumn("g", lit(1))
        val q = graft.operators.Percentiles.discrete(
          base, Seq("g"),
          Seq(("p25", "cents", 0.25), ("p75", "cents", 0.75)))
        val params = q.join(base.groupBy("g").agg(count(lit(1)).as("n")), "g")
          .select(greatest(lit(1L),
            round((col("p75") - col("p25")) * 2 / cbrt(col("n"))).cast("long"))
            .as("h"))
        e.crossJoin(broadcast(params))
          .withColumn("bin", expr("cents DIV h"))
          .groupBy("bin", "h")
          .agg(count(lit(1)).as("cnt"))
          .select(
            round((col("bin") * col("h")) / 100.0, 2).as("bin_lo"),
            round(((col("bin") + 1) * col("h")) / 100.0, 2).as("bin_hi"),
            col("cnt"))
          .orderBy("bin_lo")
      },
      Some("""WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents
                         FROM events),
                   st AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
                                 count(*) OVER () AS n
                          FROM e),
                   q AS (SELECT max(CASE WHEN rn = greatest(
                                  CAST(ceil(0.25 * n) AS BIGINT), 1)
                                  THEN cents END) AS p25,
                                max(CASE WHEN rn = greatest(
                                  CAST(ceil(0.75 * n) AS BIGINT), 1)
                                  THEN cents END) AS p75,
                                max(n) AS n
                         FROM st),
                   p AS (SELECT greatest(1, CAST(round(
                           (p75 - p25) * 2 / cbrt(n)) AS BIGINT)) AS h
                         FROM q)
              SELECT round(CAST((e.cents // p.h) * p.h AS DOUBLE) / 100.0, 2)
                       AS bin_lo,
                     round(CAST(((e.cents // p.h) + 1) * p.h AS DOUBLE) / 100.0, 2)
                       AS bin_hi,
                     count(*) AS cnt
              FROM e, p GROUP BY 1, 2 ORDER BY bin_lo""")),

    // 2-D HISTOGRAM (price × quantity density grid — the scatter-heatmap
    // a BI tool renders over two metrics at once): both bin assignments
    // are scan-local integer arithmetic (quantity is integral; the price
    // bin is floor(x/10k) — identical IEEE division+floor both engines),
    // one hash rollup over the ~50-cell grid, revenue per cell from exact
    // per-row cents. The 1-D histogram family's shape with a composite
    // key; no window, no join.
    QueryDef(
      "q_histogram_2d",
      (s, d) =>
        Tables.lineitem(s, d)
          .select(
            floor(col("l_extendedprice") / 10000).cast("long").as("price_bin"),
            // Spark's `/` on integrals is double division; qty ≤ 50 is
            // exactly representable, so floor(x/10) ≡ DuckDB's `// 10`
            floor((col("l_quantity").cast("long") - 1) / 10)
              .cast("long").as("qty_band"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"))
          .groupBy("price_bin", "qty_band")
          .agg(count(lit(1)).as("n"),
            round(sum("cents") / 100.0, 2).as("revenue"))
          .orderBy("price_bin", "qty_band"),
      Some("""SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS price_bin,
                     (CAST(l_quantity AS BIGINT) - 1) // 10 AS qty_band,
                     count(*) AS n,
                     round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                                AS BIGINT) / 100.0, 2) AS revenue
              FROM lineitem
              GROUP BY 1, 2 ORDER BY price_bin, qty_band""")),

    // GAPFILL: dense daily time axis, zero-filled where no rows exist.
    // The axis is generated, not scanned — at 100 TB the fact side stays a
    // pruned aggregate and the (tiny) axis broadcasts.
    QueryDef(
      "q_gapfill",
      (s, d) => {
        val axis = s.range(1).select(explode(expr(
          "sequence(timestamp'1996-01-01', timestamp'1996-03-31', interval 1 day)")).as("day"))
        val daily = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "P")
          .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("c"))
        broadcast(axis).join(daily, Seq("day"), "left_outer")
          .select(col("day"), coalesce(col("c"), lit(0L)).as("cnt"))
          .orderBy("day")
      },
      Some("""WITH axis AS (SELECT unnest(generate_series(TIMESTAMP '1996-01-01',
                                   TIMESTAMP '1996-03-31', INTERVAL '1 day')) AS day),
                   daily AS (SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
                                    count(*) AS c
                             FROM orders
                             WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'P'
                             GROUP BY 1)
              SELECT axis.day AS day, CAST(coalesce(daily.c, 0) AS BIGINT) AS cnt
              FROM axis LEFT JOIN daily ON axis.day = daily.day
              ORDER BY day""")),

    // GAPFILL with FILL_PREVIOUS_VALUE (Pinot gapfill's carry-forward
    // interpolation mode, vs q_gapfill's zero fill): missing buckets take
    // the last observed bucket's value. The un-partitioned window runs over
    // the TIME AXIS (one row per bucket — dictionary-sized at any corpus
    // scale); the heavy aggregation upstream already reduced to buckets.
    QueryDef(
      "q_gapfill_prev",
      (s, d) => {
        val axis = s.range(1).select(explode(expr(
          "sequence(timestamp'1996-01-01', timestamp'1996-03-31', interval 1 day)")).as("day"))
        val daily = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "P")
          .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
          .agg(round(sum("o_totalprice"), 2).as("v"))
        val fillW = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        broadcast(axis).join(daily, Seq("day"), "left_outer")
          .select(col("day"),
            coalesce(last(col("v"), ignoreNulls = true).over(fillW), lit(0.0)).as("filled"))
          .orderBy("day")
      },
      Some("""WITH axis AS (SELECT unnest(generate_series(TIMESTAMP '1996-01-01',
                                   TIMESTAMP '1996-03-31', INTERVAL '1 day')) AS day),
                   daily AS (SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
                                    round(sum(o_totalprice), 2) AS v
                             FROM orders
                             WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'P'
                             GROUP BY 1)
              SELECT axis.day AS day,
                     coalesce(last_value(v IGNORE NULLS) OVER
                         (ORDER BY axis.day ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW), 0.0) AS filled
              FROM axis LEFT JOIN daily ON axis.day = daily.day
              ORDER BY day""")),

    // GAPFILL with LINEAR interpolation — the third Pinot fill mode next
    // to q_gapfill's zero fill and q_gapfill_prev's carry-forward: a
    // missing bucket takes the straight line between its neighboring
    // observed buckets (edge gaps stay null — there is nothing to
    // interpolate toward). Two frame-bounded windows per series find the
    // bracketing observations; every window is PARTITIONED by event_type
    // and runs over the bucket axis (types × hours — dictionary-sized at
    // any corpus scale; the raw-event reduction happened upstream in the
    // hourly rollup). The per-type axis derives from the data (min..max
    // observed hour), so no hardcoded range.
    QueryDef(
      "q_gapfill_linear",
      (s, d) => {
        // the hourly mean quantizes to integer cents FIRST (exact integer
        // sum — identical on any engine and any summation order), so both
        // engines interpolate from bit-identical inputs and the line is
        // engine-exact; a raw double avg differs in the last ulp and can
        // flip the output's 4th decimal across a rounding boundary
        val hourly = Tables.events(s, d)
          .filter(col("value") > 180)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
          .agg((sum(round(col("value") * 100).cast("long")) / count(lit(1)) / 100.0)
            .as("v"))
        val axis = hourly.groupBy("event_type")
          .agg(min("hour").as("lo"), max("hour").as("hi"))
          .select(col("event_type"),
            explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
        val w = Window.partitionBy("event_type").orderBy("hour")
        val wPrev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wNext = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        axis.join(hourly, Seq("event_type", "hour"), "left_outer")
          .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
          .withColumn("ph",
            last(when(col("v").isNotNull, col("hour")), ignoreNulls = true).over(wPrev))
          .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
          .withColumn("nh",
            first(when(col("v").isNotNull, col("hour")), ignoreNulls = true).over(wNext))
          .select(col("event_type"), col("hour"),
            // discretize to integer cents via floor(x·100 + 0.5): pure
            // IEEE ops on bit-identical inputs — unlike round(x, n),
            // whose decimal-string halfway semantics differ between
            // engines exactly when the line crosses a .xxx5 boundary
            floor(
              when(col("v").isNotNull, col("v"))
                .when(col("pv").isNotNull && col("nv").isNotNull,
                  col("pv") + (col("nv") - col("pv")) *
                    (col("hour").cast("long") - col("ph").cast("long")) /
                    (col("nh").cast("long") - col("ph").cast("long")))
                * 100 + 0.5).cast("long").as("filled_c"))
          .orderBy("event_type", "hour")
      },
      Some("""WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                                       / count(*) / 100.0 AS v
                              FROM events WHERE value > 180 GROUP BY 1, 2),
                   bounds AS (SELECT event_type, min(hour) AS lo, max(hour) AS hi
                              FROM hourly GROUP BY 1),
                   axis AS (SELECT event_type,
                                   unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour
                            FROM bounds),
                   j AS (SELECT a.event_type, a.hour, h.v
                         FROM axis a LEFT JOIN hourly h USING (event_type, hour)),
                   wnd AS (SELECT event_type, hour, v,
                            last_value(v IGNORE NULLS) OVER w1 AS pv,
                            last_value(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS)
                              OVER w1 AS ph,
                            first_value(v IGNORE NULLS) OVER w2 AS nv,
                            first_value(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS)
                              OVER w2 AS nh
                           FROM j
                           WINDOW w1 AS (PARTITION BY event_type ORDER BY hour
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                                  w2 AS (PARTITION BY event_type ORDER BY hour
                                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
              SELECT event_type, hour,
                     CAST(floor((CASE WHEN v IS NOT NULL THEN v
                                WHEN pv IS NOT NULL AND nv IS NOT NULL
                                THEN pv + (nv - pv) * (epoch(hour) - epoch(ph))
                                     / (epoch(nh) - epoch(ph))
                           END) * 100 + 0.5) AS BIGINT) AS filled_c
              FROM wnd ORDER BY event_type, hour""")),

    // Linear-regression aggregation family (regr_slope / intercept / r2 /
    // count) — one-pass, mergeable moment accumulators, same partial-agg
    // shape as STDDEV/CORR. Oracle recomputes with DuckDB's regr_* family.
    QueryDef(
      "q_regr",
      (s, d) => {
        val y = col("l_extendedprice"); val x = col("l_quantity")
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            (round(regr_slope(y, x), 2) + lit(0.0)).as("slope"),
            (round(regr_intercept(y, x), 2) + lit(0.0)).as("icpt"),
            (round(regr_r2(y, x), 4) + lit(0.0)).as("r2"),
            regr_count(y, x).cast("long").as("n"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
                     round(regr_slope(l_extendedprice, l_quantity), 2) + 0 AS slope,
                     round(regr_intercept(l_extendedprice, l_quantity), 2) + 0 AS icpt,
                     round(regr_r2(l_extendedprice, l_quantity), 4) + 0 AS r2,
                     CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Correlation / covariance aggregations (Pinot's COVAR_POP /
    // COVAR_SAMP / CORR family) — single-pass mergeable moments, the
    // same partial-aggregation shape as q_regr.
    QueryDef(
      "q_corr",
      (s, d) => {
        val x = col("l_quantity"); val y = col("l_extendedprice")
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            (round(corr(x, y), 4) + lit(0.0)).as("r"),
            (round(covar_pop(x, y), 2) + lit(0.0)).as("cv_pop"),
            (round(covar_samp(x, y), 2) + lit(0.0)).as("cv_samp"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
                     round(corr(l_quantity, l_extendedprice), 4) + 0 AS r,
                     round(covar_pop(l_quantity, l_extendedprice), 2) + 0 AS cv_pop,
                     round(covar_samp(l_quantity, l_extendedprice), 2) + 0 AS cv_samp
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Moving MEDIAN over a row frame — the robust-smoothing dashboard
    // twin of q_window_frame's moving average (medians shrug off the
    // outliers that drag a mean). The exact percentile aggregate runs AS
    // a window function over a 5-row frame: state is frame-bounded, the
    // shuffle is the same single per-customer key hash as any window.
    // Output starts at the 5th row of each partition so every frame holds
    // an ODD count and the median is an actual data value — even-count
    // frames interpolate (a+b)/2, and half-cent results round differently
    // across engines at the 1-ulp boundary.
    QueryDef(
      "q_window_median",
      (s, d) => {
        val ord = Window.partitionBy("o_custkey")
          .orderBy(asc("o_orderdate"), asc("o_orderkey"))
        val w = ord.rowsBetween(-4, Window.currentRow)
        Tables.orders(s, d)
          .filter(col("o_custkey") < 100)
          .select(
            col("o_custkey"), col("o_orderkey"),
            row_number().over(ord).as("rn"),
            round(expr("percentile(o_totalprice, 0.5)").over(w), 2).as("mov_median"))
          .filter(col("rn") >= 5)
          .drop("rn")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""WITH r AS (SELECT o_custkey, o_orderkey,
                     row_number() OVER w AS rn,
                     round(quantile_cont(o_totalprice, 0.5) OVER
                       (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 2) AS mov_median
              FROM orders WHERE o_custkey < 100
              WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
              SELECT o_custkey, o_orderkey, mov_median
              FROM r WHERE rn >= 5 ORDER BY o_custkey, o_orderkey""")),

    // Hierarchical ROLLUP (year → status → grand total) with grouping()
    // markers — the drill-down twin of q_grouping_sets' CUBE: one Expand
    // pass emits all prefix levels, partial aggregation combines
    // map-side. NULLS FIRST on the rollup keys keeps the subtotal rows'
    // ordering engine-independent.
    QueryDef(
      "q_rollup",
      (s, d) =>
        Tables.orders(s, d)
          .withColumn("yr", year(col("o_orderdate")))
          .rollup("yr", "o_orderstatus")
          .agg(
            count(lit(1)).as("cnt"),
            round(sum("o_totalprice"), 2).as("tp"),
            grouping(col("yr")).cast("int").as("g_yr"),
            grouping(col("o_orderstatus")).cast("int").as("g_st"))
          .orderBy(col("g_yr"), col("g_st"),
            col("yr").asc_nulls_first, col("o_orderstatus").asc_nulls_first),
      Some("""SELECT CAST(extract(year FROM o_orderdate) AS INT) AS yr, o_orderstatus,
                     CAST(count(*) AS BIGINT) AS cnt,
                     round(sum(o_totalprice), 2) AS tp,
                     CAST(grouping(yr) AS INT) AS g_yr,
                     CAST(grouping(o_orderstatus) AS INT) AS g_st
              FROM orders GROUP BY ROLLUP(yr, o_orderstatus)
              ORDER BY g_yr, g_st, yr NULLS FIRST, o_orderstatus NULLS FIRST""")),

    // Full CUBE grouping (q_rollup's 2^n sibling — all four grouping
    // combinations in one pass): the same grouping()-flag + nulls-first
    // total-order discipline keeps the rolled NULL rows deterministic on
    // both engines. One shuffle; partial aggregation replicates per
    // grouping set exactly as Pinot's multi-stage GROUP BY CUBE would.
    QueryDef(
      "q_cube_agg",
      (s, d) =>
        Tables.orders(s, d)
          .withColumn("yr", year(col("o_orderdate")))
          .cube("yr", "o_orderpriority")
          .agg(
            count(lit(1)).as("cnt"),
            round(sum("o_totalprice"), 2).as("tp"),
            grouping(col("yr")).cast("int").as("g_yr"),
            grouping(col("o_orderpriority")).cast("int").as("g_pr"))
          .orderBy(col("g_yr"), col("g_pr"),
            col("yr").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
      Some("""SELECT CAST(extract(year FROM o_orderdate) AS INT) AS yr, o_orderpriority,
                     CAST(count(*) AS BIGINT) AS cnt,
                     round(sum(o_totalprice), 2) AS tp,
                     CAST(grouping(yr) AS INT) AS g_yr,
                     CAST(grouping(o_orderpriority) AS INT) AS g_pr
              FROM orders GROUP BY CUBE(yr, o_orderpriority)
              ORDER BY g_yr, g_pr, yr NULLS FIRST, o_orderpriority NULLS FIRST""")),

    // 2-D SKYLINE (Pareto frontier: min price, max size — the classic
    // dominance query from the OLAP literature): a part is on the
    // skyline iff no other part is same-or-cheaper with strictly larger
    // size, or strictly cheaper with same-or-larger size. The scalable
    // shape is the sorted-sweep identity, not an all-pairs dominance
    // join: roll parts up to the price-CENTS dictionary (bounded by the
    // price domain — the q_ks_test window class), run two running-max
    // windows over it (≤ current cents / strictly cheaper), and
    // broadcast the dictionary back onto the scan. Exact-tie semantics:
    // equal (price, size) points don't dominate each other and are all
    // kept.
    QueryDef(
      "q_skyline",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.orderBy("cents")
        val p = Tables.part(s, d).select(col("p_partkey"),
          round(col("p_retailprice") * 100).cast("long").as("cents"),
          col("p_size"))
        val dd = p.groupBy("cents").agg(max("p_size").as("mx"))
          .withColumn("m_le", max("mx").over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .withColumn("m_lt", max("mx").over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
        p.join(broadcast(dd.select(col("cents"), col("m_le"), col("m_lt"))), "cents")
          .filter(col("p_size") === col("m_le") &&
            (col("m_lt").isNull || col("p_size") > col("m_lt")))
          .select(col("p_partkey"),
            (col("cents").cast("double") / 100.0).as("price"), col("p_size"))
          .orderBy("p_partkey")
      },
      Some("""WITH p AS (SELECT p_partkey,
                                CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
                                p_size
                         FROM part),
                   dict AS (SELECT cents, max(p_size) AS mx FROM p GROUP BY 1),
                   dd AS (SELECT cents,
                            max(mx) OVER (ORDER BY cents
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_le,
                            max(mx) OVER (ORDER BY cents
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_lt
                          FROM dict)
              SELECT p_partkey, CAST(cents AS DOUBLE) / 100.0 AS price, p_size
              FROM p JOIN dd USING (cents)
              WHERE p_size = m_le AND (m_lt IS NULL OR p_size > m_lt)
              ORDER BY p_partkey""")),

    // Skew-resistant two-stage (salted) aggregation — result must equal
    // the plain group-by (the oracle).
    QueryDef(
      "q_salted_agg",
      (s, d) =>
        Salting.saltedAgg(
            Tables.lineitem(s, d), keys = Seq("l_returnflag"),
            metrics = Seq(
              Salting.Metric("l_quantity", "sum"),
              Salting.Metric("l_quantity", "count"),
              Salting.Metric("l_extendedprice", "max")),
            saltBuckets = 16)
          .select(
            col("l_returnflag"),
            round(col("sum_l_quantity"), 2).as("sum_qty"),
            col("count_l_quantity").as("cnt"),
            col("max_l_extendedprice").as("max_price"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
                     count(*) AS cnt, max(l_extendedprice) AS max_price
              FROM lineitem GROUP BY 1 ORDER BY l_returnflag""")),

    // Aggregates with FILTER clauses (one scan, many conditional aggs).
    QueryDef(
      "q_agg_filter",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            expr("count(*) FILTER (WHERE l_quantity > 25)").as("n_big"),
            expr("round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2)").as("disc_rev"),
            expr("round(avg(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2)").as("avg_f_qty"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
                     count(*) FILTER (WHERE l_quantity > 25) AS n_big,
                     round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2) AS disc_rev,
                     round(avg(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS avg_f_qty
              FROM lineitem GROUP BY 1 ORDER BY l_returnflag""")),

    // FIRSTWITHTIME / LASTWITHTIME: value at min/max time per key
    // (ts is globally unique in the fixture, so arg_max/max_by is
    // deterministic across engines).
    QueryDef(
      "q_first_last_with_time",
      (s, d) =>
        Tables.events(s, d)
          .groupBy("user_id")
          .agg(
            expr("min_by(event_type, ts)").as("first_type"),
            expr("max_by(event_type, ts)").as("last_type"),
            expr("min_by(value, ts)").as("first_value"),
            expr("max_by(value, ts)").as("last_value"))
          .orderBy("user_id"),
      Some("""SELECT user_id,
                     arg_min(event_type, ts) AS first_type,
                     arg_max(event_type, ts) AS last_type,
                     arg_min(value, ts) AS first_value,
                     arg_max(value, ts) AS last_value
              FROM events GROUP BY 1 ORDER BY user_id""")),

    // Theta-sketch-style set operations, exact form: distinct-user
    // cardinality of click/purchase cohorts plus their intersection and
    // union, from ONE pass + one user-keyed aggregate.
    QueryDef(
      "q_set_ops",
      (s, d) => {
        val flags = Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy("user_id")
          .agg(
            max(when(col("event_type") === "click", 1).otherwise(0)).as("c"),
            max(when(col("event_type") === "purchase", 1).otherwise(0)).as("p"))
        flags.agg(
          sum("c").cast("bigint").as("n_click"),
          sum("p").cast("bigint").as("n_purchase"),
          sum(col("c") * col("p")).cast("bigint").as("n_both"),
          count(lit(1)).as("n_either"))
      },
      Some("""WITH flags AS (SELECT user_id,
                       max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
                       max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
                     FROM events WHERE event_type IN ('click', 'purchase')
                     GROUP BY user_id)
              SELECT CAST(sum(c) AS BIGINT) AS n_click,
                     CAST(sum(p) AS BIGINT) AS n_purchase,
                     CAST(sum(c * p) AS BIGINT) AS n_both,
                     count(*) AS n_either
              FROM flags""")),

    // TOP-N + OTHERS — the dashboard rollup: the N heaviest groups keep
    // their identity, everything else folds into one OTHER bucket, totals
    // preserved. The ranking window runs over the already-aggregated
    // per-group counts (rows = distinct groups, not events), so the
    // "window" cost is dictionary-sized at any corpus scale.
    QueryDef(
      "q_topn_others",
      (s, d) => {
        val counts = Tables.events(s, d)
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_val"))
        val w = Window.orderBy(desc("cnt"), asc("event_type"))
        counts
          .withColumn("rnk", row_number().over(w))
          .withColumn("bucket", when(col("rnk") <= 2, col("event_type")).otherwise("OTHER"))
          .groupBy("bucket")
          .agg(sum("cnt").cast("bigint").as("n_events"),
            round(sum("sum_val"), 2).as("sum_val"))
          .orderBy(desc("n_events"), asc("bucket"))
      },
      Some("""WITH counts AS (SELECT event_type, count(*) AS cnt,
                       round(sum(value), 2) AS sum_val
                     FROM events GROUP BY 1),
                   ranked AS (SELECT *, row_number() OVER
                       (ORDER BY cnt DESC, event_type) AS rnk FROM counts)
              SELECT CASE WHEN rnk <= 2 THEN event_type ELSE 'OTHER' END AS bucket,
                     CAST(sum(cnt) AS BIGINT) AS n_events,
                     round(sum(sum_val), 2) AS sum_val
              FROM ranked GROUP BY 1 ORDER BY n_events DESC, bucket""")),

    // TOP-K PER GROUP via the BOUNDED-HEAP aggregate — the scale-first
    // form of "top 5 parts by revenue within every return flag" (Pinot's
    // per-group TOP N): after the (flag, part) revenue rollup, each map
    // task keeps a k-sized heap PER FLAG (top_k_by,
    // ObjectHashAggregate partial mode), so only groups×partitions×k heap
    // entries shuffle — no rank window materializing and sorting every
    // (flag, part) row through one reducer per flag. The window form is
    // fine when the partition key is dictionary-sized; this is the form
    // that survives a high-cardinality group key at 100 TB. Ties break
    // (revenue desc, partkey asc) in both engines; revenue is exact
    // per-row cents, one display division at the end.
    QueryDef(
      "q_topk_per_group",
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"), col("l_partkey"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_c"))
        rev.groupBy("l_returnflag")
          .agg(graft.functions.VectorFns.topKBy(
            col("rev_c").cast("double"), col("l_partkey"), 5).as("hits"))
          .select(col("l_returnflag"), posexplode(col("hits")).as(Seq("pos", "hit")))
          .select(col("l_returnflag"), (col("pos") + 1).as("rnk"),
            col("hit.cand_id").as("l_partkey"),
            round(col("hit.sim") / 100.0, 2).as("rev_d"))
          .orderBy("l_returnflag", "rnk")
      },
      Some("""WITH rev AS (SELECT l_returnflag, l_partkey,
                                  sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                                    AS rev_c
                           FROM lineitem GROUP BY 1, 2),
                   rk AS (SELECT l_returnflag, l_partkey, rev_c,
                                 row_number() OVER (PARTITION BY l_returnflag
                                                    ORDER BY rev_c DESC, l_partkey)
                                   AS rnk
                          FROM rev)
              SELECT l_returnflag, rnk, l_partkey,
                     round(CAST(rev_c AS BIGINT) / 100.0, 2) AS rev_d
              FROM rk WHERE rnk <= 5
              ORDER BY l_returnflag, rnk""")),

    // Set DIFFERENCE cardinalities (theta-sketch A-NOT-B analog): users in
    // one behavioral cohort but not the other, plus symmetric difference —
    // same one-pass flags aggregation, no join or subtraction re-scan.
    QueryDef(
      "q_set_ops_diff",
      (s, d) => {
        val flags = Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy("user_id")
          .agg(
            max(when(col("event_type") === "click", 1).otherwise(0)).as("c"),
            max(when(col("event_type") === "purchase", 1).otherwise(0)).as("p"))
        flags.agg(
          sum(col("c") * (lit(1) - col("p"))).cast("bigint").as("n_click_only"),
          sum(col("p") * (lit(1) - col("c"))).cast("bigint").as("n_purchase_only"),
          sum(when(col("c") =!= col("p"), 1).otherwise(0)).cast("bigint").as("n_sym_diff"))
      },
      Some("""WITH flags AS (SELECT user_id,
                       max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
                       max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
                     FROM events WHERE event_type IN ('click', 'purchase')
                     GROUP BY user_id)
              SELECT CAST(sum(c * (1 - p)) AS BIGINT) AS n_click_only,
                     CAST(sum(p * (1 - c)) AS BIGINT) AS n_purchase_only,
                     CAST(sum(CASE WHEN c <> p THEN 1 ELSE 0 END) AS BIGINT) AS n_sym_diff
              FROM flags""")),

    // Row-level SQL set operators (INTERSECT / EXCEPT — the multi-stage
    // engine's set surface, vs q_set_ops' cardinality-only flag algebra):
    // customers ordering in BOTH years and customers who churned after
    // 1996, as actual row sets with distinct semantics. Catalyst plans
    // both as semi/anti hash joins + distinct — key-partitioned shuffles,
    // no sort of either full side; the labeled union keeps one output
    // relation so the driver sees a single deterministic frame.
    QueryDef(
      "q_sql_setops",
      (s, d) => {
        val o = Tables.orders(s, d)
        def keysIn(year: Int) =
          o.filter(expr(s"year(o_orderdate) = $year")).select("o_custkey")
        val a = keysIn(1996)
        val b = keysIn(1997)
        a.intersect(b).withColumn("grp", lit("both"))
          .unionByName(a.except(b).withColumn("grp", lit("only_1996")))
          .select(col("grp"), col("o_custkey"))
          .orderBy("grp", "o_custkey")
      },
      Some("""WITH a AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
                   b AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
                   both_k AS (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b),
                   only96 AS (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
              SELECT 'both' AS grp, o_custkey FROM both_k
              UNION ALL
              SELECT 'only_1996' AS grp, o_custkey FROM only96
              ORDER BY grp, o_custkey""")),

    // Sketch-based set operations — the mergeable form the exact q_set_ops
    // cannot take at 100 TB: per-cohort HLL sketches (map-side partial,
    // bytes-sized state) merge with hll_union_agg across any cohort
    // combination WITHOUT re-scanning users; intersection comes from
    // inclusion–exclusion. Approximate by design (rows-only; error bounded
    // vs q_set_ops in ApproxSpec).
    QueryDef(
      "q_set_ops_sketch",
      (s, d) => {
        val ev = Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
        val sketches = ev.groupBy("event_type")
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        val per = sketches.select(
          col("event_type"),
          hll_sketch_estimate(col("sk")).as("n_users"))
        val union = sketches.agg(
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_either"))
        per.crossJoin(union)
          .groupBy()
          .agg(
            max(when(col("event_type") === "click", col("n_users"))).as("n_click"),
            max(when(col("event_type") === "purchase", col("n_users"))).as("n_purchase"),
            first(col("n_either")).as("n_either"))
          .withColumn("n_both_est",
            col("n_click") + col("n_purchase") - col("n_either"))
      },
      None),

    // Theta-sketch set algebra — the capability HLL structurally lacks:
    // DIRECT intersection and difference sketches (Pinot's
    // DISTINCTCOUNTTHETASKETCH; KMV family, Beyer et al. SIGMOD'07, here
    // Spark's DataSketches theta functions, sized by lgNomEntries = log2 k).
    // Per-year O(k) sketches of the ordering customers merge/intersect/
    // subtract as blobs — "customers in BOTH years" at 100 TB without
    // the exact q_sql_setops distinct shuffles, and unlike HLL
    // inclusion–exclusion the result is ITSELF a sketch that composes
    // further. k=256 < the ~1170 per-year cardinality, so the sketches
    // are genuinely trimmed at sf0.01 (approximate by design — rows-only
    // here; ThetaSketchSpec bounds every estimate vs the exact counts).
    QueryDef(
      "q_theta_setops",
      (s, d) => {
        val o = Tables.orders(s, d)
          .filter(expr("year(o_orderdate) in (1996, 1997)"))
          .withColumn("yr", expr("year(o_orderdate)"))
        o.groupBy("yr")
          .agg(theta_sketch_agg(col("o_custkey"), 8).as("sk"))
          .agg(
            first(when(col("yr") === 1996, col("sk")), ignoreNulls = true).as("sk96"),
            first(when(col("yr") === 1997, col("sk")), ignoreNulls = true).as("sk97"))
          .select(
            theta_sketch_estimate(col("sk96")).as("n_1996"),
            theta_sketch_estimate(col("sk97")).as("n_1997"),
            theta_sketch_estimate(theta_union(col("sk96"), col("sk97"), 8)).as("n_either"),
            theta_sketch_estimate(theta_intersection(col("sk96"), col("sk97"))).as("n_both"),
            theta_sketch_estimate(theta_difference(col("sk96"), col("sk97"))).as("n_only_1996"))
      },
      None),

    // The theta family's EXACT-REGIME twin: a theta sketch with k above the
    // true cardinality never trims (θ stays 1.0), so every estimate —
    // including the composed intersection/difference sketches — is the
    // EXACT set cardinality, and the whole sketch machinery becomes
    // hash-verifiable against plain DISTINCT set algebra. Same code path
    // as q_theta_setops (sketch agg → union/intersect/aNotB → estimate),
    // k=2^16 ≫ the ≤15k per-year customers at any tested sf. This is the
    // operating mode a 100 TB deployment uses for dimension-sized keys;
    // trimming only starts past k distinct values.
    QueryDef(
      "q_theta_setops_exact",
      (s, d) => {
        val o = Tables.orders(s, d)
          .filter(expr("year(o_orderdate) in (1996, 1997)"))
          .withColumn("yr", expr("year(o_orderdate)"))
        o.groupBy("yr")
          .agg(theta_sketch_agg(col("o_custkey"), 16).as("sk"))
          .agg(
            first(when(col("yr") === 1996, col("sk")), ignoreNulls = true).as("sk96"),
            first(when(col("yr") === 1997, col("sk")), ignoreNulls = true).as("sk97"))
          .select(
            theta_sketch_estimate(col("sk96")).as("n_1996"),
            theta_sketch_estimate(col("sk97")).as("n_1997"),
            theta_sketch_estimate(theta_union(col("sk96"), col("sk97"), 16)).as("n_either"),
            theta_sketch_estimate(theta_intersection(col("sk96"), col("sk97"))).as("n_both"),
            theta_sketch_estimate(theta_difference(col("sk96"), col("sk97"))).as("n_only_1996"))
      },
      Some("""WITH a AS (SELECT DISTINCT o_custkey FROM orders
                         WHERE year(o_orderdate) = 1996),
                   b AS (SELECT DISTINCT o_custkey FROM orders
                         WHERE year(o_orderdate) = 1997)
              SELECT (SELECT count(*) FROM a) AS n_1996,
                     (SELECT count(*) FROM b) AS n_1997,
                     (SELECT count(*) FROM
                        (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b)) AS n_either,
                     (SELECT count(*) FROM
                        (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)) AS n_both,
                     (SELECT count(*) FROM
                        (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)) AS n_only_1996""")),

    // SKETCH CUBE rollup — theta sketches as pre-aggregated cube metrics
    // (Pinot's DISTINCTCOUNTTHETASKETCH star-tree metric): per-(type, day)
    // CELL sketches roll up to per-type distinct-user estimates by
    // UNIONING blobs (theta_union_agg), never rescanning raw rows — and
    // because theta union keeps the k smallest hashes, the rollup is
    // grouping-invariant: the unioned sketch is byte-identical to one
    // built directly over the raw group (spec-pinned), so cube-served
    // estimates EQUAL raw-scan estimates, not merely approximate them.
    // Rows-only by the family's convention (the estimate itself is
    // approximate); the oracle-exact twin is q_distinctcount.
    QueryDef(
      "q_theta_cube",
      (s, d) => {
        val cells = Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(theta_sketch_agg(col("user_id"), 8).as("sk"))
        cells.groupBy("event_type")
          .agg(
            count(lit(1)).as("n_cells"),
            theta_sketch_estimate(theta_union_agg(col("sk"), 8)).as("distinct_users"))
          .orderBy("event_type")
      },
      None),

    // q_theta_cube's exact-regime twin (k=2^16 ≫ user cardinality): the
    // grouping-invariant theta union means cube-served per-type distinct
    // counts EQUAL the raw-scan distinct counts exactly when nothing
    // trims — hash-verified against COUNT(DISTINCT) here, pinning the
    // whole cells→union-agg→estimate rollup path, not just its bound.
    QueryDef(
      "q_theta_cube_exact",
      (s, d) => {
        val cells = Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(theta_sketch_agg(col("user_id"), 16).as("sk"))
        cells.groupBy("event_type")
          .agg(
            count(lit(1)).as("n_cells"),
            theta_sketch_estimate(theta_union_agg(col("sk"), 16)).as("distinct_users"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
                     count(DISTINCT date_trunc('day', ts)) AS n_cells,
                     count(DISTINCT user_id) AS distinct_users
              FROM events GROUP BY 1 ORDER BY event_type""")),

    // Sketch-estimated JACCARD similarity between user cohorts — the
    // audience-overlap matrix a dashboard renders across all segment
    // pairs, answered from the same per-segment theta sketches
    // q_theta_setops maintains (J = |A∩B| / |A∪B|, both estimated from
    // the merged theta state — inexpressible with HLL alone, which cannot
    // intersect). The pairwise join runs on the 5-row per-type sketch
    // dictionary, never raw rows; rows-only by design, ThetaSketchSpec
    // bounds every estimate against the exact Jaccard.
    QueryDef(
      "q_theta_jaccard",
      (s, d) => {
        val sk = Tables.events(s, d)
          .groupBy("event_type")
          .agg(theta_sketch_agg(col("user_id"), 8).as("sk"))
        val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
        val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
        a.join(b, col("type_a") < col("type_b"))
          .select(col("type_a"), col("type_b"),
            round(
              theta_sketch_estimate(theta_intersection(col("ska"), col("skb"))) /
                theta_sketch_estimate(theta_union(col("ska"), col("skb"), 8)), 4)
              .as("jaccard_est"))
          .orderBy("type_a", "type_b")
      },
      None),

    // q_theta_jaccard's EXACT-REGIME twin (k=2^16 ≫ user cardinality):
    // untrimmed theta sketches retain every distinct key, so est(A∩B) and
    // est(A∪B) are the true cohort cardinalities and the sketch-served
    // Jaccard EQUALS the exact audience overlap — hash-verified against
    // the plain distinct-set computation. Both engines divide the same
    // exact integers as doubles, so the 6-dp rounding is bit-identical.
    // Completes the theta family's exact coverage (setops, cube, jaccard).
    QueryDef(
      "q_theta_jaccard_exact",
      (s, d) => {
        val sk = Tables.events(s, d)
          .groupBy("event_type")
          .agg(theta_sketch_agg(col("user_id"), 16).as("sk"))
        val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
        val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
        a.join(b, col("type_a") < col("type_b"))
          .select(col("type_a"), col("type_b"),
            theta_sketch_estimate(theta_intersection(col("ska"), col("skb"))).as("n_both"),
            theta_sketch_estimate(theta_union(col("ska"), col("skb"), 16)).as("n_either"),
            round(
              theta_sketch_estimate(theta_intersection(col("ska"), col("skb"))) /
                theta_sketch_estimate(theta_union(col("ska"), col("skb"), 16)), 6)
              .as("jaccard"))
          .orderBy("type_a", "type_b")
      },
      Some("""WITH s AS (SELECT DISTINCT event_type, user_id FROM events),
                   n AS (SELECT event_type, count(*) AS cnt FROM s GROUP BY 1),
                   pairs AS (SELECT na.event_type AS type_a, na.cnt AS ca,
                                    nb.event_type AS type_b, nb.cnt AS cb
                             FROM n na JOIN n nb
                               ON na.event_type < nb.event_type),
                   inter AS (SELECT a.event_type AS type_a,
                                    b.event_type AS type_b,
                                    count(*) AS both
                             FROM s a JOIN s b
                               ON a.user_id = b.user_id
                              AND a.event_type < b.event_type
                             GROUP BY 1, 2)
              SELECT p.type_a, p.type_b,
                     CAST(coalesce(i.both, 0) AS BIGINT) AS n_both,
                     CAST(p.ca + p.cb - coalesce(i.both, 0) AS BIGINT)
                       AS n_either,
                     round(coalesce(i.both, 0) * 1.0 /
                           (p.ca + p.cb - coalesce(i.both, 0)), 6) AS jaccard
              FROM pairs p
              LEFT JOIN inter i
                ON i.type_a = p.type_a AND i.type_b = p.type_b
              ORDER BY p.type_a, p.type_b""")),

    // TUPLE-sketch segment metrics — the question theta cardinalities
    // alone can't answer: "how many distinct users did BOTH click and
    // purchase, AND how much money do they represent". Each per-type
    // tuple sketch carries a summed-cents summary per retained user
    // (cents quantized PER ROW — the integer-grid rule), so intersection
    // / difference blobs yield both a distinct estimate and a metric
    // estimate, all from O(k) state. k=64 < the 150 distinct users, so
    // the sketches genuinely trim at sf0.01 (approximate by design —
    // rows-only; TupleSketchSpec bounds every estimate vs exact).
    // Pinot ships this as its DataSketches Tuple aggregations
    // (configuration-reference/schema.md:48 sketch column families).
    QueryDef(
      "q_tuple_metrics",
      (s, d) => {
        import graft.functions.SketchFns._
        val e = Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .withColumn("cents", round(col("value") * 100).cast("long"))
        e.groupBy("event_type")
          .agg(tupleSketch(col("user_id"), col("cents"), 64).as("sk"))
          .agg(
            first(when(col("event_type") === "click", col("sk")), ignoreNulls = true).as("skc"),
            first(when(col("event_type") === "purchase", col("sk")), ignoreNulls = true).as("skp"))
          .select(
            tupleDistinct(col("skc")).as("n_click"),
            tupleSum(col("skc")).as("click_cents"),
            tupleDistinct(col("skp")).as("n_purchase"),
            tupleSum(col("skp")).as("purchase_cents"),
            tupleDistinct(tupleIntersect(col("skc"), col("skp"))).as("n_both"),
            tupleSum(tupleIntersect(col("skc"), col("skp"))).as("both_cents"),
            tupleDistinct(tupleANotB(col("skc"), col("skp"))).as("n_click_only"),
            tupleSum(tupleANotB(col("skc"), col("skp"))).as("click_only_cents"))
      },
      None),

    // The tuple family's EXACT-REGIME twin (k=65536 ≫ user cardinality,
    // nothing trims, θ stays MAX): every distinct count AND every
    // summed-cents summary — including through intersect/aNotB — is
    // exact, hash-verified against plain joins over per-user cent sums.
    // This pins the whole sketch path (per-row quantize → tuple agg →
    // set algebra → estimate), not just its error bound, and is the mode
    // a 100 TB deployment uses for dimension-sized key domains.
    QueryDef(
      "q_tuple_metrics_exact",
      (s, d) => {
        import graft.functions.SketchFns._
        val e = Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .withColumn("cents", round(col("value") * 100).cast("long"))
        e.groupBy("event_type")
          .agg(tupleSketch(col("user_id"), col("cents"), 65536).as("sk"))
          .agg(
            first(when(col("event_type") === "click", col("sk")), ignoreNulls = true).as("skc"),
            first(when(col("event_type") === "purchase", col("sk")), ignoreNulls = true).as("skp"))
          .select(
            tupleDistinct(col("skc")).as("n_click"),
            tupleSum(col("skc")).as("click_cents"),
            tupleDistinct(col("skp")).as("n_purchase"),
            tupleSum(col("skp")).as("purchase_cents"),
            tupleDistinct(tupleIntersect(col("skc"), col("skp"))).as("n_both"),
            tupleSum(tupleIntersect(col("skc"), col("skp"))).as("both_cents"),
            tupleDistinct(tupleANotB(col("skc"), col("skp"))).as("n_click_only"),
            tupleSum(tupleANotB(col("skc"), col("skp"))).as("click_only_cents"))
      },
      Some("""WITH e AS (SELECT user_id, event_type,
                     CAST(round(value * 100) AS BIGINT) AS cents
                   FROM events WHERE event_type IN ('click', 'purchase')),
                   c AS (SELECT user_id, sum(cents) AS s FROM e
                         WHERE event_type = 'click' GROUP BY 1),
                   p AS (SELECT user_id, sum(cents) AS s FROM e
                         WHERE event_type = 'purchase' GROUP BY 1)
              SELECT (SELECT count(*) FROM c) AS n_click,
                     (SELECT CAST(sum(s) AS BIGINT) FROM c) AS click_cents,
                     (SELECT count(*) FROM p) AS n_purchase,
                     (SELECT CAST(sum(s) AS BIGINT) FROM p) AS purchase_cents,
                     (SELECT count(*) FROM c JOIN p USING (user_id)) AS n_both,
                     (SELECT CAST(sum(c.s + p.s) AS BIGINT)
                        FROM c JOIN p USING (user_id)) AS both_cents,
                     (SELECT count(*) FROM c
                        WHERE user_id NOT IN (SELECT user_id FROM p)) AS n_click_only,
                     (SELECT CAST(coalesce(sum(s), 0) AS BIGINT) FROM c
                        WHERE user_id NOT IN (SELECT user_id FROM p)) AS click_only_cents""")),

    // TUPLE-sketch CUBE rollup — per-(type, day) cell sketches carrying
    // summed cents roll up to per-type (distinct users, revenue) by
    // UNIONING blobs (tuple_union_agg), never rescanning raw rows. Tuple
    // union is summary-ADDITIVE per key, which is exactly the rollup
    // semantics: a user active on many days contributes each day's cents
    // once, so the unioned summary is their total — the cube serves
    // "distinct users AND their revenue per segment" from O(cells · k)
    // state. k=64 < user cardinality at sf0.01: genuinely trimmed,
    // rows-only (TupleSketchSpec bounds the estimates; the exact twin
    // below pins the fold path itself).
    QueryDef(
      "q_tuple_cube",
      (s, d) => {
        import graft.functions.SketchFns._
        val cells = Tables.events(s, d)
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(tupleSketch(col("user_id"), col("cents"), 64).as("sk"))
        cells.groupBy("event_type")
          .agg(
            count(lit(1)).as("n_cells"),
            tupleDistinct(tupleUnionAgg(col("sk"), 64)).as("distinct_users"),
            tupleSum(tupleUnionAgg(col("sk"), 64)).as("revenue_cents"))
          .orderBy("event_type")
      },
      None),

    // q_tuple_cube's exact-regime twin (k=65536 ≫ user cardinality,
    // nothing trims at any level): cube-served per-type distinct counts
    // AND revenue totals EQUAL the raw-scan answers exactly —
    // hash-verified, pinning the cells → union-agg → (distinct, sum)
    // rollup path including the additive summary fold across days.
    QueryDef(
      "q_tuple_cube_exact",
      (s, d) => {
        import graft.functions.SketchFns._
        val cells = Tables.events(s, d)
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(tupleSketch(col("user_id"), col("cents"), 65536).as("sk"))
        cells.groupBy("event_type")
          .agg(
            count(lit(1)).as("n_cells"),
            tupleDistinct(tupleUnionAgg(col("sk"), 65536)).as("distinct_users"),
            tupleSum(tupleUnionAgg(col("sk"), 65536)).as("revenue_cents"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
                     count(DISTINCT date_trunc('day', ts)) AS n_cells,
                     count(DISTINCT user_id) AS distinct_users,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS revenue_cents
              FROM events GROUP BY 1 ORDER BY event_type""")),

    // BENFORD first-digit profile — the data-quality screen forensic
    // auditing runs over a money column (organically-generated amounts
    // follow log-uniform first digits; fabricated ones don't). One
    // scan-local digit projection + a 9-key rollup; the share divides by
    // the single-row total via the scalar-N broadcast pattern. All
    // counts integer-exact; the share is one division, rounded
    // identically on both engines.
    QueryDef(
      "q_benford",
      (s, d) => {
        val digits = Tables.orders(s, d)
          .select(substring(floor(col("o_totalprice")).cast("long")
            .cast("string"), 1, 1).as("digit"))
        val counts = digits.groupBy("digit").agg(count(lit(1)).as("n_orders"))
        val total = counts.agg(sum("n_orders").as("tot"))
        counts.crossJoin(broadcast(total))
          .select(col("digit"), col("n_orders"),
            round(col("n_orders").cast("double") / col("tot"), 6).as("share"))
          .orderBy("digit")
      },
      Some("""WITH dg AS (SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                             AS VARCHAR), 1, 1) AS digit
                          FROM orders),
                   c AS (SELECT digit, count(*) AS n_orders FROM dg GROUP BY 1),
                   t AS (SELECT sum(n_orders) AS tot FROM c)
              SELECT digit, n_orders,
                     round(CAST(n_orders AS DOUBLE) / tot, 6) AS share
              FROM c, t ORDER BY digit""")),

    // Anomaly pre-filter (the ThirdEye-style use in Introduction.md):
    // per-type z-scores against broadcast per-type stats; stats round to
    // 6 decimals on both sides so threshold comparisons are engine-stable.
    QueryDef(
      "q_zscore_outliers",
      (s, d) => {
        val ev = Tables.events(s, d)
        val stats = ev.groupBy("event_type").agg(
          round(avg("value"), 6).as("mu"),
          round(stddev_pop(col("value")), 6).as("sigma"))
        ev.join(broadcast(stats), Seq("event_type"))
          .withColumn("z", (col("value") - col("mu")) / col("sigma"))
          .filter(abs(col("z")) > 2.5)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_outliers"), round(max(abs(col("z"))), 2).as("max_z"))
          .orderBy("event_type")
      },
      Some("""WITH st AS (SELECT event_type, round(avg(value), 6) AS mu,
                     round(stddev_pop(value), 6) AS sigma
                   FROM events GROUP BY 1)
              SELECT event_type, count(*) AS n_outliers,
                     round(max(abs((value - mu) / sigma)), 2) AS max_z
              FROM events JOIN st USING (event_type)
              WHERE abs((value - mu) / sigma) > 2.5
              GROUP BY 1 ORDER BY event_type""")),

    // Cohort retention: users bucketed by first-seen day, distinct-user
    // counts per (cohort, day-offset) — the slice/drill dashboard matrix.
    QueryDef(
      "q_retention",
      (s, d) => {
        val ev = Tables.events(s, d)
        val cohorts = ev.groupBy("user_id")
          .agg(min(date_trunc("day", col("ts"))).as("cohort"))
        ev.join(cohorts, Seq("user_id"))
          .withColumn("day_offset",
            datediff(date_trunc("day", col("ts")), col("cohort")))
          .filter(col("day_offset") <= 7)
          .groupBy("cohort", "day_offset")
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort", "day_offset")
      },
      Some("""WITH c AS (SELECT user_id, min(date_trunc('day', ts)) AS cohort
                         FROM events GROUP BY 1)
              SELECT CAST(cohort AS TIMESTAMP) AS cohort,
                     CAST(datediff('day', cohort, date_trunc('day', ts)) AS INT) AS day_offset,
                     count(DISTINCT e.user_id) AS n_users
              FROM events e JOIN c USING (user_id)
              WHERE datediff('day', cohort, date_trunc('day', ts)) <= 7
              GROUP BY 1, 2 ORDER BY cohort, day_offset""")),

    // PIVOT (slice and dice): event_type columns per user, one scan +
    // one aggregate (explicit pivot values keep the schema static).
    QueryDef(
      "q_pivot",
      (s, d) =>
        Tables.events(s, d)
          .filter(col("user_id") < 30)
          .groupBy("user_id")
          .pivot("event_type", Seq("click", "view", "purchase"))
          .agg(round(sum("value"), 2))
          .na.fill(0.0, Seq("click", "view", "purchase"))
          .orderBy("user_id"),
      Some("""SELECT user_id,
                     coalesce(round(sum(CASE WHEN event_type = 'click' THEN value END), 2), 0) AS click,
                     coalesce(round(sum(CASE WHEN event_type = 'view' THEN value END), 2), 0) AS view,
                     coalesce(round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2), 0) AS purchase
              FROM events WHERE user_id < 30
              GROUP BY 1 ORDER BY user_id""")),

    // UNPIVOT (melt) — q_pivot's inverse: wide metric columns back to
    // (key, metric, value) long form, the reshaping every feature-store
    // export needs. Scan-local expansion (Spark's native unpivot = one
    // generator projection, no shuffle, no UNION of self-scans — the
    // oracle's 3-scan UNION ALL is exactly what this avoids at 100 TB).
    QueryDef(
      "q_unpivot",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_orderkey") < 200)
          .select("l_orderkey", "l_linenumber",
            "l_quantity", "l_discount", "l_tax")
          .unpivot(
            Array(col("l_orderkey"), col("l_linenumber")),
            Array(col("l_quantity"), col("l_discount"), col("l_tax")),
            "metric", "val")
          .orderBy("l_orderkey", "l_linenumber", "metric"),
      Some("""SELECT l_orderkey, l_linenumber, metric, val FROM (
                SELECT l_orderkey, l_linenumber,
                       'l_quantity' AS metric, l_quantity AS val
                FROM lineitem WHERE l_orderkey < 200
                UNION ALL
                SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
                FROM lineitem WHERE l_orderkey < 200
                UNION ALL
                SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
                FROM lineitem WHERE l_orderkey < 200)
              ORDER BY l_orderkey, l_linenumber, metric""")),

    // Sessionization: split each user's event stream into sessions at
    // >30-minute gaps (lag + running sum over one user-keyed window — a
    // single hash shuffle; the canonical behavioral-analytics shape).
    QueryDef(
      "q_sessionize",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
        Tables.events(s, d)
          .withColumn("prev_ts", lag("ts", 1).over(w))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1).otherwise(0))
          .withColumn("sess_id", sum("new_sess")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sess_id")
          .agg(
            count(lit(1)).as("n_events"),
            min("ts").as("sess_start"),
            round(sum("value"), 2).as("sess_value"))
          .orderBy("user_id", "sess_id")
      },
      Some("""WITH g AS (SELECT user_id, event_id, ts, value,
                     lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                   FROM events),
                   marks AS (SELECT *, CASE WHEN prev_ts IS NULL
                                  OR epoch(ts) - epoch(prev_ts) > 1800
                               THEN 1 ELSE 0 END AS new_sess FROM g),
                   sess AS (SELECT *, sum(new_sess) OVER
                              (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess_id
                            FROM marks)
              SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, count(*) AS n_events,
                     min(ts) AS sess_start, round(sum(value), 2) AS sess_value
              FROM sess GROUP BY 1, 2 ORDER BY user_id, sess_id""")),

    // SESSION QUALITY metrics — the engagement dashboard on top of
    // q_sessionize's decomposition (bounce rate / depth / duration):
    // same single per-user window pass to session ids, a per-session
    // rollup, then everything folds to ONE summary row. Durations are
    // exact integer microseconds; rates are one division of exact
    // integer counts, rounded identically.
    QueryDef(
      "q_session_metrics",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
        val sess = Tables.events(s, d)
          .withColumn("prev_ts", lag("ts", 1).over(w))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1).otherwise(0))
          .withColumn("sess_id", sum("new_sess")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sess_id")
          .agg(count(lit(1)).as("n_events"),
            (unix_micros(max("ts")) - unix_micros(min("ts"))).as("dur_us"))
        sess.agg(
          count(lit(1)).as("n_sessions"),
          countDistinct("user_id").as("n_users"),
          sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"),
          round(sum(when(col("n_events") === 1, 1L).otherwise(0L)).cast("double") /
            count(lit(1)), 6).as("bounce_rate"),
          round(sum("n_events").cast("double") / count(lit(1)), 4).as("avg_depth"),
          sum("dur_us").as("total_dur_us"))
      },
      Some("""WITH g AS (SELECT user_id, event_id, ts,
                     lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                   FROM events),
                   marks AS (SELECT *, CASE WHEN prev_ts IS NULL
                                  OR epoch(ts) - epoch(prev_ts) > 1800
                               THEN 1 ELSE 0 END AS new_sess FROM g),
                   sess AS (SELECT *, sum(new_sess) OVER
                              (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess_id
                            FROM marks),
                   per AS (SELECT user_id, sess_id, count(*) AS n_events,
                                  epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
                           FROM sess GROUP BY 1, 2)
              SELECT count(*) AS n_sessions,
                     count(DISTINCT user_id) AS n_users,
                     CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_bounces,
                     round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                           / count(*), 6) AS bounce_rate,
                     round(CAST(sum(n_events) AS DOUBLE) / count(*), 4) AS avg_depth,
                     CAST(sum(dur_us) AS BIGINT) AS total_dur_us
              FROM per""")),

    // GROUPING SETS / CUBE: every dim-combination rollup in ONE pass
    // (Expand + single aggregate) — the query-side analog of the
    // star-tree's multi-combination pre-aggregation; at 100 TB one Expand
    // scan beats k separate group-bys.
    QueryDef(
      "q_grouping_sets",
      (s, d) =>
        Tables.lineitem(s, d)
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(
            count(lit(1)).as("cnt"),
            round(sum("l_quantity"), 2).as("sum_qty"),
            grouping_id(col("l_returnflag"), col("l_linestatus")).as("gid"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                     round(sum(l_quantity), 2) AS sum_qty,
                     CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid
              FROM lineitem
              GROUP BY CUBE (l_returnflag, l_linestatus)
              ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // DISTINCTSUM / DISTINCTAVG aggregation family.
    QueryDef(
      "q_distinct_sum",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            round(sum_distinct(col("l_quantity")), 2).as("dsum_qty"),
            round(expr("avg(DISTINCT l_quantity)"), 2).as("davg_qty"),
            countDistinct(col("l_quantity")).as("dcnt_qty"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
                     round(sum(DISTINCT l_quantity), 2) AS dsum_qty,
                     round(avg(DISTINCT l_quantity), 2) AS davg_qty,
                     count(DISTINCT l_quantity) AS dcnt_qty
              FROM lineitem GROUP BY 1 ORDER BY l_returnflag""")),

    // ARRAY_AGG / LISTAGG aggregation family: per-group value collection,
    // plain and DISTINCT, emitted sorted-joined so the result is
    // deterministic under any partitioning (and comparator-safe — the
    // driver cannot sort raw array columns). Collected sets here are
    // dictionary-sized (nations per region, statuses per flag); unbounded
    // collects over raw facts are what `top_k_by`/sketches are for.
    QueryDef(
      "q_array_agg",
      (s, d) =>
        Tables.nation(s, d)
          .groupBy("n_regionkey")
          .agg(
            array_join(array_sort(collect_list("n_name")), ",").as("names"),
            array_join(
              transform(array_sort(collect_set(col("n_nationkey") % 5)), _.cast("string")),
              ",").as("key_mods"),
            count(lit(1)).as("n"))
          .orderBy("n_regionkey"),
      Some("""SELECT n_regionkey,
                     string_agg(n_name, ',' ORDER BY n_name) AS names,
                     array_to_string(list_sort(list_distinct(list(n_nationkey % 5))), ',')
                       AS key_mods,
                     count(*) AS n
              FROM nation GROUP BY 1 ORDER BY n_regionkey""")),

    // Ordered funnel: signup -> later purchase, per user.
    QueryDef(
      "q_funnel",
      (s, d) => {
        val ev = Tables.events(s, d)
        val signups = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("ts").as("signup_ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"))
        val converted = signups
          .join(purchases,
            signups("user_id") === purchases("user_id") && col("p_ts") > col("signup_ts"),
            "left_semi")
          .agg(count(lit(1)).as("n_converted"))
        signups.agg(count(lit(1)).as("n_signup")).crossJoin(converted)
      },
      Some("""WITH s AS (SELECT user_id, min(ts) AS st FROM events
                         WHERE event_type = 'signup' GROUP BY 1)
              SELECT (SELECT count(*) FROM s) AS n_signup,
                     (SELECT count(DISTINCT s.user_id) FROM s
                      JOIN events p ON p.user_id = s.user_id
                                   AND p.event_type = 'purchase' AND p.ts > s.st)
                     AS n_converted""")),

    // ANY-ORDER funnel (Pinot funnelCompleteCount semantics without the
    // order constraint): how many users performed ALL of a step set
    // regardless of sequence — the "completed the bundle" question the
    // ordered funnels can't ask. One partial-aggregating pass builds a
    // per-user step BITMASK (max of per-row bits — no distinct shuffle,
    // no event list), then the mask dictionary rolls up completion
    // counts for every prefix of the step set plus the full bundle.
    QueryDef(
      "q_funnel_unordered",
      (s, d) => {
        val mask = Tables.events(s, d)
          .filter(col("event_type").isin("view", "signup", "purchase"))
          .groupBy("user_id")
          .agg(
            max(when(col("event_type") === "view", 1L).otherwise(0L)).as("b_view"),
            max(when(col("event_type") === "signup", 1L).otherwise(0L)).as("b_signup"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("b_purchase"))
        mask.agg(
          count(lit(1)).as("n_any"),
          sum(col("b_view")).as("n_view"),
          sum(col("b_view") * col("b_signup")).as("n_view_signup"),
          sum(col("b_view") * col("b_signup") * col("b_purchase")).as("n_all3"))
      },
      Some("""WITH m AS (SELECT user_id,
                     max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS bv,
                     max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS bs,
                     max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bp
                   FROM events
                   WHERE event_type IN ('view', 'signup', 'purchase')
                   GROUP BY 1)
              SELECT count(*) AS n_any,
                     CAST(sum(bv) AS BIGINT) AS n_view,
                     CAST(sum(bv * bs) AS BIGINT) AS n_view_signup,
                     CAST(sum(bv * bs * bp) AS BIGINT) AS n_all3
              FROM m""")),

    // TIME-TO-EVENT distribution — the conversion-lag curve (signup →
    // first purchase) growth analytics reads before any funnel tuning:
    // per-user lag in whole days from one min-aggregate pass per stage
    // (never an event sort), rolled up to a per-day distribution with
    // CUMULATIVE converted share — integer counts all the way, the share
    // one exact division rounded for display. The censored tail (signups
    // with no later purchase) is reported beside the curve, where a
    // Kaplan-Meier estimator would consume it.
    QueryDef(
      "q_conversion_lag",
      (s, d) => {
        val ev = Tables.events(s, d)
        val signups = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("ts").as("st"))
        val firstPurchase = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("pt"))
        val lags = signups
          .join(firstPurchase,
            col("user_id") === col("p_user") && col("pt") >= col("st"), "left")
          .groupBy("user_id", "st").agg(min("pt").as("fp"))
          .select(col("user_id"),
            datediff(col("fp"), col("st")).cast("long").as("lag_days"))
        val nSign = lags.agg(count(lit(1)).as("ns"))
        lags.filter(col("lag_days").isNotNull)
          .groupBy("lag_days").agg(count(lit(1)).as("n_converted"))
          .withColumn("cum",
            sum("n_converted").over(
              Window.orderBy(asc("lag_days"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .crossJoin(broadcast(nSign))
          .select(col("lag_days"), col("n_converted"),
            col("cum").as("n_cum"),
            round(col("cum") / col("ns").cast("double"), 6).as("cum_share"))
          .orderBy("lag_days")
      },
      Some("""WITH s AS (SELECT user_id, min(ts) AS st FROM events
                         WHERE event_type = 'signup' GROUP BY 1),
                   fp AS (SELECT s.user_id, s.st, min(p.ts) AS pt
                          FROM s LEFT JOIN events p
                            ON p.user_id = s.user_id
                           AND p.event_type = 'purchase' AND p.ts >= s.st
                          GROUP BY 1, 2),
                   lag AS (SELECT CAST(date_diff('day', CAST(st AS DATE),
                                       CAST(pt AS DATE)) AS BIGINT) AS lag_days
                           FROM fp WHERE pt IS NOT NULL),
                   n AS (SELECT count(*) AS ns FROM fp),
                   curve AS (SELECT lag_days, count(*) AS n_converted
                             FROM lag GROUP BY 1)
              SELECT lag_days, n_converted,
                     CAST(sum(n_converted) OVER (ORDER BY lag_days) AS BIGINT)
                       AS n_cum,
                     round(sum(n_converted) OVER (ORDER BY lag_days) * 1.0 /
                           (SELECT ns FROM n), 6) AS cum_share
              FROM curve ORDER BY lag_days""")),

    // FUNNELMAXSTEP (Pinot funnel family): the furthest ORDERED step each
    // user reached (view → later signup → later purchase), as a
    // distribution over max_step. Each stage is a user-keyed equi-join +
    // partial MIN aggregate — per-user state is one timestamp per stage,
    // never a sorted event list; stage outputs shrink monotonically, so
    // later joins broadcast at scale under AQE.
    QueryDef(
      "q_funnel_maxstep",
      (s, d) => {
        val ev = Tables.events(s, d)
        val t1 = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("t1"))
        val t2 = ev.filter(col("event_type") === "signup")
          .join(t1, "user_id").filter(col("ts") > col("t1"))
          .groupBy("user_id").agg(min("ts").as("t2"))
        val t3 = ev.filter(col("event_type") === "purchase")
          .join(t2, "user_id").filter(col("ts") > col("t2"))
          .groupBy("user_id").agg(min("ts").as("t3"))
        t1.join(t2.select("user_id", "t2"), Seq("user_id"), "left_outer")
          .join(t3.select("user_id", "t3"), Seq("user_id"), "left_outer")
          .select(
            when(col("t3").isNotNull, lit(3))
              .when(col("t2").isNotNull, lit(2))
              .otherwise(lit(1)).as("max_step"))
          .groupBy("max_step")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("max_step")
      },
      Some("""WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
                          WHERE event_type = 'view' GROUP BY 1),
                   t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
                          JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t1
                          WHERE e.event_type = 'signup' GROUP BY 1),
                   t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
                          JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.t2
                          WHERE e.event_type = 'purchase' GROUP BY 1)
              SELECT CASE WHEN t3.user_id IS NOT NULL THEN 3
                          WHEN t2.user_id IS NOT NULL THEN 2
                          ELSE 1 END AS max_step,
                     count(*) AS n_users
              FROM t1
              LEFT JOIN t2 ON t1.user_id = t2.user_id
              LEFT JOIN t3 ON t1.user_id = t3.user_id
              GROUP BY 1 ORDER BY max_step""")),

    // LAST-TOUCH attribution (the funnel family's revenue question: which
    // channel gets credit for each conversion?). Every purchase is
    // attributed to the user's most recent PRIOR non-purchase event type;
    // purchases with no prior touch are 'direct'. One per-user window pass
    // — the same single hash-partition shuffle as q_sessionize, per-row
    // state is one carried string, no per-user event list. Ordering ties
    // on ts break by event_id so the carried channel is deterministic
    // under any partitioning on both engines.
    QueryDef(
      "q_attribution",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.events(s, d)
          .withColumn("channel",
            last(when(col("event_type") =!= "purchase", col("event_type")),
              ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .groupBy(coalesce(col("channel"), lit("direct")).as("channel"))
          .agg(count(lit(1)).as("n_purchases"),
            round(sum("value"), 2).as("revenue"))
          .orderBy("channel")
      },
      Some("""WITH t AS (SELECT event_type, value,
                                last_value(CASE WHEN event_type <> 'purchase'
                                                THEN event_type END IGNORE NULLS)
                                  OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND 1 PRECEDING) AS channel
                         FROM events)
              SELECT coalesce(channel, 'direct') AS channel,
                     count(*) AS n_purchases,
                     round(sum(value), 2) AS revenue
              FROM t WHERE event_type = 'purchase'
              GROUP BY 1 ORDER BY channel""")),

    // FIRST-touch attribution — the acquisition-side complement of
    // q_attribution's last-touch (which channel FIRST brought the user
    // who later purchased?): the same one-window shuffle with
    // first()/ignoreNulls over the unbounded-preceding frame; per-row
    // state is one carried string, never an event list.
    QueryDef(
      "q_attribution_first",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.events(s, d)
          .withColumn("channel",
            first(when(col("event_type") =!= "purchase", col("event_type")),
              ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .groupBy(coalesce(col("channel"), lit("direct")).as("channel"))
          .agg(count(lit(1)).as("n_purchases"),
            round(sum("value"), 2).as("revenue"))
          .orderBy("channel")
      },
      Some("""WITH t AS (SELECT event_type, value,
                                first_value(CASE WHEN event_type <> 'purchase'
                                                 THEN event_type END IGNORE NULLS)
                                  OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND 1 PRECEDING) AS channel
                         FROM events)
              SELECT coalesce(channel, 'direct') AS channel,
                     count(*) AS n_purchases,
                     round(sum(value), 2) AS revenue
              FROM t WHERE event_type = 'purchase'
              GROUP BY 1 ORDER BY channel""")),

    // Time-RANGE window frames (RANGE BETWEEN INTERVAL ... PRECEDING): the
    // trailing-hour running metric over IRREGULAR event times — row-count
    // frames (q_window_frame) cannot express "last hour" when event
    // spacing varies. The order key is exact epoch MICROSECONDS on both
    // engines (unix_micros ≡ epoch_us; second-granularity casts would
    // truncate sub-second spacing differently), frame = [t-1h, t]
    // inclusive. Same one-key-shuffle plan shape as every window here.
    QueryDef(
      "q_window_timerange",
      (s, d) => {
        val hourUs = 3600L * 1000000L
        val w = Window.partitionBy("user_id")
          .orderBy(expr("unix_micros(ts)"))
          .rangeBetween(-hourUs, 0)
        Tables.events(s, d)
          .filter(col("user_id") < 30)
          .select(
            col("user_id"), col("event_id"),
            count(lit(1)).over(w).as("n_1h"),
            round(sum("value").over(w), 2).as("sum_1h"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
                     count(*) OVER w AS n_1h,
                     round(sum(value) OVER w, 2) AS sum_1h
              FROM events WHERE user_id < 30
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
              ORDER BY user_id, event_id""")),

    // User journey / path analysis — the "top first-N event sequences"
    // dashboard staple (funnel's exploratory twin: instead of testing ONE
    // ordered pattern, rank the sequences users actually take). Each
    // user's first 3 events under the (ts, event_id) total order become a
    // '>'-joined path; paths roll up to (path, n_users). Shape at 100 TB:
    // one user-key shuffle for the ranking window (state = 3 rows per
    // user), then a path rollup bounded by |event_type|^3 — the corpus
    // never shuffles twice. The ordered per-user concat is array_sort
    // over a (rank, type) struct list, so no ordered-aggregation
    // dependency; ties are impossible under the total order.
    QueryDef(
      "q_user_paths",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
        Tables.events(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .groupBy("user_id")
          .agg(array_sort(collect_list(struct(col("rn"), col("event_type"))))
            .as("steps"))
          .select(col("user_id"),
            concat_ws(">", transform(col("steps"), s0 => s0.getField("event_type")))
              .as("path"))
          .groupBy("path")
          .agg(count(lit(1)).as("n_users"))
          .orderBy(desc("n_users"), asc("path"))
      },
      Some("""WITH r AS (SELECT user_id, event_type,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                   FROM events),
                   p AS (SELECT user_id,
                                string_agg(event_type, '>' ORDER BY rn) AS path
                         FROM r WHERE rn <= 3 GROUP BY 1)
              SELECT path, count(*) AS n_users
              FROM p GROUP BY 1 ORDER BY n_users DESC, path""")),

    // SEQUENCE-PATTERN match — the MATCH_RECOGNIZE / Pinot
    // funnelMatchStep analog for arbitrary regex patterns: each user's
    // event stream collapses to a compact symbol string (one initial per
    // event, ordered by the (ts, event_id) total order), and the pattern
    // runs as an ordinary regex over that string — "a click followed by a
    // purchase with only views/errors between" is 'c[ve]*p'. One key
    // shuffle + per-key ordered reduce; the string is bounded by per-key
    // activity (the same bound every MATCH_RECOGNIZE engine carries), and
    // the regex engines agree because the pattern stays in the
    // POSIX-common subset. Strictly more expressive than the funnel
    // operators: Kleene stars, alternation, and negated classes come free.
    QueryDef(
      "q_seq_pattern",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
        Tables.events(s, d)
          .withColumn("rn", row_number().over(w))
          .withColumn("c", substring(col("event_type"), 1, 1))
          .groupBy("user_id")
          .agg(array_sort(collect_list(struct(col("rn"), col("c")))).as("steps"))
          .select(col("user_id"),
            concat_ws("", transform(col("steps"), s0 => s0.getField("c"))).as("seq"))
          .select(
            col("user_id"),
            length(col("seq")).as("seq_len"),
            col("seq").rlike("c[ve]*p").cast("int").as("clean_funnel"),
            col("seq").rlike("ee").cast("int").as("error_burst"),
            instr(col("seq"), "p").as("first_purchase_pos"))
          .orderBy("user_id")
      },
      Some("""WITH p AS (SELECT user_id,
                     string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
                   FROM events GROUP BY 1)
              SELECT user_id, length(seq) AS seq_len,
                     CAST(regexp_matches(seq, 'c[ve]*p') AS INT) AS clean_funnel,
                     CAST(regexp_matches(seq, 'ee') AS INT) AS error_burst,
                     CAST(strpos(seq, 'p') AS BIGINT) AS first_purchase_pos
              FROM p ORDER BY user_id""")),

    // KEY-SKEW diagnostics — the shuffle-health screen an operator runs
    // BEFORE picking a partitioning at 100 TB (skewed keys → salting /
    // AQE skew-join; this query is how you find them). One partial
    // aggregate to the key-frequency dictionary, then dictionary-local
    // stats: hottest key + its share, and the Gini concentration index
    // via the rank formula G = (2·Σr·f − (n+1)·Σf) / (n·Σf) — integer
    // arithmetic until the final division, so the hash is
    // order-independent. The rank window is over the AGGREGATED key
    // dictionary (n_keys rows), not raw events.
    QueryDef(
      "q_key_skew",
      (s, d) => {
        val cnts = Tables.events(s, d)
          .groupBy("user_id").agg(count(lit(1)).as("cnt"))
        val ranked = cnts.withColumn("r",
          row_number().over(Window.orderBy(asc("cnt"), asc("user_id"))))
        ranked.agg(
            count(lit(1)).as("n_keys"),
            sum("cnt").as("total"),
            max(struct(col("cnt"), col("user_id"))).getField("user_id")
              .as("top_key"),
            round(max("cnt") / sum("cnt").cast("double"), 6).as("max_share"),
            round(
              (lit(2) * sum(col("r") * col("cnt")) -
                (count(lit(1)) + 1) * sum("cnt")).cast("double") /
                (count(lit(1)) * sum("cnt")).cast("double"), 6).as("gini"))
      },
      Some("""WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
                   rk AS (SELECT user_id, cnt,
                            row_number() OVER (ORDER BY cnt, user_id) AS r
                          FROM c)
              SELECT count(*) AS n_keys,
                     CAST(sum(cnt) AS BIGINT) AS total,
                     max_by(user_id, r) AS top_key,
                     round(max(cnt) / CAST(sum(cnt) AS DOUBLE), 6) AS max_share,
                     round(CAST(2 * sum(r * cnt) - (count(*) + 1) * sum(cnt) AS DOUBLE) /
                           CAST(count(*) * sum(cnt) AS DOUBLE), 6) AS gini
              FROM rk""")),

    // Time-weighted average — the irregular-sample timeseries mean (IoT /
    // billing / financial OLAP staple): each observation holds until the
    // next one, so its value weights by the interval length; the final
    // observation of a series carries no interval. One user-key shuffle
    // for the lead() window, then a per-user rollup — the sessionize
    // plan shape. Intervals are exact MICROSECOND longs on both engines
    // (unix_micros vs epoch_us — second-granularity casts truncate
    // differently), so the weighted sums are engine-exact before the
    // final rounding.
    QueryDef(
      "q_tw_avg",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
        Tables.events(s, d)
          .withColumn("next_ts", lead("ts", 1).over(w))
          .filter(col("next_ts").isNotNull)
          .withColumn("dur",
            expr("unix_micros(next_ts)") - expr("unix_micros(ts)"))
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_intervals"),
            sum("dur").as("span_us"),
            round(sum(col("value") * col("dur")) / sum("dur"), 2).as("tw_avg"),
            round(avg("value"), 2).as("plain_avg"))
          .orderBy("user_id")
      },
      Some("""WITH l AS (SELECT user_id, ts, value,
                     lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
                   FROM events),
                   d AS (SELECT user_id, value,
                                epoch_us(next_ts) - epoch_us(ts) AS dur
                         FROM l WHERE next_ts IS NOT NULL)
              SELECT user_id, count(*) AS n_intervals,
                     CAST(sum(dur) AS BIGINT) AS span_us,
                     round(sum(value * dur) / sum(dur), 2) AS tw_avg,
                     round(avg(value), 2) AS plain_avg
              FROM d GROUP BY 1 ORDER BY user_id""")),

    // Median-absolute-deviation outliers — the robust twin of
    // q_zscore_outliers (median/MAD instead of mean/stddev, so a few
    // extreme values cannot mask themselves by inflating the threshold).
    // The metric is quantized to INTEGER CENTS first, which (a) bounds
    // the stat passes' state to the cents dictionary so the
    // histogram-percentile operator (operators/Percentiles —
    // partial-aggregating (group, value) counts, any number of
    // reducers) applies — unlike the built-in exact `percentile`, whose
    // per-group value map concentrates ~N/groups entries in each
    // final-merge task at 100 TB — and (b) keeps every stat EXACT in
    // binary: the interpolated median of integers is a half-integer and
    // the MAD of half-integer residuals a quarter-integer, all exactly
    // representable doubles, so no post-rounding exists for the two
    // engines to disagree on (rounding the x.xx5 midpoints of cent
    // values was measured to drift by representation). Both stat frames
    // are dictionary-sized and broadcast back onto one scan.
    QueryDef(
      "q_mad_outliers",
      (s, d) => {
        // Dictionary end-to-end (r15): ONE scan builds the (type, cents)
        // histogram; the residual histogram is DERIVED from it (|v−med|
        // regroups the value dictionary, counts add), and the outlier
        // count folds it — the before-plan scanned events three times
        // (value hist, residual hist, final flag pass) and broadcast-
        // joined the stats onto all raw rows. Exactness: cents are
        // integers, the median a half-integer, residuals half-integers —
        // all comparisons and counts are exact, so the regrouped counts
        // equal the per-row pass bit-for-bit.
        val hist = Tables.events(s, d)
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("c"))
          .filter(col("c").isNotNull)
          .groupBy(col("event_type"), col("c").cast("double").as("__v"))
          .agg(count(lit(1)).as("__cnt"))
        val med = graft.operators.Percentiles.interpolate(
          hist, Seq("event_type"), Seq(("med_c", 0.5)))
        val residHist = hist.join(broadcast(med), "event_type")
          .groupBy(col("event_type"), abs(col("__v") - col("med_c")).as("__v"))
          .agg(sum("__cnt").as("__cnt"))
        val mad = graft.operators.Percentiles.interpolate(
          residHist, Seq("event_type"), Seq(("mad_c", 0.5)))
        hist.join(broadcast(med.join(mad, "event_type")), "event_type")
          .withColumn("is_out", abs(col("__v") - col("med_c")) > col("mad_c") * 4)
          .groupBy("event_type")
          .agg(
            (first("med_c") / 100).as("med"), (first("mad_c") / 100).as("mad"),
            sum("__cnt").as("n_events"),
            sum(when(col("is_out"), col("__cnt")).otherwise(0L)).as("n_outliers"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type,
                                CAST(round(value * 100) AS BIGINT) AS c
                         FROM events),
                   med AS (SELECT event_type,
                                  quantile_cont(c, 0.5) AS med_c
                           FROM e GROUP BY 1),
                   mad AS (SELECT e.event_type,
                                  quantile_cont(abs(e.c - m.med_c), 0.5) AS mad_c,
                                  any_value(m.med_c) AS med_c
                           FROM e JOIN med m USING (event_type)
                           GROUP BY 1)
              SELECT e.event_type,
                     any_value(m.med_c) / 100 AS med,
                     any_value(m.mad_c) / 100 AS mad,
                     count(*) AS n_events,
                     CAST(sum(CASE WHEN abs(e.c - m.med_c) > m.mad_c * 4
                                   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
              FROM e JOIN mad m USING (event_type)
              GROUP BY 1 ORDER BY event_type""")),

    // Winsorized aggregation — the robust-mean companion of
    // q_mad_outliers: clamp each value into its group's [p05, p95]
    // before averaging, so a handful of extreme prices cannot own the
    // mean. Same scale discipline as the MAD query: prices quantize to
    // integer cents, the p05/p95 limits come from the dictionary-
    // histogram percentile operator (bounded aggregate state, never the
    // built-in's per-group value map), land on exactly-representable
    // quarter-cent doubles (no cross-engine rounding), and broadcast
    // back onto one scan whose clamp is a pure least/greatest.
    QueryDef(
      "q_winsorize",
      (s, d) => {
        // Every output is a function of the (flag, cents) HISTOGRAM, so
        // the whole query runs on the dictionary: ONE scan builds the
        // (group, value, count) rollup; the p05/p95 limits rank it
        // (Percentiles.interpolate — the same code path Percentiles.exact
        // uses) and the raw/winsorized means fold it (Σ v·cnt and
        // Σ clamp(v)·cnt). The r15-before plan scanned lineitem TWICE and
        // broadcast-joined the limits back onto all 600k raw rows; both
        // histogram consumers now reuse one shuffle. Exactness: cents and
        // counts are integers and the clamp caps are quarter-cent doubles,
        // so every product and sum here is an exactly-representable
        // multiple of 0.25 far below 2^53 — the regrouped sums equal the
        // per-row sums bit-for-bit.
        val hist = Tables.lineitem(s, d)
          .select(col("l_returnflag"),
            round(col("l_extendedprice") * 100).cast("long").as("c"))
          .filter(col("c").isNotNull)
          .groupBy(col("l_returnflag"), col("c").cast("double").as("__v"))
          .agg(count(lit(1)).as("__cnt"))
        val limits = graft.operators.Percentiles.interpolate(
          hist, Seq("l_returnflag"), Seq(("lo", 0.05), ("hi", 0.95)))
        hist.join(broadcast(limits), "l_returnflag")
          .withColumn("w", least(greatest(col("__v"), col("lo")), col("hi")))
          .groupBy("l_returnflag")
          .agg(
            sum("__cnt").as("n_rows"),
            // caps are interpolated-percentile ESTIMATES (continuous) —
            // displayed rounded like every class-c estimator column; the
            // raw double's shortest-repr differs across engines at 1 ulp
            // (caught by the r14 sf0.1 multi-scale gate: 9980885.4 vs
            // …399999999), and the unrounded column was the only reason
            round(first("lo"), 4).as("p05_c"),
            round(first("hi"), 4).as("p95_c"),
            round(sum(col("__v") * col("__cnt")) / sum("__cnt"), 4).as("mean_raw_c"),
            round(sum(col("w") * col("__cnt")) / sum("__cnt"), 4).as("mean_wins_c"))
          .orderBy("l_returnflag")
      },
      Some("""WITH li AS (SELECT l_returnflag,
                                 CAST(round(l_extendedprice * 100) AS BIGINT) AS c
                          FROM lineitem),
                   lim AS (SELECT l_returnflag,
                                  quantile_cont(c, 0.05) AS lo,
                                  quantile_cont(c, 0.95) AS hi
                           FROM li GROUP BY 1)
              SELECT li.l_returnflag,
                     count(*) AS n_rows,
                     round(any_value(lo), 4) AS p05_c,
                     round(any_value(hi), 4) AS p95_c,
                     round(CAST(sum(c) AS DOUBLE) / count(*), 4) AS mean_raw_c,
                     round(sum(least(greatest(CAST(c AS DOUBLE), lo), hi))
                           / count(*), 4) AS mean_wins_c
              FROM li JOIN lim USING (l_returnflag)
              GROUP BY 1 ORDER BY l_returnflag""")),

    // Rolling 7-day DISTINCT users (the DAU/WAU retention dashboard
    // shape) via the scalable explode-into-windows decomposition: distinct
    // (user, day) first — the only row-sized shuffle — then each user-day
    // contributes itself to its 7 covering window-days SCAN-LOCALLY (7×
    // fan-out of an already-reduced table), one distinct-agg per window
    // day. The alternative — a `BETWEEN` range self-join of days × user-
    // days — plans a nested loop and rescans user-days per day; this form
    // is two equi-shuffles at any scale. The single-row max-day bound
    // broadcasts (the allowlisted scalar-N pattern).
    QueryDef(
      "q_rolling_active",
      (s, d) => {
        val ud = Tables.events(s, d)
          .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
          .distinct()
        val bound = ud.agg(max("day").as("hi"))
        ud.select(col("user_id"), col("day"),
            explode(expr("sequence(day, day + interval 6 days, interval 1 day)"))
              .as("wday"))
          .join(broadcast(bound), col("wday") <= col("hi"))
          .groupBy("wday")
          .agg(
            countDistinct(when(col("wday") === col("day"), col("user_id"))).as("dau"),
            countDistinct("user_id").as("wau"))
          .select(col("wday").as("day"), col("dau"), col("wau"))
          .orderBy("day")
      },
      Some("""WITH ud AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id
                          FROM events),
                   hi AS (SELECT max(day) AS hi FROM ud),
                   f AS (SELECT user_id, day,
                                unnest(generate_series(day, day + INTERVAL '6 days',
                                                       INTERVAL '1 day')) AS wday
                         FROM ud)
              SELECT wday AS day,
                     count(DISTINCT CASE WHEN wday = f.day THEN user_id END) AS dau,
                     count(DISTINCT user_id) AS wau
              FROM f, hi WHERE wday <= hi.hi
              GROUP BY 1 ORDER BY 1""")),

    // q_rolling_active's SKETCH-SCALE twin: the exact form explodes every
    // (user, day) pair into its 7 window days, so the distinct-count
    // shuffle carries 7×|user-days| id rows. Here each day rolls up ONCE
    // into an HLL sketch (the heavy shuffle — user ids — happens exactly
    // once, at daily granularity) and the 7-day window unions per-day
    // BLOBS: the explode ranges over the day DICTIONARY, so the second
    // stage moves 7×|days| fixed-size sketches no matter how many users
    // exist. The 100 TB trade: bounded-error DAU/WAU for a shuffle that
    // no longer scales with user count. Rows-only; ApproxSpec bounds both
    // estimates against the exact twin on the same fixture.
    QueryDef(
      "q_rolling_active_sketch",
      (s, d) => {
        val daily = Tables.events(s, d)
          .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
          .groupBy("day")
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        val bound = daily.agg(max("day").as("hi"))
        daily.select(col("day"), col("sk"),
            explode(expr("sequence(day, day + interval 6 days, interval 1 day)"))
              .as("wday"))
          .join(broadcast(bound), col("wday") <= col("hi"))
          .groupBy("wday")
          .agg(
            max(when(col("wday") === col("day"),
              hll_sketch_estimate(col("sk")))).as("dau"),
            hll_sketch_estimate(hll_union_agg(col("sk"))).as("wau"))
          .select(col("wday").as("day"), col("dau"), col("wau"))
          .orderBy("day")
      },
      None),

    // q_rolling_active_sketch's EXACT-REGIME twin, hash-verified: HLL has
    // no exact regime, but the theta sketch does — at k = 2^16 ≫
    // user cardinality nothing trims, the per-day sketch IS the distinct
    // user-id set, and the window's theta_union_agg is the exact set
    // union (grouping-invariant theta union, the q_theta_cube_exact property). So
    // the whole day-sketch → window-union → estimate rollup path pins
    // against the exact q_rolling_active oracle, while keeping the sketch
    // plan's 100 TB shape: user ids shuffle ONCE (daily rollup), the
    // 7-day window moves per-day blobs over the day dictionary.
    QueryDef(
      "q_rolling_active_theta_exact",
      (s, d) => {
        val daily = Tables.events(s, d)
          .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
          .groupBy("day")
          .agg(theta_sketch_agg(col("user_id"), 16).as("sk"))
        val bound = daily.agg(max("day").as("hi"))
        daily.select(col("day"), col("sk"),
            explode(expr("sequence(day, day + interval 6 days, interval 1 day)"))
              .as("wday"))
          .join(broadcast(bound), col("wday") <= col("hi"))
          .groupBy("wday")
          .agg(
            // coalesce: a window day whose own calendar day has no events
            // (gap day reached only by earlier days' +1..6 explode) has no
            // matching when() branch — max() is NULL, but the oracle's
            // count(DISTINCT CASE ...) yields 0 for the same rows
            coalesce(max(when(col("wday") === col("day"),
              theta_sketch_estimate(col("sk")))), lit(0L)).as("dau"),
            theta_sketch_estimate(theta_union_agg(col("sk"), 16)).as("wau"))
          .select(col("wday").as("day"), col("dau"), col("wau"))
          .orderBy("day")
      },
      Some("""WITH ud AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id
                          FROM events),
                   hi AS (SELECT max(day) AS hi FROM ud),
                   f AS (SELECT user_id, day,
                                unnest(generate_series(day, day + INTERVAL '6 days',
                                                       INTERVAL '1 day')) AS wday
                         FROM ud)
              SELECT wday AS day,
                     count(DISTINCT CASE WHEN wday = f.day THEN user_id END) AS dau,
                     count(DISTINCT user_id) AS wau
              FROM f, hi WHERE wday <= hi.hi
              GROUP BY 1 ORDER BY 1""")),

    // Skew-resistant SALTED JOIN — the join-side twin of q_salted_agg:
    // l_returnflag has 3 values, so a plain shuffle join lands ~N/3 fact
    // rows on single reducers; Salting.saltedJoin splits each hot key
    // into 8 deterministic sub-keys and replicates the dim across them,
    // and the result is row-identical to the unsalted join (oracle is the
    // plain join). The fixture dim (per-flag averages) would broadcast in
    // practice — the operator exists for the 10⁸-row dim that won't, and
    // the comparison predicate rounds the average to 4 decimals on BOTH
    // sides so the > comparison is bit-stable across engines.
    QueryDef(
      "q_salted_join",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
        val dim = li.groupBy("l_returnflag")
          .agg(round(avg("l_extendedprice"), 4).as("flag_avg"))
        graft.operators.Salting.saltedJoin(li, dim, "l_returnflag", saltBuckets = 8)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("l_extendedprice") > col("flag_avg"), 1L).otherwise(0L))
              .as("n_above"))
          .orderBy("l_returnflag")
      },
      Some("""WITH dim AS (SELECT l_returnflag,
                                  round(avg(l_extendedprice), 4) AS flag_avg
                           FROM lineitem GROUP BY 1)
              SELECT l.l_returnflag, count(*) AS n,
                     CAST(sum(CASE WHEN l.l_extendedprice > d.flag_avg
                                   THEN 1 ELSE 0 END) AS BIGINT) AS n_above
              FROM lineitem l JOIN dim d USING (l_returnflag)
              GROUP BY 1 ORDER BY l_returnflag""")),

    // One-scan COLUMN PROFILING — the stats surface Pinot serves from
    // segment metadata (per-column cardinality / null count / min-max),
    // computed as a single aggregate pass: the three exact
    // count(DISTINCT)s share one scan via Catalyst's Expand (3× row
    // expansion, partial-aggregated map-side — at 100 TB you'd flip the
    // NDVs to approx_count_distinct and keep the identical shape), then
    // `stack` unpivots the one stats row into a row per column. Min/max
    // compare as strings only for columns whose string form is
    // engine-stable (strings and integers here; doubles are excluded
    // deliberately — their formatting differs across engines).
    QueryDef(
      "q_profile_stats",
      (s, d) => {
        val o = Tables.orders(s, d)
        def nNull(c: String) =
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c")
        def ndv(c: String) = countDistinct(col(c)).as(s"ndv_$c")
        def lo(c: String) = min(col(c)).cast("string").as(s"min_$c")
        def hi(c: String) = max(col(c)).cast("string").as(s"max_$c")
        val cols = Seq("o_orderstatus", "o_orderpriority", "o_custkey")
        o.agg(
            count(lit(1)).as("n_rows"),
            cols.flatMap(c => Seq[org.apache.spark.sql.Column](
              nNull(c), ndv(c), lo(c), hi(c))): _*)
          .select(col("n_rows"), expr(
            "stack(3, " + cols.map(c =>
              s"'$c', null_$c, ndv_$c, min_$c, max_$c").mkString(", ") +
              ") AS (col_name, n_null, n_distinct, min_val, max_val)"))
          .select("col_name", "n_rows", "n_null", "n_distinct", "min_val", "max_val")
          .orderBy("col_name")
      },
      Some("""SELECT 'o_orderstatus' AS col_name, count(*) AS n_rows,
                     CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                     count(DISTINCT o_orderstatus) AS n_distinct,
                     CAST(min(o_orderstatus) AS VARCHAR) AS min_val,
                     CAST(max(o_orderstatus) AS VARCHAR) AS max_val
              FROM orders
              UNION ALL
              SELECT 'o_orderpriority', count(*),
                     CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                     count(DISTINCT o_orderpriority),
                     CAST(min(o_orderpriority) AS VARCHAR),
                     CAST(max(o_orderpriority) AS VARCHAR)
              FROM orders
              UNION ALL
              SELECT 'o_custkey', count(*),
                     CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                     count(DISTINCT o_custkey),
                     CAST(min(o_custkey) AS VARCHAR),
                     CAST(max(o_custkey) AS VARCHAR)
              FROM orders
              ORDER BY col_name""")),

    // INTERVAL-UNION coverage — the interval-algebra workhorse behind
    // "time actually active" metrics (overlapping sessions must not
    // double-count): per user, merge overlapping [start, end) intervals
    // into islands with ONE user-partitioned window pass (an interval
    // starts a new island iff it begins after the running max end), then
    // sum island extents. Every quantity is integer microseconds —
    // zero float drift — and ordering ties break on event_id, so island
    // boundaries are engine-stable. Interval length derives from the
    // value column deterministically (value HOURS — long enough that the
    // fixture's events genuinely overlap: ~2700 intervals merge to ~80
    // islands, so the merge logic is exercised, not vacuous).
    QueryDef(
      "q_interval_overlap",
      (s, d) => {
        val iv = Tables.events(s, d)
          .filter(col("user_id") < 40 && col("value") > 0)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("st"),
            (unix_micros(col("ts")) +
              round(col("value") * 3600000000L).cast("long")).as("en"))
        val w = Window.partitionBy("user_id").orderBy("st", "en", "event_id")
        val islands = iv
          .withColumn("pmax",
            max("en").over(w.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("new_isl",
            when(col("pmax").isNull || col("st") > col("pmax"), 1L).otherwise(0L))
          .withColumn("isl", sum("new_isl").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        islands.groupBy("user_id", "isl")
          .agg(count(lit(1)).as("n_iv"),
            (max("en") - min("st")).as("len_us"))
          .groupBy("user_id")
          .agg(
            sum("n_iv").as("n_intervals"),
            count(lit(1)).as("n_islands"),
            sum("len_us").as("covered_us"))
          .orderBy("user_id")
      },
      Some("""WITH iv AS (SELECT user_id, event_id,
                                 epoch_us(ts) AS st,
                                 epoch_us(ts) + CAST(round(value * 3600000000) AS BIGINT)
                                   AS en
                          FROM events WHERE user_id < 40 AND value > 0),
                   m AS (SELECT user_id, event_id, st, en,
                                max(en) OVER (PARTITION BY user_id
                                              ORDER BY st, en, event_id
                                              ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING) AS pmax
                         FROM iv),
                   f AS (SELECT user_id, event_id, st, en,
                                CASE WHEN pmax IS NULL OR st > pmax
                                     THEN 1 ELSE 0 END AS new_isl
                         FROM m),
                   g AS (SELECT user_id, st, en,
                                sum(new_isl) OVER (PARTITION BY user_id
                                                   ORDER BY st, en, event_id
                                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                                   AND CURRENT ROW) AS isl
                         FROM f),
                   isl AS (SELECT user_id, isl, count(*) AS n_iv,
                                  max(en) - min(st) AS len_us
                           FROM g GROUP BY 1, 2)
              SELECT user_id, CAST(sum(n_iv) AS BIGINT) AS n_intervals,
                     count(*) AS n_islands,
                     CAST(sum(len_us) AS BIGINT) AS covered_us
              FROM isl GROUP BY 1 ORDER BY user_id""")),

    // IQR / Tukey-fence outliers — the third member of the robust-outlier
    // family (z-score: moment stats; MAD: median absolute deviation; here:
    // quartile fences q25 − 1.5·IQR / q75 + 1.5·IQR). Same scale
    // discipline as q_mad_outliers: values quantize to integer cents so
    // the quartiles come from the dictionary-histogram percentile
    // operator (bounded (group, value) aggregate state, any number of
    // reducers — never the built-in's per-group value map), and every
    // stat is EXACT in binary: interpolated quartiles of integers are
    // quarter-integers and 1.5×IQR an eighth-integer, all exactly
    // representable doubles, so the fence comparisons cannot drift
    // across engines. Stats are dictionary-sized and broadcast back
    // onto one counting scan.
    QueryDef(
      "q_iqr_outliers",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("c"))
        val q = graft.operators.Percentiles.exact(
          ev, Seq("event_type"), Seq(("q25", "c", 0.25), ("q75", "c", 0.75)))
          .withColumn("lo_fence", col("q25") - (col("q75") - col("q25")) * 1.5)
          .withColumn("hi_fence", col("q75") + (col("q75") - col("q25")) * 1.5)
        ev.join(broadcast(q), "event_type")
          .groupBy("event_type")
          .agg(
            (first("q25") / 100).as("q25"), (first("q75") / 100).as("q75"),
            count(lit(1)).as("n_events"),
            sum(when(col("c") < col("lo_fence") || col("c") > col("hi_fence"),
              1L).otherwise(0L)).as("n_outliers"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type,
                                CAST(round(value * 100) AS BIGINT) AS c
                         FROM events),
                   q AS (SELECT event_type,
                                quantile_cont(c, 0.25) AS q25,
                                quantile_cont(c, 0.75) AS q75
                         FROM e GROUP BY 1)
              SELECT e.event_type,
                     any_value(q.q25) / 100 AS q25,
                     any_value(q.q75) / 100 AS q75,
                     count(*) AS n_events,
                     CAST(sum(CASE WHEN e.c < q.q25 - (q.q75 - q.q25) * 1.5
                                     OR e.c > q.q75 + (q.q75 - q.q25) * 1.5
                                   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
              FROM e JOIN q USING (event_type)
              GROUP BY 1 ORDER BY event_type""")),

    // NTILE — the bucket-assignment window function (Pinot window family).
    // NTILE(4) deals each priority's orders into four near-equal quartile
    // buckets (first n % 4 buckets get the extra row); ordering ties
    // break on o_orderkey so bucket membership is deterministic on both
    // engines. The window partitions by o_orderpriority (5 keys × ~N/5
    // rows — a real per-group sort, the operator's honest cost; at 100 TB
    // the equivalent rank comes from the dictionary-histogram cumulative
    // counts the way q_rfm_segments scores quartiles without sorting raw
    // rows). Output aggregates to the (priority, tile) dictionary.
    QueryDef(
      "q_ntile",
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(asc("o_totalprice"), asc("o_orderkey"))
        Tables.orders(s, d)
          .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
          .withColumn("tile", ntile(4).over(w))
          .groupBy("o_orderpriority", "tile")
          .agg(
            count(lit(1)).as("n_orders"),
            round(min("o_totalprice"), 2).as("lo_price"),
            round(max("o_totalprice"), 2).as("hi_price"))
          .orderBy("o_orderpriority", "tile")
      },
      Some("""WITH t AS (SELECT o_orderpriority, o_totalprice,
                                ntile(4) OVER (PARTITION BY o_orderpriority
                                               ORDER BY o_totalprice, o_orderkey)
                                  AS tile
                         FROM orders)
              SELECT o_orderpriority, tile, count(*) AS n_orders,
                     round(min(o_totalprice), 2) AS lo_price,
                     round(max(o_totalprice), 2) AS hi_price
              FROM t GROUP BY 1, 2 ORDER BY o_orderpriority, tile"""))
  )
}
