package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** §A core SQL query surface — Pinot's selection / filtering / aggregation /
  * group-by / order-by / distinct queries (reference:
  * /root/reference/Introduction.md:51,105) re-expressed as declarative
  * DataFrame plans so Catalyst handles pushdown, pruning, partial
  * aggregation and TopK (TakeOrderedAndProject) — the properties that keep
  * these shapes viable on a 100 TB table.
  *
  * Determinism contract with the DuckDB oracle: total-order ORDER BY and
  * `round(x, 2)` on floating aggregates on both sides, identical aliases.
  */
object CoreSql {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_select_project",
      (s, d) =>
        Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
          .orderBy("o_orderkey")
          .limit(100),
      Some("""SELECT o_orderkey, o_totalprice, o_orderpriority
              FROM orders ORDER BY o_orderkey LIMIT 100""")),

    QueryDef(
      "q_filter_basic",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_quantity") > 45.0 && col("l_discount") < 0.05 &&
            col("l_returnflag") =!= "A")
          .agg(
            count(lit(1)).as("cnt"),
            round(sum("l_extendedprice"), 2).as("sum_price")),
      Some("""SELECT count(*) AS cnt, round(sum(l_extendedprice), 2) AS sum_price
              FROM lineitem
              WHERE l_quantity > 45.0 AND l_discount < 0.05 AND l_returnflag <> 'A'""")),

    QueryDef(
      "q_filter_in",
      (s, d) =>
        Tables.orders(s, d)
          .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
            !col("o_orderstatus").isin("F"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("sum_price"))
          .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, count(*) AS cnt, round(sum(o_totalprice), 2) AS sum_price
              FROM orders
              WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderstatus NOT IN ('F')
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    QueryDef(
      "q_filter_between",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate").between(
            to_timestamp(lit("1996-01-01")), to_timestamp(lit("1996-12-31"))) &&
            col("l_quantity").between(10, 20))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("cnt"), round(avg("l_extendedprice"), 2).as("avg_price"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(*) AS cnt, round(avg(l_extendedprice), 2) AS avg_price
              FROM lineitem
              WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
                AND l_quantity BETWEEN 10 AND 20
              GROUP BY l_returnflag ORDER BY l_returnflag""")),

    QueryDef(
      "q_filter_like",
      (s, d) =>
        Tables.part(s, d)
          .filter(col("p_name").like("%red%") || col("p_type").like("SMALL%") ||
            col("p_brand").rlike("Brand#[12][0-9]"))
          .select("p_partkey", "p_name", "p_brand", "p_type")
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_name, p_brand, p_type
              FROM part
              WHERE p_name LIKE '%red%' OR p_type LIKE 'SMALL%'
                 OR regexp_matches(p_brand, 'Brand#[12][0-9]')
              ORDER BY p_partkey""")),

    QueryDef(
      "q_agg_global",
      (s, d) =>
        Tables.lineitem(s, d)
          .agg(
            count(lit(1)).as("cnt"),
            round(sum("l_quantity"), 2).as("sum_qty"),
            round(avg("l_extendedprice"), 2).as("avg_price"),
            min("l_quantity").as("min_qty"),
            max("l_quantity").as("max_qty"),
            // price×discount values live on a 1e-4 grid, so their true sum
            // CAN sit exactly on a half-cent rounding boundary — quantize
            // per row to exact 1e-4-units longs (order-immune), then one
            // identical scalar division+round on both engines
            round(sum(round(col("l_extendedprice") * col("l_discount") * 10000)
              .cast("long")) / 10000.0, 2).as("disc_rev")),
      Some("""SELECT count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty,
                     round(avg(l_extendedprice), 2) AS avg_price,
                     min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
                     round(CAST(sum(CAST(round(l_extendedprice * l_discount * 10000)
                                         AS BIGINT)) AS BIGINT) / 10000.0, 2) AS disc_rev
              FROM lineitem""")),

    QueryDef(
      "q_agg_groupby",
      (s, d) => aggGroupBy(s, d),
      Some("""SELECT l_returnflag, l_linestatus,
                     round(sum(l_quantity), 2) AS sum_qty,
                     round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                                AS BIGINT) / 100.0, 2) AS sum_base,
                     round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                               * 10000) AS BIGINT))
                                AS BIGINT) / 10000.0, 2) AS sum_disc,
                     round(avg(l_quantity), 2) AS avg_qty,
                     count(*) AS cnt
              FROM lineitem
              GROUP BY l_returnflag, l_linestatus
              HAVING count(*) > 10
              ORDER BY l_returnflag, l_linestatus""")),

    QueryDef(
      "q_topn_group",
      (s, d) =>
        Tables.events(s, d)
          .groupBy("user_id")
          .agg(round(sum("value"), 2).as("total"), count(lit(1)).as("cnt"))
          .orderBy(desc("total"), asc("user_id"))
          .limit(10),
      Some("""SELECT user_id, round(sum(value), 2) AS total, count(*) AS cnt
              FROM events GROUP BY user_id
              ORDER BY total DESC, user_id LIMIT 10""")),

    QueryDef(
      "q_distinct",
      (s, d) =>
        Tables.customer(s, d)
          .select("c_mktsegment", "c_nationkey")
          .distinct()
          .orderBy("c_mktsegment", "c_nationkey"),
      Some("""SELECT DISTINCT c_mktsegment, c_nationkey
              FROM customer ORDER BY c_mktsegment, c_nationkey""")),

    QueryDef(
      "q_distinctcount",
      (s, d) =>
        Tables.lineitem(s, d)
          .agg(
            countDistinct(col("l_partkey")).as("dc_part"),
            countDistinct(col("l_suppkey")).as("dc_supp"),
            round(max("l_extendedprice") - min("l_extendedprice"), 2).as("minmaxrange")),
      Some("""SELECT count(DISTINCT l_partkey) AS dc_part,
                     count(DISTINCT l_suppkey) AS dc_supp,
                     round(max(l_extendedprice) - min(l_extendedprice), 2) AS minmaxrange
              FROM lineitem""")),

    // Multi-column DISTINCTCOUNT (Pinot's DISTINCTCOUNT over an expression
    // tuple / SEGMENT_PARTITIONED_DISTINCT_COUNT target shape): the tuple
    // is hashed scan-local and the distinct runs per group as one
    // partial-aggregated pass. Columns are non-null by construction, so
    // Spark's any-null-drops-the-row multi-arg semantics and DuckDB's
    // row-tuple distinct agree.
    QueryDef(
      "q_distinctcount_multi",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_linestatus")
          .agg(
            countDistinct(col("l_returnflag"), col("l_shipdate")).as("nd_flag_date"),
            countDistinct(col("l_returnflag")).as("nd_flag"))
          .orderBy("l_linestatus"),
      Some("""SELECT l_linestatus,
                     CAST(count(DISTINCT (l_returnflag, l_shipdate)) AS BIGINT) AS nd_flag_date,
                     CAST(count(DISTINCT l_returnflag) AS BIGINT) AS nd_flag
              FROM lineitem GROUP BY 1 ORDER BY l_linestatus""")),

    // BOOL_AND / BOOL_OR / COUNT_IF aggregation family — one scan-local
    // predicate each, folded by mergeable boolean partials (Pinot's
    // BOOLAND/BOOLOR aggregations).
    QueryDef(
      "q_bool_agg",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            bool_and(col("l_quantity") > 1).as("all_multi"),
            bool_or(col("l_discount") > 0.09).as("any_big_disc"),
            count_if(col("l_tax") > 0.05).as("n_taxed"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
                     bool_and(l_quantity > 1) AS all_multi,
                     bool_or(l_discount > 0.09) AS any_big_disc,
                     CAST(count_if(l_tax > 0.05) AS BIGINT) AS n_taxed
              FROM lineitem GROUP BY 1 ORDER BY l_returnflag""")),

    // DISTINCTCOUNTHLL — approximate (HyperLogLog++); no exact oracle.
    QueryDef(
      "q_distinctcount_hll",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_partkey")).as("adc_part"))
          .orderBy("l_returnflag"),
      None),

    // Mixed-cardinality exact PERCENTILE uses the built-in aggregate: for
    // the high-cardinality price column the dictionary-histogram path was
    // MEASURED SLOWER (4.7s vs 2.4s at sf0.1 — a 600k-distinct histogram
    // still funnels into per-group windows); q_percentile_dict below shows
    // the histogram operator where it wins.
    QueryDef(
      "q_percentile",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            round(expr("percentile(l_quantity, 0.5)"), 2).as("p50_qty"),
            round(expr("percentile(l_quantity, 0.9)"), 2).as("p90_qty"),
            round(expr("percentile(l_extendedprice, 0.95)"), 2).as("p95_price"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
                     round(quantile_cont(l_quantity, 0.5), 2) AS p50_qty,
                     round(quantile_cont(l_quantity, 0.9), 2) AS p90_qty,
                     round(quantile_cont(l_extendedprice, 0.95), 2) AS p95_price
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // PERCENTILETDIGEST/KLL analog — approximate; no exact oracle.
    QueryDef(
      "q_percentile_approx",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(approx_percentile(col("l_extendedprice"), lit(0.95), lit(1000)).as("ap95"))
          .orderBy("l_returnflag"),
      None),

    // PERCENTILEKLL proper — Spark's KLL sketch (kll_sketch_agg_double,
    // DataSketches' Karnin-Lang-Liberty FOCS'16 sketch, the blob Pinot
    // stores per segment and merges at query time): O(k) partial state
    // per group per map task, so only ~k doubles ever cross the shuffle.
    // k=256 ≪ group sizes here, so compaction genuinely fires, and it
    // compacts with an unseeded coin, as Pinot's KLL does: the answer
    // varies run to run within the rank-error bound — rows-only; KllSpec
    // bounds the rank error and pins the exact-below-k regime.
    QueryDef(
      "q_percentile_kll",
      (s, d) =>
        Tables.events(s, d)
          .groupBy("event_type")
          .agg(kll_sketch_agg_double(col("value"), 256).as("sk"))
          .select(col("event_type"),
            round(kll_sketch_get_quantile_double(col("sk"), lit(0.5)), 4).as("p50_est"),
            round(kll_sketch_get_quantile_double(col("sk"), lit(0.9)), 4).as("p90_est"),
            round(kll_sketch_get_rank_double(col("sk"), lit(50.0)), 4).as("rank_50"))
          .orderBy("event_type"),
      None),

    // Pinot DISTINCTCOUNTBITMAP: EXACT distinct count through a MERGEABLE
    // bitmap aggregate (the RoaringBitmap posture — Pinot's exact sibling
    // of DISTINCTCOUNTHLL). Spark's built-in bitmap family expresses it
    // natively: keys bucket into fixed 32k-bit bitmap segments
    // (bitmap_bucket_number), each (group, bucket) cell ORs bit positions
    // map-side into one binary blob (bitmap_construct_agg — O(4KB) state
    // per cell, codegen'd), and the group's distinct count is the sum of
    // per-bucket popcounts. Two dictionary-sized aggregations; raw keys
    // shuffle ONLY as compressed bitmap blobs, never as values — the
    // 100 TB shape for exact distinct over a dense-ish int key domain.
    // Hash-verified against plain count(DISTINCT).
    QueryDef(
      "q_distinctcount_bitmap",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"),
            expr("bitmap_bucket_number(l_partkey)").as("__bucket"))
          .agg(expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))")
            .as("__bm"))
          .groupBy("l_returnflag")
          .agg(sum(expr("bitmap_count(__bm)")).as("nd_parts"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
                     CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_parts
              FROM lineitem GROUP BY 1 ORDER BY l_returnflag""")),

    // q_percentile_kll's EXACT-REGIME twin (the theta-twin promotion
    // pattern): with k above every group's row count nothing ever
    // compacts, the sketch IS the sorted multiset, and
    // kll_sketch_get_quantile_double returns the true rank-ceil(q·n) order
    // statistic — hash-verified against an explicit rank-selection
    // oracle. k=65535 is Spark's ceiling; the largest group at sf0.1 has
    // ~20k rows. Raw stored doubles are selected, never combined, so no
    // rounding discipline is needed.
    QueryDef(
      "q_percentile_kll_exact",
      (s, d) =>
        Tables.events(s, d)
          .groupBy("event_type")
          .agg(kll_sketch_agg_double(col("value"), 65535).as("sk"))
          .select(col("event_type"),
            kll_sketch_get_quantile_double(col("sk"), lit(0.25)).as("p25"),
            kll_sketch_get_quantile_double(col("sk"), lit(0.5)).as("p50"),
            kll_sketch_get_quantile_double(col("sk"), lit(0.9)).as("p90"))
          .orderBy("event_type"),
      Some("""WITH st AS (SELECT event_type, value,
                                 row_number() OVER (PARTITION BY event_type
                                                    ORDER BY value) AS rn,
                                 count(*) OVER (PARTITION BY event_type) AS n
                          FROM events)
              SELECT event_type,
                     max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
                              THEN value END) AS p25,
                     max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                              THEN value END) AS p50,
                     max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                              THEN value END) AS p90
              FROM st GROUP BY 1 ORDER BY event_type""")),

    // Mergeable QUANTILE CUBE (Pinot's PERCENTILEKLL as a star-tree
    // metric): per-(type, day) CELL sketches roll up to per-type
    // quantiles by merging blobs (kll_merge_agg_double) — raw rows are
    // never rescanned at serve time. In the uncompacted regime the merge
    // is the exact multiset of the united cells, so the whole
    // cells→merge→quantile path is hash-verified (q_theta_cube_exact's
    // argument, for order statistics).
    QueryDef(
      "q_kll_cube",
      (s, d) => {
        val cells = Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(kll_sketch_agg_double(col("value"), 65535).as("sk"))
        cells.groupBy("event_type")
          .agg(count(lit(1)).as("n_cells"),
            kll_merge_agg_double(col("sk"), 65535).as("usk"))
          .select(col("event_type"), col("n_cells"),
            kll_sketch_get_quantile_double(col("usk"), lit(0.5)).as("p50"),
            kll_sketch_get_quantile_double(col("usk"), lit(0.9)).as("p90"))
          .orderBy("event_type")
      },
      Some("""WITH st AS (SELECT event_type, value,
                                 row_number() OVER (PARTITION BY event_type
                                                    ORDER BY value) AS rn,
                                 count(*) OVER (PARTITION BY event_type) AS n
                          FROM events),
                   cells AS (SELECT event_type,
                                    count(DISTINCT date_trunc('day', ts)) AS n_cells
                             FROM events GROUP BY 1)
              SELECT event_type, n_cells,
                     max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                              THEN value END) AS p50,
                     max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                              THEN value END) AS p90
              FROM st JOIN cells USING (event_type)
              GROUP BY 1, 2 ORDER BY event_type""")),

    // Multi-quantile PERCENTILE in ONE aggregation pass (Pinot evaluates
    // each percentile level over the same column without rescanning).
    QueryDef(
      "q_percentile_multi",
      // interpolates on exact integer CENTS (l_extendedprice is
      // cent-granular, so round(·*100) is lossless): with dyadic
      // fractions (0.25/0.5/0.75) over integer order statistics, BOTH
      // engines' interpolation — whatever formula each uses, a+f·(b−a)
      // or (1−f)·a+f·b — is exact IEEE arithmetic (the r14 sf0.001
      // multi-scale gate caught the raw-double form one ulp across
      // 52724.245). The display rounding also happens in INTEGER-CENT
      // space — round(v) THEN /100.0 — because the quantile can end on
      // a true quarter-cent (.25/.5/.75 × an integer gap): a half in
      // cent space is an exact double both engines round away from
      // zero, whereas round(v/100.0, 2) sits on a non-representable
      // .xx5 decimal where Spark's BigDecimal-repr rounding and
      // DuckDB's scaled-double rounding can legitimately disagree
      // (the q_readability micro-unit fix, same class).
      (s, d) =>
        Tables.lineitem(s, d)
          .withColumn("c", round(col("l_extendedprice") * 100).cast("long"))
          .groupBy("l_returnflag")
          .agg(expr(
            "transform(percentile(c, array(0.25D, 0.5D, 0.75D))," +
              " v -> round(v) / 100.0)").as("qs"))
          .select(col("l_returnflag"), posexplode(col("qs")).as(Seq("pos", "q")))
          .select(col("l_returnflag"), col("pos"), (col("q") + lit(0.0)).as("q"))
          .orderBy("l_returnflag", "pos"),
      Some("""SELECT l_returnflag, CAST(i - 1 AS INT) AS pos,
                     round(q) / 100.0 + 0 AS q
              FROM (SELECT l_returnflag,
                           generate_subscripts(qs, 1) AS i, unnest(qs) AS q
                    FROM (SELECT l_returnflag,
                                 quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT),
                                               [0.25, 0.5, 0.75]) AS qs
                          FROM lineitem GROUP BY 1))
              ORDER BY l_returnflag, pos""")),

    // Exact PERCENTILE via the dictionary-histogram operator
    // (graft.operators.Percentiles) on a dictionary-sized metric: the
    // built-in collects each group's full value map in ONE reducer; this
    // path partial-aggregates (group, value) counts map-side and ranks
    // only the ~50 distinct values — the Pinot dictionary-column
    // percentile shape, and the one that survives 100 TB on low-
    // cardinality metrics.
    QueryDef(
      "q_percentile_dict",
      (s, d) =>
        graft.operators.Percentiles.exact(
          Tables.lineitem(s, d), Seq("l_returnflag"),
          Seq(("p25_qty", "l_quantity", 0.25),
            ("p50_qty", "l_quantity", 0.5),
            ("p75_qty", "l_quantity", 0.75),
            ("p99_qty", "l_quantity", 0.99)))
          .select(col("l_returnflag"),
            round(col("p25_qty"), 2).as("p25_qty"),
            round(col("p50_qty"), 2).as("p50_qty"),
            round(col("p75_qty"), 2).as("p75_qty"),
            round(col("p99_qty"), 2).as("p99_qty"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
                     round(quantile_cont(l_quantity, 0.25), 2) AS p25_qty,
                     round(quantile_cont(l_quantity, 0.5), 2) AS p50_qty,
                     round(quantile_cont(l_quantity, 0.75), 2) AS p75_qty,
                     round(quantile_cont(l_quantity, 0.99), 2) AS p99_qty
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // PERCENTILE_DISC semantics (the smallest DATA VALUE reaching
    // cumulative share p — what Pinot's PERCENTILEEST returns, never an
    // interpolated number): same dictionary-histogram shape as
    // q_percentile_dict, the pick is one conditional aggregate at rank
    // ⌈p·n⌉. Oracle = DuckDB quantile_disc.
    QueryDef(
      "q_percentile_disc",
      (s, d) =>
        graft.operators.Percentiles.discrete(
          Tables.lineitem(s, d), Seq("l_returnflag"),
          Seq(("d50_price", "l_extendedprice", 0.5),
            ("d90_price", "l_extendedprice", 0.9),
            ("d99_price", "l_extendedprice", 0.99)))
          .select(col("l_returnflag"),
            round(col("d50_price"), 2).as("d50_price"),
            round(col("d90_price"), 2).as("d90_price"),
            round(col("d99_price"), 2).as("d99_price"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
                     round(quantile_disc(l_extendedprice, 0.5), 2) AS d50_price,
                     round(quantile_disc(l_extendedprice, 0.9), 2) AS d90_price,
                     round(quantile_disc(l_extendedprice, 0.99), 2) AS d99_price
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // DISTRIBUTION-FREE MEDIAN CONFIDENCE INTERVAL — the order-statistic
    // CI (binomial/sign-test bounds: ranks (n ± 1.96√n)/2) every metrics
    // dashboard should print next to its median: no normality assumption,
    // just "the population median lies between the r_lo-th and r_hi-th
    // order statistics with ~95% coverage". Same dictionary-histogram
    // shape as q_percentile_disc — per-cents counts, one cumulative
    // window over the VALUE DICTIONARY (never raw rows), the three picks
    // conditional aggregates at the computed ranks. sqrt is
    // correctly-rounded IEEE, so both engines compute identical ranks;
    // everything else is exact integers.
    QueryDef(
      "q_median_ci",
      (s, d) => {
        val hist = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(round(col("value") * 100).cast("long").as("c"))
          .groupBy("c").agg(count(lit(1)).as("k"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy("c").rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val cum = hist.withColumn("cum", sum("k").over(w))
        val ranks = hist.agg(sum("k").as("n")).select(
          col("n"),
          ceil(col("n") / 2.0).cast("long").as("r_med"),
          greatest(floor((col("n") - lit(1.96) * sqrt(col("n").cast("double"))) / 2.0)
            .cast("long"), lit(1L)).as("r_lo"),
          least(ceil(lit(1.0) + (col("n") + lit(1.96) * sqrt(col("n").cast("double"))) / 2.0)
            .cast("long"), col("n")).as("r_hi"))
        cum.crossJoin(broadcast(ranks))
          .agg(
            max(col("n")).as("n"),
            max(col("r_lo")).as("r_lo"),
            max(col("r_hi")).as("r_hi"),
            (min(when(col("cum") >= col("r_med"), col("c"))) / 100.0).as("median_d"),
            (min(when(col("cum") >= col("r_lo"), col("c"))) / 100.0).as("ci_lo_d"),
            (min(when(col("cum") >= col("r_hi"), col("c"))) / 100.0).as("ci_hi_d"))
      },
      Some("""WITH h AS (SELECT CAST(round(value * 100) AS BIGINT) AS c,
                                count(*) AS k
                         FROM events WHERE event_type = 'purchase'
                         GROUP BY 1),
                   cum AS (SELECT c, sum(k) OVER (ORDER BY c) AS cum FROM h),
                   r AS (SELECT CAST(sum(k) AS BIGINT) AS n,
                                CAST(ceil(sum(k) / 2.0) AS BIGINT) AS r_med,
                                greatest(CAST(floor((sum(k) - 1.96 * sqrt(CAST(sum(k) AS DOUBLE))) / 2.0) AS BIGINT),
                                         1) AS r_lo,
                                least(CAST(ceil(1.0 + (sum(k) + 1.96 * sqrt(CAST(sum(k) AS DOUBLE))) / 2.0) AS BIGINT),
                                      CAST(sum(k) AS BIGINT)) AS r_hi
                         FROM h)
              SELECT max(n) AS n, max(r_lo) AS r_lo, max(r_hi) AS r_hi,
                     min(CASE WHEN cum >= r_med THEN c END) / 100.0 AS median_d,
                     min(CASE WHEN cum >= r_lo THEN c END) / 100.0 AS ci_lo_d,
                     min(CASE WHEN cum >= r_hi THEN c END) / 100.0 AS ci_hi_d
              FROM cum, r""")),

    // Order-statistic CI for an ARBITRARY percentile — q_median_ci
    // generalized (binomial bounds at ranks np ± z·√(np(1−p))): the p90
    // tail latency/price every SLO dashboard quotes gets the same
    // distribution-free interval as the median. Identical dictionary-
    // histogram shape; sqrt and the fixed-literal products are the only
    // float ops and both engines evaluate the same expression tree.
    QueryDef(
      "q_percentile_ci",
      (s, d) => {
        val hist = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(round(col("value") * 100).cast("long").as("c"))
          .groupBy("c").agg(count(lit(1)).as("k"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy("c").rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val cum = hist.withColumn("cum", sum("k").over(w))
        val ranks = hist.agg(sum("k").as("n")).select(
          col("n"),
          ceil(col("n") * 0.9).cast("long").as("r_p"),
          greatest(floor(col("n") * 0.9 - lit(1.96) *
            sqrt(col("n").cast("double") * lit(0.09))).cast("long"), lit(1L))
            .as("r_lo"),
          least(ceil(col("n") * 0.9 + lit(1.96) *
            sqrt(col("n").cast("double") * lit(0.09))).cast("long"), col("n"))
            .as("r_hi"))
        cum.crossJoin(broadcast(ranks))
          .agg(
            max(col("n")).as("n"),
            max(col("r_lo")).as("r_lo"),
            max(col("r_hi")).as("r_hi"),
            (min(when(col("cum") >= col("r_p"), col("c"))) / 100.0).as("p90_d"),
            (min(when(col("cum") >= col("r_lo"), col("c"))) / 100.0).as("ci_lo_d"),
            (min(when(col("cum") >= col("r_hi"), col("c"))) / 100.0).as("ci_hi_d"))
      },
      Some("""WITH h AS (SELECT CAST(round(value * 100) AS BIGINT) AS c,
                                count(*) AS k
                         FROM events WHERE event_type = 'purchase'
                         GROUP BY 1),
                   cum AS (SELECT c, sum(k) OVER (ORDER BY c) AS cum FROM h),
                   r AS (SELECT CAST(sum(k) AS BIGINT) AS n,
                                CAST(ceil(sum(k) * 0.9) AS BIGINT) AS r_p,
                                greatest(CAST(floor(sum(k) * 0.9 - 1.96 *
                                  sqrt(CAST(sum(k) AS DOUBLE) * 0.09)) AS BIGINT),
                                         1) AS r_lo,
                                least(CAST(ceil(sum(k) * 0.9 + 1.96 *
                                  sqrt(CAST(sum(k) AS DOUBLE) * 0.09)) AS BIGINT),
                                      CAST(sum(k) AS BIGINT)) AS r_hi
                         FROM h)
              SELECT max(n) AS n, max(r_lo) AS r_lo, max(r_hi) AS r_hi,
                     min(CASE WHEN cum >= r_p THEN c END) / 100.0 AS p90_d,
                     min(CASE WHEN cum >= r_lo THEN c END) / 100.0 AS ci_lo_d,
                     min(CASE WHEN cum >= r_hi THEN c END) / 100.0 AS ci_hi_d
              FROM cum, r""")),

    // WEIGHTED percentile — each row counts `weight` times (the
    // quantity-weighted median price: "the price at which half the UNITS
    // ship", not half the line items). Same dictionary-histogram
    // discipline as q_percentile_disc with the count replaced by an
    // integral weight sum: one partial-aggregating (group, value) rollup,
    // cumulative-weight comparisons integer-exact, the pick a conditional
    // aggregate over the dictionary — no per-group value map anywhere.
    // The oracle expresses the same semantics as the min value whose
    // cumulative weight reaches p·W.
    QueryDef(
      "q_percentile_weighted",
      (s, d) =>
        graft.operators.Percentiles.weightedDiscrete(
          Tables.lineitem(s, d), Seq("l_returnflag"),
          "l_extendedprice", "l_quantity",
          Seq(("w25_price", 0.25), ("w50_price", 0.5), ("w90_price", 0.9)))
          .select(col("l_returnflag"),
            round(col("w25_price"), 2).as("w25_price"),
            round(col("w50_price"), 2).as("w50_price"),
            round(col("w90_price"), 2).as("w90_price"))
          .orderBy("l_returnflag"),
      Some("""WITH h AS (SELECT l_returnflag, l_extendedprice AS v,
                                sum(CAST(l_quantity AS BIGINT)) AS w
                         FROM lineitem
                         WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
                         GROUP BY 1, 2),
                   c AS (SELECT l_returnflag, v,
                                sum(w) OVER (PARTITION BY l_returnflag
                                             ORDER BY v) AS cum,
                                sum(w) OVER (PARTITION BY l_returnflag) AS tot
                         FROM h)
              SELECT l_returnflag,
                     round(min(CASE WHEN cum >= 0.25 * tot THEN v END), 2) AS w25_price,
                     round(min(CASE WHEN cum >= 0.5 * tot THEN v END), 2) AS w50_price,
                     round(min(CASE WHEN cum >= 0.9 * tot THEN v END), 2) AS w90_price
              FROM c GROUP BY 1 ORDER BY l_returnflag""")),

    // DECILE BAND assignment — percentiles applied back to rows (which
    // decile is each event in?): the nine within-type decile edges come
    // from the dictionary-histogram operator (bounded state), broadcast
    // back, and each row's band is 1 + |edges ≤ value| — a pure
    // conditional sum, no per-row sort or window. Integer cents vs
    // quarter-integer interpolated edges keep every comparison exact on
    // both engines; output is the (type, band) dictionary.
    QueryDef(
      "q_decile_bands",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("c"))
        val edges0 = graft.operators.Percentiles.exact(
          ev, Seq("event_type"),
          (1 to 9).map(i => (s"q$i", "c", i / 10.0)))
        // round the interpolated edges before comparing: the engines
        // interpolate in different operation orders, so an edge landing
        // near an integer cent carries engine-specific last-ulp fuzz
        val edges = edges0.select(col("event_type") +:
          (1 to 9).map(i => round(col(s"q$i"), 4).as(s"q$i")): _*)
        val band = (1 to 9).map(i =>
          when(col("c") >= col(s"q$i"), 1).otherwise(0))
          .reduce(_ + _) + lit(1)
        ev.join(broadcast(edges), "event_type")
          .withColumn("band", band)
          .groupBy("event_type", "band")
          .agg(count(lit(1)).as("n_events"))
          .orderBy("event_type", "band")
      },
      Some("""WITH e AS (SELECT event_type,
                                CAST(round(value * 100) AS BIGINT) AS c
                         FROM events),
                   ed AS (SELECT event_type,
                                 round(quantile_cont(c, 0.1), 4) AS q1, round(quantile_cont(c, 0.2), 4) AS q2,
                                 round(quantile_cont(c, 0.3), 4) AS q3, round(quantile_cont(c, 0.4), 4) AS q4,
                                 round(quantile_cont(c, 0.5), 4) AS q5, round(quantile_cont(c, 0.6), 4) AS q6,
                                 round(quantile_cont(c, 0.7), 4) AS q7, round(quantile_cont(c, 0.8), 4) AS q8,
                                 round(quantile_cont(c, 0.9), 4) AS q9
                          FROM e GROUP BY 1)
              SELECT e.event_type,
                     1 + (CASE WHEN c >= q1 THEN 1 ELSE 0 END)
                       + (CASE WHEN c >= q2 THEN 1 ELSE 0 END)
                       + (CASE WHEN c >= q3 THEN 1 ELSE 0 END)
                       + (CASE WHEN c >= q4 THEN 1 ELSE 0 END)
                       + (CASE WHEN c >= q5 THEN 1 ELSE 0 END)
                       + (CASE WHEN c >= q6 THEN 1 ELSE 0 END)
                       + (CASE WHEN c >= q7 THEN 1 ELSE 0 END)
                       + (CASE WHEN c >= q8 THEN 1 ELSE 0 END)
                       + (CASE WHEN c >= q9 THEN 1 ELSE 0 END) AS band,
                     count(*) AS n_events
              FROM e JOIN ed USING (event_type)
              GROUP BY 1, 2 ORDER BY event_type, band""")),

    // INVERSE percentile (PERCENTILE_RANK): given a value, what fraction
    // of the distribution sits at or below it — the dual of the
    // percentile family above (mid-rank convention: ties count half, so
    // rank(T) + rank(-T) is symmetric). Values quantize to integer cents
    // so the < / = splits are exact on both engines; one conditional
    // aggregate pass per group, no sort anywhere.
    QueryDef(
      "q_percentile_rank",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_returnflag"),
            round(col("l_quantity") * 100).cast("long").as("c"))
        def rankAt(t: Long) = round(
          (sum(when(col("c") < t, 1L).otherwise(0L)) +
            sum(when(col("c") === t, 1L).otherwise(0L)) / lit(2.0)) /
            count(lit(1)), 6)
        li.groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            rankAt(1000L).as("pr_10"),
            rankAt(2500L).as("pr_25"),
            rankAt(4500L).as("pr_45"))
          .orderBy("l_returnflag")
      },
      Some("""WITH li AS (SELECT l_returnflag,
                                 CAST(round(l_quantity * 100) AS BIGINT) AS c
                          FROM lineitem)
              SELECT l_returnflag, count(*) AS n,
                     round((sum(CASE WHEN c < 1000 THEN 1 ELSE 0 END)
                            + sum(CASE WHEN c = 1000 THEN 1 ELSE 0 END) / 2.0)
                           / count(*), 6) AS pr_10,
                     round((sum(CASE WHEN c < 2500 THEN 1 ELSE 0 END)
                            + sum(CASE WHEN c = 2500 THEN 1 ELSE 0 END) / 2.0)
                           / count(*), 6) AS pr_25,
                     round((sum(CASE WHEN c < 4500 THEN 1 ELSE 0 END)
                            + sum(CASE WHEN c = 4500 THEN 1 ELSE 0 END) / 2.0)
                           / count(*), 6) AS pr_45
              FROM li GROUP BY 1 ORDER BY l_returnflag""")),

    // BIG_DECIMAL metric aggregation (schema.md:48: BIG_DECIMAL is a
    // first-class metric type): money math in DECIMAL is EXACT — the sums
    // here are penny-accurate regardless of row count or add order, where
    // double accumulation drifts. Outputs cast to strings so both engines
    // compare the exact digits, not a float rendering.
    QueryDef(
      "q_decimal_agg",
      (s, d) =>
        Tables.lineitem(s, d)
          .select(col("l_returnflag"),
            col("l_extendedprice").cast("decimal(18,2)").as("price"),
            col("l_discount").cast("decimal(18,4)").as("disc"))
          .groupBy("l_returnflag")
          .agg(
            sum("price").cast("string").as("sum_price"),
            sum(col("price") * (lit(BigDecimal(1)) - col("disc")))
              .cast("decimal(30,6)").cast("string").as("sum_disc_price"),
            max("price").cast("string").as("max_price"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS sum_price,
                     CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                               (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(30,6))
                          AS VARCHAR) AS sum_disc_price,
                     CAST(max(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS max_price
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    QueryDef(
      "q_mode",
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(col("o_orderpriority").as("mode_val"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), asc("mode_val"))
          .limit(1),
      Some("""SELECT o_orderpriority AS mode_val, count(*) AS cnt
              FROM orders GROUP BY 1 ORDER BY cnt DESC, mode_val LIMIT 1""")),

    QueryDef(
      "q_case_when",
      (s, d) =>
        Tables.lineitem(s, d)
          .withColumn("bucket",
            when(col("l_quantity") < 10, "low")
              .when(col("l_quantity") < 30, "mid")
              .otherwise("high"))
          .groupBy("bucket")
          .agg(
            count(lit(1)).as("cnt"),
            round(sum("l_extendedprice"), 2).as("sum_price"),
            sum(floor(col("l_quantity")).cast("bigint")).as("sum_qty_floor"))
          .orderBy("bucket"),
      Some("""SELECT CASE WHEN l_quantity < 10 THEN 'low'
                          WHEN l_quantity < 30 THEN 'mid'
                          ELSE 'high' END AS bucket,
                     count(*) AS cnt,
                     round(sum(l_extendedprice), 2) AS sum_price,
                     CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty_floor
              FROM lineitem GROUP BY 1 ORDER BY bucket""")),

    QueryDef(
      "q_transform_fns",
      (s, d) =>
        Tables.customer(s, d)
          .select(
            col("c_custkey"),
            upper(col("c_mktsegment")).as("seg_up"),
            length(col("c_name")).as("name_len"),
            substring(col("c_name"), 1, 5).as("name_pre"),
            concat(col("c_name"), lit("-"), col("c_mktsegment")).as("name_seg"),
            round(abs(col("c_acctbal")), 1).as("bal_abs"),
            (round(col("c_acctbal") * 1.07 + 10.0, 2) + lit(0.0)).as("bal_adj"))
          .orderBy("c_custkey")
          .limit(200),
      Some("""SELECT c_custkey, upper(c_mktsegment) AS seg_up,
                     length(c_name) AS name_len, substr(c_name, 1, 5) AS name_pre,
                     concat(c_name, '-', c_mktsegment) AS name_seg,
                     round(abs(c_acctbal), 1) AS bal_abs,
                     round(c_acctbal * 1.07 + 10.0, 2) + 0 AS bal_adj
              FROM customer ORDER BY c_custkey LIMIT 200""")),

    // Null handling — Pinot substitutes per-type default null values
    // (reference: /root/reference/configuration-reference/schema.md:24);
    // nulls are synthesized via nullif and filled with the STRING default.
    QueryDef(
      "q_null_handling",
      (s, d) =>
        Tables.lineitem(s, d)
          .select(expr("nullif(l_returnflag, 'A')").as("rf"))
          .groupBy(coalesce(col("rf"), lit("null")).as("rf_filled"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(when(col("rf").isNull, 1).otherwise(0)).cast("bigint").as("n_null"))
          .orderBy("rf_filled"),
      Some("""SELECT coalesce(nullif(l_returnflag, 'A'), 'null') AS rf_filled,
                     count(*) AS cnt,
                     CAST(sum(CASE WHEN nullif(l_returnflag, 'A') IS NULL
                                   THEN 1 ELSE 0 END) AS BIGINT) AS n_null
              FROM lineitem GROUP BY 1 ORDER BY rf_filled""")),

    QueryDef(
      "q_orderby_multi",
      (s, d) =>
        Tables.lineitem(s, d)
          .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber",
            "l_quantity", "l_partkey", "l_suppkey")
          .orderBy(asc("l_returnflag"), desc("l_extendedprice"), asc("l_orderkey"),
            asc("l_linenumber"), asc("l_quantity"), asc("l_partkey"), asc("l_suppkey"))
          .limit(50),
      Some("""SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
                     l_quantity, l_partkey, l_suppkey
              FROM lineitem
              ORDER BY l_returnflag ASC, l_extendedprice DESC, l_orderkey ASC,
                       l_linenumber ASC, l_quantity ASC, l_partkey ASC, l_suppkey ASC
              LIMIT 50"""))
  )

  /** TPC-H Q1 shape; also the flagship `SparkEntry.entry` query. */
  def aggGroupBy(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        // per-row cents: l_extendedprice is cent-exact, so the long sum is
        // the SAME value computed order-immune (scale-proof money rollup)
        round(sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0, 2)
          .as("sum_base"),
        // price×(1−discount) lives on a 1e-4 grid (boundary-capable at 2
        // dp) — per-row 1e-4-units longs, one scalar division at the end
        round(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
          .cast("long")) / 10000.0, 2).as("sum_disc"),
        round(avg("l_quantity"), 2).as("avg_qty"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") > 10)
      .orderBy("l_returnflag", "l_linestatus")
}
