package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.operators.StarTree

/** §H star-tree pre-aggregation — the group-by is answered from the cube's
  * partial aggregates; the oracle aggregates the raw table, proving the
  * rollup is lossless.
  */
object StarTreeQueries {

  val defs: Seq[QueryDef] = Seq(
    // End-to-end MERGE-ROLLUP serving under the hash gate: events write
    // through the segment writer (week partitions), SegmentWriter
    // .mergeRollup coarsens every week but the last to daily pre-aggs,
    // and the day-level dashboard query runs over the UNION of rolled +
    // raw partitions — the oracle aggregates the raw table, so the hash
    // proves the lifecycle rewrite lost nothing. The metric is
    // cents-quantized before the rollup: partial sums are integer-exact
    // under ANY re-grouping, so rolled-then-summed equals raw-summed to
    // the bit (a double metric would drift in the last ulp and flip
    // round()'s 2nd decimal on boundary values).
    QueryDef(
      "q_rollup_agg",
      (s, d) => {
        import graft.sources.SegmentWriter
        val partCol = SegmentWriter.derivedName("ts", "week")
        val ev = Tables.events(s, d)
          .select(col("event_type"), col("ts"),
            round(col("value") * 100).cast("long").as("vc"))
        // The write→rollup LIFECYCLE is fixture construction (the thing
        // under test is that the rolled layout answers the day query
        // exactly), memoized on the events it copies — rebuilding a
        // segment lifecycle on every query BUILD would be 17 Spark jobs
        // of pure re-setup (the BuildLazinessSpec class).
        val dest = graft.engine.Artifacts.segment("rollup", ev) { dir =>
          SegmentWriter.write(ev, s"$dir/src", SegmentWriter.Config(
            partitionCols = Seq(partCol),
            derivedTimeCols = Seq(("ts", "week"))))
          val weeks = s.read.parquet(s"$dir/src")
            .selectExpr(s"CAST(`$partCol` AS STRING)").distinct()
            .collect().map(_.getString(0)).sorted
          SegmentWriter.mergeRollup(
            s, s"$dir/src", s"$dir/dest", partCol, cutoff = weeks.last,
            timeCol = "ts", granularity = "day",
            dims = Seq("event_type"), sumMetrics = Seq("vc"))
        } + "/dest"
        graft.sources.SegmentCatalog.readStableSchema(s, dest)
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg((sum("vc") / 100.0).as("sum_v"), sum("rollup_count").as("n"))
          .select(col("event_type"), col("day"),
            round(col("sum_v"), 2).as("sum_v"), col("n"))
          .orderBy("event_type", "day")
      },
      Some("""SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                     round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                           / 100.0, 2) AS sum_v,
                     count(*) AS n
              FROM events GROUP BY 1, 2 ORDER BY event_type, day""")),

    QueryDef(
      "q_startree_rollup",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .withColumn("ship_month", date_trunc("month", col("l_shipdate")))
        val cube = StarTree.buildCube(
          li, dims = Seq("l_returnflag", "l_linestatus", "ship_month"),
          sumMetrics = Seq("l_quantity", "l_extendedprice"))
        StarTree.rollup(cube, dims = Seq("l_returnflag", "ship_month"),
            sumMetrics = Seq("l_quantity", "l_extendedprice"))
          .select(
            col("l_returnflag"), col("ship_month"),
            round(col("s_l_quantity"), 2).as("sum_qty"),
            round(col("s_l_extendedprice"), 2).as("sum_price"),
            round(col("mn_l_extendedprice"), 2).as("min_price"),
            round(col("mx_l_extendedprice"), 2).as("max_price"),
            col("cube_cnt").as("cnt"))
          .orderBy("l_returnflag", "ship_month")
      },
      Some("""SELECT l_returnflag, CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
                     round(sum(l_quantity), 2) AS sum_qty,
                     round(sum(l_extendedprice), 2) AS sum_price,
                     round(min(l_extendedprice), 2) AS min_price,
                     round(max(l_extendedprice), 2) AS max_price,
                     count(*) AS cnt
              FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, ship_month""")),

    // DISTINCTCOUNTHLL served transparently from the star-tree (Pinot's
    // sketch metric family — reference: basics/indexing/README.md:16,
    // configuration-reference/schema.md:48): the fact table is registered
    // with an HLL sketch per cube cell, and the optimizer rewrites the
    // approx_count_distinct group-by onto a union of cell sketches — the
    // fact table is never rescanned. Approximate by design (no SQL
    // oracle); StarTreeSpec bounds the estimate within 5% of exact and
    // asserts the plan scans the cube. The fact is a segment copy so the
    // registration never captures other registry queries' lineitem scans.
    QueryDef(
      "q_startree_hll",
      (s, d) => {
        val fact = starTreeFact("startree_hll", Tables.lineitem(s, d)
          .select("l_returnflag", "l_linestatus", "l_partkey", "l_quantity"),
          distinctMetrics = Seq("l_partkey"))
        graft.sources.SegmentCatalog.readStableSchema(s, fact)
          .groupBy("l_returnflag")
          .agg(
            approx_count_distinct(col("l_partkey")).as("nd_parts"),
            round(sum(col("l_quantity")), 2).as("sum_qty"))
          .orderBy("l_returnflag")
      },
      None),

    // PERCENTILEKLL through the transparent rewrite (Pinot's percentile
    // sketch metric family over CONTINUOUS metrics — the approximate
    // sibling of the exact hist-cube q_percentile_cube): the fact table
    // registers a KLL sketch per cube cell and the optimizer rewrites the
    // user-declared percentile_approx group-by onto a KLL quantile over a
    // union of cell sketches — the fact is never rescanned. Approximate
    // by design (no SQL oracle); StarTreeSpec bounds the served median
    // within 2% of exact, asserts the cube-scan plan shape, and pins both
    // disqualification paths (exact percentile(), tighter-than-cube acc).
    QueryDef(
      "q_startree_kll",
      (s, d) => {
        val fact = starTreeFact("startree_kll", Tables.lineitem(s, d)
          .select("l_returnflag", "l_linestatus", "l_extendedprice", "l_quantity"),
          quantileMetrics = Seq("l_extendedprice"))
        graft.sources.SegmentCatalog.readStableSchema(s, fact)
          .groupBy("l_returnflag")
          .agg(
            round(expr("percentile_approx(l_extendedprice, 0.5D, 5000)"), 2)
              .as("p50_price"),
            round(sum(col("l_quantity")), 2).as("sum_qty"))
          .orderBy("l_returnflag")
      },
      None),

    // q_startree_hll's EXACT sibling (Pinot's
    // SEGMENTPARTITIONEDDISTINCTCOUNT posture, realized with Spark's
    // mergeable bitmap blobs instead of HLL sketches): cube cells at
    // (returnflag, linestatus, key-bucket) each hold ONE bitmap blob of
    // the partkeys seen (bitmap_construct_agg — bounded 4KB state per
    // cell), and the coarser group-by is served by OR-merging cell blobs
    // (bitmap_or_agg) and summing popcounts — the fact is never
    // rescanned and the rollup is LOSSLESS, so the cube-served distinct
    // count hash-verifies against plain count(DISTINCT). The mergeable-
    // blob rollup is exactly the star-tree serve path with exact state
    // where the HLL row accepts ±5%.
    QueryDef(
      "q_startree_distinct_exact",
      (s, d) => {
        val cells = Tables.lineitem(s, d)
          .select("l_returnflag", "l_linestatus", "l_partkey")
          .groupBy(col("l_returnflag"), col("l_linestatus"),
            expr("bitmap_bucket_number(l_partkey)").as("__bucket"))
          .agg(expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))")
            .as("bm"))
        cells
          .groupBy("l_returnflag", "__bucket")
          .agg(expr("bitmap_or_agg(bm)").as("bm"))
          .groupBy("l_returnflag")
          .agg(sum(expr("bitmap_count(bm)")).as("nd_parts"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
                     CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_parts
              FROM lineitem GROUP BY 1 ORDER BY l_returnflag""")),

    // q_startree_kll's EXACT-REGIME twin (q_percentile_kll_exact's
    // argument pushed through the TRANSPARENT REWRITE): the fact is one
    // ship month (≤ 8k rows at every verified sf, far under KllK=16384),
    // so no cell sketch and no serve-time union ever compacts — the
    // cube-served KLL quantile IS the true rank-ceil(q·n) order
    // statistic, and the whole register → rewrite → cell-union →
    // quantile path hash-verifies against an explicit rank-selection
    // oracle over the raw rows. The rewrite fires on the same
    // percentile_approx shape as the approximate row (acc 5000 ≤
    // KllK/2); if it ever stopped firing, percentile_approx's different
    // rank/interpolation convention would hash-mismatch — the gate
    // cannot silently pass. Raw stored doubles are SELECTED by the
    // quantile, never combined, so no rounding discipline is needed on
    // p50; the sum metric rounds to cents as usual.
    QueryDef(
      "q_startree_kll_exact",
      (s, d) => {
        val fact = starTreeFact("startree_kllx", Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1995-03-01") &&
            col("l_shipdate") < lit("1995-04-01"))
          .select("l_returnflag", "l_linestatus", "l_extendedprice", "l_quantity"),
          quantileMetrics = Seq("l_extendedprice"))
        graft.sources.SegmentCatalog.readStableSchema(s, fact)
          .groupBy("l_returnflag")
          .agg(
            expr("percentile_approx(l_extendedprice, 0.5D, 5000)")
              .as("p50_price"),
            round(sum(col("l_quantity")), 2).as("sum_qty"))
          .orderBy("l_returnflag")
      },
      Some("""WITH f AS (SELECT l_returnflag, l_extendedprice, l_quantity
                         FROM lineitem
                         WHERE l_shipdate >= DATE '1995-03-01'
                           AND l_shipdate < DATE '1995-04-01'),
                   st AS (SELECT l_returnflag, l_extendedprice,
                                 row_number() OVER (PARTITION BY l_returnflag
                                                    ORDER BY l_extendedprice) AS rn,
                                 count(*) OVER (PARTITION BY l_returnflag) AS n
                          FROM f),
                   q AS (SELECT l_returnflag,
                                max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                                         THEN l_extendedprice END) AS p50_price
                         FROM st GROUP BY 1),
                   sq AS (SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty
                          FROM f GROUP BY 1)
              SELECT q.l_returnflag, p50_price, sum_qty
              FROM q JOIN sq USING (l_returnflag)
              ORDER BY l_returnflag""")),

    // Star-tree rollup WITH a dimension filter (Pinot star-trees answer
    // filtered group-bys as long as the predicate is on cube dimensions —
    // basics/indexing/README.md:16): the filter applies to the CUBE rows
    // (dictionary-sized), never the fact table, and the partial aggregates
    // still roll up losslessly. The oracle runs the same filter on the raw
    // table.
    QueryDef(
      "q_startree_filtered",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .withColumn("ship_month", date_trunc("month", col("l_shipdate")))
        val cube = StarTree.buildCube(
          li, dims = Seq("l_returnflag", "l_linestatus", "ship_month"),
          sumMetrics = Seq("l_quantity", "l_extendedprice"))
        StarTree.rollup(cube.filter(col("l_linestatus") === "F"),
            dims = Seq("l_returnflag"),
            sumMetrics = Seq("l_quantity", "l_extendedprice"))
          .select(
            col("l_returnflag"),
            round(col("s_l_quantity"), 2).as("sum_qty"),
            round(col("s_l_extendedprice") / col("c_l_extendedprice"), 2).as("avg_price"),
            col("cube_cnt").as("cnt"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
                     round(sum(l_quantity), 2) AS sum_qty,
                     round(sum(l_extendedprice) / count(l_extendedprice), 2) AS avg_price,
                     count(*) AS cnt
              FROM lineitem WHERE l_linestatus = 'F'
              GROUP BY 1 ORDER BY l_returnflag""")),

    // PERCENTILE served from the star-tree (Pinot's percentile sketch
    // metric family): the cube stores a per-cell value HISTOGRAM of the
    // cents-quantized price (dictionary-encoded metric — bounded state);
    // the query rolls the (returnflag, linestatus) cells up to returnflag
    // by value-wise count addition and runs the dictionary-histogram
    // interpolation on the MERGED histogram. Histogram merge is lossless
    // (unlike a t-digest), so the oracle is the exact quantile_cont over
    // the raw table — the hash proves pre-aggregation lost nothing.
    QueryDef(
      "q_percentile_cube",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
        // The hist cube is memoized: the deployment materializes it with
        // the segments (like the sum/HLL cubes behind StarTreeCatalog), so
        // repeated queries measure SERVING, not re-building.
        val cube = graft.engine.Artifacts.persisted("hist_cube", li)(
          StarTree.buildHistCube(
            li, dims = Seq("l_returnflag", "l_linestatus"), metric = "cents"))
        StarTree.percentileRollup(cube, dims = Seq("l_returnflag"),
            metric = "cents", specs = Seq(("p50", 0.5), ("p95", 0.95)))
          .select(col("l_returnflag"),
            (round(col("p50") / 100.0, 4) + lit(0.0)).as("p50"),
            (round(col("p95") / 100.0, 4) + lit(0.0)).as("p95"))
          .orderBy("l_returnflag")
      },
      Some("""WITH c AS (SELECT l_returnflag,
                                CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
                         FROM lineitem)
              SELECT l_returnflag,
                     round(quantile_cont(cents, 0.5) / 100.0, 4) + 0 AS p50,
                     round(quantile_cont(cents, 0.95) / 100.0, 4) + 0 AS p95
              FROM c GROUP BY 1 ORDER BY l_returnflag"""))
  )

  /** `fact` copied into a segment and registered with its
    * (returnflag, linestatus) cube, so the rewrite serves group-bys over
    * the returned fact path; the memo entry lives as long as `fact`'s
    * files are unchanged, and its release unregisters the cube.
    */
  private def starTreeFact(kind: String, fact: org.apache.spark.sql.DataFrame,
      distinctMetrics: Seq[String] = Nil, quantileMetrics: Seq[String] = Nil): String =
    graft.engine.Artifacts.segment(kind, fact,
      dir => graft.plans.StarTreeCatalog.unregister(s"$dir/fact")) { dir =>
      fact.write.parquet(s"$dir/fact")
      StarTree.materializeAndRegister(
        graft.sources.SegmentCatalog.readStableSchema(fact.sparkSession, s"$dir/fact"),
        s"$dir/fact", dims = Seq("l_returnflag", "l_linestatus"),
        sumMetrics = Seq("l_quantity"), cubePath = s"$dir/cube",
        distinctMetrics = distinctMetrics, quantileMetrics = quantileMetrics)
    } + "/fact"
}
