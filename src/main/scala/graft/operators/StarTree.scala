package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Star-tree index analog (reference: /root/reference/basics/indexing/
  * README.md:16 — Pinot pre-aggregates along dimension combinations so
  * group-by queries read far fewer records). Spark-native: materialize a
  * pre-aggregated cube keyed by the dimension columns with PARTIAL
  * aggregates (sums + count), then answer any group-by over a dimension
  * subset by rolling the partials up. At 100 TB the cube is orders of
  * magnitude smaller than the fact table and can be written out once
  * (sorted by its dims for row-group pruning) and reused across queries.
  */
object StarTree {

  /** KLL accuracy parameter for `quantileMetrics` cube sketches: exact
    * below KllK values per cell, bounded rank error above (KllSpec).
    * The rewrite rule serves a `percentile_approx(m, p, acc)` only when
    * acc ≤ KllK/2 — a query asking for tighter rank error than the cube
    * sketch delivers keeps its fact scan (the HLL precision-guard
    * discipline).
    */
  val KllK = 16384

  /** Pre-aggregate: one row per dims combination, carrying partial sums
    * (`s_<col>`), per-metric NON-NULL counts (`c_<col>` — what AVG/COUNT
    * of a nullable metric actually divides/counts by), per-metric min/max
    * (`mn_<col>`/`mx_<col>` — min of mins and max of maxes roll up
    * losslessly, Pinot's MIN/MAX star-tree functions), per-metric sketch
    * blobs for the opted-in distinct/quantile families, and the row count
    * (`cube_cnt`).
    */
  def buildCube(
      df: DataFrame, dims: Seq[String], sumMetrics: Seq[String],
      distinctMetrics: Seq[String] = Nil,
      quantileMetrics: Seq[String] = Nil): DataFrame = {
    val aggs = sumMetrics.map(m => sum(col(m)).as(s"s_$m")) ++
      sumMetrics.map(m => count(col(m)).as(s"c_$m")) ++
      sumMetrics.map(m => min(col(m)).as(s"mn_$m")) ++
      sumMetrics.map(m => max(col(m)).as(s"mx_$m")) ++
      // DISTINCTCOUNTHLL-in-star-tree: a mergeable HLL sketch per cell, so
      // distinct counts roll up from the cube like sums do — the only way
      // distinct-count survives pre-aggregation (exact distincts do not
      // decompose across cells).
      distinctMetrics.map(m => hll_sketch_agg(col(m)).as(s"hll_$m")) ++
      // PERCENTILEKLL-in-star-tree (Pinot's percentile sketch metric
      // family): a mergeable KLL sketch per cell — order statistics roll
      // up from the cube (exact percentiles never decompose; the
      // continuous-metric sibling of the exact buildHistCube).
      quantileMetrics.map(m =>
        kll_sketch_agg_double(col(m).cast("double"), KllK).as(s"kll_$m")) :+
      count(lit(1)).as("cube_cnt")
    df.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Answer a group-by over a subset of the cube's dims from the partials:
    * sums add, counts add, HLL sketches union. Result columns:
    * `s_<metric>`, `c_<metric>`, `d_<metric>` (estimated distinct count),
    * `cube_cnt`.
    */
  def rollup(
      cube: DataFrame, dims: Seq[String], sumMetrics: Seq[String],
      distinctMetrics: Seq[String] = Nil): DataFrame = {
    val aggs = sumMetrics.map(m => sum(col(s"s_$m")).as(s"s_$m")) ++
      sumMetrics.map(m => sum(col(s"c_$m")).as(s"c_$m")) ++
      sumMetrics.map(m => min(col(s"mn_$m")).as(s"mn_$m")) ++
      sumMetrics.map(m => max(col(s"mx_$m")).as(s"mx_$m")) ++
      distinctMetrics.map(m =>
        hll_sketch_estimate(hll_union_agg(col(s"hll_$m"))).as(s"d_$m")) :+
      sum(col("cube_cnt")).as("cube_cnt")
    cube.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge two cubes over the same (dims, metrics) layout. Every partial
    * is mergeable by construction — sums and counts add, min-of-mins /
    * max-of-maxes, HLL sketches union — so the merge is one group-by over
    * the concatenated cube rows (both cube-sized, never fact-sized).
    */
  def mergeCubes(
      a: DataFrame, b: DataFrame, dims: Seq[String], sumMetrics: Seq[String],
      distinctMetrics: Seq[String] = Nil,
      quantileMetrics: Seq[String] = Nil): DataFrame = {
    val aggs = sumMetrics.map(m => sum(col(s"s_$m")).as(s"s_$m")) ++
      sumMetrics.map(m => sum(col(s"c_$m")).as(s"c_$m")) ++
      sumMetrics.map(m => min(col(s"mn_$m")).as(s"mn_$m")) ++
      sumMetrics.map(m => max(col(s"mx_$m")).as(s"mx_$m")) ++
      distinctMetrics.map(m => hll_union_agg(col(s"hll_$m")).as(s"hll_$m")) ++
      quantileMetrics.map(m =>
        kll_merge_agg_double(col(s"kll_$m"), KllK).as(s"kll_$m")) :+
      sum(col("cube_cnt")).as("cube_cnt")
    a.unionByName(b).groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Incremental refresh — the realtime-segment → star-tree maintenance
    * path (Pinot keeps star-trees per segment and merges at query time;
    * here the cube table absorbs each appended segment batch). Only the
    * DELTA is aggregated — the fact history is never rescanned; the merge
    * itself runs over two cube-sized inputs (`foldInto`). The catalog
    * entry is then re-registered so the transparent rewrite serves the
    * refreshed cube; it records the fact's files as of this call, so
    * append `delta` to `factPath` first.
    */
  def refreshIncremental(
      spark: org.apache.spark.sql.SparkSession, factPath: String, delta: DataFrame,
      dims: Seq[String], sumMetrics: Seq[String], cubePath: String,
      distinctMetrics: Seq[String] = Nil,
      quantileMetrics: Seq[String] = Nil): Unit = {
    foldInto(cubePath,
      buildCube(delta, dims, sumMetrics, distinctMetrics, quantileMetrics))(
      mergeCubes(_, _, dims, sumMetrics, distinctMetrics, quantileMetrics))
    graft.plans.StarTreeCatalog.register(
      factPath, dims, sumMetrics, cubePath, distinctMetrics, quantileMetrics)
  }

  /** The one read–merge–overwrite step of every folded table (the sum,
    * hist and sketch cubes, the streamed SCD2 dim): `merge` the table
    * stored at `path` with `delta` and replace it. The
    * merged result is materialized (localCheckpoint) before the overwrite
    * because it reads the very files the overwrite deletes. Successive
    * folds never race; a concurrent READER can, since the overwrite is in
    * place (no atomic publish yet).
    */
  private[graft] def foldInto(path: String, delta: DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): Unit =
    // Natural (shuffle) partitioning on the write: AQE coalesces a small
    // cube to few files, and a big cube (realistic dim cardinalities at
    // 100 TB) parallelizes across writers instead of bottlenecking on one
    // task and producing one unsplittable parquet. Readers read the
    // directory either way.
    merge(delta.sparkSession.read.parquet(path), delta)
      .localCheckpoint(true)
      .write.mode("overwrite").parquet(path)

  /** QUANTILE-in-star-tree (Pinot's PERCENTILE sketch metric family,
    * configuration-reference/schema.md sketch metrics): per cell, a value
    * HISTOGRAM of a dictionary-encoded (integral) metric, stored as
    * value-sorted (v, cnt) struct rows. Histograms merge by value-wise
    * count addition — losslessly, unlike t-digest — so EXACT interpolated
    * percentiles roll up from the cube the way sums do. State per cell is
    * O(distinct values), which is what "dictionary-encoded metric" means:
    * cents-quantized money, durations in ms, sizes in bytes — bounded
    * domains, not raw continuous doubles (require() enforces the integral
    * type so a continuous column can't silently build an N-row histogram).
    */
  def buildHistCube(df: DataFrame, dims: Seq[String], metric: String): DataFrame = {
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType, org.apache.spark.sql.types.ByteType)
        .contains(df.schema(metric).dataType),
      s"hist metric $metric must be integral (dictionary-encoded); " +
        "quantize (e.g. to cents) before building")
    df.filter(col(metric).isNotNull)
      .groupBy((dims :+ metric).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .groupBy(dims.map(col): _*)
      .agg(sort_array(collect_list(struct(
        col(metric).cast("long").as("v"), col("cnt").as("cnt"))))
        .as(s"hist_$metric"))
  }

  /** Merge two hist cubes (incremental-refresh path): explode to
    * (dims, v) count rows, add, re-collect — cube-sized work only.
    */
  def mergeHistCubes(
      a: DataFrame, b: DataFrame, dims: Seq[String], metric: String): DataFrame =
    a.unionByName(b)
      .select(dims.map(col) :+ explode(col(s"hist_$metric")).as("h"): _*)
      .groupBy(dims.map(col) :+ col("h.v").as("v"): _*)
      .agg(sum("h.cnt").as("cnt"))
      .groupBy(dims.map(col): _*)
      .agg(sort_array(collect_list(struct(col("v"), col("cnt"))))
        .as(s"hist_$metric"))

  /** Answer exact interpolated percentiles over a dim SUBSET from the
    * hist cube: per-value counts add across the rolled-up cells, then the
    * dictionary-histogram ranking math (Percentiles.interpolate — the
    * same code path q_percentile_dict verifies against quantile_cont)
    * runs on the merged histogram. The fact table is never rescanned.
    * `specs` = (outputName, percentile in [0,1]).
    */
  def percentileRollup(
      cube: DataFrame, dims: Seq[String], metric: String,
      specs: Seq[(String, Double)]): DataFrame = {
    val hist = cube
      .select(dims.map(col) :+ explode(col(s"hist_$metric")).as("h"): _*)
      .groupBy(dims.map(col) :+ col("h.v").cast("double").as("__v"): _*)
      .agg(sum("h.cnt").as("__cnt"))
    Percentiles.interpolate(hist, dims, specs)
  }

  /** Build + persist the cube and make it transparent: any eligible
    * SUM/COUNT/AVG/MIN/MAX (and, with `distinctMetrics`,
    * approx_count_distinct; with `quantileMetrics`, percentile_approx)
    * group-by over `factPath` is answered from the cube by the optimizer
    * (graft.plans.StarTreeRewriteRule) from here on.
    */
  def materializeAndRegister(
      fact: DataFrame, factPath: String,
      dims: Seq[String], sumMetrics: Seq[String], cubePath: String,
      distinctMetrics: Seq[String] = Nil,
      quantileMetrics: Seq[String] = Nil): Unit = {
    buildCube(fact, dims, sumMetrics, distinctMetrics, quantileMetrics)
      .write.mode("overwrite").parquet(cubePath)
    graft.plans.StarTreeCatalog.register(
      factPath, dims, sumMetrics, cubePath, distinctMetrics, quantileMetrics)
  }
}
