package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spark's KLL quantile sketch (`kll_*_double`) as the engine uses it:
  * exact-below-k contract, empirical rank-error bound for the compacting
  * regime, mergeability, the rank/quantile inverse relation, O(k) state
  * and the SQL surface. The compacting regime flips an unseeded coin (as
  * Pinot's KLL does), so those cases bound the error, never the value.
  */
class KllSpec extends SparkSpec {

  private def refRank(sorted: Array[Double], q: Double): Double = {
    val target = math.max(1L, math.ceil(q * sorted.length).toLong).toInt
    sorted(target - 1)
  }

  private def trueRankFraction(sorted: Array[Double], v: Double): Double = {
    var lo = 0; var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (sorted(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo.toDouble / sorted.length
  }

  // deterministic pseudo-random stream (no Math.random in specs)
  private def stream(n: Int, seed: Long): Array[Double] = {
    var x = seed
    Array.fill(n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      ((x >>> 11).toDouble / (1L << 53).toDouble) * 1000.0
    }
  }

  /** `data` as (chunk, v) rows, `chunk` numbering consecutive runs of `size`. */
  private def chunked(data: Array[Double], size: Int): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    data.toSeq.zipWithIndex.map { case (v, i) => (i / size, v) }.toDF("chunk", "v")
  }

  /** One sketch of column `v` over all rows. */
  private def sketchOf(df: DataFrame, k: Int): Array[Byte] =
    df.agg(kll_sketch_agg_double(col("v"), k)).head().getAs[Array[Byte]](0)

  /** One sketch per chunk, merged (the shuffle partial path). */
  private def mergedOf(df: DataFrame, k: Int): Array[Byte] =
    df.groupBy("chunk").agg(kll_sketch_agg_double(col("v"), k).as("sk"))
      .agg(kll_merge_agg_double(col("sk"), k)).head().getAs[Array[Byte]](0)

  private def read(sk: Array[Byte], f: Column => Column): Double =
    spark.range(1).select(f(lit(sk))).head().getDouble(0)

  private def quantile(sk: Array[Byte], q: Double): Double =
    read(sk, kll_sketch_get_quantile_double(_, lit(q)))

  test("exact below k: the sketch is the sorted multiset, quantiles are true order statistics") {
    val data = stream(5000, seed = 7)
    val sk = sketchOf(chunked(data, data.length), 8192)
    val sorted = data.sorted
    for (q <- Seq(0.01, 0.25, 0.5, 0.9, 0.99))
      assert(quantile(sk, q) === refRank(sorted, q), s"q=$q")
  }

  test("exact regime is merge-order invariant (partials over arbitrary splits)") {
    val data = stream(4000, seed = 11)
    val sorted = data.sorted
    // 7 uneven splits, merged in scrambled orders
    val df = chunked(data, 613)
    for (order <- Seq(desc("chunk"), asc("chunk"), rand(5))) {
      val sk = df.groupBy("chunk").agg(kll_sketch_agg_double(col("v"), 8192).as("sk"))
        .orderBy(order).coalesce(1)
        .agg(kll_merge_agg_double(col("sk"), 8192)).head().getAs[Array[Byte]](0)
      for (q <- Seq(0.1, 0.5, 0.77))
        assert(quantile(sk, q) === refRank(sorted, q), s"q=$q order=$order")
    }
  }

  test("compacting regime: rank error bounded, with and without merge") {
    val data = stream(20000, seed = 3)
    val sorted = data.sorted
    val df = chunked(data, 3001)
    for (sk <- Seq(sketchOf(df, 256), mergedOf(df, 256));
         q <- Seq(0.1, 0.25, 0.5, 0.75, 0.9)) {
      val got = quantile(sk, q)
      val err = math.abs(trueRankFraction(sorted, got) - q)
      assert(err <= 0.08, s"rank error $err at q=$q (k=256, n=20000)")
    }
  }

  test("kll_rank inverts kll_quantile within the same error band") {
    val sk = sketchOf(chunked(stream(20000, seed = 19), 20000), 256)
    for (q <- Seq(0.2, 0.5, 0.8)) {
      val r = read(sk, s => kll_sketch_get_rank_double(s, kll_sketch_get_quantile_double(s, lit(q))))
      assert(math.abs(r - q) <= 0.08, s"rank(quantile($q)) = $r")
    }
  }

  test("sketch state stays O(k) while n grows (the shuffle-size contract)") {
    val sk = sketchOf(chunked(stream(100000, seed = 23), 100000), 256)
    // at most 4k retained doubles plus a fixed header (preamble, level
    // offsets, min and max)
    assert(sk.length <= 4 * 256 * 8 + 128, s"${sk.length} bytes for k=256, n=100k")
  }

  test("SQL registration: kll functions work from plain SQL and match the Column API") {
    val df = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_type"), col("value"))
    df.createOrReplaceTempView("kll_ev")
    val viaSql = spark.sql(
      """SELECT event_type,
          kll_sketch_get_quantile_double(kll_sketch_agg_double(value, 65535), 0.5D) AS p50
         FROM kll_ev GROUP BY 1 ORDER BY 1""").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val viaApi = df.groupBy("event_type")
      .agg(kll_sketch_get_quantile_double(
        kll_sketch_agg_double(col("value"), 65535), lit(0.5)).as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(viaSql === viaApi)
    assert(viaSql.nonEmpty)
    // scalar kll_sketch_merge_double from SQL: folding the per-type
    // sketches pairwise must agree with the one-shot global sketch (exact
    // regime, so equality is exact)
    val global = spark.sql(
      """SELECT kll_sketch_get_quantile_double(kll_sketch_agg_double(value, 65535), 0.5D)
         FROM kll_ev""")
      .head().getDouble(0)
    val folded = spark.sql(
      """SELECT kll_sketch_get_quantile_double(kll_merge_agg_double(sk, 65535), 0.5D) FROM (
           SELECT kll_sketch_merge_double(sk, sk2) AS sk FROM (
             SELECT kll_sketch_agg_double(value, 65535) AS sk,
                    kll_sketch_agg_double(CAST(NULL AS DOUBLE), 65535) AS sk2
             FROM kll_ev GROUP BY event_type))""")
      .head().getDouble(0)
    assert(folded === global)
  }
}
