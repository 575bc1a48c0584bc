package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-source WEIGHTED shortest paths by bounded Bellman–Ford
  * relaxation — over unit edges it is breadth-first hop distance
  * (q_bfs_hops); integer weights keep the distances float-free and the
  * min-relaxation deterministic under any partitioning. After R rounds
  * the distances are exact for every node whose shortest path uses ≤ R
  * edges — the q_bfs_hops bounded-frontier convention, so the DuckDB
  * oracle unrolls the same rounds as CTE levels.
  *
  * Scale shape: per round ONE equi-join of the (symmetrized, weighted)
  * edge list with the distance table + one min aggregation on the node
  * key — the PageRank/CC round shape; lazy localCheckpoint keeps lineage
  * flat. Negative weights are rejected (Bellman–Ford would need the
  * n−1-round full run to be meaningful there, and a crawl graph has
  * none).
  */
object ShortestPaths {

  /** edges (src, dst, w: long ≥ 0) treated UNDIRECTED; seed (node).
    * Returns (node, dist) for every node within `maxRounds` edges of a
    * seed, dist = exact min total weight over ≤ maxRounds-edge paths.
    */
  def sssp(edges: DataFrame, seed: DataFrame, maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    // Enforce the documented non-negativity contract IN-PLAN (a
    // scan-local assert, zero extra jobs — the BuildLazinessSpec
    // discipline): a negative-weight edge fails the query loudly at
    // execution instead of silently producing ≤R-round distances that
    // mean nothing under negative cycles.
    val guarded = edges.withColumn("w",
      when(col("w") < 0, raise_error(concat(
        lit("ShortestPaths.sssp: negative edge weight "), col("w").cast("string"),
        lit(" on "), col("src").cast("string"), lit("->"), col("dst").cast("string"),
        lit(" — Bellman-Ford's bounded-round regime requires w >= 0"))))
        .otherwise(col("w")))
    val ue = guarded.select(col("src"), col("dst"), col("w"))
      .union(guarded.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .groupBy("src", "dst").agg(min("w").as("w"))
      .localCheckpoint(eager = false)
    var dist = seed.select(col("node"), lit(0L).as("dist"))
    (1 to maxRounds).foreach { _ =>
      val relaxed = ue.join(dist, col("src") === col("node"))
        .groupBy(col("dst").as("n2"))
        .agg(min(col("dist") + col("w")).as("nd"))
      dist = dist.as("D")
        .join(relaxed, col("D.node") === col("n2"), "full_outer")
        .select(coalesce(col("D.node"), col("n2")).as("node"),
          least(coalesce(col("D.dist"), col("nd")),
            coalesce(col("nd"), col("D.dist"))).as("dist"))
        .localCheckpoint(eager = false)
    }
    dist
  }
}
