package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed CONNECTED COMPONENTS over an edge list — the partitioner
  * of the graph family (PageRank ranks inside a crawl, LabelProp finds
  * dense communities; CC answers the prior question: which hosts are in
  * the same reachable cluster at all — the unit a crawl-curation
  * pipeline dedups and caps AT, cf. reference basics/Architecture.md on
  * derived per-host quality columns).
  *
  * Algorithm: synchronous HASH-TO-MIN label propagation run to the EXACT
  * fixpoint — every node repeatedly takes the minimum label among itself
  * and its neighbors, so the fixpoint is exactly "component = minimum
  * node id reachable", deterministic under any partitioning and any
  * float-free (labels are the node ids themselves).
  *
  * Scale shape: each round is ONE equi-join of the symmetrized edge list
  * with the label table plus one hash aggregation — the PageRank round
  * shape, shuffling on the node key, edge list never collected. The
  * convergence test is a per-round SCALAR count of moved labels, which
  * doubles as the materializer of the round's lazy localCheckpoint
  * (lineage stays flat, the Clusters.scala lesson). Round count is
  * O(graph diameter); the documented web-scale path is the small-star /
  * large-star alternation (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14) which contracts in O(log² n) rounds
  * with the SAME join+agg round shape — hash-to-min is the right form at
  * host-graph diameters (small-world graphs: diameter ~ log n).
  */
object ConnectedComponents {

  /** edges (src, dst) → (node, comp) for every endpoint node, where comp
    * is the smallest node id in the component. Exact (run to fixpoint).
    */
  def components(edges: DataFrame): DataFrame =
    componentsWithRounds(edges)._1

  def componentsWithRounds(edges: DataFrame): (DataFrame, Int) = {
    val ue = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(eager = false)
    // Round 1 FUSED into initialization (r15 optimization round): from
    // identity labels, one propagation round computes exactly
    // min(self, neighbors) — a single aggregate over the symmetrized edge
    // list, no label table yet to join. Saves one full join+agg round on
    // every consumer; counted as a round so the returned count (and the
    // GraphSpec round assertions) are unchanged.
    var labels = ue.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("comp"))
      .select(col("src").as("node"), col("comp"))
      .localCheckpoint(eager = false)
    var rounds = 1
    var converged = false
    while (!converged) {
      // min(self, neighbors) as ONE union+aggregate: each edge delivers
      // its source's label to its target, the node's own label rides the
      // union — replaces the former groupBy + left-outer-join pair
      // (two wide ops per round, not three). The node's PREVIOUS label
      // rides the same union as a second column (null on delivered
      // rows, max() picks the one own row per node), so the convergence
      // probe — count of moved labels — is one filter+count over the
      // round's own output: exact for ANY label type (string node ids
      // included, where a label-sum probe would cast and is
      // overflow-fragile even for numeric ids at 100 TB), no extra join
      // or pass, and the count doubles as the materializer of the
      // round's lazy checkpoint.
      // the delivered side re-aliases every column (fresh expression
      // ids) — union children sharing expression ids trip a
      // constraint-rewrite defect in the analyzer on deep iterated plans
      val step = ue.join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("comp").as("comp"),
          lit(null).cast(labels.schema("comp").dataType).as("own"))
        .unionByName(labels.withColumn("own", col("comp")))
        .groupBy("node").agg(min("comp").as("comp"), max("own").as("prev"))
        .localCheckpoint(eager = false)
      val moved = step.filter(col("comp") =!= col("prev")).count()
      converged = moved == 0L
      labels = step.select(col("node"), col("comp"))
      rounds += 1
    }
    (labels, rounds)
  }

  /** Small-star / large-star alternation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the WEB-SCALE CC
    * path: converges in O(log² n) rounds INDEPENDENT of graph diameter,
    * where hash-to-min pays O(diameter) rounds (a long chain of weakly
    * linked hosts stalls it; star contraction halves path lengths every
    * alternation). Same fixpoint as `components` — comp = minimum node
    * id reachable — and the same per-round shape: equi-joins + hash
    * aggregations on the node key, nothing collected, lineage truncated
    * per round. Spec-pinned label parity with `components`
    * (GraphSpec), and the round-count win is asserted on a path graph
    * whose diameter dwarfs log² n.
    */
  def componentsStar(edges: DataFrame): DataFrame =
    componentsStarWithRounds(edges)._1

  private[graft] def componentsStarWithRounds(edges: DataFrame): (DataFrame, Int) = {
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .localCheckpoint(eager = false)
    // canonical orientation (u > v), self-loops dropped
    var e = edges.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .distinct()
      .localCheckpoint(eager = false)
    var eCount = e.count()
    var rounds = 0
    var done = eCount == 0L
    while (!done) {
      // LARGE-STAR: each node links its strictly LARGER neighbors to
      // min(Γ(u) ∪ {u}) — output is canonical by construction (the
      // larger neighbor vs a minimum).
      val nbrs = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u").agg(min("v").as("mv"))
        .select(col("u").as("lu"), least(col("u"), col("mv")).as("m"))
      // No mid-round distinct (r15 optimization round): duplicate
      // (v, m) rows — several parents handing the same child the same
      // min — flow into a min-aggregate and into `next`'s own distinct,
      // so the round's OUTPUT set is unchanged while each round pays one
      // exchange less. Duplicate multiplicity is bounded by node degree.
      val large = nbrs.join(mins, col("u") === col("lu"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .localCheckpoint(eager = false)
      // SMALL-STAR: with canonical edges, each node's strictly smaller
      // neighbors are exactly its out-edges; link them — and the node
      // itself — to the smallest of them.
      val minsS = large.groupBy("u").agg(min("v").as("m"))
      val next = large.join(minsS, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(minsS.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(eager = false)
      // exact set-equality convergence — equal size + empty difference
      // (both sides are distinct canonical edge sets) — computed in ONE
      // action: a left-outer probe of the old set counts the new set and
      // its fresh edges together, and doubles as the materializer of
      // this round's lazy checkpoint.
      val stats = next
        .join(e.withColumn("__old", lit(1)), Seq("u", "v"), "left_outer")
        .agg(count(lit(1)).as("n"),
          sum(when(col("__old").isNull, 1L).otherwise(0L)).as("fresh"))
        .head()
      val nextCount = stats.getLong(0)
      done = nextCount == eCount && stats.getLong(1) == 0L
      e = next; eCount = nextCount; rounds += 1
    }
    // fixpoint is a disjoint star per component: every non-min node has
    // exactly one edge (node, component-min); mins and isolated nodes
    // label themselves
    val comps = e.select(col("u").as("node"), col("v").as("comp"))
    (nodes.join(comps, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("comp"), col("node")).as("comp")),
      rounds)
  }

  /** Breadth-first hop distance from `seed` (a 1-row DataFrame with a
    * `node` column), bounded at `maxHops` rounds: returns (node, hops)
    * for exactly the nodes whose true distance is <= maxHops, with the
    * exact distance. Each round relaxes the frontier through one
    * equi-join + min-aggregation (unit edge weights make min-relaxation
    * BFS); after k rounds every node at true distance <= k carries it.
    */
  def bfsHops(edges: DataFrame, seed: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val ue = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(eager = false)
    var dist = seed.select(col("node"), lit(0).as("hops"))
    (1 to maxHops).foreach { _ =>
      val relaxed = ue.join(dist, col("src") === col("node"))
        .groupBy(col("dst").as("n2"))
        .agg((min("hops") + 1).as("nh"))
      dist = dist.as("D")
        .join(relaxed, col("D.node") === col("n2"), "full_outer")
        .select(coalesce(col("D.node"), col("n2")).as("node"),
          least(coalesce(col("D.hops"), col("nh")),
            coalesce(col("nh"), col("D.hops"))).as("hops"))
        .localCheckpoint(eager = false)
    }
    dist
  }
}
