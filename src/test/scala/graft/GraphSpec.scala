package graft

import org.apache.spark.sql.functions._
import graft.graph.PageRank

class GraphSpec extends SparkSpec {

  private def edgeDf(edges: Seq[(String, String, Double)]) = {
    import spark.implicits._
    edges.toDF("src", "dst", "weight")
  }

  private def rankMap(edges: Seq[(String, String, Double)], iters: Int = 20) =
    PageRank.ranks(edgeDf(edges), iterations = iters)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("pagerank conserves total mass to 1, including with dangling nodes") {
    // c has no out-edges: its mass must recycle through the teleport term,
    // not silently leak (the classic dangling-node bug).
    val ranks = rankMap(Seq(("a", "b", 1.0), ("b", "c", 1.0)))
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9,
      s"mass ${ranks.values.sum} != 1")
    assert(ranks.keySet == Set("a", "b", "c"))
  }

  test("pagerank on a symmetric cycle is uniform") {
    val cycle = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0))
    val ranks = rankMap(cycle)
    ranks.values.foreach(r => assert(math.abs(r - 1.0 / 3) < 1e-9, s"rank $r"))
  }

  test("pagerank ranks the in-link magnet above the periphery") {
    // star: everyone links to hub, hub links back to one spoke
    val star = Seq(("s1", "hub", 1.0), ("s2", "hub", 1.0), ("s3", "hub", 1.0),
      ("hub", "s1", 1.0))
    val ranks = rankMap(star)
    assert(ranks("hub") > ranks("s2") && ranks("hub") > ranks("s3"))
    // s1 receives the hub's entire out-mass — above the unlinked spokes
    assert(ranks("s1") > ranks("s2"))
  }

  test("pagerank matches the analytic two-node fixpoint") {
    // a <-> b symmetric: fixpoint is exactly (0.5, 0.5); a one-way a -> b
    // with damping d and N=2 has closed form r(a) = (1-d)/2 + d*r(b)... the
    // symmetric case is the analytically-exact one, the asymmetric case is
    // checked against an independently-iterated reference below.
    val sym = rankMap(Seq(("a", "b", 1.0), ("b", "a", 1.0)))
    assert(math.abs(sym("a") - 0.5) < 1e-9 && math.abs(sym("b") - 0.5) < 1e-9)

    // independent scalar reference for a -> b (b dangling), d = 0.85, N = 2
    var ra = 0.5; var rb = 0.5
    for (_ <- 1 to 20) {
      val dangling = rb // b has no out-edges
      val t = 0.15 / 2 + 0.85 * dangling / 2
      val (na, nb) = (t, t + 0.85 * ra)
      ra = na; rb = nb
    }
    val one = rankMap(Seq(("a", "b", 1.0)))
    assert(math.abs(one("a") - ra) < 1e-9, s"${one("a")} vs $ra")
    assert(math.abs(one("b") - rb) < 1e-9, s"${one("b")} vs $rb")
  }

  test("pagerank iteration contracts geometrically at rate d") {
    val edges = Seq(
      ("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0), ("c", "a", 1.0),
      ("d", "a", 1.0), ("d", "c", 3.0))
    val r5 = rankMap(edges, iters = 5)
    val r10 = rankMap(edges, iters = 10)
    val r20 = rankMap(edges, iters = 20)
    val r40 = rankMap(edges, iters = 40)
    def maxDiff(a: Map[String, Double], b: Map[String, Double]) =
      a.map { case (h, r) => math.abs(r - b(h)) }.max
    val early = maxDiff(r5, r10)
    val late = maxDiff(r20, r40)
    // theory: |r_i - r_inf| <= C * 0.85^i, so the 20-vs-40 gap must sit
    // under 0.85^20 and well under the 5-vs-10 gap (strict contraction)
    assert(late <= math.pow(0.85, 20), s"late gap $late")
    assert(late < early / 4, s"not contracting: $early -> $late")
  }

  private def hitsMap(edges: Seq[(String, String, Double)], iters: Int = 20) =
    graft.graph.Hits.hubsAndAuthorities(edgeDf(edges), iterations = iters)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap

  test("hits: both score vectors are L1-normalized and cover every node") {
    val h = hitsMap(Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)))
    assert(h.keySet == Set("a", "b", "c"))
    assert(math.abs(h.values.map(_._1).sum - 1.0) < 1e-9, "auth mass != 1")
    assert(math.abs(h.values.map(_._2).sum - 1.0) < 1e-9, "hub mass != 1")
  }

  test("hits rejects zero/negative/null weights loudly, not as silent NaN") {
    val zero = intercept[IllegalArgumentException](
      hitsMap(Seq(("a", "b", 0.0), ("b", "c", 0.0))))
    assert(zero.getMessage.contains("strictly positive"))
    val neg = intercept[IllegalArgumentException](
      hitsMap(Seq(("a", "b", 1.0), ("b", "c", -1.0))))
    assert(neg.getMessage.contains("strictly positive"))
    val empty = intercept[IllegalArgumentException](
      hitsMap(Seq.empty[(String, String, Double)]))
    assert(empty.getMessage.contains("no edges") ||
      empty.getMessage.contains("no authority mass"))
  }

  test("hits separates the link farm from the authority") {
    // f1..f3 are a link farm: they point at the popular target but nothing
    // points at them. HITS must give them hub > 0 and authority = 0, and
    // the target authority ~1 — the separation PageRank alone cannot make.
    val farm = Seq(("f1", "t", 1.0), ("f2", "t", 1.0), ("f3", "t", 1.0))
    val h = hitsMap(farm)
    assert(h("t")._1 > 0.999, s"target auth ${h("t")._1}")
    Seq("f1", "f2", "f3").foreach { f =>
      assert(h(f)._1 == 0.0, s"farm node $f has authority ${h(f)._1}")
      assert(math.abs(h(f)._2 - 1.0 / 3) < 1e-9, s"farm hub ${h(f)._2}")
    }
    assert(h("t")._2 == 0.0, "sink target acquired hub mass")
  }

  test("hits matches the analytic bipartite fixpoint under weights") {
    // two hubs with weighted edges to two authorities:
    //   h1 -> a1 (w 2), h1 -> a2 (w 1), h2 -> a2 (w 1)
    // power iteration converges to the principal eigenvector of A^T A /
    // A A^T; verify against an independent scalar iteration.
    var (ha, hb) = (1.0, 1.0)
    var (aa, ab) = (0.0, 0.0)
    for (_ <- 1 to 20) {
      val (ra, rb) = (2.0 * ha, 1.0 * ha + 1.0 * hb)
      val as = ra + rb
      aa = ra / as; ab = rb / as
      val (sa, sb) = (2.0 * aa + 1.0 * ab, 1.0 * ab)
      val hs = sa + sb
      ha = sa / hs; hb = sb / hs
    }
    val h = hitsMap(Seq(("h1", "a1", 2.0), ("h1", "a2", 1.0), ("h2", "a2", 1.0)))
    assert(math.abs(h("a1")._1 - aa) < 1e-9, s"${h("a1")._1} vs $aa")
    assert(math.abs(h("a2")._1 - ab) < 1e-9, s"${h("a2")._1} vs $ab")
    assert(math.abs(h("h1")._2 - ha) < 1e-9, s"${h("h1")._2} vs $ha")
    assert(math.abs(h("h2")._2 - hb) < 1e-9, s"${h("h2")._2} vs $hb")
  }

  test("q_pagerank_hosts sums to 1 and covers every host") {
    val out = graft.queries.Registry.queries("q_pagerank_hosts")(spark, sfDir)
      .collect()
    val hosts = graft.engine.Tables.documents(spark, sfDir)
      .select("source").distinct().count()
    assert(out.length == hosts, s"${out.length} ranked vs $hosts hosts")
    val mass = out.map(_.getDouble(1)).sum
    assert(math.abs(mass - 1.0) < 1e-3, s"rounded mass $mass")
  }

  private def plainEdges(edges: Seq[(String, String)]) = {
    import spark.implicits._
    edges.toDF("src", "dst")
  }

  test("connected components: two chains and an isolate-pair partition exactly") {
    // chain a-b-c-d (diameter 3 forces >1 propagation round), chain
    // e-f-g, pair x-y: three components labeled by their min node.
    val edges = plainEdges(Seq(("b", "a"), ("b", "c"), ("c", "d"),
      ("f", "e"), ("f", "g"), ("y", "x")))
    val comp = graft.graph.ConnectedComponents.components(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "e" -> "e", "f" -> "e", "g" -> "e", "x" -> "x", "y" -> "x"), comp.toString)
  }

  test("connected components fixpoint is partitioning-invariant") {
    val edges = plainEdges((1 to 40).map(i => (s"n${i}", s"n${(i * 7) % 41}")))
    val base = graft.graph.ConnectedComponents.components(edges)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val reparted = graft.graph.ConnectedComponents.components(edges.repartition(7))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(base == reparted)
  }

  /** Hop distance the way q_bfs_hops computes it: shortest paths over
    * unit weights, `dist` cast back to an int.
    */
  private def bfsHops(
      edges: org.apache.spark.sql.DataFrame, seed: org.apache.spark.sql.DataFrame, maxHops: Int) =
    graft.graph.ShortestPaths.sssp(edges.withColumn("w", lit(1L)), seed, maxHops)
      .select(col("node"), col("dist").cast("int").as("hops"))

  test("bfs hops: exact distances up to the bound, beyond-bound nodes excluded") {
    // path a-b-c-d-e-f with maxHops 3 from seed a: d(f)=5 must NOT appear
    val edges = plainEdges(Seq(("a", "b"), ("b", "c"), ("c", "d"),
      ("d", "e"), ("e", "f")))
    import spark.implicits._
    val seed = Seq("a").toDF("node")
    val hops = bfsHops(edges, seed, maxHops = 3)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(hops == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3), hops.toString)
  }

  test("bfs hops takes the SHORT side of a cycle") {
    // 6-cycle a..f: from a, the far node d is 3 hops either way; b and f
    // are both 1 — min-relaxation must not double-count around the loop.
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("e", "f"), ("f", "a"))
    import spark.implicits._
    val seed = Seq("a").toDF("node")
    val hops = bfsHops(plainEdges(cyc), seed, 6)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(hops == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3,
      "e" -> 2, "f" -> 1), hops.toString)
  }

  private def symmetrized(edges: Seq[(String, String)]) = {
    import spark.implicits._
    val e = edges.toDF("h", "nb")
    e.unionByName(e.select(col("nb").as("h"), col("h").as("nb"))).distinct()
  }

  test("k-core peels the pendant chain and keeps exactly the triangle") {
    // triangle a-b-c plus a tail c-d-e: the 2-core is the triangle; the
    // tail peels over two rounds (e first, then d).
    val und = symmetrized(Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("c", "d"), ("d", "e")))
    val core = graft.graph.KCore.core(und, k = 2, rounds = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core == Map("a" -> 2L, "b" -> 2L, "c" -> 2L), core.toString)
  }

  test("k-core cascade empties a path graph (no 2-core exists)") {
    // a 5-node path has no 2-core; each round peels the current endpoints,
    // so 4 rounds reach the (empty) fixpoint and stay there.
    val und = symmetrized(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")))
    assert(graft.graph.KCore.core(und, k = 2, rounds = 4).count() === 0L)
    // monotone fixpoint: more rounds change nothing on the triangle graph
    val tri = symmetrized(Seq(("a", "b"), ("b", "c"), ("c", "a")))
    val r2 = graft.graph.KCore.core(tri, k = 2, rounds = 2).collect().toSet
    val r6 = graft.graph.KCore.core(tri, k = 2, rounds = 6).collect().toSet
    assert(r2 == r6 && r2.size == 3, s"$r2 vs $r6")
  }

  test("weighted sssp prefers the cheap two-hop path once rounds allow it") {
    import spark.implicits._
    // direct a-b costs 5; the a-c-b detour costs 2 — one relaxation round
    // can only see the direct edge, two rounds find the detour.
    val edges = Seq(("a", "b", 5L), ("a", "c", 1L), ("c", "b", 1L))
      .toDF("src", "dst", "w")
    val seed = Seq("a").toDF("node")
    def distMap(rounds: Int) =
      graft.graph.ShortestPaths.sssp(edges, seed, rounds)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(distMap(1) == Map("a" -> 0L, "b" -> 5L, "c" -> 1L))
    assert(distMap(2) == Map("a" -> 0L, "b" -> 2L, "c" -> 1L))
    // fixpoint: further rounds change nothing
    assert(distMap(4) == distMap(2))
  }

  test("weighted sssp with unit weights reduces to bfs hop counts") {
    import spark.implicits._
    val chain = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L))
      .toDF("src", "dst", "w")
    val seed = Seq("a").toDF("node")
    val dist = graft.graph.ShortestPaths.sssp(chain, seed, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dist == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L))
  }

  test("weighted sssp rejects negative edge weights at execution") {
    import spark.implicits._
    val edges = Seq(("a", "b", 2L), ("b", "c", -1L)).toDF("src", "dst", "w")
    val seed = Seq("a").toDF("node")
    val ex = intercept[Exception] {
      graft.graph.ShortestPaths.sssp(edges, seed, 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("negative edge weight")),
      s"expected the sssp negative-weight guard, got: $ex")
  }

  test("graph builders survive 100x-scale document ids (edge arithmetic must not overflow)") {
    // Regression for the class the 100x sweep caught: the synthetic
    // host-graph edge expression d*d*13 wraps past Long.MaxValue at
    // d ≈ 8.4e8 (an ANSI-mode runtime error); the builders now reduce
    // mod nDocs before multiplying. Fixture ids sit exactly in the
    // overflow band of the OLD form (~9.9e8, the 100x sweep's shifted
    // id range).
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_bigid")
    // half the ids sit in the overflow band (the old form throws while
    // EVALUATING them, matched or not); half are small so edge targets
    // (always in [0, nDocs)) exist and the graph is non-trivial
    ((0 until 100).map(_.toLong) ++ (0 until 100).map(990000000L + _)).map { id =>
      (id, s"section $id body words here now", "en",
        s"host${id % 7}.example", 30L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.Registry.queries("q_connected_components")(spark, dir)
    assert(out.count() > 0, "big-id graph builder must execute without overflow")
    // The r12 form reduced mod nDocs only AFTER d² — still an ANSI
    // overflow at ids ≈ 3.04e9. The r13 form reduces ids BEFORE
    // squaring, so ids past that bound must also survive.
    ((0 until 100).map(_.toLong) ++ (0 until 100).map(4000000000L + _)).map { id =>
      (id, s"section $id body words here now", "en",
        s"host${id % 7}.example", 30L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // Tables' schema cache and the footer row count are identical across
    // the two writes (same columns, 200 rows) — no invalidation needed;
    // the data files themselves re-list per build.
    val out2 = graft.queries.Registry.queries("q_connected_components")(spark, dir)
    assert(out2.count() > 0, "ids past 3.04e9 must not overflow the edge arithmetic")
  }

  test("seeded pagerank (TrustRank): mass conserved, trust decays per hop, unreachable hosts get exactly zero") {
    import spark.implicits._
    // chain s -> a -> b -> c (c dangling), plus x -> y unreachable from
    // the seed: trust must decay along the chain and never reach x/y
    val edges = edgeDf(Seq(("s", "a", 1.0), ("a", "b", 1.0),
      ("b", "c", 1.0), ("x", "y", 1.0)))
    val seeds = Seq("s").toDF("host")
    // the s->a->b->c->(dangling recycles to s) loop contracts at
    // 0.85^4 ~ 0.52 per cycle; 48 rounds leave residual ~4e-4, well under
    // the ~0.04 fixpoint gaps the decay assertion reads
    val r = PageRank.seededRanks(edges, seeds, iterations = 48)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9,
      s"mass ${r.values.sum} != 1 (dangling mass must recycle to the seed teleport)")
    assert(r("s") > r("a") && r("a") > r("b") && r("b") > r("c"),
      s"trust must decay per hop: $r")
    assert(r("x") == 0.0 && r("y") == 0.0,
      s"unreachable-from-seed hosts must hold zero trust: $r")
  }

  test("seeded pagerank with an all-node seed set equals uniform pagerank") {
    import spark.implicits._
    val es = Seq(("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0), ("c", "d", 1.0))
    val edges = edgeDf(es)
    val allNodes = es.flatMap(e => Seq(e._1, e._2)).distinct.toDF("host")
    val uniform = PageRank.ranks(edges, iterations = 8)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val seeded = PageRank.seededRanks(edges, allNodes, iterations = 8)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    uniform.foreach { case (h, v) =>
      assert(math.abs(seeded(h) - v) < 1e-12, s"$h: $v vs ${seeded(h)}")
    }
  }

  test("seeded pagerank degrades to empty/zero output on an empty edge or seed set instead of throwing") {
    import spark.implicits._
    // an id-shifted scale corpus whose modular join yields zero edges must
    // degrade like every sibling graph op (empty result), not require()-crash
    val empty = Seq.empty[(String, String, Double)].toDF("src", "dst", "weight")
    val noSeeds = Seq.empty[String].toDF("host")
    val out = PageRank.seededRanks(empty, noSeeds, iterations = 3)
    assert(out.columns.toSeq == Seq("host", "rank"))
    assert(out.count() == 0L)
    // non-empty graph + empty whitelist: the zero-teleport fixpoint (all
    // zeros) — the limit as the seed mass vanishes — again not a crash
    val zero = PageRank.seededRanks(edgeDf(Seq(("a", "b", 1.0))), noSeeds,
        iterations = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(zero.keySet == Set("a", "b") && zero.values.forall(_ == 0.0),
      s"empty seed set must yield the all-zero fixpoint: $zero")
  }

  test("seeded pagerank equals the oracle's unrolled recurrence on a graph WITH a dangling host") {
    // Pins the q_pagerank_seeded oracle formula — the dK dangling-mass
    // CTEs mirror the implementation's (1-d+d·dangling)·tele term — on the
    // one topology the driver fixture can't produce: a dst-only host
    // holding recycled trust. If either side dropped the term, this
    // hand-unrolled recurrence (the oracle SQL, transcribed) would diverge
    // from seededRanks by ~d·dangling·tele within 2 rounds.
    import spark.implicits._
    val edges = edgeDf(Seq(("s", "a", 1.0), ("s", "d", 1.0), ("a", "d", 2.0)))
    val seeds = Seq("s").toDF("host")
    val damp = 0.85
    val hosts = Seq("s", "a", "d") // d is dangling (never a src)
    val tele = Map("s" -> 1.0, "a" -> 0.0, "d" -> 0.0)
    val p = Map(("s", "a") -> 0.5, ("s", "d") -> 0.5, ("a", "d") -> 1.0)
    var rank = tele
    (1 to 5).foreach { _ =>
      val dang = rank("d")
      rank = hosts.map { h =>
        val inflow = p.collect { case ((u, v), w) if v == h => w * rank(u) }.sum
        h -> ((1.0 - damp + damp * dang) * tele(h) + damp * inflow)
      }.toMap
    }
    val got = PageRank.seededRanks(edges, seeds, iterations = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(got.values.sum - 1.0) < 1e-9,
      s"mass ${got.values.sum} != 1 with a dangling host")
    hosts.foreach { h =>
      assert(math.abs(got(h) - rank(h)) < 1e-12,
        s"$h: impl ${got(h)} vs oracle-recurrence ${rank(h)}")
    }
  }

  test("componentsStar matches hash-to-min labels exactly") {
    // the mixed fixture (two chains + a pair) and a modular tangle
    val edges = plainEdges(Seq(("b", "a"), ("b", "c"), ("c", "d"),
      ("f", "e"), ("f", "g"), ("y", "x")))
    val star = graft.graph.ConnectedComponents.componentsStar(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(star == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "e" -> "e", "f" -> "e", "g" -> "e", "x" -> "x", "y" -> "x"), star.toString)
    val tangle = plainEdges((1 to 40).map(i => (s"n${i}", s"n${(i * 7) % 41}")))
    val hashMin = graft.graph.ConnectedComponents.components(tangle)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val starT = graft.graph.ConnectedComponents.componentsStar(tangle)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(starT == hashMin)
  }

  test("componentsStar converges in far fewer rounds than hash-to-min on a path graph") {
    // 32-node path, min id at one end: hash-to-min moves the min label
    // ONE hop per round (O(diameter)); star contraction halves path
    // lengths per alternation (O(log² n)) — the Kiveris et al. win the
    // web-scale claim rests on.
    val path = plainEdges((1 until 32).map(i => (f"p$i%03d", f"p${i + 1}%03d")))
    val (lh, roundsHash) =
      graft.graph.ConnectedComponents.componentsWithRounds(path)
    val (ls, roundsStar) =
      graft.graph.ConnectedComponents.componentsStarWithRounds(path)
    val a = lh.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val b = ls.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(a == b, "labels diverged between the two CC algorithms")
    assert(roundsHash >= 30,
      s"hash-to-min should pay the diameter here, took $roundsHash")
    assert(roundsStar * 2 < roundsHash,
      s"star took $roundsStar rounds vs hash-to-min $roundsHash — no win")
  }

  test("degree-ordered triangle counting matches naive orientation, hub included") {
    import spark.implicits._
    // ring of 20 with chords (every consecutive triple closes) PLUS a
    // LOW-id high-degree hub linked to every ring node — the shape
    // where a<b<c orientation fans out quadratically at the hub while
    // the degree order points INTO it.
    val ring = (0 until 20).flatMap { i =>
      Seq((f"r$i%02d", f"r${(i + 1) % 20}%02d"),
        (f"r$i%02d", f"r${(i + 2) % 20}%02d"))
    }
    val hub = (0 until 20).map(i => ("a_hub", f"r$i%02d"))
    val ue = (ring ++ hub).toDF("s", "t")
      .select(least(col("s"), col("t")).as("a"),
        greatest(col("s"), col("t")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val naive = ue.as("e1")
      .join(ue.as("e2"), col("e1.b") === col("e2.a"))
      .join(ue.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ordered = graft.graph.Triangles.perNodeDegreeOrdered(ue)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ordered == naive, s"ordered $ordered != naive $naive")
    // hub participates in every (hub, r_i, r_i±{1,2}) triangle — sanity
    // that the fixture exercises the hub path at all
    assert(naive("a_hub") >= 20L)
  }
}
