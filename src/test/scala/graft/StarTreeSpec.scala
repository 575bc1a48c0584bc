package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.operators.StarTree

class StarTreeSpec extends SparkSpec {

  test("cube rollup is lossless vs direct aggregation") {
    val li = Tables.lineitem(spark, sfDir)
    val cube = StarTree.buildCube(li,
      dims = Seq("l_returnflag", "l_linestatus"), sumMetrics = Seq("l_quantity"))
    val rolled = StarTree.rollup(cube, Seq("l_returnflag"), Seq("l_quantity"))
      .select(col("l_returnflag"), round(col("s_l_quantity"), 2).as("q"), col("cube_cnt"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val direct = li.groupBy("l_returnflag")
      .agg(round(sum("l_quantity"), 2).as("q"), count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(rolled === direct)
  }

  test("HLL distinct-count metrics roll up from the cube within 5% of exact") {
    val li = Tables.lineitem(spark, sfDir)
    val cube = StarTree.buildCube(li,
      dims = Seq("l_returnflag", "l_linestatus"), sumMetrics = Seq("l_quantity"),
      distinctMetrics = Seq("l_partkey"))
    val rolled = StarTree.rollup(cube, Seq("l_returnflag"), Seq("l_quantity"),
        distinctMetrics = Seq("l_partkey"))
      .select(col("l_returnflag"), col("d_l_partkey"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, truth) =>
      val est = rolled(k)
      assert(math.abs(est - truth).toDouble / truth <= 0.05,
        s"$k: est $est vs exact $truth")
    }
  }

  test("cube is much smaller than the fact table") {
    val li = Tables.lineitem(spark, sfDir)
    val cube = StarTree.buildCube(li,
      dims = Seq("l_returnflag", "l_linestatus"), sumMetrics = Seq("l_quantity"))
    assert(cube.count() < li.count() / 100)
  }

  test("registered cube transparently rewrites eligible aggregates") {
    import graft.plans.StarTreeCatalog
    val factPath = s"$sfDir/lineitem.parquet"
    val cubeDir = tempDir("startree") + "/cube"
    def query() = spark.read.parquet(factPath)
      .filter(col("l_linestatus") === "F")
      .groupBy("l_returnflag")
      .agg(
        round(sum("l_quantity"), 2).as("s"),
        count(lit(1)).as("c"),
        round(avg("l_extendedprice"), 2).as("a"),
        round(min("l_extendedprice"), 2).as("mn"),
        round(max("l_extendedprice"), 2).as("mx"))
      .orderBy("l_returnflag")
    val direct = query().collect().map(_.toSeq).toSeq

    StarTree.materializeAndRegister(
      spark.read.parquet(factPath), factPath,
      dims = Seq("l_returnflag", "l_linestatus"),
      sumMetrics = Seq("l_quantity", "l_extendedprice"), cubePath = cubeDir)
    try {
      val rewritten = query()
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(plan.contains("cube"), s"plan still scans the fact table:\n$plan")
      assert(!plan.contains("lineitem.parquet"), plan)
      assert(rewritten.collect().map(_.toSeq).toSeq === direct)
    } finally StarTreeCatalog.unregister(factPath)

    // once unregistered, queries scan the fact table again
    assert(query().queryExecution.executedPlan.toString.contains("lineitem.parquet"))
  }

  test("AVG/COUNT over a nullable metric rewrite to non-null partials, not cube_cnt") {
    import graft.plans.StarTreeCatalog
    val tmp = tempDir("startree_null")
    val factPath = s"$tmp/fact"
    // l_extendedprice is NULL on ~half the rows: AVG/COUNT must ignore them
    Tables.lineitem(spark, sfDir)
      .withColumn("l_extendedprice",
        when(col("l_quantity") < 25, col("l_extendedprice")))
      .write.parquet(factPath)
    def query() = spark.read.parquet(factPath)
      .groupBy("l_returnflag")
      .agg(
        round(avg("l_extendedprice"), 4).as("a"),
        count(col("l_extendedprice")).as("c_m"),
        count(lit(1)).as("c_all"))
      .orderBy("l_returnflag")
    val direct = query().collect().map(_.toSeq).toSeq

    StarTree.materializeAndRegister(
      spark.read.parquet(factPath), factPath,
      dims = Seq("l_returnflag", "l_linestatus"),
      sumMetrics = Seq("l_extendedprice"), cubePath = s"$tmp/cube")
    try {
      val rewritten = query()
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(plan.contains("cube"), s"plan still scans the fact table:\n$plan")
      assert(rewritten.collect().map(_.toSeq).toSeq === direct)
    } finally StarTreeCatalog.unregister(factPath)
  }

  test("incremental refresh merges a delta cube without rescanning history") {
    import graft.plans.StarTreeCatalog
    val tmp = tempDir("startree_incr")
    val factPath = s"$tmp/fact"
    val li = Tables.lineitem(spark, sfDir)
    val old = li.filter(col("l_orderkey") % 2 === 0)
    val delta = li.filter(col("l_orderkey") % 2 === 1)
    // the "history": only the old half is materialized + cubed
    old.write.parquet(factPath)
    StarTree.materializeAndRegister(
      spark.read.parquet(factPath), factPath,
      dims = Seq("l_returnflag", "l_linestatus"),
      sumMetrics = Seq("l_quantity"), cubePath = s"$tmp/cube")
    try {
      // a new segment batch lands: append to the fact, refresh the cube
      // from the DELTA ONLY
      delta.write.mode("append").parquet(factPath)
      StarTree.refreshIncremental(spark, factPath, delta,
        Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"), s"$tmp/cube")

      val refreshed = spark.read.parquet(s"$tmp/cube")
      val rolled = StarTree.rollup(refreshed, Seq("l_returnflag"), Seq("l_quantity"))
        .select(col("l_returnflag"), round(col("s_l_quantity"), 2).as("q"), col("cube_cnt"))
        .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
      val direct = li.groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 2).as("q"), count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
      assert(rolled === direct)

      // and the transparent rewrite serves the REFRESHED cube correctly
      def query() = spark.read.parquet(factPath)
        .groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 2).as("s"), count(lit(1)).as("c"))
        .orderBy("l_returnflag")
      val rewritten = query()
      assert(rewritten.queryExecution.executedPlan.toString.contains("cube"))
      assert(rewritten.collect().map(_.toSeq).toSeq ===
        li.groupBy("l_returnflag")
          .agg(round(sum("l_quantity"), 2).as("s"), count(lit(1)).as("c"))
          .orderBy("l_returnflag").collect().map(_.toSeq).toSeq)
    } finally StarTreeCatalog.unregister(factPath)
  }

  test("approx_count_distinct rewrites onto the cube's HLL sketches") {
    import graft.plans.StarTreeCatalog
    val tmp = tempDir("startree_hll")
    val factPath = s"$tmp/fact"
    Tables.lineitem(spark, sfDir)
      .select("l_returnflag", "l_linestatus", "l_partkey", "l_quantity")
      .write.parquet(factPath)
    def query() = spark.read.parquet(factPath)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey")).as("nd"),
        round(sum("l_quantity"), 2).as("s"))
      .orderBy("l_returnflag")
    val exact = spark.read.parquet(factPath).groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("nd"), round(sum("l_quantity"), 2).as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

    StarTree.materializeAndRegister(
      spark.read.parquet(factPath), factPath,
      dims = Seq("l_returnflag", "l_linestatus"),
      sumMetrics = Seq("l_quantity"), cubePath = s"$tmp/cube",
      distinctMetrics = Seq("l_partkey"))
    try {
      val rewritten = query()
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(plan.contains("cube"), s"plan still scans the fact table:\n$plan")
      assert(!plan.contains(s"$tmp/fact"), plan)
      rewritten.collect().foreach { r =>
        val (truth, s) = exact(r.getString(0))
        val est = r.getLong(1)
        assert(math.abs(est - truth).toDouble / truth <= 0.05,
          s"${r.getString(0)}: est $est vs exact $truth")
        assert(r.getDouble(2) === s) // sums stay exact alongside the sketch
      }
      // exact COUNT(DISTINCT) must NOT be served from the sketch
      val exactQ = spark.read.parquet(factPath).groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("nd"))
      assert(exactQ.queryExecution.executedPlan.toString.contains(s"$tmp/fact"),
        "exact count-distinct was wrongly rewritten onto the approximate cube")
    } finally StarTreeCatalog.unregister(factPath)
  }

  test("percentile_approx rewrites onto the cube's KLL sketches (PERCENTILEKLL)") {
    import graft.plans.StarTreeCatalog
    val tmp = tempDir("startree_kll")
    val factPath = s"$tmp/fact"
    Tables.lineitem(spark, sfDir)
      .select("l_returnflag", "l_linestatus", "l_extendedprice", "l_quantity")
      .write.parquet(factPath)
    def query() = spark.read.parquet(factPath)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile_approx(l_extendedprice, 0.5D, 5000)").as("p50"),
        round(sum("l_quantity"), 2).as("s"))
      .orderBy("l_returnflag")
    val baseline = query().collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val exactP = spark.read.parquet(factPath).groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5D)").as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    StarTree.materializeAndRegister(
      spark.read.parquet(factPath), factPath,
      dims = Seq("l_returnflag", "l_linestatus"),
      sumMetrics = Seq("l_quantity"), cubePath = s"$tmp/cube",
      quantileMetrics = Seq("l_extendedprice"))
    try {
      val rewritten = query()
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(plan.contains("cube"), s"plan still scans the fact table:\n$plan")
      assert(!plan.contains(s"$tmp/fact"), plan)
      rewritten.collect().foreach { r =>
        val (p50Off, s) = baseline(r.getString(0))
        val exact = exactP(r.getString(0))
        // cube-served median within KLL rank error of the exact median's
        // neighborhood: compare against the interpolated exact percentile
        // with a relative tolerance (both engines approximate — GK off,
        // KLL on — so value equality is not the contract; closeness to
        // the true median is)
        assert(math.abs(r.getDouble(1) - exact) / math.max(exact, 1.0) <= 0.02,
          s"${r.getString(0)}: cube p50 ${r.getDouble(1)} vs exact $exact (GK gave $p50Off)")
        assert(r.getDouble(2) === s) // sums stay exact alongside the sketch
      }
      // exact percentile() must NOT be served from the sketch
      val exactQ = spark.read.parquet(factPath).groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, 0.5D)").as("p50"))
      assert(exactQ.queryExecution.executedPlan.toString.contains(s"$tmp/fact"),
        "exact percentile was wrongly rewritten onto the approximate cube")
      // a tighter-than-cube accuracy request must keep its fact scan
      val tight = spark.read.parquet(factPath).groupBy("l_returnflag")
        .agg(expr("percentile_approx(l_extendedprice, 0.5D, 50000)").as("p50"))
      assert(tight.queryExecution.executedPlan.toString.contains(s"$tmp/fact"),
        "a tighter-precision percentile_approx was wrongly served from the cube")
    } finally StarTreeCatalog.unregister(factPath)
  }

  test("a multi-file cube still serves the transparent rewrite") {
    import graft.plans.StarTreeCatalog
    val factPath = s"$sfDir/lineitem.parquet"
    val tmp = tempDir("startree_multi")
    val cubeDir = s"$tmp/cube"
    def query() = spark.read.parquet(factPath)
      .groupBy("l_returnflag")
      .agg(round(sum("l_quantity"), 2).as("s"), count(lit(1)).as("c"))
      .orderBy("l_returnflag")
    val direct = query().collect().map(_.toSeq).toSeq

    // simulate a big cube: force several output files, as a 100 TB fact's
    // cube would have (the write path no longer repartition(1)s)
    StarTree.buildCube(spark.read.parquet(factPath),
        dims = Seq("l_returnflag", "l_linestatus"), sumMetrics = Seq("l_quantity"))
      .repartition(4).write.parquet(cubeDir)
    val files = new java.io.File(cubeDir).listFiles.count(_.getName.endsWith(".parquet"))
    assert(files > 1, s"expected a multi-file cube, got $files file(s)")
    StarTreeCatalog.register(factPath,
      Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"), cubeDir)
    try {
      val rewritten = query()
      assert(rewritten.queryExecution.executedPlan.toString.contains("cube"))
      assert(rewritten.collect().map(_.toSeq).toSeq === direct)
    } finally StarTreeCatalog.unregister(factPath)
  }

  test("FILTER'd / DISTINCT aggregates disqualify the rewrite and stay correct") {
    import graft.plans.StarTreeCatalog
    val factPath = s"$sfDir/lineitem.parquet"
    val cubeDir = tempDir("startree_filter") + "/cube"
    // sum(x) FILTER (WHERE dim) — the predicate references only dims, so a
    // buggy rewrite would remap it onto the cube and drop/misapply it
    def filtered() = spark.read.parquet(factPath)
      .groupBy("l_returnflag")
      .agg(
        expr("round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2)").as("s_f"),
        expr("count(*) FILTER (WHERE l_linestatus = 'F')").as("c_f"))
      .orderBy("l_returnflag")
    def distinctAgg() = spark.read.parquet(factPath)
      .groupBy("l_returnflag")
      .agg(sumDistinct(col("l_quantity")).as("sd"))
      .orderBy("l_returnflag")
    val directF = filtered().collect().map(_.toSeq).toSeq
    val directD = distinctAgg().collect().map(_.toSeq).toSeq

    StarTree.materializeAndRegister(
      spark.read.parquet(factPath), factPath,
      dims = Seq("l_returnflag", "l_linestatus"),
      sumMetrics = Seq("l_quantity"), cubePath = cubeDir)
    try {
      for ((q, direct) <- Seq(filtered _ -> directF, distinctAgg _ -> directD)) {
        val plan = q().queryExecution.executedPlan.toString
        assert(plan.contains("lineitem.parquet"),
          s"FILTER/DISTINCT aggregate was wrongly served from the cube:\n$plan")
        assert(q().collect().map(_.toSeq).toSeq === direct)
      }
    } finally StarTreeCatalog.unregister(factPath)
  }

  test("approx_count_distinct with tighter-than-cube precision keeps the fact scan") {
    import graft.plans.StarTreeCatalog
    val tmp = tempDir("startree_rsd")
    val factPath = s"$tmp/fact"
    Tables.lineitem(spark, sfDir)
      .select("l_returnflag", "l_linestatus", "l_partkey")
      .write.parquet(factPath)
    StarTree.materializeAndRegister(
      spark.read.parquet(factPath), factPath,
      dims = Seq("l_returnflag", "l_linestatus"),
      sumMetrics = Nil, cubePath = s"$tmp/cube",
      distinctMetrics = Seq("l_partkey"))
    try {
      // default rsd (0.05) — coarser than the cube sketch's ~1.6% → rewrite
      val coarse = spark.read.parquet(factPath).groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("nd"))
      assert(coarse.queryExecution.executedPlan.toString.contains("cube"))
      // rsd 0.005 — tighter than the cube can deliver → stays on the fact
      val tight = spark.read.parquet(factPath).groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.005).as("nd"))
      assert(tight.queryExecution.executedPlan.toString.contains(s"$tmp/fact"),
        "tight-precision approx_count_distinct was wrongly served from the coarser cube sketch")
    } finally StarTreeCatalog.unregister(factPath)
  }

  test("cube relation is analyzed once per registration, not per query") {
    import graft.plans.StarTreeCatalog
    val factPath = s"$sfDir/lineitem.parquet"
    val cubeDir = tempDir("startree_cache") + "/cube"
    StarTree.materializeAndRegister(
      spark.read.parquet(factPath), factPath,
      dims = Seq("l_returnflag"), sumMetrics = Seq("l_quantity"), cubePath = cubeDir)
    try {
      val r1 = graft.plans.Layouts.relation(spark, cubeDir)
      val r2 = graft.plans.Layouts.relation(spark, cubeDir)
      assert(r1 eq r2, "cube relation re-analyzed on second lookup")
      // and the rule hands out fresh exprIds per rewrite (no shared ids)
      def agg() = spark.read.parquet(factPath)
        .groupBy("l_returnflag").agg(sum("l_quantity").as("s"))
      val u = agg().union(agg())
      val ids = u.queryExecution.optimizedPlan.collectLeaves()
        .flatMap(_.output.map(_.exprId)).toSeq
      assert(ids.distinct.size === ids.size,
        s"duplicate exprIds across rewritten branches: $ids")
    } finally StarTreeCatalog.unregister(factPath)
  }

  /** A day-partitioned fact with its cube registered under
    * `registeredAs(factPath)`: (base dir, fact path).
    */
  private def registeredFact(registeredAs: String => String): (String, String) = {
    import spark.implicits._
    val base = tempDir("startree_fresh")
    val factPath = s"$base/fact"
    (1 to 60).map(i => (f"2024-01-${i % 3 + 1}%02d", s"d${i % 4}", i.toDouble))
      .toDF("day", "dim", "m").write.partitionBy("day").parquet(factPath)
    StarTree.materializeAndRegister(spark.read.parquet(factPath), registeredAs(factPath),
      dims = Seq("dim"), sumMetrics = Seq("m"), cubePath = s"$base/cube")
    (base, factPath)
  }

  private def dashboard(factPath: String) = spark.read.parquet(factPath)
    .groupBy("dim").agg(sum("m").as("s"), count(lit(1)).as("c")).orderBy("dim")

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq

  private def unrewritten(factPath: String) =
    try { spark.conf.set("spark.graft.starTree.enabled", "false"); rows(dashboard(factPath)) }
    finally spark.conf.unset("spark.graft.starTree.enabled")

  /** A fact whose files changed since its cube was registered must be
    * scanned: the cube answers for the rows it was built from only.
    */
  private def assertScansFact(base: String, factPath: String): Unit = {
    val q = dashboard(factPath)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains(s"$base/fact") && !plan.contains(s"$base/cube"),
      s"a stale cube served the changed fact:\n$plan")
    assert(rows(q) === unrewritten(factPath))
  }

  test("freshness: a retention drop on a registered fact scans the fact, not the stale cube") {
    import graft.plans.StarTreeCatalog
    val (base, factPath) = registeredFact(identity)
    try {
      assert(dashboard(factPath).queryExecution.executedPlan.toString.contains(s"$base/cube"))
      val dropped = graft.sources.SegmentWriter
        .applyRetention(spark, factPath, "day", cutoff = "2024-01-03").partitionsDropped
      assert(dropped === 2L)
      assertScansFact(base, factPath)
    } finally StarTreeCatalog.unregister(factPath)
  }

  test("freshness: a file appended to a registered fact scans the fact, not the stale cube") {
    import graft.plans.StarTreeCatalog
    import spark.implicits._
    val (base, factPath) = registeredFact(identity)
    try {
      assert(dashboard(factPath).queryExecution.executedPlan.toString.contains(s"$base/cube"))
      Seq(("2024-01-02", "d1", 1000.0)).toDF("day", "dim", "m")
        .write.mode("append").partitionBy("day").parquet(factPath)
      assertScansFact(base, factPath)
    } finally StarTreeCatalog.unregister(factPath)
  }

  test("freshness: a cube registered under a file:/// URI serves scans of the plain path") {
    import graft.plans.StarTreeCatalog
    val (base, factPath) = registeredFact(p => s"file://$p")
    try {
      val q = dashboard(factPath)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains(s"$base/cube"), s"plan still scans the fact table:\n$plan")
      assert(rows(q) === unrewritten(factPath))
    } finally StarTreeCatalog.unregister(s"file://$factPath")
  }

  test("hist-cube percentiles equal the raw-scan dictionary percentiles") {
    val li = graft.engine.Tables.lineitem(spark, sfDir)
      .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
    val cube = StarTree.buildHistCube(
      li, dims = Seq("l_returnflag", "l_linestatus"), metric = "cents")
    val served = StarTree.percentileRollup(cube, Seq("l_returnflag"), "cents",
        Seq(("p50", 0.5), ("p95", 0.95)))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val raw = graft.operators.Percentiles.exact(li, Seq("l_returnflag"),
        Seq(("p50", "cents", 0.5), ("p95", "cents", 0.95)))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(served.keySet == raw.keySet)
    served.foreach { case (k, (a, b)) =>
      assert(a == raw(k)._1 && b == raw(k)._2,
        s"$k: cube ($a, $b) vs raw ${raw(k)}")
    }
  }

  test("hist-cube merge of split halves equals the single-build cube") {
    val li = graft.engine.Tables.lineitem(spark, sfDir)
      .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
    val dims = Seq("l_returnflag")
    val whole = StarTree.buildHistCube(li, dims, "cents")
    val merged = StarTree.mergeHistCubes(
      StarTree.buildHistCube(li.filter(col("l_orderkey") % 2 === 0), dims, "cents"),
      StarTree.buildHistCube(li.filter(col("l_orderkey") % 2 === 1), dims, "cents"),
      dims, "cents")
    val a = whole.select(col("l_returnflag"), to_json(col("hist_cents")).as("h"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val b = merged.select(col("l_returnflag"), to_json(col("hist_cents")).as("h"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(a == b, "incremental hist merge diverged from single build")
  }

  test("hist cube refuses a continuous (non-integral) metric") {
    val li = graft.engine.Tables.lineitem(spark, sfDir)
    intercept[IllegalArgumentException] {
      StarTree.buildHistCube(li, Seq("l_returnflag"), "l_extendedprice")
    }
  }
}
