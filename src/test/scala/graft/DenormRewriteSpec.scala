package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.DenormCatalog
import graft.sources.DenormView

/** Transparent denormalized-view join elimination (plans/DenormRewrite.scala):
  * a registered fact⋈dim equi-join is served from the materialized view —
  * no Join in the plan — with results exactly equal to the rule-off join,
  * and the rule never fires on unregistered tables, other join types, or
  * other keys.
  */
class DenormRewriteSpec extends SparkSpec {

  private def freshTables(): (String, String, String, DataFrame, DataFrame) = {
    import spark.implicits._
    val base = tempDir("denorm_rw")
    val factPath = s"$base/fact"
    val dimPath = s"$base/dim"
    val viewPath = s"$base/view"
    (1 to 200).map(i => (i.toLong, i % 7L, (i * 3 % 100).toDouble))
      .toDF("order_id", "tier_key", "amount")
      .write.mode("overwrite").parquet(factPath)
    (0L until 7L).map(k => (k, s"tier-$k", k % 2 == 0))
      .toDF("tier_key", "tier_name", "premium")
      .write.mode("overwrite").parquet(dimPath)
    val fact = spark.read.parquet(factPath)
    val dim = spark.read.parquet(dimPath)
    DenormView.materialize(fact, dim, "tier_key", viewPath)
    DenormCatalog.register(factPath, dimPath, "tier_key", viewPath)
    (factPath, dimPath, viewPath, fact, dim)
  }

  private def collectSorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("registered fact-dim join is served from the view: no Join in the plan, results identical to rule-off") {
    val (factPath, _, _, fact, dim) = freshTables()
    try {
      def q() = fact.filter(col("amount") > 20)
        .join(dim.filter(col("premium")), "tier_key")
        .groupBy("tier_name")
        .agg(count(lit(1)).as("n"), round(sum("amount"), 2).as("amt"))
        .orderBy("tier_name")
      val on = q()
      val optimized = on.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("Join"),
        s"join must be eliminated by the view rewrite:\n$optimized")
      assert(on.queryExecution.executedPlan.toString.contains("view"),
        "physical plan must scan the materialized view")
      val expected =
        try { spark.conf.set("spark.graft.denorm.enabled", "false"); collectSorted(q()) }
        finally spark.conf.set("spark.graft.denorm.enabled", "true")
      assert(collectSorted(on) === expected, "rule-on must equal the real join")
    } finally DenormCatalog.unregister(factPath)
  }

  test("projection of mixed fact and dim columns survives the rewrite with exact rows") {
    val (factPath, _, _, fact, dim) = freshTables()
    try {
      def q() = fact.join(dim, "tier_key")
        .select(col("order_id"), col("tier_name"), col("amount"), col("premium"))
        .orderBy("order_id")
      val on = collectSorted(q())
      val off =
        try { spark.conf.set("spark.graft.denorm.enabled", "false"); collectSorted(q()) }
        finally spark.conf.set("spark.graft.denorm.enabled", "true")
      assert(on === off)
    } finally DenormCatalog.unregister(factPath)
  }

  test("the rule must not overfire: unregistered dim, outer join, or a different key keep the real join") {
    import spark.implicits._
    val (factPath, _, _, fact, dim) = freshTables()
    try {
      // 1) unregistered dim (same schema, different files)
      val otherDim = spark.createDataFrame(
        (0L until 7L).map(k => (k, s"other-$k", false))).toDF("tier_key", "tier_name", "premium")
      val p1 = fact.join(otherDim, "tier_key").queryExecution.optimizedPlan.toString
      assert(p1.contains("Join"), "in-memory/unregistered dim must keep the join")
      // 2) left-outer join (view was built inner)
      val p2 = fact.join(dim, Seq("tier_key"), "left_outer")
        .queryExecution.optimizedPlan.toString
      assert(p2.contains("Join"), "outer join must keep the join")
      // 3) non-key equi-condition
      val p3 = fact.join(dim, fact("order_id") === dim("tier_key"))
        .queryExecution.optimizedPlan.toString
      assert(p3.contains("Join"), "a non-registered key must keep the join")
    } finally DenormCatalog.unregister(factPath)
  }

  test("incremental fact refresh keeps the rewrite current after re-registration") {
    import spark.implicits._
    val (factPath, dimPath, viewPath, _, _) = freshTables()
    try {
      val batch = Seq((9001L, 3L, 999.0)).toDF("order_id", "tier_key", "amount")
      batch.write.mode("append").parquet(factPath)
      DenormView.refreshIncremental(spark, viewPath, batch,
        spark.read.parquet(dimPath), "tier_key")
      DenormCatalog.register(factPath, dimPath, "tier_key", viewPath)
      val fact = spark.read.parquet(factPath)
      val dim = spark.read.parquet(dimPath)
      val q = fact.join(dim, "tier_key").filter(col("order_id") === 9001L)
        .select("order_id", "tier_name")
      assert(!q.queryExecution.optimizedPlan.toString.contains("Join"))
      assert(collectSorted(q) === Seq("[9001,tier-3]"))
    } finally DenormCatalog.unregister(factPath)
  }

  test("files appended WITHOUT re-registration make the rule decline — the real join serves the fresh rows") {
    import spark.implicits._
    val (factPath, dimPath, _, _, _) = freshTables()
    try {
      // append to the fact path, do NOT refresh or re-register: the
      // registered signature no longer matches the scan's listing, so
      // the rewrite must fall back to the real join (which sees the row)
      Seq((9002L, 2L, 555.0)).toDF("order_id", "tier_key", "amount")
        .write.mode("append").parquet(factPath)
      val fact = spark.read.parquet(factPath)
      val dim = spark.read.parquet(dimPath)
      val q = fact.join(dim, "tier_key").filter(col("order_id") === 9002L)
        .select("order_id", "tier_name")
      assert(q.queryExecution.optimizedPlan.toString.contains("Join"),
        "stale registration must keep the real join")
      assert(collectSorted(q) === Seq("[9002,tier-2]"),
        "the appended row must be visible")
    } finally DenormCatalog.unregister(factPath)
  }

  test("two dims registered for the same fact table coexist — both joins rewrite") {
    import spark.implicits._
    val (factPath, dimPath, _, fact, dim) = freshTables()
    try {
      val base = tempDir("denorm_rw2")
      val dim2Path = s"$base/dim2"
      val view2Path = s"$base/view2"
      (0L until 7L).map(k => (k, (k * 5).toDouble))
        .toDF("tier_key", "discount")
        .write.mode("overwrite").parquet(dim2Path)
      val dim2 = spark.read.parquet(dim2Path)
      DenormView.materialize(fact, dim2, "tier_key", view2Path)
      // this registration must NOT evict the freshTables one (the r12
      // map was keyed by fact path only and kept a single dim per fact)
      DenormCatalog.register(factPath, dim2Path, "tier_key", view2Path)
      val q1 = fact.join(dim, "tier_key").select("order_id", "tier_name")
      val q2 = fact.join(dim2, "tier_key").select("order_id", "discount")
      assert(!q1.queryExecution.optimizedPlan.toString.contains("Join"),
        "first-registered dim stopped rewriting after a second registration")
      assert(!q2.queryExecution.optimizedPlan.toString.contains("Join"),
        "second dim must rewrite too")
      val off1 =
        try { spark.conf.set("spark.graft.denorm.enabled", "false"); collectSorted(q1) }
        finally spark.conf.set("spark.graft.denorm.enabled", "true")
      assert(collectSorted(q1) === off1)
    } finally DenormCatalog.unregister(factPath)
  }

  test("two registrations on the SAME fact+dim paths with different keys: lookup selects by key, both rewrite") {
    import spark.implicits._
    val base = tempDir("denorm_rw3")
    val factPath = s"$base/fact"; val dimPath = s"$base/dim"
    (1 to 100).map(i => (i.toLong, i % 7L, i % 5L, (i * 2).toDouble))
      .toDF("order_id", "tier_key", "alt_key", "amount")
      .write.mode("overwrite").parquet(factPath)
    (0L until 7L).map(k => (k, k % 5L, s"label-$k"))
      .toDF("tier_key", "alt_key", "label")
      .write.mode("overwrite").parquet(dimPath)
    try {
      val fact = spark.read.parquet(factPath)
      val dim = spark.read.parquet(dimPath)
      // one view per join key over the same path pair (a dim joined on
      // two different foreign keys) — pruned inputs so neither view
      // carries the other key as a duplicate column
      DenormView.materialize(fact.select("order_id", "tier_key", "amount"),
        dim.select("tier_key", "label"), "tier_key", s"$base/view_tier")
      DenormCatalog.register(factPath, dimPath, "tier_key", s"$base/view_tier")
      DenormView.materialize(fact.select("order_id", "alt_key", "amount"),
        dim.select("alt_key", "label").dropDuplicates("alt_key"),
        "alt_key", s"$base/view_alt")
      DenormCatalog.register(factPath, dimPath, "alt_key", s"$base/view_alt")
      // the pre-fix find() returned the FIRST path match regardless of
      // key, so whichever of these two hit the wrong-key ViewDef silently
      // kept the real join; key-aware lookup must pick the right one
      assert(DenormCatalog.find(Set(factPath), Set(dimPath), "tier_key")
        .exists(_.key == "tier_key"))
      assert(DenormCatalog.find(Set(factPath), Set(dimPath), "alt_key")
        .exists(_.key == "alt_key"))
      val q1 = fact.select("order_id", "tier_key", "amount")
        .join(dim.select("tier_key", "label"), "tier_key")
      assert(!q1.queryExecution.optimizedPlan.toString.contains("Join"),
        "tier_key join must rewrite with both registrations present")
      val q2 = fact.select("order_id", "alt_key", "amount")
        .join(dim.select("alt_key", "label").dropDuplicates("alt_key"), "alt_key")
      // q2 carries a dropDuplicates over the dim side, which the rule's
      // scanSide does not traverse — assert only the catalog selection
      // here; the q1 plan plus the find() assertions pin the fix
      val off1 =
        try { spark.conf.set("spark.graft.denorm.enabled", "false"); collectSorted(q1) }
        finally spark.conf.set("spark.graft.denorm.enabled", "true")
      assert(collectSorted(q1) === off1)
      assert(q2.count() == 100L)
    } finally DenormCatalog.unregister(factPath)
  }

  test("a hidden directory under the fact path (stale _temporary) does not disable the rewrite") {
    import spark.implicits._
    val base = tempDir("denorm_rw4")
    val factPath = s"$base/fact"; val dimPath = s"$base/dim"
    (1 to 50).map(i => (i.toLong, i % 7L, i.toDouble))
      .toDF("order_id", "tier_key", "amount")
      .write.mode("overwrite").parquet(factPath)
    (0L until 7L).map(k => (k, s"tier-$k"))
      .toDF("tier_key", "tier_name")
      .write.mode("overwrite").parquet(dimPath)
    // a crashed write's leftover: a file INSIDE a hidden directory. The
    // FileIndex never lists it, so a leaf-only hidden filter would bake
    // it into the registration signature and the freshness equality would
    // never pass — permanently (and silently) disabling the rewrite.
    val junkDir = java.nio.file.Paths.get(factPath, "_temporary", "0")
    java.nio.file.Files.createDirectories(junkDir)
    java.nio.file.Files.writeString(junkDir.resolve("part-junk.parquet"),
      "not a real parquet file")
    try {
      val fact = spark.read.parquet(factPath)
      val dim = spark.read.parquet(dimPath)
      DenormView.materialize(fact, dim, "tier_key", s"$base/view")
      DenormCatalog.register(factPath, dimPath, "tier_key", s"$base/view")
      val q = fact.join(dim, "tier_key").select("order_id", "tier_name")
      assert(!q.queryExecution.optimizedPlan.toString.contains("Join"),
        "hidden-dir leftovers must not poison the freshness signature")
      assert(q.count() == 50L)
    } finally DenormCatalog.unregister(factPath)
  }
}
