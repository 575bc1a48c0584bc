package graft

import org.apache.spark.sql.functions._
import graft.engine.Graft

/** The reference is queried over SQL; the whole engine surface must be
  * reachable from `spark.sql` too — tables as views, custom expressions
  * as registered functions.
  */
class SqlInterfaceSpec extends SparkSpec {

  test("tables and aggregations work from plain SQL") {
    Graft.registerTables(spark, sfDir)
    val rows = spark.sql(
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS s, count(*) AS c
         FROM lineitem GROUP BY 1 ORDER BY 1""").collect()
    assert(rows.length === 3)
    assert(rows.map(_.getString(0)).toSeq === Seq("A", "N", "R"))
  }

  test("events SQL view exposes ts as a timestamp like the DataFrame API") {
    Graft.registerTables(spark, sfDir)
    val sqlType = spark.sql("SELECT ts FROM events").schema.head.dataType
    val apiType = graft.engine.Tables.events(spark, sfDir).schema("ts").dataType
    assert(sqlType === org.apache.spark.sql.types.TimestampType)
    assert(sqlType === apiType, "SQL view and DataFrame API diverge on events.ts")
  }

  test("custom vector_dot expression is callable from SQL") {
    Graft.registerTables(spark, sfDir)
    val d = spark.sql(
      "SELECT vector_dot(embedding, embedding) AS d FROM embeddings WHERE vec_id = 0")
      .head().getDouble(0)
    assert(d > 0.0)
    // consistent with the Column API
    val viaApi = graft.functions.VectorFns
      .dot(col("embedding"), col("embedding"))
    val apiVal = graft.engine.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === 0).select(viaApi).head().getDouble(0)
    assert(math.abs(d - apiVal) < 1e-12)
  }

  test("canonicalize_url composed function is callable from SQL") {
    val canon = spark.sql(
      """SELECT canonicalize_url(
           'HTTPS://WWW.Example.COM:443/a/index.html/?utm_source=x&ref=y#frag') AS c""")
      .head().getString(0)
    assert(canon === "https://example.com/a/index.html?ref=y")
  }

  test("canonicalize_url merges slash and utm-only variants of a page") {
    val variants = Seq(
      "https://host/p", "https://host/p/",
      "https://host/p?utm_x=1", "https://host/p/?utm_x=1")
    val canon = variants.map { u =>
      spark.sql(s"SELECT canonicalize_url('$u')").head().getString(0)
    }.distinct
    assert(canon === Seq("https://host/p"))
    // the root path keeps its slash
    val root = spark.sql("SELECT canonicalize_url('https://host/')").head().getString(0)
    assert(root === "https://host/")
  }

  test("dedup/similarity expressions and top_k_by aggregate from SQL") {
    Graft.registerTables(spark, sfDir)
    // scan-local signature expressions
    val sig = spark.sql(
      """SELECT doc_id,
                minhash_bands(word_shingle_hashes(split(lower(text), ' '), 3), 32, 8) AS mh,
                simhash64(split(lower(text), ' ')) AS sh
         FROM documents WHERE doc_id < 3""").collect()
    assert(sig.length === 3)
    assert(sig.forall(r => r.getSeq[Long](1).length === 8))
    // banded LSH over embeddings
    val bands = spark.sql(
      "SELECT lsh_band_buckets(embedding, 4, 64, 64, 4242) AS b FROM embeddings LIMIT 1")
      .head().getSeq[Long](0)
    assert(bands.length === 64)
    // bounded top-k aggregate straight from SQL
    val topk = spark.sql(
      """SELECT event_type, top_k_by(value, user_id, 3) AS top3
         FROM events GROUP BY event_type""").collect()
    assert(topk.nonEmpty)
    topk.foreach(r => assert(r.getSeq[AnyRef](1).length <= 3))
    // string-keyed bounded top-k aggregate straight from SQL
    val topStr = spark.sql(
      """SELECT lang, top_k_by_str(CAST(cnt AS DOUBLE), term, 2) AS top2
         FROM (SELECT lang, t.term, count(*) AS cnt
               FROM documents LATERAL VIEW explode(split(lower(text), ' ')) t AS term
               GROUP BY lang, t.term)
         GROUP BY lang""").collect()
    assert(topStr.nonEmpty)
    topStr.foreach(r => assert(r.getSeq[AnyRef](1).length <= 2))
  }

  test("theta sketch family and vector_avg from SQL") {
    Graft.registerTables(spark, sfDir)
    // distinct users per event type via theta sketches, estimates exact
    // below k, plus direct intersection of two cohort sketches
    val row = spark.sql(
      """WITH sk AS (SELECT
           theta_sketch_agg(CASE WHEN event_type = 'click' THEN user_id END, 10) AS c,
           theta_sketch_agg(CASE WHEN event_type = 'purchase' THEN user_id END, 10) AS p
         FROM events)
         SELECT theta_sketch_estimate(c) AS nc, theta_sketch_estimate(p) AS np,
                theta_sketch_estimate(theta_intersection(c, p)) AS nboth,
                theta_sketch_estimate(theta_union(c, p, 10)) AS neither,
                theta_sketch_estimate(theta_difference(c, p)) AS nonly
         FROM sk""").head()
    val exact = graft.engine.Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("user_id")
      .agg(array_sort(collect_set("event_type")).as("ts"))
      .groupBy("ts").count().collect()
      .map(r => r.getSeq[String](0).mkString("+") -> r.getLong(1)).toMap
    val both = exact.getOrElse("click+purchase", 0L)
    val conly = exact.getOrElse("click", 0L)
    val ponly = exact.getOrElse("purchase", 0L)
    // k=2^10 exceeds the fixture cardinality, so every estimate is exact
    assert(row.getLong(0) === conly + both)
    assert(row.getLong(1) === ponly + both)
    assert(row.getLong(2) === both)
    assert(row.getLong(3) === conly + ponly + both)
    assert(row.getLong(4) === conly)
    // theta_union_agg from SQL: cell sketches roll up to the same exact
    // click-user count (the cube-rollup aggregate)
    val rolled = spark.sql(
      """WITH cells AS (SELECT date_trunc('day', ts) AS day,
                               theta_sketch_agg(user_id, 10) AS sk
                        FROM events WHERE event_type = 'click' GROUP BY 1)
         SELECT theta_sketch_estimate(theta_union_agg(sk, 10)) FROM cells""").head()
    assert(rolled.getLong(0) === conly + both)
    // vector_avg centroid from SQL matches the Column API
    val sqlC = spark.sql(
      "SELECT label, vector_avg(embedding) AS c FROM embeddings GROUP BY label ORDER BY label")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1))
    val apiC = graft.engine.Tables.embeddings(spark, sfDir)
      .groupBy("label").agg(graft.functions.VectorFns.vectorAvg(col("embedding")).as("c"))
      .orderBy("label").collect().map(r => r.getInt(0) -> r.getSeq[Double](1))
    assert(sqlC.toSeq === apiC.toSeq)
  }

  test("no function GraftExtensions injects shadows a Spark built-in") {
    // an injected function replaces a built-in of the same name in every
    // Graft session, so Spark's documented calls of it stop working
    val injected = spark.catalog.listFunctions().collect()
      .filter(f => Option(f.className).exists(_.startsWith("graft.")))
      .map(_.name).toSet
    assert(injected.contains("vector_dot"), injected)
    val builtin = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
      .listFunction().map(_.funcName).toSet
    assert((injected & builtin).isEmpty)
  }

  test("Spark's documented theta sketch forms work in a Graft session") {
    Graft.registerTables(spark, sfDir)
    val exact = graft.engine.Tables.events(spark, sfDir)
      .agg(countDistinct("user_id")).head().getLong(0)
    // the one-argument form (default lgNomEntries 12 > the fixture's users)
    assert(spark.sql(
      "SELECT theta_sketch_estimate(theta_sketch_agg(user_id)) FROM events")
      .head().getLong(0) === exact)
    // an explicit lgNomEntries of 12 (k = 4096)
    assert(spark.sql(
      "SELECT theta_sketch_estimate(theta_sketch_agg(user_id, 12)) FROM events")
      .head().getLong(0) === exact)
  }

  test("joins and subqueries from SQL") {
    Graft.registerTables(spark, sfDir)
    val n = spark.sql(
      """SELECT r_name, count(*) AS c
         FROM customer JOIN nation ON c_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         WHERE c_custkey IN (SELECT o_custkey FROM orders)
         GROUP BY r_name ORDER BY r_name""").count()
    assert(n > 0)
  }
}
