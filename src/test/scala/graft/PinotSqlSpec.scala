package graft

import graft.engine.Graft
import graft.sql.PinotSql

/** The Pinot-SQL/PQL dialect front-end: translation shapes, dialect
  * semantics against the engine's own results, and loud rejection of
  * malformed input.
  */
class PinotSqlSpec extends SparkSpec {

  // ------------------------------------------------------------ translate

  test("legacy TOP rewrites to ORDER BY first-agg DESC with pinned ties") {
    val t = PinotSql.translate(
      "SELECT count(*) AS cnt FROM events GROUP BY user_id TOP 10")
    assert(t.sql ===
      "SELECT user_id, count(*) AS cnt FROM events " +
        "GROUP BY user_id ORDER BY cnt DESC, user_id LIMIT 10")
    assert(t.options.isEmpty)
  }

  test("unaliased first aggregate orders by its rewritten expression") {
    val t = PinotSql.translate(
      "SELECT DISTINCTCOUNT(x) FROM t GROUP BY g TOP 5")
    assert(t.sql ===
      "SELECT g, count(DISTINCT x) FROM t " +
        "GROUP BY g ORDER BY count(DISTINCT x) DESC, g LIMIT 5")
  }

  test("group keys already in the select list are not duplicated") {
    val t = PinotSql.translate(
      "SELECT g, count(*) AS c FROM t GROUP BY g TOP 3")
    assert(t.sql ===
      "SELECT g, count(*) AS c FROM t GROUP BY g ORDER BY c DESC, g LIMIT 3")
  }

  test("OPTION clauses are stripped and recorded") {
    val t = PinotSql.translate(
      "SELECT count(*) AS c FROM t WHERE a = 1 OPTION(timeoutMs=3000000, useMultistageEngine=true)")
    assert(t.sql === "SELECT count(*) AS c FROM t WHERE a = 1")
    assert(t.options === Map(
      "timeoutMs" -> "3000000", "useMultistageEngine" -> "true"))
  }

  test("function aliases rewrite recursively, inside expressions") {
    val t = PinotSql.translate(
      "SELECT PERCENTILE95(abs(v)) AS p, PERCENTILETDIGEST999(v) AS pt, " +
        "DISTINCTCOUNTHLL(u) AS dc FROM t")
    assert(t.sql ===
      "SELECT percentile(abs(v), 0.95D) AS p, " +
        "approx_percentile(v, 0.999D) AS pt, " +
        "approx_count_distinct(u) AS dc FROM t")
  }

  test("DISTINCT(a, b) select form becomes SELECT DISTINCT a, b") {
    val t = PinotSql.translate(
      "SELECT DISTINCT(a, b) FROM t WHERE a > 1 ORDER BY a LIMIT 10")
    assert(t.sql === "SELECT DISTINCT a, b FROM t WHERE a > 1 ORDER BY a LIMIT 10")
    // aliases inside still rewrite; DISTINCTCOUNT is NOT the keyword form
    assert(PinotSql.translate("SELECT DISTINCT(JSONEXTRACTSCALAR(j, '$.k')) FROM t").sql
      === "SELECT DISTINCT get_json_object(j, '$.k') FROM t")
    assert(PinotSql.translate("SELECT DISTINCTCOUNT(a) AS c FROM t").sql
      === "SELECT count(DISTINCT a) AS c FROM t")
    def bad(q: String): String =
      intercept[IllegalArgumentException](PinotSql.translate(q)).getMessage
    assert(bad("SELECT DISTINCT(a), b FROM t").contains("whole select list"))
    assert(bad("SELECT DISTINCT(a) FROM t GROUP BY a").contains("cannot combine"))
  }

  test("distinct-agg and range aliases expand to exact builtins") {
    val t = PinotSql.translate(
      "SELECT DISTINCTSUM(q) AS ds, DISTINCTAVG(q) AS da, MINMAXRANGE(p) AS r, " +
        "SEGMENTPARTITIONEDDISTINCTCOUNT(k) AS dc, " +
        "DISTINCTCOUNTTHETASKETCH(u) AS dt FROM t")
    assert(t.sql ===
      "SELECT sum(DISTINCT q) AS ds, avg(DISTINCT q) AS da, " +
        "(max(p) - min(p)) AS r, count(DISTINCT k) AS dc, " +
        "CAST(round(theta_estimate(theta_sketch_agg(u, 4096))) AS BIGINT) AS dt FROM t")
    // the theta mapping runs end-to-end through the registered session
    // functions and is EXACT below the nominal-entry count
    val n = spark.sql(PinotSql.translate(
      "SELECT DISTINCTCOUNTTHETASKETCH(id) AS dt FROM src").sql
      .replace("FROM src", "FROM (SELECT explode(sequence(1, 500)) AS id)"))
      .head().getLong(0)
    assert(n === 500L)
  }

  test("FIRSTWITHTIME/LASTWITHTIME drop the type tag; MV aggs expand") {
    val t = PinotSql.translate(
      "SELECT FIRSTWITHTIME(v, ts, 'LONG') AS f, COUNTMV(a) AS c, MAXMV(a) AS m FROM t")
    assert(t.sql ===
      "SELECT min_by(v, ts) AS f, sum(size(a)) AS c, max(array_max(a)) AS m FROM t")
  }

  test("DATETIMECONVERT emits exact integer bucket arithmetic") {
    // 2024-01-02T03:04:05Z = 1704164645000 ms = epoch day 19724
    val t = PinotSql.translate(
      "SELECT DATETIMECONVERT(ms, '1:MILLISECONDS:EPOCH', '1:DAYS:EPOCH', '1:DAYS') AS d FROM src")
    assert(spark.sql(t.sql.replace("FROM src", "FROM (SELECT 1704164645000 AS ms)"))
      .head().getLong(0) === 19724L)
    // 15-minute bucketing back to millis
    val q = PinotSql.translate(
      "SELECT DATETIMECONVERT(ms, '1:MILLISECONDS:EPOCH', '1:MILLISECONDS:EPOCH', '15:MINUTES') AS b FROM src")
    assert(spark.sql(q.sql.replace("FROM src", "FROM (SELECT 1704164645000 AS ms)"))
      .head().getLong(0) === 1704164645000L / 900000L * 900000L)
    // SECONDS-epoch input + SIMPLE_DATE_FORMAT output
    val sdf = PinotSql.translate(
      "SELECT DATETIMECONVERT(sec, '1:SECONDS:EPOCH', '1:DAYS:SIMPLE_DATE_FORMAT:yyyyMMdd', '1:DAYS') AS d FROM src")
    assert(spark.sql(sdf.sql.replace("FROM src", "FROM (SELECT 1704164645 AS sec)"))
      .head().getString(0) === "20240102")
  }

  test("sketch parameters are honored or rejected, never silently dropped") {
    // theta nominalEntries changes the sketch size the estimate rides on
    assert(PinotSql.translate(
      "SELECT DISTINCTCOUNTTHETASKETCH(u, 'nominalEntries=65536') AS d FROM t").sql
      === "SELECT CAST(round(theta_estimate(theta_sketch_agg(u, 65536))) AS BIGINT) AS d FROM t")
    val badParam = intercept[IllegalArgumentException](PinotSql.translate(
      "SELECT DISTINCTCOUNTTHETASKETCH(u, 'samplingProbability=0.5') FROM t"))
    assert(badParam.getMessage.contains("unsupported parameter"))
    // HLL log2m maps to the equivalent rsd (1.04/sqrt(2^log2m))
    assert(PinotSql.translate("SELECT DISTINCTCOUNTHLL(u, 12) AS d FROM t").sql
      === "SELECT approx_count_distinct(u, 0.016250D) AS d FROM t")
    val badLog2m = intercept[IllegalArgumentException](PinotSql.translate(
      "SELECT DISTINCTCOUNTHLL(u, 'x') FROM t"))
    assert(badLog2m.getMessage.contains("log2m"))
  }

  test("fromDateTime/toDateTime translate the timestamp-index doc example") {
    // the reference's own query string (timestamp-index.md:36)
    val t = PinotSql.translate(
      "SELECT count(*) FROM tbl WHERE tsWeek > fromDateTime('2014-01-16', 'yyyy-MM-dd')")
    assert(t.sql ===
      "SELECT count(*) FROM tbl WHERE tsWeek > unix_millis(to_timestamp('2014-01-16', 'yyyy-MM-dd'))")
    assert(spark.sql(
      "SELECT unix_millis(to_timestamp('2014-01-16', 'yyyy-MM-dd')) AS ms")
      .head().getLong(0) === 1389830400000L)
    assert(spark.sql(PinotSql.translate(
      "SELECT TODATETIME(1389830400000, 'yyyy-MM-dd') AS d FROM (SELECT 1)").sql)
      .head().getString(0) === "2014-01-16")
  }

  test("SIMPLE_DATE_FORMAT patterns with quoted literal text re-escape") {
    val t = PinotSql.translate(
      "SELECT DATETIMECONVERT(ms, '1:MILLISECONDS:EPOCH', " +
        "'1:HOURS:SIMPLE_DATE_FORMAT:yyyy-MM-dd''T''HH', '1:HOURS') AS h FROM src")
    assert(t.sql.contains("'yyyy-MM-dd''T''HH'"), t.sql)
    // and the emitted SQL actually parses and formats correctly
    assert(spark.sql(t.sql.replace("FROM src", "FROM (SELECT 1704164645000 AS ms)"))
      .head().getString(0) === "2024-01-02T03")
  }

  test("double-quoted Pinot identifiers become backticks; strings survive") {
    val t = PinotSql.translate(
      """SELECT "weird col" FROM t WHERE note = 'keep "quotes" and it''s fine'""")
    assert(t.sql ===
      """SELECT `weird col` FROM t WHERE note = 'keep "quotes" and it''s fine'""")
  }

  test("malformed input is rejected loudly") {
    def bad(q: String): String =
      intercept[IllegalArgumentException](PinotSql.translate(q)).getMessage
    assert(bad("SELECT count(*) FROM t TOP 5").contains("TOP requires"))
    assert(bad("SELECT c, count(*) FROM t GROUP BY c ORDER BY c TOP 5")
      .contains("mutually exclusive"))
    assert(bad("SELECT c, count(*) FROM t GROUP BY c TOP 5 LIMIT 5")
      .contains("mutually exclusive"))
    assert(bad("SELECT count(*) FROM t GROUP BY c TOP x").contains("positive integer"))
    assert(bad("SELECT count(*) AS c").contains("no FROM"))
    assert(bad("SELECT count(* FROM t").toLowerCase.contains("unbalanced"))
    assert(bad("SELECT a FROM t WHERE s = 'oops").contains("unterminated"))
    assert(bad("SELECT count(*) FROM t OPTION timeoutMs=1").contains("OPTION"))
    assert(bad("SELECT count(*) FROM t OPTION(timeoutMs)").contains("key=value"))
    assert(bad("SELECT PERCENTILE0(v) FROM t").contains("percentile level"))
    assert(bad("SELECT FIRSTWITHTIME(v) FROM t").contains("arguments"))
    assert(bad("").contains("empty"))
  }

  // ------------------------------------------- dialect semantics on data

  test("OPTION(useStarTree=false) is APPLIED: it pins the un-rewritten plan") {
    import graft.operators.StarTree
    import graft.plans.StarTreeCatalog
    Graft.registerTables(spark, sfDir)
    val factPath = s"$sfDir/lineitem.parquet"
    val cubeDir = tempDir("pql_startree") + "/cube"
    StarTree.materializeAndRegister(
      spark.read.parquet(factPath), factPath,
      dims = Seq("l_returnflag", "l_linestatus"),
      sumMetrics = Seq("l_quantity"), cubePath = cubeDir)
    try {
      val q = "SELECT SUM(l_quantity) AS s FROM lineitem GROUP BY l_returnflag"
      val served = PinotSql.sql(spark, q)
      assert(served.queryExecution.optimizedPlan.toString.contains("cube"),
        "default: the star-tree rule must serve the cube")
      val bypassed = PinotSql.sql(spark, s"$q OPTION(useStarTree=false)")
      assert(!bypassed.queryExecution.optimizedPlan.toString.contains("cube"),
        "OPTION(useStarTree=false) must pin the fact-table plan")
      // identical answers either way; session flag restored after scoping
      assert(bypassed.collect().map(_.toSeq).toSet ===
        served.collect().map(_.toSeq).toSet)
      assert(spark.conf.getOption("spark.graft.starTree.enabled").isEmpty)
      val boolErr = intercept[IllegalArgumentException](
        PinotSql.sql(spark, s"$q OPTION(useStarTree=7)"))
      assert(boolErr.getMessage.contains("true/false"))
    } finally StarTreeCatalog.unregister(factPath)
  }

  test("TOP query matches the engine's own DataFrame ranking") {
    Graft.registerTables(spark, sfDir)
    import org.apache.spark.sql.functions._
    val got = PinotSql.sql(spark,
      """SELECT count(*) AS cnt FROM events
         WHERE event_type IN ('click', 'view') GROUP BY user_id TOP 7""").collect()
    val want = graft.engine.Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "view"))
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("user_id")).limit(7).collect()
    assert(got.toSeq === want.toSeq)
  }

  test("TEXT_MATCH and JSON_MATCH resolve as session SQL functions") {
    Graft.registerTables(spark, sfDir)
    val tm = spark.sql(
      """SELECT count(*) AS c FROM documents
         WHERE TEXT_MATCH(text, 'spark AND data')""").head().getLong(0)
    import org.apache.spark.sql.functions._
    val tmApi = graft.engine.Tables.documents(spark, sfDir)
      .filter(graft.functions.TextSearch.textMatch(col("text"), "spark AND data"))
      .count()
    assert(tm === tmApi)
    assert(tm > 0, "fixture should contain matching docs")
    val jm = spark.sql(
      """SELECT count(*) AS c FROM events WHERE JSON_MATCH(props, '"$.k" >= 50')""")
      .head().getLong(0)
    val jmApi = graft.engine.Tables.events(spark, sfDir)
      .filter(get_json_object(col("props"), "$.k").cast("double") >= 50)
      .count()
    assert(jm === jmApi)
    assert(jm > 0)
  }

  test("json_match handles wildcard arrays, strings and IS NULL") {
    val df = spark.createDataFrame(Seq(
      (1L, """{"name":"adam","addresses":[{"number":112,"country":"us"},{"number":5,"country":"ca"}]}"""),
      (2L, """{"name":"bob","addresses":[{"number":7,"country":"ca"}]}"""),
      (3L, """{"name":"eve"}"""))).toDF("id", "doc")
    df.createOrReplaceTempView("people")
    def ids(cond: String): Seq[Long] =
      spark.sql(s"SELECT id FROM people WHERE json_match(doc, '$cond') ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
    assert(ids("\"$.name\"=''adam''") === Seq(1L))
    assert(ids("\"$.addresses[*].number\"=112") === Seq(1L))
    assert(ids("\"$.addresses[*].country\"=''ca''") === Seq(1L, 2L))
    assert(ids("\"$.addresses[0].number\"=112") === Seq(1L))
    assert(ids("\"$.addresses\" IS NULL") === Seq(3L))
    assert(ids("\"$.name\" IS NOT NULL") === Seq(1L, 2L, 3L))
    assert(ids("\"$.addresses[*].country\"=''us'' AND \"$.addresses[*].number\"=5") === Seq(1L))
  }

  test("json_match matches scalar strings that start with '[' (not mistaken for arrays)") {
    spark.createDataFrame(Seq(
      (1L, """{"k":"[tag] hello"}"""),
      (2L, """{"k":"plain"}"""),
      (3L, """{"k":["x","y"]}"""))).toDF("id", "doc")
      .createOrReplaceTempView("brackety")
    def ids(cond: String): Seq[Long] =
      spark.sql(s"SELECT id FROM brackety WHERE json_match(doc, '$cond') ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
    assert(ids("\"$.k\"=''[tag] hello''") === Seq(1L))
    assert(ids("\"$.k[*]\"=''y''") === Seq(3L))
  }

  test("text_match rejects a non-literal query argument loudly") {
    Graft.registerTables(spark, sfDir)
    val e = intercept[Exception](
      spark.sql("SELECT count(*) FROM documents WHERE text_match(text, lang)").collect())
    assert(e.getMessage.contains("literal string"))
  }
}
