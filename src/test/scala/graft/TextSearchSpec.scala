package graft

import org.apache.spark.sql.functions._
import graft.functions.TextSearch
import graft.text.LangId

class TextSearchSpec extends SparkSpec {

  private def docs() = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "spark makes big data simple"),
      (3L, "a table scan is slow but a quick index helps"),
      (4L, "Spark SQL does a table   scan sometimes")
    ).toDF("id", "text")
  }

  private def ids(c: org.apache.spark.sql.Column): Set[Long] =
    docs().filter(c).select("id").collect().map(_.getLong(0)).toSet

  test("textContains matches whole tokens case-insensitively") {
    assert(ids(TextSearch.textContains(col("text"), "spark")) === Set(2L, 4L))
    assert(ids(TextSearch.textContains(col("text"), "quick")) === Set(1L, 3L))
    // substring of a token must NOT match
    assert(ids(TextSearch.textContains(col("text"), "qui")) === Set.empty)
  }

  test("textMatch AND requires all terms") {
    assert(ids(TextSearch.textMatch(col("text"), "spark AND data")) === Set(2L))
  }

  test("textMatch OR unions groups, AND binds tighter") {
    assert(ids(TextSearch.textMatch(col("text"), "fox OR spark AND data")) === Set(1L, 2L))
  }

  test("textMatch phrase matches adjacent tokens across whitespace runs") {
    assert(ids(TextSearch.textMatch(col("text"), "\"table scan\"")) === Set(3L, 4L))
    assert(ids(TextSearch.textMatch(col("text"), "\"scan table\"")) === Set.empty)
  }

  test("textMatch NOT negates a term within an AND group") {
    assert(ids(TextSearch.textMatch(col("text"), "quick AND NOT fox")) === Set(3L))
    assert(ids(TextSearch.textMatch(col("text"), "NOT quick AND NOT spark")) === Set.empty)
  }

  test("textMatch parenthesized groups override precedence") {
    // without parens: OR is lowest → quick OR (spark AND table)
    assert(ids(TextSearch.textMatch(col("text"), "quick OR spark AND table"))
      === Set(1L, 3L, 4L))
    // with parens: (quick OR spark) AND table
    assert(ids(TextSearch.textMatch(col("text"), "(quick OR spark) AND table"))
      === Set(3L, 4L))
    // NOT over a group
    assert(ids(TextSearch.textMatch(col("text"), "quick AND NOT (fox OR index)"))
      === Set.empty)
    assert(ids(TextSearch.textMatch(col("text"), "scan AND NOT (fox OR sql)"))
      === Set(3L))
    // nesting and implicit AND by adjacency inside a group
    assert(ids(TextSearch.textMatch(col("text"), "((table scan) OR (brown fox))"))
      === Set(1L, 3L, 4L))
    // unbalanced parens are rejected loudly
    intercept[IllegalArgumentException] {
      TextSearch.textMatch(col("text"), "(quick OR spark AND table")
    }
  }

  test("index-served boolean trees equal the raw textMatch scan") {
    val dir = tempDir("txtbool")
    graft.sources.TextIndex.materializeWithPositions(docs(), "id", "text", dir)
    val universe = docs().select(col("id").as("doc_id"))
    def idxIds(q: String): Set[Long] =
      graft.sources.TextIndex.searchBool(
        spark, dir, TextSearch.parseQuery(q), universe)
        .collect().map(_.getLong(0)).toSet
    def scanIds(q: String): Set[Long] =
      ids(TextSearch.textMatch(col("text"), q))
    Seq(
      "(quick OR spark) AND table",
      "quick OR spark AND table",
      "scan AND NOT (fox OR sql)",
      "NOT (quick OR spark)",
      "\"table scan\" OR fox",
      "(\"table scan\" AND NOT sql) OR jumps").foreach { q =>
      assert(idxIds(q) === scanIds(q), s"index/scan divergence for: $q")
    }
    // scan-family terms are rejected loudly, never silently mis-served
    intercept[IllegalArgumentException] {
      idxIds("qui*")
    }
  }

  test("textMatch prefix wildcard") {
    assert(ids(TextSearch.textMatch(col("text"), "jump*")) === Set(1L))
    assert(ids(TextSearch.textMatch(col("text"), "sca* AND table")) === Set(3L, 4L))
  }

  test("textMatch wildcard terms anchor to whole tokens") {
    // ? = exactly one char
    assert(ids(TextSearch.textMatch(col("text"), "qu?ck")) === Set(1L, 3L))
    assert(ids(TextSearch.textMatch(col("text"), "qu?ik")) === Set.empty)
    // mid-token * = any run (including empty)
    assert(ids(TextSearch.textMatch(col("text"), "s*k")) === Set(2L, 4L))
    assert(ids(TextSearch.textMatch(col("text"), "j*s")) === Set(1L))
    // anchored: wildcard must cover the whole token
    assert(ids(TextSearch.textMatch(col("text"), "?park")) === Set(2L, 4L))
    assert(ids(TextSearch.textMatch(col("text"), "park?")) === Set.empty)
    // composes with boolean operators
    assert(ids(TextSearch.textMatch(col("text"), "t?ble AND s*n")) === Set(3L, 4L))
  }

  test("textMatch fuzzy term tolerates N edits") {
    // "quick" within 1 edit of "quicc"; "fox" within 1 of "box"
    assert(ids(TextSearch.textMatch(col("text"), "quicc~1")) === Set(1L, 3L))
    assert(ids(TextSearch.textMatch(col("text"), "box~1")) === Set(1L))
    // distance 2 from "quick" needs ~2
    assert(ids(TextSearch.textMatch(col("text"), "quucc~1")) === Set.empty)
    assert(ids(TextSearch.textMatch(col("text"), "quucc~2")) === Set(1L, 3L))
  }

  test("textMatch regex term is anchored to whole tokens") {
    assert(ids(TextSearch.textMatch(col("text"), "/qu.ck/")) === Set(1L, 3L))
    // unanchored substring must NOT match: "par" is inside "spark"
    assert(ids(TextSearch.textMatch(col("text"), "/par/")) === Set.empty)
    assert(ids(TextSearch.textMatch(col("text"), "/s.*k/ AND data")) === Set(2L))
  }

  test("json match syntax parses the supported operators and rejects others") {
    import org.apache.spark.sql.types.{DoubleType, StringType, StructType}
    import graft.functions.JsonFns
    val es = new StructType().add("status", StringType).add("price", DoubleType)
    val df = {
      import spark.implicits._
      Seq(
        (1L, """{"orders":[{"status":"F","price":10.0},{"status":"O","price":99.0}]}"""),
        (2L, """{"orders":[{"status":"O","price":5.0}]}""")
      ).toDF("id", "doc")
    }
    def ids(cond: String): Set[Long] =
      df.filter(JsonFns.jsonMatchSyntax(col("doc"), cond, es))
        .select("id").collect().map(_.getLong(0)).toSet
    assert(ids(""""$.orders[*].status" = 'F'""") === Set(1L))
    assert(ids(""""$.orders[*].price" > 50""") === Set(1L))
    assert(ids(""""$.orders[*].price" <= 5""") === Set(2L))
    assert(ids(""""$.orders[*].status" != 'O'""") === Set(1L))
    intercept[IllegalArgumentException] {
      JsonFns.jsonMatchSyntax(col("doc"), "not a condition", es)
    }
  }

  test("textMatch proximity phrase matches terms within slop positions") {
    // "table scan" adjacent in 3 and separated by whitespace run in 4
    assert(ids(TextSearch.textMatch(col("text"), "\"table scan\"~0")) === Set.empty)
    assert(ids(TextSearch.textMatch(col("text"), "\"table scan\"~1")) === Set(3L, 4L))
    // doc 3: "a table scan is slow but a quick index helps" — table..index
    // are 7 positions apart
    assert(ids(TextSearch.textMatch(col("text"), "\"table index\"~6")) === Set.empty)
    assert(ids(TextSearch.textMatch(col("text"), "\"table index\"~7")) === Set(3L))
    // order-insensitive by design (|i - j| <= slop)
    assert(ids(TextSearch.textMatch(col("text"), "\"scan table\"~1")) === Set(3L, 4L))
    // composes with boolean operators
    assert(ids(TextSearch.textMatch(col("text"), "\"table scan\"~1 AND sql")) === Set(4L))
    // one-term degenerate phrase behaves like a term
    assert(ids(TextSearch.textMatch(col("text"), "\"spark\"~2")) === Set(2L, 4L))
  }

  test("langid predicts a valid language deterministically") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat is in the house and it is warm"),
      (2L, "der hund ist nicht mit der katze"),
      (3L, "le chat est dans la maison et il est")
    ).toDF("id", "text")
    val preds = df.select(col("id"), LangId.predict(col("text")).as("p")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(1L) === "en")
    assert(preds(2L) === "de")
    assert(preds(3L) === "fr")
  }

  test("inverted text index answers AND/OR searches identically to the raw scan") {
    import graft.sources.TextIndex
    val corpus = graft.engine.Tables.documents(spark, sfDir)
    val dir = tempDir("graft_textidx")
    TextIndex.materialize(corpus, "doc_id", "text", dir)
    val terms = Seq("table", "scan")
    def raw(all: Boolean) = {
      val preds = terms.map(t => TextSearch.textContains(col("text"), t))
      corpus.filter(if (all) preds.reduce(_ && _) else preds.reduce(_ || _))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    def indexed(all: Boolean) =
      TextIndex.searchIndexed(spark, dir, terms, requireAll = all)
        .collect().map(_.getLong(0)).toSet
    assert(indexed(all = true) === raw(all = true))
    assert(indexed(all = false) === raw(all = false))
    assert(indexed(all = true).nonEmpty, "AND fixture matched nothing")
    assert(indexed(all = false).size > indexed(all = true).size)
  }

  test("positional index phrase search matches the raw textMatch phrase scan") {
    import graft.sources.TextIndex
    val corpus = graft.engine.Tables.documents(spark, sfDir)
    val dir = tempDir("graft_textidx_pos")
    TextIndex.materializeWithPositions(corpus, "doc_id", "text", dir)
    val indexed = TextIndex.searchPhraseIndexed(spark, dir, Seq("table", "hash"))
      .collect().map(_.getLong(0)).toSet
    val raw = corpus.filter(TextSearch.textMatch(col("text"), "\"table hash\""))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(indexed === raw)
    assert(indexed.nonEmpty, "phrase fixture matched nothing")
    // a phrase hit is necessarily a hit for the AND of its terms
    val dirAnd = tempDir("graft_textidx_and")
    TextIndex.materialize(corpus, "doc_id", "text", dirAnd)
    val andSet = TextIndex.searchIndexed(spark, dirAnd, Seq("table", "hash"))
      .collect().map(_.getLong(0)).toSet
    assert(indexed.subsetOf(andSet), "phrase matched a doc missing a term")
  }

  test("posting-list probes push the term filter down to the parquet scan") {
    import graft.sources.TextIndex
    val dir = tempDir("graft_textidx_pd")
    TextIndex.materialize(graft.engine.Tables.documents(spark, sfDir),
      "doc_id", "text", dir)
    val df = TextIndex.searchIndexed(spark, dir, Seq("table", "scan"))
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [In(term"),
      s"term probe did not reach the scan:\n$physical")
    assert(!physical.toLowerCase.contains("text#"),
      "query-time plan still reads the text column")
  }
}
