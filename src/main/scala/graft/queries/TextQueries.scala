package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.functions.TextSearch

/** §D text search — TEXT_CONTAINS / TEXT_MATCH over `documents.text`
  * (reference: /root/reference/basics/indexing/text-search-support.md).
  */
object TextQueries {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_text_contains",
      (s, d) =>
        Tables.documents(s, d)
          .filter(TextSearch.textContains(col("text"), "spark"))
          .select("doc_id", "lang", "source")
          .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source FROM documents
              WHERE list_contains(string_split(lower(text), ' '), 'spark')
              ORDER BY doc_id""")),

    QueryDef(
      "q_text_match",
      (s, d) =>
        Tables.documents(s, d)
          .filter(TextSearch.textMatch(col("text"), "spark AND data OR \"table scan\""))
          .select("doc_id", "lang")
          .orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM documents
              WHERE (list_contains(string_split(lower(text), ' '), 'spark')
                     AND list_contains(string_split(lower(text), ' '), 'data'))
                 OR contains(' ' || lower(text) || ' ', ' table scan ')
              ORDER BY doc_id""")),

    // PARENTHESIZED boolean TEXT_MATCH — Lucene-style grouped queries
    // ((a OR b) AND NOT (c OR d)): the recursive-descent parser composes
    // the whole group tree into ONE codegen'd scan predicate; precedence
    // NOT > AND/adjacency > OR, overridden by parens. The oracle expands
    // the identical boolean structure over the same tokenization.
    QueryDef(
      "q_text_match_grouped",
      (s, d) =>
        Tables.documents(s, d)
          .filter(TextSearch.textMatch(col("text"),
            "(spark OR scan) AND NOT (\"slow query\" OR merge)"))
          .select("doc_id", "lang")
          .orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM documents
              WHERE (list_contains(string_split(lower(text), ' '), 'spark')
                     OR list_contains(string_split(lower(text), ' '), 'scan'))
                AND NOT (contains(' ' || lower(text) || ' ', ' slow query ')
                         OR list_contains(string_split(lower(text), ' '), 'merge'))
              ORDER BY doc_id""")),

    // Fuzzy (edit-distance) + whole-token regex TEXT_MATCH terms —
    // text-search-support.md:22's remaining query families. `scann~1`
    // tolerates one edit ("scan", "scans", ...); `/col.+n/` is an anchored
    // token regex ("column", ...). Both are codegen'd scan predicates.
    QueryDef(
      "q_text_match_fuzzy",
      (s, d) =>
        Tables.documents(s, d)
          .filter(TextSearch.textMatch(col("text"), "scann~1 AND /col.+n/"))
          .groupBy("lang")
          .agg(count(lit(1)).as("cnt"))
          .orderBy("lang"),
      Some("""SELECT lang, count(*) AS cnt FROM documents
              WHERE len(list_filter(string_split(lower(text), ' '),
                        w -> levenshtein(w, 'scann') <= 1)) > 0
                AND len(list_filter(string_split(lower(text), ' '),
                        w -> regexp_full_match(w, 'col.+n'))) > 0
              GROUP BY 1 ORDER BY lang""")),

    // Lucene WildcardQuery terms (`qu?ry`, `s*rt` — `?` one char, `*` any
    // run, anchored to whole tokens): the remaining native-text-index query
    // family beyond prefix/fuzzy/regex. The oracle re-expresses each
    // wildcard as the equivalent anchored regex.
    QueryDef(
      "q_text_wildcard",
      (s, d) =>
        Tables.documents(s, d)
          .filter(TextSearch.textMatch(col("text"), "qu?ry AND s*t"))
          .groupBy("lang")
          .agg(count(lit(1)).as("cnt"))
          .orderBy("lang"),
      Some("""SELECT lang, count(*) AS cnt FROM documents
              WHERE len(list_filter(string_split(lower(text), ' '),
                        w -> regexp_full_match(w, 'qu.ry'))) > 0
                AND len(list_filter(string_split(lower(text), ' '),
                        w -> regexp_full_match(w, 's.*t'))) > 0
              GROUP BY 1 ORDER BY lang""")),

    // Lucene proximity query ("a b"~slop — terms within slop positions):
    // the oracle recomputes token positions with list comprehensions, so
    // the position math is verified exactly.
    QueryDef(
      "q_text_proximity",
      (s, d) =>
        Tables.documents(s, d)
          .filter(TextSearch.textMatch(col("text"), "\"spark data\"~3"))
          .groupBy("lang")
          .agg(count(lit(1)).as("cnt"))
          .orderBy("lang"),
      Some("""WITH t AS (SELECT lang,
                     regexp_split_to_array(lower(text), '\s+') AS w
                   FROM documents),
                   p AS (SELECT lang,
                     [i FOR i IN range(1, len(w) + 1) IF w[i] = 'spark'] AS pa,
                     [i FOR i IN range(1, len(w) + 1) IF w[i] = 'data'] AS pb
                   FROM t)
              SELECT lang, count(*) AS cnt FROM p
              WHERE len([a FOR a IN pa
                         IF len([b FOR b IN pb IF abs(a - b) <= 3]) > 0]) > 0
              GROUP BY 1 ORDER BY lang""")),

    // TEXT_CONTAINS served from the MATERIALIZED inverted index
    // (native-text-index.md: term → posting lists, queries never scan
    // text): documents index once per session through
    // TextIndex.materialize, then the AND-of-terms search reads two
    // posting lists (term-equality pushdown + row-group pruning on the
    // term-sorted layout) and intersects by doc — the oracle is the raw
    // text scan, so the hash proves the index is lossless.
    QueryDef(
      "q_text_index_search",
      (s, d) =>
        graft.sources.TextIndex
          .searchIndexed(s, textIdx(s, d), Seq("table", "scan"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id FROM documents
              WHERE list_contains(string_split(lower(text), ' '), 'table')
                AND list_contains(string_split(lower(text), ' '), 'scan')
              ORDER BY doc_id""")),

    // PHRASE search from the POSITIONAL posting index (the Lucene phrase
    // path of native-text-index.md): only the two probed posting lists
    // are read, docs intersect by join, and adjacency verifies via a
    // scan-local position-chain HOF — no text column in the plan. The
    // raw-scan oracle hash-proves the positional index lossless.
    // BOOLEAN query served from the posting index — the same parsed
    // TEXT_MATCH tree q_text_match_grouped compiles to a scan predicate,
    // evaluated instead as posting-list set algebra (AND = semi-join of
    // doc sets, OR = union, NOT = anti-join against the corpus id
    // universe, phrases = the position-chain join). No text column in
    // the plan; the raw-scan oracle hash-proves the index evaluation
    // equivalent.
    QueryDef(
      "q_text_index_bool",
      (s, d) =>
        graft.sources.TextIndex.searchBool(
          s, textPosIdx(s, d),
          graft.functions.TextSearch.parseQuery(
            "(spark OR scan) AND NOT \"slow query\""),
          Tables.documents(s, d).select(col("doc_id")))
          .orderBy("doc_id"),
      Some("""SELECT doc_id FROM documents
              WHERE (list_contains(string_split(lower(text), ' '), 'spark')
                     OR list_contains(string_split(lower(text), ' '), 'scan'))
                AND NOT contains(' ' || lower(text) || ' ', ' slow query ')
              ORDER BY doc_id""")),

    // TRANSPARENT text-index rewrite (plans.DerivedColumnRewrite): the query
    // is written against the RAW text column — the optimizer serves the
    // textMatch predicates from the SegmentWriter-stored token array
    // (tokenize-once-at-ingest, native-text-index.md), so no per-row
    // lower+split and no document bodies in the scan. The raw-scan
    // oracle hash-pins result equivalence; TermIndexSpec pins the plan
    // shape and the rule-off parity.
    QueryDef(
      "q_text_index_rewrite",
      (s, d) =>
        graft.sources.SegmentCatalog.readStableSchema(s, termSegment(s, d))
          .filter(graft.functions.TextSearch.textMatch(col("text"),
            "(spark OR scan) AND NOT merge"))
          .groupBy("lang")
          .agg(count(lit(1)).as("cnt"))
          .orderBy("lang"),
      Some("""SELECT lang, count(*) AS cnt FROM documents
              WHERE (list_contains(string_split(lower(text), ' '), 'spark')
                     OR list_contains(string_split(lower(text), ' '), 'scan'))
                AND NOT list_contains(string_split(lower(text), ' '), 'merge')
              GROUP BY 1 ORDER BY lang""")),

    // SNIPPET/HIGHLIGHT extraction — the search-results presentation
    // pass (show ±3 tokens around the first hit): one scan-local
    // array_position + slice per document, no shuffle beyond the final
    // ORDER BY; character-exact against the oracle's identical list
    // arithmetic.
    QueryDef(
      "q_text_highlight",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            split(lower(col("text")), "\\s+").as("toks"))
          .withColumn("pos", array_position(col("toks"), "merge"))
          .filter(col("pos") > 0)
          .select(col("doc_id"), col("pos").cast("int").as("pos"),
            concat_ws(" ", slice(col("toks"),
              greatest(col("pos") - 3, lit(1)).cast("int"), lit(7))).as("snippet"))
          .orderBy("doc_id")
          .limit(100),
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                         FROM documents),
                   p AS (SELECT doc_id, toks,
                                list_position(toks, 'merge') AS pos
                         FROM t)
              SELECT doc_id, CAST(pos AS INT) AS pos,
                     array_to_string(toks[greatest(pos - 3, 1):
                                          greatest(pos - 3, 1) + 6], ' ')
                       AS snippet
              FROM p WHERE pos > 0 ORDER BY doc_id LIMIT 100""")),

    // PREFIX AUTOCOMPLETE — search-as-you-type completion from the term
    // dictionary: terms starting with the typed prefix ranked by corpus
    // frequency, deterministic (count desc, term) top-10 via
    // TakeOrderedAndProject. The only corpus-sized stage is the term
    // rollup; at scale this serves from the materialized posting index's
    // per-term counts instead (same dictionary, already on disk).
    QueryDef(
      "q_autocomplete",
      (s, d) =>
        Tables.documents(s, d)
          .select(explode(split(lower(col("text")), "\\s+")).as("term"))
          .filter(col("term").startsWith("s"))
          .groupBy("term").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term"))
          .limit(10),
      Some("""SELECT term, count(*) AS cnt
              FROM (SELECT unnest(string_split(lower(text), ' ')) AS term
                    FROM documents)
              WHERE term LIKE 's%'
              GROUP BY 1 ORDER BY cnt DESC, term LIMIT 10""")),

    // SPELL CORRECTION ("did you mean") — map OOV query tokens to their
    // nearest vocabulary term: candidates within edit distance 1 via the
    // bounded 3-arg levenshtein against the DICTIONARY (never documents —
    // the vocab is Zipf-tiny next to the corpus, so the probe×vocab
    // comparison is dictionary×constant), ranked by corpus frequency with
    // ties toward the lexicographically larger term (a total order, so
    // the pick is deterministic on both engines). The oracle replays the
    // same levenshtein-≤1 argmax.
    QueryDef(
      "q_spellcheck",
      (s, d) => {
        import s.implicits._
        val vocab = Tables.documents(s, d)
          .select(explode(split(lower(col("text")), "\\s+")).as("term"))
          .filter(col("term") =!= "")
          .groupBy("term").agg(count(lit(1)).as("cnt"))
        val queries = Seq("scann", "mergee", "tabel", "sparc").toDF("q")
        queries.join(broadcast(vocab),
            levenshtein(col("q"), col("term"), 1) >= 0)
          .groupBy("q")
          .agg(
            max_by(col("term"), struct(col("cnt"), col("term"))).as("suggestion"),
            max(struct(col("cnt"), col("term"))).getField("cnt").as("cnt"),
            count(lit(1)).as("n_candidates"))
          .orderBy("q")
      },
      Some("""WITH v AS (SELECT term, count(*) AS cnt
                         FROM (SELECT unnest(string_split(lower(text), ' ')) AS term
                               FROM documents)
                         WHERE term <> '' GROUP BY 1),
                   q AS (SELECT unnest(['scann', 'mergee', 'tabel', 'sparc']) AS q),
                   c AS (SELECT q.q, v.term, v.cnt
                         FROM q JOIN v ON levenshtein(q.q, v.term) <= 1),
                   r AS (SELECT q, term, cnt,
                                row_number() OVER (PARTITION BY q
                                  ORDER BY cnt DESC, term DESC) AS rn,
                                count(*) OVER (PARTITION BY q) AS n_candidates
                         FROM c)
              SELECT q, term AS suggestion, cnt, n_candidates
              FROM r WHERE rn = 1 ORDER BY q""")),

    QueryDef(
      "q_text_index_phrase",
      (s, d) =>
        graft.sources.TextIndex
          .searchPhraseIndexed(s, textPosIdx(s, d), Seq("table", "hash"))
          .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
                         FROM documents)
              SELECT doc_id FROM t
              WHERE len([i FOR i IN range(1, len(w))
                         IF w[i] = 'table' AND w[i+1] = 'hash']) > 0
              ORDER BY doc_id"""))
  )

  // The term-index segment and the two inverted indexes are memoized
  // (the in-session analogs of the tokenized terms and text indexes Pinot
  // materializes next to its segments): built once over documents,
  // reused across reps/queries.
  private def termSegment(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val docs = Tables.documents(s, d).select("doc_id", "text", "lang")
    graft.engine.Artifacts.segment("termidx", docs)(dir =>
      graft.sources.SegmentWriter.write(docs, dir,
        graft.sources.SegmentWriter.Config(derivedTermCols = Seq("text"))))
  }

  private def textPosIdx(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val docs = Tables.documents(s, d)
    graft.engine.Artifacts.segment("textposidx", docs)(dir =>
      graft.sources.TextIndex.materializeWithPositions(docs, "doc_id", "text", dir))
  }

  private def textIdx(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val docs = Tables.documents(s, d)
    graft.engine.Artifacts.segment("textidx", docs)(dir =>
      graft.sources.TextIndex.materialize(docs, "doc_id", "text", dir))
  }
}
