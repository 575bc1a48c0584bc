package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructType}
import graft.engine.Tables
import graft.functions.JsonFns

/** §C JSON functions — Pinot's JSON_EXTRACT_SCALAR / JSON_MATCH over a raw
  * JSON string column (reference: /root/reference/basics/indexing/
  * json-index.md). Spark-native: `get_json_object` is a codegen'd path
  * expression; at scale the predicate stays on the scan so only matching
  * rows leave the stage (Pinot's json index analog is column pruning +
  * cheap per-row path evaluation, no shuffle).
  */
object JsonQueries {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_json_extract_scalar",
      (s, d) =>
        Tables.events(s, d)
          .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
          .groupBy("k")
          .agg(count(lit(1)).as("cnt"))
          .orderBy("k"),
      Some("""SELECT CAST(nullif(regexp_extract(props, '"k": ?(-?\d+)', 1), '') AS INT) AS k,
                     count(*) AS cnt
              FROM events GROUP BY 1 ORDER BY k""")),

    QueryDef(
      "q_json_match",
      (s, d) =>
        Tables.events(s, d)
          .filter(get_json_object(col("props"), "$.k").cast("int") >= 50 &&
            col("event_type").isin("click", "purchase"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_val"))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_val
              FROM events
              WHERE CAST(nullif(regexp_extract(props, '"k": ?(-?\d+)', 1), '') AS INT) >= 50
                AND event_type IN ('click', 'purchase')
              GROUP BY 1 ORDER BY event_type""")),

    // JSON_MATCH over a NESTED array-of-object path (the json-index.md
    // `addresses[*].country` shape). The nested doc is built from orders
    // with to_json — real JSON bytes — then matched with
    // from_json + exists(); the oracle checks the semantic answer from the
    // flat table, proving the whole JSON round-trip.
    QueryDef(
      "q_json_match_nested",
      (s, d) => {
        val es = new StructType().add("status", StringType).add("price", DoubleType)
        Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(to_json(struct(collect_list(struct(
            col("o_orderstatus").as("status"),
            col("o_totalprice").as("price"))).as("orders"))).as("doc"))
          .filter(JsonFns.jsonMatch(col("doc"), "$.orders", es)(e =>
            e.getField("status") === "F" && e.getField("price") > lit(150000.0)))
          .select(col("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT DISTINCT o_custkey FROM orders
              WHERE o_orderstatus = 'F' AND o_totalprice > 150000
              ORDER BY o_custkey""")),

    // Same nested shape through the Pinot JSON_MATCH condition-string
    // syntax: '"$.orders[*].price" > 280000'.
    QueryDef(
      "q_json_match_syntax",
      (s, d) => {
        val es = new StructType().add("status", StringType).add("price", DoubleType)
        Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(to_json(struct(collect_list(struct(
            col("o_orderstatus").as("status"),
            col("o_totalprice").as("price"))).as("orders"))).as("doc"))
          .filter(JsonFns.jsonMatchSyntax(col("doc"),
            """"$.orders[*].price" > 280000""", es))
          .select(col("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT DISTINCT o_custkey FROM orders
              WHERE o_totalprice > 280000
              ORDER BY o_custkey""")),

    // Positional JSON array access ($.orders[0].price — json-index.md's
    // indexed-path shape, vs the [*] wildcard above). The nested doc's
    // array is array_sort'ed before serialization so element 0 is
    // deterministic under any partitioning; the oracle recomputes the
    // same element from the flat table (min by (price, status)).
    QueryDef(
      "q_json_array_index",
      (s, d) => {
        Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(to_json(struct(array_sort(collect_list(struct(
            col("o_totalprice").as("price"),
            col("o_orderstatus").as("status")))).as("orders"))).as("doc"))
          .select(
            col("o_custkey"),
            get_json_object(col("doc"), "$.orders[0].price")
              .cast("double").as("first_price"),
            get_json_object(col("doc"), "$.orders[0].status").as("first_status"),
            json_array_length(get_json_object(col("doc"), "$.orders"))
              .as("n_orders"))
          .select(col("o_custkey"), round(col("first_price"), 2).as("first_price"),
            col("first_status"), col("n_orders"))
          .orderBy("o_custkey")
      },
      Some("""WITH r AS (SELECT o_custkey, o_totalprice, o_orderstatus,
                     row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice, o_orderstatus) AS rn,
                     count(*) OVER (PARTITION BY o_custkey) AS n
                   FROM orders)
              SELECT o_custkey, round(o_totalprice, 2) AS first_price,
                     o_orderstatus AS first_status,
                     CAST(n AS INT) AS n_orders
              FROM r WHERE rn = 1 ORDER BY o_custkey""")),

    // JSON KEY DISCOVERY + per-key value profiling (Pinot's
    // JSONEXTRACTKEY, taken one step further into the schema-inference
    // pass a pipeline runs over semi-structured ingest): parse once into
    // a map, explode keys WITH their values, and roll up per-key count /
    // distinct / numeric min-max. One scan, one group-by whose
    // cardinality is the key vocabulary (schema-sized, never row-sized);
    // no per-key re-parsing of the JSON (the map is built once per row).
    QueryDef(
      "q_json_keys",
      (s, d) =>
        Tables.events(s, d)
          .select(expr("explode(from_json(props, 'map<string,string>'))")
            .as(Seq("key", "val")))
          .select(col("key"), col("val").cast("long").as("v"))
          .groupBy("key")
          .agg(count(lit(1)).as("n"), countDistinct(col("v")).as("n_vals"),
            min("v").as("min_v"), max("v").as("max_v"))
          .orderBy("key"),
      Some("""WITH kv AS (SELECT unnest(json_keys(props)) AS key, props
                          FROM events),
                   v AS (SELECT key,
                                CAST(json_extract(props, '$.' || key) AS BIGINT) AS v
                         FROM kv)
              SELECT key, count(*) AS n, count(DISTINCT v) AS n_vals,
                     min(v) AS min_v, max(v) AS max_v
              FROM v GROUP BY 1 ORDER BY key""")),

    // JSON-INDEX serving path (json-index.md: configured paths are
    // flattened at ingestion and predicates answered from the index):
    // events write once per session through SegmentWriter with
    // derivedJsonCols = ("props", "$.k"); the query then runs the SAME
    // get_json_object filter+group a user writes on the raw table, and
    // plans.DerivedColumnRewrite transparently swaps every extraction for
    // the stored props__k column (JsonIndexSpec asserts the parse is
    // gone from the plan and the filter reaches the parquet scan; the
    // DuckDB oracle hash-pins that the rewritten path returns exactly
    // the raw-events answer).
    QueryDef(
      "q_json_index_rewrite",
      (s, d) =>
        graft.sources.SegmentCatalog.readStableSchema(s, jsonSegment(s, d))
          .filter(get_json_object(col("props"), "$.k").cast("int") >= 50)
          .groupBy(get_json_object(col("props"), "$.k").cast("int").as("k"))
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_val"))
          .orderBy("k"),
      Some("""WITH e AS (SELECT CAST(nullif(regexp_extract(props, '"k": ?(-?\d+)', 1),
                                            '') AS INT) AS k, value
                         FROM events)
              SELECT k, count(*) AS cnt, round(sum(value), 2) AS sum_val
              FROM e WHERE k >= 50 GROUP BY 1 ORDER BY k"""))
  )

  // The json-index segment is memoized (the in-session analog of the
  // flattened columns Pinot materializes next to its segments): events
  // written once with the props__k derived column, reused across
  // reps/queries.
  private def jsonSegment(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val ev = Tables.events(s, d).select("event_id", "props", "value")
    graft.engine.Artifacts.segment("jsonidx", ev)(dir =>
      graft.sources.SegmentWriter.write(ev, dir,
        graft.sources.SegmentWriter.Config(derivedJsonCols = Seq(("props", "$.k")))))
  }
}
