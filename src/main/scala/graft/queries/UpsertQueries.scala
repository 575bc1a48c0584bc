package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables

/** §G upsert & hybrid tables — Pinot's realtime upsert table (latest record
  * per primary key) and the hybrid offline+realtime table stitched at a
  * time boundary (reference: /root/reference/basics/Architecture.md,
  * realtime vs offline servers). Batch form here; the streaming form lives
  * in graft.streaming. Latest-per-key is a single hash shuffle on the key
  * (window row_number), which at 100 TB is the minimal repartition any
  * upsert semantics needs.
  */
object UpsertQueries {

  /** SCD Type-2 dimension built from the event changelog (shared by
    * q_scd2_build and q_scd2_asof): per-key runs of equal state collapse
    * to versioned validity intervals [valid_from, valid_to), the current
    * run open-ended (valid_to NULL). One hash shuffle on the key; run
    * detection and interval assembly are per-key windows over the
    * (ts, event_id) total order, then runs partial-aggregate map-side.
    */
  private def scd2Dim(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.operators.Scd2.build(
      Tables.events(s, d).filter(col("user_id") % 10 === 0))

  val defs: Seq[QueryDef] = Seq(
    // Latest-per-key as an AGGREGATE (max_by over a (ts, event_id) struct
    // key), not a window: hash aggregation partially combines map-side, so
    // only one candidate row per (key, map task) reaches the shuffle —
    // strictly less data movement than the row_number() window form, which
    // shuffles every event.
    QueryDef(
      "q_upsert_latest",
      (s, d) =>
        Tables.events(s, d)
          .groupBy("user_id")
          .agg(max_by(
            struct(col("event_id"), col("event_type"), col("value")),
            struct(col("ts"), col("event_id"))).as("last"))
          .select(
            col("user_id"),
            col("last.event_id").as("last_event_id"),
            col("last.event_type").as("last_type"),
            col("last.value").as("last_value"))
          .orderBy("user_id"),
      Some("""SELECT user_id, event_id AS last_event_id, event_type AS last_type,
                     value AS last_value
              FROM (SELECT *, row_number() OVER
                      (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                    FROM events)
              WHERE rn = 1 ORDER BY user_id""")),

    // Upsert with DELETE semantics (Pinot's delete-on-upsert): the latest
    // record per key wins, and a key whose LATEST record is a tombstone
    // (here: deterministic marker event_id % 50 == 0) disappears from the
    // view entirely — still one partial-aggregating max_by pass.
    QueryDef(
      "q_upsert_delete",
      (s, d) =>
        Tables.events(s, d)
          .groupBy("user_id")
          .agg(max_by(
            struct(col("event_id"), col("event_type"),
              (col("event_id") % 50 === 0).as("del")),
            struct(col("ts"), col("event_id"))).as("last"))
          .filter(!col("last.del"))
          .select(
            col("user_id"),
            col("last.event_id").as("last_event_id"),
            col("last.event_type").as("last_type"))
          .orderBy("user_id"),
      Some("""SELECT user_id, event_id AS last_event_id, event_type AS last_type
              FROM (SELECT *, row_number() OVER
                      (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                    FROM events)
              WHERE rn = 1 AND event_id % 50 <> 0 ORDER BY user_id""")),

    // PARTIAL upsert — Pinot's per-column merge strategies applied in one
    // aggregate pass: OVERWRITE (latest non-null: last purchase amount via
    // max_by with a null-when-absent ordering key), INCREMENT (running
    // sum), APPEND (event count), UNION (distinct type set). All partial
    // aggregates — map-side combine everywhere.
    QueryDef(
      "q_upsert_partial",
      (s, d) =>
        Tables.events(s, d)
          .groupBy("user_id")
          .agg(
            round(sum("value"), 2).as("total_value"),
            count(lit(1)).as("n_events"),
            array_join(array_sort(collect_set(col("event_type"))), ",").as("types_union"),
            max_by(col("value"),
              when(col("event_type") === "purchase",
                struct(col("ts"), col("event_id")))).as("last_purchase_value"))
          .orderBy("user_id"),
      Some("""WITH lastp AS (
                SELECT user_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM events WHERE event_type = 'purchase')
              SELECT e.user_id,
                     round(sum(e.value), 2) AS total_value,
                     count(*) AS n_events,
                     array_to_string(list_sort(list(DISTINCT e.event_type)), ',') AS types_union,
                     max(lp.value) AS last_purchase_value
              FROM events e
              LEFT JOIN (SELECT user_id, value FROM lastp WHERE rn = 1) lp
                USING (user_id)
              GROUP BY e.user_id ORDER BY e.user_id""")),

    // FUNNEL with a max-step-duration window: users whose first signup is
    // followed by a purchase within 7 days. Range predicate rides on the
    // user_id equi-join (hash join + filter — no cross join); left-semi so
    // each user counts once.
    QueryDef(
      "q_funnel_window",
      (s, d) => {
        val ev = Tables.events(s, d)
        val signup = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("ts")).as("signup_ts"))
        val purchase = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"))
        signup.join(purchase,
            Seq("user_id"), "inner")
          .filter(col("p_ts") > col("signup_ts") &&
            col("p_ts") <= col("signup_ts") + expr("INTERVAL 7 DAYS"))
          .select("user_id").distinct()
          .agg(count(lit(1)).as("n_converted"))
      },
      Some("""WITH s AS (SELECT user_id, min(ts) AS signup_ts FROM events
                         WHERE event_type = 'signup' GROUP BY 1)
              SELECT count(*) AS n_converted FROM s
              WHERE EXISTS (SELECT 1 FROM events p
                            WHERE p.user_id = s.user_id
                              AND p.event_type = 'purchase'
                              AND p.ts > s.signup_ts
                              AND p.ts <= s.signup_ts + INTERVAL 7 DAY)""")),

    // Hybrid table: queries hit the offline segments before the time
    // boundary and realtime segments after it; the union must equal the
    // whole-table answer (the oracle aggregates the raw table directly).
    QueryDef(
      "q_hybrid_boundary",
      (s, d) => {
        val ev = Tables.events(s, d)
        val boundary = to_timestamp(lit("2024-01-15"))
        val offline = ev.filter(col("ts") < boundary)
        val realtime = ev.filter(col("ts") >= boundary)
        offline.unionByName(realtime)
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_val"))
          .orderBy("day")
      },
      Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS cnt,
                     round(sum(value), 2) AS sum_val
              FROM events GROUP BY 1 ORDER BY day""")),

    // Hybrid table with a CATALOG-DERIVED boundary + realtime→offline
    // PROMOTION (sources.HybridTable — Pinot's broker time-boundary rule
    // and RealtimeToOfflineSegments task): builds the two-sided layout
    // from events, reads the union with the boundary derived from offline
    // parquet FOOTER metadata (no boundary file yet), promotes the
    // completed realtime granules (one atomic boundary-file rename flips
    // visibility), and reads again. Both phases must equal the
    // whole-table oracle — no row lost or double-served across the swap.
    QueryDef(
      "q_hybrid_catalog",
      (s, d) => {
        val root = "/tmp/graft_hybrid_" +
          Integer.toHexString(d.hashCode & 0x7fffffff) +
          "_p" + ProcessHandle.current().pid()
        // rewritten on every build (the promotion moves its granules), so
        // a scratch layout rather than a memo; deleted when the JVM exits
        graft.engine.Artifacts.deleteAtExit(root)
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val ev = Tables.events(s, d)
        val cut = to_timestamp(lit("2024-01-15"))
        graft.sources.HybridTable.withMicrosTimestamps(s) {
          ev.filter(col("ts") < cut).write
            .parquet(graft.sources.HybridTable.offlineDir(root))
          ev.filter(col("ts") >= cut).write
            .parquet(graft.sources.HybridTable.realtimeDir(root))
        }
        def phase(name: String) =
          graft.sources.HybridTable.read(s, root, "ts")
            .groupBy(date_trunc("day", col("ts")).as("day"))
            .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_val"))
            .withColumn("phase", lit(name))
        val before = phase("before").localCheckpoint() // pin pre-promotion state
        graft.sources.HybridTable.promoteRealtime(s, root, "ts")
          .getOrElse(throw new IllegalStateException("promotion lease denied"))
        before.unionByName(phase("after"))
          .select("phase", "day", "cnt", "sum_val")
          .orderBy("phase", "day")
      },
      Some("""WITH agg AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                                  count(*) AS cnt, round(sum(value), 2) AS sum_val
                           FROM events GROUP BY 1),
                   phases AS (SELECT 'after' AS phase UNION ALL SELECT 'before')
              SELECT phase, day, cnt, sum_val FROM phases, agg
              ORDER BY phase, day""")),

    // SCD TYPE-2 history build — the history-PRESERVING dual of
    // q_upsert_latest: instead of keeping only each key's newest state,
    // collapse its event stream into versioned validity intervals
    // [valid_from, valid_to) with the current run open-ended (the
    // dimension-table form every warehouse derives from a Pinot-style
    // upsert changelog). Run detection is one lag() + running sum over
    // the per-user (ts, event_id) total order — a single hash shuffle on
    // the key, the minimal movement any per-key history needs; runs then
    // partial-aggregate map-side. The user_id % 10 slice bounds the
    // verified output, not the plan.
    QueryDef(
      "q_scd2_build",
      (s, d) => scd2Dim(s, d).orderBy("user_id", "version"),
      Some("""WITH e AS (SELECT * FROM events WHERE user_id % 10 = 0),
                   r AS (SELECT user_id, event_type, ts, event_id,
                           CASE WHEN lag(event_type) OVER w IS NOT NULL
                                     AND lag(event_type) OVER w = event_type
                                THEN 0 ELSE 1 END AS chg
                         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
                   v AS (SELECT user_id, event_type, ts,
                           CAST(sum(chg) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id) AS BIGINT) AS version
                         FROM r),
                   g AS (SELECT user_id, version, max(event_type) AS state,
                                min(ts) AS valid_from, count(*) AS n_events
                         FROM v GROUP BY 1, 2)
              SELECT user_id, version, state, valid_from,
                     lead(valid_from) OVER (PARTITION BY user_id
                                            ORDER BY version) AS valid_to,
                     CAST(n_events AS BIGINT) AS n_events
              FROM g ORDER BY user_id, version""")),

    // POINT-IN-TIME (as-of) lookup against the SCD2 dimension — the
    // consumption side of q_scd2_build: enrich each probe with the state
    // version whose [valid_from, valid_to) interval contains the probe
    // time. Implemented as an equi-join on the key with the containment
    // predicate as a residual filter — per-key fan-out is the user's
    // version count (bounded by their change history), and half-open
    // intervals make the match EXACTLY ONE version per probe with no tie
    // ambiguity (runs sharing a min-ts produce an empty interval that can
    // contain nothing) — the determinism a timestamp-as-of carry cannot
    // guarantee when two versions share a valid_from. At 100 TB the dim
    // is the small side: broadcast or co-bucket on the key.
    QueryDef(
      "q_scd2_asof",
      (s, d) => {
        // dim key renamed so the probe↔dim self-lineage (both sides read
        // events) can never collapse to a trivially-true equi-predicate
        val dim = scd2Dim(s, d).withColumnRenamed("user_id", "d_user_id")
        val probes = Tables.events(s, d)
          .filter(col("user_id") % 10 === 0 && col("event_id") % 7 === 0)
          .select(col("event_id"), col("user_id"),
            (col("ts") + expr("INTERVAL 30 MINUTES")).as("pts"))
        probes.join(dim,
            col("user_id") === col("d_user_id") &&
              col("valid_from") <= col("pts") &&
              (col("valid_to").isNull || col("pts") < col("valid_to")))
          .select(col("event_id"), col("user_id"), col("pts"),
            col("version"), col("state"), col("n_events"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT * FROM events WHERE user_id % 10 = 0),
                   r AS (SELECT user_id, event_type, ts, event_id,
                           CASE WHEN lag(event_type) OVER w IS NOT NULL
                                     AND lag(event_type) OVER w = event_type
                                THEN 0 ELSE 1 END AS chg
                         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
                   v AS (SELECT user_id, event_type, ts,
                           CAST(sum(chg) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id) AS BIGINT) AS version
                         FROM r),
                   g AS (SELECT user_id, version, max(event_type) AS state,
                                min(ts) AS valid_from, count(*) AS n_events
                         FROM v GROUP BY 1, 2),
                   dim AS (SELECT user_id, version, state, valid_from,
                                  lead(valid_from) OVER (PARTITION BY user_id
                                                         ORDER BY version) AS valid_to,
                                  CAST(n_events AS BIGINT) AS n_events
                           FROM g),
                   probes AS (SELECT event_id, user_id,
                                     ts + INTERVAL 30 MINUTE AS pts
                              FROM e WHERE event_id % 7 = 0)
              SELECT p.event_id, p.user_id, p.pts, dim.version, dim.state,
                     dim.n_events
              FROM probes p JOIN dim
                ON p.user_id = dim.user_id
               AND dim.valid_from <= p.pts
               AND (dim.valid_to IS NULL OR p.pts < dim.valid_to)
              ORDER BY p.event_id"""))
  )
}
