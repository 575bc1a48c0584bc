package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-measured scaling curve for the expensive dedup/ANN/curation family.
  *
  * The driver's fixtures stop at sf0.1, so the 100 TB posture of these
  * operators rests on plan-shape arguments alone. This main converts "the
  * plan is right" into "the slope is right": it synthesizes a C×-bigger
  * corpus from the sf0.1 documents/embeddings tables (content-perturbed so
  * the copies are NOT near-duplicates of each other — a naive self-union
  * would grow the true-pair count quadratically in the copy count and no
  * engine would look linear), writes BOTH scales through the same Spark
  * writer (identical file layout, unlike the driver's single-row-group
  * fixtures), and times the five most expensive registry queries at each
  * scale.
  *
  * Perturbation keeps within-copy structure exactly: copy k suffixes every
  * text token with k (shingle sets disjoint across copies, identical inside
  * a copy) and rolls each embedding by k positions (norm preserved,
  * cross-copy cosine ≈ random). So ground-truth work grows exactly C× and
  * a measured time ratio ≈ C means linear scaling.
  *
  * Usage: runMain graft.ScaleBench [copies] — prints one JSON line per
  * scale plus a final {"metric":"scale_slope",...} summary.
  *
  * Full-registry mode: `runMain graft.ScaleBench full [copies]`
  * synthesizes EVERY table C× (relational tables replicate with
  * copy-shifted keys so joins/windows stay within-copy; documents/
  * embeddings keep the content-perturbed synthesis) and times the whole
  * registry at both scales — the superlinear-operator sweep that catches
  * a bad constant hiding OUTSIDE the audited expensive family. Emits an
  * extra {"metric":"scale_superlinear",...} line flagging any query with
  * slope > 1.3×copies (sub-50ms fixed-cost queries listed separately —
  * a ratio of two planning-overhead constants is not a data slope).
  */
object ScaleBench {

  private val QueryNames = Seq(
    "q_dedup_embedding", "q_dedup_ngram_jaccard", "q_dedup_clusters",
    "q_ann_ivf", "q_curation",
    // round-6 corpus family: the three shuffle-bearing new operators
    // (span-dedup window, LM-score explode+join, n-gram rollup);
    // q_mix_weighted is a pure scan predicate and has nothing to measure.
    "q_dedup_span", "q_lm_quality", "q_ngram_top",
    // round-6 additions: TF-IDF (tf shuffle + vocab join + per-doc window),
    // feature-hash embedding (per-doc rollup), sliding-window chunking
    // (expected ~1.0 — scan-local by construction, the measurement is the
    // proof).
    "q_tfidf_top", "q_text_embed", "q_chunk_docs",
    // round-7 curation family: quality gates (scan-local, expected ~flat),
    // boilerplate span df-strip (span rollup + broadcast-back), domain
    // capping (dictionary rollup + broadcast predicate).
    "q_quality_gates", "q_boilerplate_strip", "q_domain_cap",
    // round-9 quadratic-consumer shortlist (the 30× three-point check):
    // embedding clustering, Lloyd k-means, k-center coreset — each had a
    // benign >C× slope at 10× whose true exponent only shows further out.
    "q_dedup_embedding_clusters", "q_kmeans", "q_coreset_kcenter",
    // round-9 PQ rework check: training is bounded-sample driver-local
    // and encode is one scan-local projection, so both should measure
    // ~flat-to-linear at any corpus multiple.
    "q_ann_pq", "q_ann_ivfpq",
    // round-9 sorted-neighborhood rework check: candidates are O(n·W) by
    // construction, so the slope should stay ~linear at any multiple.
    "q_dedup_edit",
    // round-10 additions: the production-posture embedding dedup
    // (threshold-tuned banding + bucket-occupancy cap — the registry row
    // whose slope answers the r9 "bound the candidate stream" item), the
    // exhaustive-band minhash exact twin, and probe-all LSH (expected
    // ~C× — it IS brute force through bucket machinery).
    // q_rolling_active_theta_exact reads EVENTS, which the shortlist
    // synthesizer doesn't build — it is covered by full mode instead.
    "q_dedup_embedding_prod", "q_dedup_minhash_exact",
    "q_ann_lsh_exact",
    // round-14 addition: the exhaustive-recall curation twin — the most
    // expensive new registry row (banding at numBands = NumHashes), so
    // its slope stays under standing measurement (7.8x at 100x in r14).
    "q_curation_exact")

  /** The shortlist's builders: the registry entries above plus
    * `dedup_embedding_t09`. An unknown name is a wiring bug and throws:
    * output-growth adjudication against a mismatched builder would quietly
    * mis-grade a future shortlist entry.
    *
    * The registry's q_dedup_embedding runs the fixture-calibrated
    * threshold 0.4, where ~0.4% of RANDOM pairs qualify — so the true-pair
    * OUTPUT grows quadratically with corpus size by construction and no
    * exact pair-finder can look linear in input rows. The production
    * near-dup setting (cos ≥ 0.9, r=8/b=16 per EmbeddingLsh's analysis) is
    * the 100 TB-relevant slope, measured here alongside it.
    */
  private def shortlist: Map[String, Harness.Query] =
    Harness.select(QueryNames) + ("dedup_embedding_t09" -> dedupEmbeddingT09 _)

  private def dedupEmbeddingT09(s: SparkSession, d: String): DataFrame =
    graft.dedup.EmbeddingLsh.nearPairs(
      graft.engine.Tables.embeddings(s, d), "vec_id", "embedding",
      threshold = 0.9, r = 8, b = 16)

  def main(args: Array[String]): Unit = {
    val baseDir = Harness.sfDir
    val full = args.headOption.contains("full")
    val hybrid = args.headOption.contains("hybrid")
    val scaleArgs = if (full || hybrid) args.drop(1) else args
    val copies = scaleArgs.headOption.map(_.toInt).getOrElse(10)
    // SPARK_GRAFT_ONLY restricts either mode to named queries (time
    // stragglers added after a sweep without paying the whole registry
    // again)
    val queries = Harness.select(Harness.only,
      if (full) SparkEntry.queries else shortlist)
    val names = queries.keys.toSeq.sorted
    val spark = Harness.session("graft-scalebench")
    if (hybrid) { hybridScale(spark, baseDir, copies); spark.stop(); return }

    // Builder-side reruns: SPARK_GRAFT_SCALE_REUSE points at a previous
    // run's root (skips synthesis).
    val reuse = sys.env.get("SPARK_GRAFT_SCALE_REUSE")
    val root = reuse.getOrElse(s"/tmp/graft_scale_p${ProcessHandle.current().pid()}")
    val dir1 = s"$root/x1"
    val dirC = s"$root/x$copies"
    if (reuse.isEmpty) {
      if (full) {
        synthesizeAll(spark, baseDir, dir1, 1)
        synthesizeAll(spark, baseDir, dirC, copies)
      } else {
        synthesize(spark, baseDir, dir1, 1)
        synthesize(spark, baseDir, dirC, copies)
      }
    }

    def timeAll(dir: String, reps: Int): Map[String, Double] = names.map { name =>
      val times = (1 to reps).flatMap { _ =>
        // Cold per rep: memoized artifacts would otherwise make reps 2..N
        // measure a memo lookup instead of the work whose scaling we're
        // here to measure.
        graft.engine.Artifacts.invalidateAll()
        Harness.tryTime(spark, dir, queries(name), s"[scale] $name at $dir")
      }
      // min for <=2 reps: every rep is cold, so the fastest is still full
      // work. Cold includes the registry fixtures: invalidateAll releases
      // their memo entries too, so q_startree_hll copies its fact and
      // builds its cube on every rep, at 1x and Cx alike.
      name -> (if (times.isEmpty) Double.NaN
               else if (times.size <= 2) times.min
               else times.sorted.apply(times.size / 2))
    }.toMap

    def f3(v: Double) = "%.3f".format(v)
    // Full mode runs every registry query, so the C× pass gets two reps
    // (min-of-2: rep 1 pays any one-time materialization — cube build,
    // index write — and rep 2 measures serving, matching what the 1×
    // median-of-3 measures; the per-rep cache invalidation above keeps
    // the QUERY work itself cold both reps).
    val t1 = timeAll(dir1, reps = 3)
    val tC = timeAll(dirC, reps = if (full) 2 else 3)
    def line(scale: Int, t: Map[String, Double]) =
      s"""{"metric":"scale_times","scale":$scale,"queries":{${
        names.map(n => s"\"$n\":${f3(t(n))}").mkString(",")}}}"""
    println(line(1, t1))
    println(line(copies, tC))
    val slopes = names.map(n => n -> tC(n) / t1(n))
    println(s"""{"metric":"scale_slope","copies":$copies,"slopes":{${
      slopes.map { case (n, s) => s"\"$n\":${f3(s)}" }.mkString(",")}}}""")
    // Output-growth adjudication for anything slower than input-linear,
    // in EITHER mode (the full-mode watchlist discipline, applied to the
    // shortlist's three-point runs too): a time slope above C on a
    // replicated corpus is only superlinear ENGINE behavior if the true
    // answer didn't itself grow faster than C — at the shortlist's
    // calibrated thresholds the cross-copy pair count does grow
    // quadratically by construction, and this line records it.
    val overLinear = slopes.collect {
      case (n, sl) if sl > copies && !sl.isNaN && t1(n) >= 0.05 => (n, sl)
    }
    if (overLinear.nonEmpty) {
      val adj = overLinear.map { case (n, sl) =>
        val fn = queries(n)
        val rows1 = fn(spark, dir1).count()
        val rowsC = fn(spark, dirC).count()
        val og = rowsC.toDouble / math.max(rows1, 1L)
        (n, sl, rows1, rowsC, og, sl / og)
      }
      println(s"""{"metric":"scale_output_growth","copies":$copies,"queries":{${
        adj.map { case (n, sl, r1, rC, og, pr) =>
          s"""\"$n\":{"slope":${f3(sl)},"rows_1x":$r1,"rows_${copies}x":$rC,"output_growth":${f3(og)},"slope_per_output":${f3(pr)}}"""
        }.mkString(",")}}}""")
    }
    if (full) {
      // The headline signal of full mode: anything growing meaningfully
      // FASTER than its input. Sub-50ms-at-1× queries are fixed-cost
      // (session/planning overhead dominates; a ratio of two constants
      // says nothing about data scaling) and are reported separately
      // rather than silently dropped.
      val fixedCost = slopes.collect { case (n, _) if t1(n) < 0.05 => n }
      val suspect = slopes.collect {
        case (n, sl) if t1(n) >= 0.05 && sl > copies * 1.3 => n -> sl
      }.sortBy(-_._2)
      // Adjudicate each flag with DATA instead of prose: a time slope is
      // only superlinear ENGINE behavior if the query's OUTPUT did not
      // itself grow superlinearly (replicated fixtures can make the true
      // answer quadratic — every copy's probe rows matching every copy's
      // build rows — and no exact operator can be input-linear when the
      // answer is). Report rows at both scales and the per-output-row
      // time ratio alongside the flag.
      val adjudicated = suspect.map { case (n, sl) =>
        val fn = queries(n)
        val rows1 = fn(spark, dir1).count()
        val rowsC = fn(spark, dirC).count()
        val outGrowth = rowsC.toDouble / math.max(rows1, 1L)
        val perRow = sl / outGrowth
        (n, sl, rows1, rowsC, outGrowth, perRow)
      }
      println(s"""{"metric":"scale_superlinear","copies":$copies,"threshold":${f3(copies * 1.3)},"flagged":{${
        adjudicated.map { case (n, sl, r1, rC, og, pr) =>
          s"""\"$n\":{"slope":${f3(sl)},"rows_1x":$r1,"rows_${copies}x":$rC,"output_growth":${f3(og)},"slope_per_output":${f3(pr)},"slope_per_input":${f3(sl / copies)}}"""
        }.mkString(",")}},"fixed_cost_skipped":[${
        fixedCost.map(n => s"\"$n\"").mkString(",")}]}""")
      // Standing WATCHLIST: the steepest sub-threshold slopes get the
      // same output-growth adjudication as flagged queries EVERY sweep
      // (not only when they cross the flag line) — a raw time slope on a
      // replicated corpus says nothing about engine behavior until it is
      // normalized by how much the true ANSWER grew (cross-copy near-dup
      // pairs and value-band matches grow superlinearly by construction).
      val watchlist = Seq("q_dedup_embedding_prod", "q_dedup_edit",
        "q_range_join").filter(n => names.contains(n) && !t1(n).isNaN)
      val watched = watchlist.map { n =>
        val fn = queries(n)
        val rows1 = fn(spark, dir1).count()
        val rowsC = fn(spark, dirC).count()
        val outGrowth = rowsC.toDouble / math.max(rows1, 1L)
        val sl = tC(n) / t1(n)
        (n, sl, rows1, rowsC, outGrowth, sl / outGrowth)
      }
      println(s"""{"metric":"scale_watchlist","copies":$copies,"watched":{${
        watched.map { case (n, sl, r1, rC, og, pr) =>
          s"""\"$n\":{"slope":${f3(sl)},"rows_1x":$r1,"rows_${copies}x":$rC,"output_growth":${f3(og)},"slope_per_output":${f3(pr)},"slope_per_input":${f3(sl / copies)}}"""
        }.mkString(",")}}}""")
    }
    spark.stop()
  }

  /** Integer id/key columns that shift by copy so each replica is a
    * self-contained shard: joins and per-entity windows never match
    * across copies, so ground-truth join/agg/window work grows exactly
    * C× (a plain self-union would instead square the within-key work).
    */
  private val IdNames = Set("event_id", "user_id", "doc_id", "vec_id")

  /** Continuous columns that act as VALUE-JOIN domains (q_range_join
    * bands o_totalprice against customer-derived intervals). These shift
    * by copy too: replicas sharing one value domain would make every
    * value-range join match ACROSS copies — quadratic ground-truth
    * output by construction, which no linear engine can hide (the same
    * artifact class as self-union dedup; measured as a false 21.7×
    * q_range_join slope before this shift). The interval domain is
    * [0, 405000), so 1M per copy keeps copies disjoint.
    */
  private val ValueShiftCols = Set("o_totalprice")

  /** Generic C× replication of one table for full-registry mode. */
  private def replicateTable(
      spark: SparkSession, baseDir: String, outDir: String,
      name: String, copies: Int): Unit = {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    val idShift = 10000000L
    val valueShift = 1000000.0
    val base =
      if (name == "events") graft.engine.Tables.events(spark, baseDir)
      else graft.engine.Tables(spark, baseDir, name)
    val replicas = (0 until copies).map { k =>
      base.select(base.schema.fields.toSeq.map { f =>
        val isId = (f.name.endsWith("key") || IdNames(f.name)) &&
          (f.dataType == LongType || f.dataType == IntegerType)
        if (isId && k > 0)
          (col(f.name) + lit(k.toLong * idShift)).cast(f.dataType).as(f.name)
        else if (ValueShiftCols(f.name) && f.dataType == DoubleType && k > 0)
          (col(f.name) + lit(k * valueShift)).as(f.name)
        else col(f.name)
      }: _*)
    }.reduce(_ unionByName _)
    replicas.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
  }

  /** Hybrid-table promotion scale check (`runMain graft.ScaleBench hybrid
    * [copies]`): the 100 TB claim under test is that promotion touches
    * ONLY the promoted granules — O(delta), never O(history) — and that
    * the boundary derivation is a driver-side footer read. Fixture: the
    * realtime delta is IDENTICAL at both scales (the events table's last
    * 4 days: 3 complete granules + the open one) while the offline
    * history deepens C× (each copy shifted 31·k days earlier, so history
    * granule count grows C× too). A flat promote/derive slope as history
    * grows 100× is the evidence; a slope tracking C would mean promotion
    * secretly rewrites history.
    */
  def hybridScale(spark: SparkSession, baseDir: String, copies: Int): Unit = {
    import graft.sources.HybridTable
    val ev = graft.engine.Tables.events(spark, baseDir)
    val cut = to_timestamp(lit("2024-01-27"))
    def f3(v: Double) = "%.3f".format(v)
    val results = Seq(1, copies).map { c =>
      val root = s"/tmp/graft_hybrid_scale_p${ProcessHandle.current().pid()}/x$c"
      val fsPath = new org.apache.hadoop.fs.Path(root)
      val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(fsPath, true)
      val history = (0 until c).map { k =>
        ev.filter(col("ts") < cut)
          .withColumn("ts", col("ts") - expr(s"INTERVAL ${31L * k} DAYS"))
          .withColumn("event_id", col("event_id") + lit(10000000L * k))
      }.reduce(_ unionByName _)
      HybridTable.withMicrosTimestamps(spark) {
        history.write.parquet(HybridTable.offlineDir(root))
      }
      val rtSlice = ev.filter(col("ts") >= cut)
      // 3 timed reps; the boundary file and stage dirs are reset between
      // reps so every rep promotes the same 3 complete granules.
      val times = (1 to 3).map { _ =>
        fs.delete(new org.apache.hadoop.fs.Path(root, "_time_boundary"), false)
        // drop every stage dir from the previous rep (named promoted=<range
        // start>), or rep 2 would derive its boundary from rep 1's output
        fs.listStatus(new org.apache.hadoop.fs.Path(HybridTable.offlineDir(root)))
          .filter(_.getPath.getName.startsWith("promoted="))
          .foreach(st => fs.delete(st.getPath, true))
        fs.delete(new org.apache.hadoop.fs.Path(HybridTable.realtimeDir(root)), true)
        HybridTable.withMicrosTimestamps(spark) {
          rtSlice.write.parquet(HybridTable.realtimeDir(root))
        }
        val d0 = System.nanoTime()
        val derived = HybridTable.deriveBoundary(spark, root, "ts")
        val dSec = (System.nanoTime() - d0) / 1e9
        require(derived.nonEmpty, "boundary must derive from offline footers")
        val p0 = System.nanoTime()
        val stats = HybridTable
          .promoteRealtime(spark, root, "ts", gcRealtime = false)
          .getOrElse(throw new IllegalStateException("promotion lease denied"))
        val pSec = (System.nanoTime() - p0) / 1e9
        require(stats.promotedRows > 0, "promotion must move the complete granules")
        (dSec, pSec, stats.promotedRows)
      }
      val derive = times.map(_._1).sorted.apply(1)
      val promote = times.map(_._2).sorted.apply(1)
      println(s"""{"metric":"hybrid_scale","history_copies":$c,""" +
        s""""derive_sec":${f3(derive)},"promote_sec":${f3(promote)},""" +
        s""""promoted_rows":${times.head._3}}""")
      fs.delete(fsPath, true)
      (c, derive, promote, times.head._3)
    }
    val (_, d1, p1, rows1) = results.head
    val (c, dC, pC, rowsC) = results.last
    require(rows1 == rowsC, s"delta must be scale-invariant: $rows1 vs $rowsC")
    println(s"""{"metric":"hybrid_scale_summary","copies":$c,""" +
      s""""derive_slope":${f3(dC / d1)},"promote_slope":${f3(pC / p1)},""" +
      s""""promoted_rows":$rows1,"note":"fixed realtime delta, history x$c"}""")
  }

  /** Full-registry corpus: every table the registry reads, C×. Documents
    * and embeddings keep the content-perturbed synthesis (dedup/ANN
    * ground truth must not grow quadratically); the relational tables
    * replicate with shifted keys.
    */
  private def synthesizeAll(
      spark: SparkSession, baseDir: String, outDir: String, copies: Int): Unit = {
    synthesize(spark, baseDir, outDir, copies)
    Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events")
      .foreach(t => replicateTable(spark, baseDir, outDir, t, copies))
  }

  /** Write a `copies`× corpus (documents + embeddings) derived from
    * `baseDir` under `outDir`, content-perturbed per copy (see class doc).
    */
  def synthesize(spark: SparkSession, baseDir: String, outDir: String, copies: Int): Unit = {
    val idShift = 10000000L
    val docs = graft.engine.Tables.documents(spark, baseDir)
    val docsC = (0 until copies).map { k =>
      val text =
        if (k == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", "$1" + k.toString)
      docs.select(
        (col("doc_id") + lit(k * idShift)).as("doc_id"),
        text.as("text"),
        col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }.reduce(_ unionByName _)
    docsC.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = graft.engine.Tables.embeddings(spark, baseDir)
    val embC = (0 until copies).map { k =>
      // roll by k positions: norm preserved, cross-copy cosine ≈ random
      val dim = 64
      val r = k % dim
      val rolled =
        if (r == 0) col("embedding")
        else concat(
          slice(col("embedding"), r + 1, dim - r),
          slice(col("embedding"), 1, r))
      emb.select(
        (col("vec_id") + lit(k * idShift)).as("vec_id"),
        rolled.as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
    embC.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }
}
