package graft

import graft.queries.Registry

/** Plan lint over the ENTIRE query registry: no operator offered by the
  * engine may plan a cartesian product or a broadcast nested-loop join.
  * This is the spec form of SURVEY §4's "never cross joins" claim — it
  * sweeps every registry entry (so a future operator that quietly plans an
  * O(n²) join fails CI here), instead of trusting per-operator review.
  *
  * Allowlist: queries that cross-join two SINGLE-ROW aggregate results
  * (a 1×1 cartesian is how Spark combines two scalar subqueries; constant
  * cost at any corpus scale).
  */
class PlanLintSpec extends SparkSpec {

  private val scalarCrossJoinOk = Set("q_funnel", "q_set_ops", "q_set_ops_sketch",
    "q_set_ops_diff", "q_funnel_window", "q_dedup_image",
    // the single-row (total, n) aggregate crosses the day dictionary and
    // the result is the one argmax split row
    "q_changepoint",
    // the single-row (var18, n_seasons, n_days) aggregate crosses the
    // single-row S aggregate; the pairwise work itself is an EQUI-join
    "q_seasonal_mk",
    // the single-row control-arm quantile row crosses the single-row
    // treatment-arm quantile row (both from the dictionary operator)
    "q_qte")

  /** Broadcast-bounded by construction: one side is a dictionary-sized
    * set the operator broadcasts ON PURPOSE, so the "nested loop" is a
    * single pass over the big side with a constant-size probe table —
    * linear in the corpus, not O(n²).
    *  - q_knn_brute: the brute-force baseline's DEFINITION is every
    *    (query, candidate) pair; the bounded query set broadcasts.
    *  - q_ann_ivf: probe selection crosses queries × the centroid table
    *    (numCentroids rows); the corpus join below it is an equi-join on
    *    `cell`.
    *  - q_tfidf_top: the corpus-size scalar N (one row) broadcasts onto
    *    the scored term table; everything else is an equi-join.
    *  - q_bm25 / q_domain_cap: the same scalar-N pattern — one
    *    single-row corpus-stats aggregate (N/avgdl/df…, resp. the
    *    total-docs row) broadcasts onto a per-doc/per-host table.
    *  - q_lm_bigram: the single-row vocabulary-size aggregate broadcasts
    *    onto the per-doc-bigram table (scalar-N pattern).
    *  - q_mix_temperature: the single-row (N, Σn^α) totals broadcast onto
    *    the dictionary-sized per-source counts to derive rates.
    *  - q_lm_quality / q_pmi_phrases: the single-row corpus-total
    *    aggregates broadcast back onto the vocab / bigram count tables
    *    (replacing what used to be an unpartitioned window there).
    *  - q_histogram_eqdepth: the single-row quartile-edges aggregate
    *    (from the dictionary-histogram percentile operator) broadcasts
    *    onto the counting scan (scalar-N pattern).
    *  - q_ann_pq / q_ann_ivfpq: the per-query ADC distance table
    *    (queries × m·kCodes rows — broadcast class) crosses the codes
    *    scan (resp. the probed-cells equi-join), q_knn_brute's shape
    *    with 32×-smaller per-row payload; the rerank stage joins only
    *    the shortlist back to vectors.
    */
  // q_ann_ivf_exact: q_ann_ivf's probe-all twin — identical probe shape
  // (bounded query set × broadcast centroid table), just nProbe=cells
  // q_ann_pq_exact: q_ann_pq's covering-shortlist twin — identical ADC
  // broadcast shape, just rerankFactor sized to cover the corpus
  // q_multimodal_embed: q_knn_brute's exact shape over the embedded
  // image corpus (bounded query set broadcasts onto the candidate scan)
  // q_multimodal_embed_exact: the class-constant exact twin — identical
  // broadcast-probe shape, only the pixel fixture differs
  private val broadcastBoundedOk = Set("q_knn_brute", "q_ann_ivf",
    "q_ann_ivf_exact", "q_ann_pq_exact", "q_multimodal_embed",
    "q_multimodal_embed_exact", "q_tfidf_top",
    "q_bm25", "q_hybrid_rrf", "q_domain_cap", "q_lm_bigram", "q_mix_temperature",
    "q_lm_quality", "q_pmi_phrases", "q_ann_pq", "q_ann_ivfpq",
    // q_ann_ivfpq's exact twin: the same broadcast ADC-table shape (the
    // probes×dtab broadcast riding the codes scan), just with both
    // breadth knobs opened (probe-all + covering shortlist)
    "q_ann_ivfpq_exact",
    "q_histogram_eqdepth",
    // scalar-N pattern: the single-row max-day bound broadcasts onto the
    // exploded window-day table; all heavy joins are equi-shuffles
    // (the _sketch twin explodes per-day HLL blobs, the _theta_exact
    // twin per-day theta blobs, instead of user rows)
    "q_rolling_active", "q_rolling_active_sketch",
    "q_rolling_active_theta_exact",
    // scalar-N pattern: the single-row mean-tokens-per-class aggregate
    // broadcasts onto the vocabulary-sized c-TF-IDF score table
    "q_cluster_topics",
    // scalar-N pattern twice: the single-row corpus max-day and the
    // single-row quartile-edge table broadcast onto the per-user rollup
    "q_rfm_segments",
    // scalar-N pattern: the single-row corpus token total broadcasts
    // onto the K=200 vocabulary shortlist
    "q_top_p_vocab",
    // q_knn_brute's broadcast-probe shape: the bounded query set
    // broadcasts over the labeled corpus scan; the vote stages join a
    // shortlist of k rows per query
    "q_knn_classify",
    // dictionary × dictionary: the pairwise `<` join runs on the per-type
    // SKETCH table (one row per event type), never raw rows
    "q_theta_jaccard", "q_theta_jaccard_exact",
    // scalar-N pattern: the single-row digit total broadcasts onto the
    // 9-key digit rollup
    "q_benford",
    // scalar-N pattern: the single-row corpus max-day broadcasts onto the
    // purchase scan to derive decay ages
    "q_ltv_decay",
    // q_knn_brute's broadcast-probe shape with the label-mismatch
    // predicate fused into the probe join
    "q_hard_negatives",
    // scalar-N pattern: the single-row global prior broadcasts onto the
    // category dictionary
    "q_target_encode",
    // scalar-N pattern: the single-row (G, B) class totals broadcast onto
    // the feature-bucket dictionary for the WoE/IV rates
    "q_woe_iv",
    // scalar-N pattern: the single-row corpus max-day broadcasts onto the
    // event scan to derive the data-relative cut
    "q_split_temporal",
    // constant query-token set × broadcast Zipf-tiny vocabulary — the
    // levenshtein probe never touches documents
    "q_spellcheck",
    // bounded query set × broadcast supplier DIMENSION (the q_knn_brute
    // economics with haversine)
    "q_geo_knn",
    // scalar-N pattern: the single-row temporal midpoint broadcasts onto
    // the event scan to split the halves
    "q_psi_drift",
    // scalar-N pattern: the single-row activity total broadcasts onto the
    // ≤168-cell heatmap rollup
    "q_dow_hour_heatmap",
    // scalar-N pattern: the single-row p90 cut broadcasts onto the
    // entity-sized per-user revenue rollup
    "q_pareto_revenue",
    // scalar-N pattern: the single-row (n_a, n_b) totals broadcast onto
    // the cents-dictionary cumulative table for the sup statistic
    "q_ks_test",
    // scalar-N pattern: the single-row Freedman-Diaconis bin width
    // broadcasts onto the cents scan
    "q_histogram_fd",
    // scalar-N pattern: the single-row signup total broadcasts onto the
    // lag-days dictionary for the cumulative share
    "q_conversion_lag",
    // scalar-N pattern: the single-row (total, n) aggregate and the
    // single-row Σr² denominator broadcast onto the day dictionary
    "q_acf",
    // scalar-N pattern twice: series totals + the single-row (Σra², Σrb²)
    // normalizer broadcast onto the day dictionary
    "q_cross_corr",
    // dictionary × dictionary: the pairwise `<` join runs on the day
    // dictionary (a few thousand rows for years), never raw events; the
    // scalar n row broadcasts for the variance term
    "q_trend_mk",
    // dictionary × dictionary: pairwise slopes over the day dictionary;
    // quantile selection is percentile_disc's value-count map (no sort)
    "q_theil_sen",
    // scalar-N pattern: the single-row (n, tot, g) totals broadcast onto
    // the 20-row jackknife block dictionary
    "q_jackknife",
    // scalar-N pattern: the single-row (n, dof) totals broadcast onto
    // the contingency-cell dictionary; margins attach by equi-join
    "q_chisq",
    // scalar-N pattern: the single-row baseline (n, S, Sxx) broadcasts
    // onto the day dictionary; rolling rule windows ride the dictionary
    "q_spc_rules",
    // scalar-N pattern: the single-row (n, r_med, r_lo, r_hi) rank row
    // broadcasts onto the purchase-cents dictionary for the three picks
    "q_median_ci",
    // q_median_ci's pattern at p90: single-row binomial rank bounds onto
    // the same cents dictionary
    "q_percentile_ci",
    // scalar-N pattern: the single-row host-dictionary COUNT broadcasts
    // onto the host dictionary for the ring-neighbor modulus (the lazy
    // replacement for the eager hosts.count() BuildLazinessSpec banned)
    "q_triangles",
    // identical fixture-graph construction to q_triangles (the degree-
    // ordered counting twin)
    "q_triangles_ordered")

  test("no registry query plans a cartesian or nested-loop join (scalar combines excepted)") {
    val allowed = scalarCrossJoinOk ++ broadcastBoundedOk
    val offenders = Registry.all.flatMap { q =>
      val plan = q.run(spark, sfDir).queryExecution.executedPlan.toString
      val hasCartesian = plan.contains("CartesianProduct") ||
        plan.contains("BroadcastNestedLoopJoin")
      if (hasCartesian && !allowed.contains(q.name)) Some(q.name) else None
    }
    assert(offenders.isEmpty,
      s"queries planning cartesian/nested-loop joins: ${offenders.mkString(", ")}")
  }

  test("broadcast-bounded exemptions broadcast the small side (no shuffle cartesian)") {
    broadcastBoundedOk.foreach { name =>
      Registry.all.find(_.name == name).foreach { q =>
        val plan = q.run(spark, sfDir).queryExecution.executedPlan.toString
        // a CartesianProduct would shuffle BOTH sides; these must stay
        // broadcast-shaped
        assert(!plan.contains("CartesianProduct"),
          s"$name degraded to a shuffle cartesian")
      }
    }
  }

  test("no HOF lambda re-evaluates a loop-invariant expensive expression per element") {
    // Higher-order functions (transform/filter/aggregate/...) evaluate
    // their lambda INTERPRETED, once per array element. An expensive
    // expression inlined into the lambda body that does NOT reference the
    // lambda variable is loop-invariant — it re-executes per element
    // (O(elements) splits/regexes per ROW; q_ngram_top measured 6× slower
    // from exactly this). The fix is always the same: materialize the
    // value in its own projection first. This lint sweeps every registry
    // query so the trap cannot recur.
    import org.apache.spark.sql.catalyst.expressions._
    def isExpensive(e: Expression): Boolean = e match {
      case _: StringSplit | _: RegExpReplace | _: RegExpExtract |
           _: Md5 | _: Sha2 | _: Crc32 | _: XxHash64 | _: Murmur3Hash => true
      // O(dim) per evaluation — the r9 PQ cache build burned 4.4 s
      // re-normalizing (vector_dot under sqrt) inside every candidate's
      // zip_with after CollapseProject inlined the hoisting projection;
      // the collapse-proof fix is the Pq.bind let-binding idiom
      case _: graft.functions.expressions.VectorDot => true
      case _ => false
    }
    def invariantExpensive(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.expressions.flatMap(_.collect {
        case hof: HigherOrderFunction =>
          hof.functions.collect { case LambdaFunction(body, _, _) =>
            body.collect {
              case e if isExpensive(e) &&
                !e.exists(_.isInstanceOf[NamedLambdaVariable]) => e.prettyName
            }
          }.flatten
      }.flatten)

    // negative control: the detector must flag the known-bad inlined form
    // (the exact shape q_ngram_top shipped with before the fix)
    import org.apache.spark.sql.functions._
    val toks = split(lower(col("text")), " ")
    val bad = graft.engine.Tables.documents(spark, sfDir)
      .select(transform(sequence(lit(1), size(toks) - 1),
        i => element_at(toks, i)).as("g"))
    assert(invariantExpensive(bad).nonEmpty,
      "lint self-check failed: the known-bad inlined-split HOF was not flagged")

    val offenders = Registry.all.flatMap { q =>
      val found = invariantExpensive(q.run(spark, sfDir))
      if (found.nonEmpty) Some(s"${q.name}: ${found.distinct.mkString(",")}") else None
    }
    assert(offenders.isEmpty,
      s"loop-invariant expensive expressions inside HOF lambdas: ${offenders.mkString("; ")}")
  }

  test("no registry query plans an unpartitioned window, save dictionary-sized exceptions") {
    // Window.partitionBy() (no keys) / OVER (ORDER BY …) moves EVERY row
    // to one partition — the "WindowExec: No Partition Defined" warning.
    // Corpus-sized inputs must never take that shape (scalar agg +
    // broadcast is the replacement — see q_domain_cap/q_lm_quality).
    // Exceptions are sequential-by-definition windows over inputs bounded
    // by a DIMENSION, not the corpus:
    //  - q_gapfill_prev: carry-forward over the day dimension (≤ tens of
    //    thousands of rows for decades of days);
    //  - q_topn_others: final rank over the already-aggregated event_type
    //    dictionary (one row per type).
    //  - q_histogram_eqdepth: the GLOBAL quartile pass — the group key is
    //    a constant, so the histogram-ranking window in Percentiles.exact
    //    folds to partitionBy(). Its input is the cents-value DICTIONARY
    //    (bounded by the price domain, constant in corpus size — exactly
    //    the state class of the partitioned stat passes in q_mad_outliers
    //    / q_winsorize, minus their group keys), never corpus rows.
    //  - q_rfm_segments: the same GLOBAL quartile pass as
    //    q_histogram_eqdepth, over the r/f/m VALUE dictionaries (day
    //    offsets, per-user counts, ten-dollar spend units — bounded by
    //    their domains, not by user count; the metrics are quantized
    //    integral for exactly this reason).
    import org.apache.spark.sql.execution.window.WindowExec
    //  - q_top_p_vocab: the cumulative-mass running sum — its input is a
    //    TakeOrderedAndProject shortlist bounded by the CONSTANT K=200,
    //    never corpus rows (the corpus-sized stage is the map-side-
    //    combined token rollup upstream of the limit).
    //  - q_seasonal_decompose: the centered-trend window over the DAY
    //    dictionary (a few thousand rows for years of data; the
    //    corpus-sized work is the daily rollup upstream) — the time axis
    //    is sequential by definition, same class as q_gapfill_prev.
    //  - q_triangles: the row_number id assignment over the HOST
    //    dictionary (one row per distinct source) — bounded by host
    //    cardinality, never documents.
    //  - q_pareto_revenue: q_histogram_eqdepth's GLOBAL quartile class —
    //    the constant-group histogram window runs over the user-revenue
    //    CENTS dictionary (bounded by the spend domain, like the RFM
    //    metrics), never raw rows.
    val globalWindowOk = Set("q_gapfill_prev", "q_topn_others",
      "q_histogram_eqdepth", "q_rfm_segments", "q_top_p_vocab",
      "q_seasonal_decompose", "q_triangles", "q_triangles_ordered",
      "q_pareto_revenue",
      // q_key_skew: the Gini rank window runs over the AGGREGATED
      // key-frequency dictionary (n_keys rows), not raw events
      "q_key_skew",
      // q_ks_test: the CDF cumulative window runs over the cents
      // dictionary (distinct metric values), not raw events
      "q_ks_test",
      // q_mutual_info: the grand-total window runs over the |a|·|b|
      // contingency-cell dictionary (~35 rows), not raw events
      "q_mutual_info",
      // q_histogram_fd: the constant-key IQR window collapses to a global
      // window over the cents DICTIONARY (the constant partition key is
      // folded away in the physical plan), not raw events
      "q_histogram_fd",
      // q_conversion_lag: the cumulative window runs over the lag-days
      // dictionary (bounded by the observation span), not raw events
      "q_conversion_lag",
      // q_changepoint / q_acf / q_cross_corr / q_spc_rules: the
      // cumulative / lead-lag / rolling-rule windows run over the DAY
      // dictionary (q_seasonal_decompose's class) — the corpus-sized
      // work is the daily rollup upstream
      "q_changepoint", "q_acf", "q_cross_corr", "q_spc_rules",
      // q_mwu_test / q_auc: the rank cumulative window runs over the
      // cents dictionary (q_ks_test's class), never raw events
      "q_mwu_test", "q_auc",
      // q_survival_km: the n_risk / KM-product windows run over the
      // DURATION dictionary (bounded by the observation span in days);
      // the corpus-sized work is the per-user rollup upstream
      "q_survival_km",
      // q_gini: the tied-rank cumulative window rides the revenue-cents
      // dictionary (q_ks_test's class), never per-user rows
      "q_gini",
      // q_skyline: the two running-max dominance windows ride the
      // price-cents dictionary (q_ks_test's class), never part rows
      "q_skyline",
      // q_median_ci / q_percentile_ci: the cumulative window rides the
      // purchase-cents dictionary (q_ks_test's class — bounded by the
      // price domain), never raw events; the corpus-sized work is the
      // cents rollup
      "q_median_ci", "q_percentile_ci")
    val offenders = Registry.all.flatMap { q =>
      val global = q.run(spark, sfDir).queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      if (global.nonEmpty && !globalWindowOk.contains(q.name)) Some(q.name) else None
    }
    assert(offenders.isEmpty,
      s"queries planning single-partition windows: ${offenders.mkString(", ")}")
    // the exceptions stay dictionary-sized (the justification above holds)
    globalWindowOk.foreach { name =>
      Registry.all.find(_.name == name).foreach { q =>
        assert(q.run(spark, sfDir).count() <= 10000, s"$name no longer dictionary-sized")
      }
    }
  }

  test("no registry query rounds a float aggregate onto an integer grid (r8 q_seasonal_decompose class)") {
    // round(<double aggregate>) at 0 dp — or casting such a round to an
    // integral type — pins an order-dependent float accumulation to an
    // integer grid: any true value within accumulated-error of x.5 flips
    // with partition count (the r8 driver hash-FAIL, reproduced by the
    // judge). The immune form quantizes PER ROW before aggregating (a
    // long sum is exact under any order) — q_ltv_decay / q_mad_outliers /
    // the fixed q_seasonal_decompose and q_pareto_revenue. This lint bans
    // the fragile form outright, same-node syntactic class, no allowlist.
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.types._
    def isFloatAgg(e: Expression): Boolean = e.exists {
      case ae: AggregateExpression =>
        ae.dataType == DoubleType || ae.dataType == FloatType
      case we: WindowExpression =>
        we.dataType == DoubleType || we.dataType == FloatType
      case _ => false
    }
    def isIntegral(t: DataType): Boolean = t match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    def intGridRounds(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.flatMap(_.expressions).flatMap(_.collect {
        case r: RoundBase if isFloatAgg(r.children.head) &&
            (r.children(1) match {
              case Literal(s: Int, _) => s <= 0; case _ => false }) =>
          s"round0(${r.children.head.prettyName})"
        case c: Cast if isIntegral(c.dataType) &&
            c.child.collectFirst {
              case r: RoundBase if isFloatAgg(r.children.head) => r }.isDefined =>
          "cast-int(round(float-agg))"
      })

    // negative control: the exact shape q_seasonal_decompose shipped with
    // in r8 must be flagged…
    import org.apache.spark.sql.functions._
    val bad = graft.engine.Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(round(sum("value") * 100).cast("long").as("rev_c"))
    assert(intGridRounds(bad).nonEmpty,
      "lint self-check failed: round(double-sum)→long was not flagged")
    // …and the per-row-quantized fix must NOT be
    val good = graft.engine.Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(sum(round(col("value") * 100).cast("long")).as("rev_c"))
    assert(intGridRounds(good).isEmpty,
      "lint self-check failed: the immune per-row form was flagged")

    val offenders = Registry.all.flatMap { q =>
      val found = intGridRounds(q.run(spark, sfDir))
      if (found.nonEmpty) Some(s"${q.name}: ${found.distinct.mkString(",")}") else None
    }
    assert(offenders.isEmpty,
      s"integer-grid rounding of float aggregates: ${offenders.mkString("; ")}")
  }

  test("display-precision rounding of float aggregates is enumerated and justified") {
    // The weaker cousin of the integer-grid class: round(<float agg>, s≥1)
    // as a terminal display column. Safe cases, machine-checked below:
    //  (a) cent-granular money sums at s=2 — a cent-exact true sum sits a
    //      full 0.005 from any 2-dp boundary, so ~1e-9 accumulation error
    //      cannot flip the cell in any order;
    //  (b) integer-valued sums (l_quantity) — the double sum is EXACT;
    //  (c) statistical estimators (avg/ratio/corr/stddev/psi/…) rounded at
    //      s≥2 — continuous-valued, so the boundary-coincidence probability
    //      is ~accumulation-error/10^-s ≈ 1e-9 per cell, with 8 rounds of
    //      driver-gate evidence; irreducibly float by nature.
    // Sites where the TRUE value lives on a grid FINER than the rounding
    // step (price×discount 1e-4 grids at s=2, half-credit mills) are
    // boundary-capable and were CONVERTED to per-row integer quantization
    // (q_agg_global, q_agg_groupby, q_join_agg, q_attribution_position) —
    // their remaining rounds ride on exact long sums and identical scalar
    // divisions. Every registry query rounding a float aggregate in-node
    // must be enumerated here; additions require a class-(a/b/c) argument.
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    def isFloatAgg(e: Expression): Boolean = e.exists {
      case ae: AggregateExpression =>
        ae.dataType == DoubleType || ae.dataType == FloatType
      case we: WindowExpression =>
        we.dataType == DoubleType || we.dataType == FloatType
      case _ => false
    }
    val flagged = Registry.all.flatMap { q =>
      val hit = q.run(spark, sfDir).queryExecution.optimizedPlan
        .flatMap(_.expressions).exists(_.collectFirst {
          case r: RoundBase if isFloatAgg(r.children.head) => r }.isDefined)
      if (hit) Some(q.name) else None
    }.toSet
    val extra = flagged -- roundedFloatAggOk
    assert(extra.isEmpty,
      s"round(float-aggregate) sites missing a written justification: ${extra.mkString(", ")}")

    // machine-check precondition (a): the money columns really are
    // cent-granular in the fixtures, and (b): l_quantity integer-valued
    import org.apache.spark.sql.functions._
    Seq(
      graft.engine.Tables.events(spark, sfDir).select(col("value").as("v")),
      graft.engine.Tables.lineitem(spark, sfDir).select(col("l_extendedprice").as("v")),
      graft.engine.Tables.customer(spark, sfDir).select(col("c_acctbal").as("v"))
    ).foreach { df =>
      val dev = df.agg(max(abs(col("v") * 100 - round(col("v") * 100)))).head.getDouble(0)
      assert(dev < 1e-6, s"money column no longer cent-granular (dev=$dev)")
    }
    val qdev = graft.engine.Tables.lineitem(spark, sfDir)
      .agg(max(abs(col("l_quantity") - round(col("l_quantity"))))).head.getDouble(0)
    assert(qdev < 1e-9, s"l_quantity no longer integer-valued (dev=$qdev)")
  }

  /** Justified survivors of the round(float-aggregate, s≥1) enumeration —
    * see the display-precision lint above for the class taxonomy:
    * (a) cent-granular money sums at s=2 (true sum sits 0.005 off any
    *     boundary — precondition machine-checked against the fixtures),
    * (b) integer-valued sums/avgs (the double sum is exact),
    * (c) continuous statistical estimators at s≥2 (boundary coincidence
    *     ~1e-9/cell, irreducibly float),
    * (d) converted queries whose remaining rounds ride on exact long sums
    *     or non-accumulating picks (min/max/first — order-free).
    * Sites on grids FINER than the rounding step were converted to per-row
    * integer quantization and do not appear (q_join_agg) or appear only
    * for their class-a/b/c/d columns (q_agg_global, q_agg_groupby,
    * q_attribution_position, q_pareto_revenue).
    */
  private val roundedFloatAggOk: Set[String] = Set(
    // (a)/(b): money (events.value, l_extendedprice, c_acctbal — all
    // cent-granular) and l_quantity (integer-valued) sums at s=2
    "q_agg_filter", "q_case_when", "q_datetrunc", "q_datetimeconvert",
    "q_timeseries", "q_filter_basic", "q_filter_between", "q_filter_in",
    "q_topn_group", "q_topn_others", "q_json_match", "q_json_index_rewrite",
    // (a): q_cube_agg rides the same cent-granular o_totalprice sum as
    // q_rollup, expanded over the 2^n grouping sets
    "q_grouping_sets", "q_rollup", "q_cube_agg", "q_salted_agg", "q_salted_join",
    "q_distinct_sum", "q_distinctcount", "q_lookup_join", "q_idset_filter",
    // (a): q_denorm_join sums the same cent-granular o_totalprice at s=2
    // (through the view rewrite — the view carries the column verbatim)
    "q_denorm_join",
    "q_startree_rollup", "q_startree_filtered", "q_startree_hll",
    "q_startree_kll",
    // (b): the exact twin's sum_qty rides the same integer-valued
    // l_quantity double sum (exact); its p50 column is unrounded
    "q_startree_kll_exact",
    // q_hybrid_catalog: q_hybrid_boundary's identical per-day round(sum
    // (value), 2) display column, computed twice (before/after promotion)
    "q_upsert_partial", "q_hybrid_boundary", "q_hybrid_catalog",
    "q_sessionize", "q_pivot",
    "q_attribution", "q_attribution_first", "q_gapfill_prev",
    "q_timestamp_rewrite", "q_percent_change", "q_mv_agg", "q_mv_unnest",
    "q_range_join", "q_outer_join", "q_argminmax", "q_tw_avg",
    // (b): q_pql_distinct_fns — sum/avg(DISTINCT l_quantity) ride the
    // integer-valued quantity (distinct set ≤50 values, double sum EXACT,
    // avg one identical scalar division); MINMAXRANGE is max−min of
    // cent-granular prices (two exact order-statistic picks, one exact
    // cent-granular subtraction)
    "q_pql_distinct_fns",
    // (c): statistical estimators / ratios / normalized scores at s≥2
    // (q_hhi_concentration: the share² sum is a continuous concentration
    // index over exact count ratios)
    "q_hhi_concentration",
    // (c): q_mv_percentile's interpolated percentile over float→double
    // widened MV elements — continuous order-statistic estimator at s=4,
    // same class as the q_percentile family's quantile_cont columns
    "q_mv_percentile",
    "q_stats_agg", "q_moments", "q_corr", "q_regr", "q_zscore_outliers",
    "q_anomaly_series", "q_psi_drift", "q_char_entropy", "q_zipf_slope",
    "q_readability", "q_compression_ratio", "q_keywords_rake",
    // (c): q_curation_exact rounds the same avg(n_tokens)/avg(uniq_ratio)
    // estimator columns as q_curation (s=2/s=4 continuous ratios over
    // exact counts) — the exhaustive-recall twin shares the class-c
    // argument verbatim, and its DuckDB oracle rounds identically
    "q_lm_quality", "q_curation", "q_curation_exact", "q_dataset_card",
    "q_source_divergence",
    "q_mix_temperature", "q_domain_cap", "q_hybrid_rrf", "q_kmeans",
    "q_dedup_semantic", "q_embed_quantize", "q_target_encode",
    "q_geo_distance", "q_geo_join", "q_geo_grid_agg", "q_histogram_bins",
    "q_multimodal_features", "q_datetime_tz",
    // (c) percentile family: dictionary-histogram interpolation edges,
    // rounded 4 dp on BOTH engines per the documented quantile_cont rule
    "q_percentile", "q_percentile_disc", "q_percentile_weighted",
    "q_ntile", "q_rfm_segments", "q_winsorize", "q_percentile_daily",
    // (d): converted money paths; remaining rounds are class-a/b/c columns
    // or scalar post-processing of exact long sums / first() picks
    "q_agg_global", "q_agg_groupby", "q_attribution_position",
    "q_pareto_revenue", "q_ltv_decay",
    // (c): q_key_skew's max_share and Gini are ratios of exact long sums
    // divided as doubles, rounded 6 dp — continuous estimators; the
    // numerators/denominators themselves are integer-exact in any order
    "q_key_skew",
    // (c): q_mutual_info's MI/entropy sums run over the ~35-cell
    // contingency dictionary (probabilities from exact integer counts);
    // (d): q_histogram_fd's h rounds ONE scalar computed from integer
    // IQR picks and a count — no accumulation-order sensitivity
    "q_mutual_info", "q_histogram_fd",
    // (d): q_theil_sen's quartiles are percentile_disc ORDER-STATISTIC
    // picks of one stored slope (one IEEE division of exact longs, the
    // same bits in both engines) divided by 100 once — no accumulation
    "q_theil_sen",
    // (b): q_histogram_eqdepth's lo/hi are min/max ORDER-STATISTIC picks
    // over the integer-cent dictionary (__v is an exact whole-cent
    // double) divided by 100 once — exact picks, one scalar division, no
    // accumulation; cnt rides exact long sums (r15's single-scan rewrite
    // moved lo/hi from raw rows to the dictionary, values identical)
    "q_histogram_eqdepth")

  test("allowlisted scalar cross joins really do combine single-row inputs") {
    // each allowlisted query must produce at most a handful of rows — the
    // cross join is between already-aggregated scalars, not data tables
    scalarCrossJoinOk.foreach { name =>
      Registry.all.find(_.name == name).foreach { q =>
        val n = q.run(spark, sfDir).count()
        assert(n <= 4, s"$name returned $n rows; scalar-cross-join exemption invalid")
      }
    }
  }

  test("SURVEY §2 inventory and the query registry stay in exact two-way sync") {
    // The operator inventory is graded bullet-by-bullet against the
    // registry; a query shipped without its `- [x] `q_name`` bullet (or a
    // stale bullet naming a removed query) is a silent coverage lie. Keep
    // the sync mechanical so it cannot drift.
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val bullets = "(?m)^- \\[x\\] `(q_\\w+)`".r
      .findAllMatchIn(survey).map(_.group(1)).toSet
    val registry = Registry.all.map(_.name).toSet
    val undocumented = registry -- bullets
    val stale = bullets -- registry
    assert(undocumented.isEmpty,
      s"registry queries missing a SURVEY §2 bullet: ${undocumented.toSeq.sorted.mkString(", ")}")
    assert(stale.isEmpty,
      s"SURVEY §2 bullets naming no registry query: ${stale.toSeq.sorted.mkString(", ")}")
  }

  /** Concurrent maps in src/main that are NOT artifact memos. Anything
    * memoized from table data goes through engine.Artifacts, which ties
    * each entry to its input's files; a hand-rolled map keyed by path or
    * plan serves stale answers after an in-place rewrite.
    */
  private val concurrentMapOk: Map[String, String] = Map(
    "LshOps.planeCache" -> ("executor-side and a pure function of its " +
      "parameters (seeded hyperplanes): no table data, nothing to go stale"),
    "SegmentCatalog.artifactSchemaCache" -> ("the one schema cache, " +
      "path-keyed for fixed-schema paths (tables and artifact layouts); " +
      "it holds no data, and keeps query builds at zero jobs"),
    "StarTreeCatalog.cubes" -> ("cube registry: writers register what " +
      "they built with the fact's file stamp, and the rewrite serves a cube " +
      "only while the fact scan's own stamp equals it"),
    "DenormCatalog.views" -> ("view registry: writers register what " +
      "they built with the fact's and dim's file stamps, and the rewrite " +
      "serves a view only while both scans' own stamps equal them"),
    "Layouts.relations" -> ("the analyzed relations of the registered " +
      "cubes and views, dropped on every re-register and unregister"),
    "FsLease.inProcess" -> ("the set of leases this JVM holds: " +
      "coordination state, not a memo"))

  test("no hand-rolled TrieMap/ConcurrentHashMap field outside engine.Artifacts") {
    import scala.jdk.CollectionConverters._
    val field = ("""(?:val|var)\s+(\w+)\s*(?::[^=]*)?=\s*(?:new\s+)?""" +
      """[\w.]*(?:TrieMap|ConcurrentHashMap)\b""").r
    // the top-level definition enclosing the field
    val owner = ("""(?m)^(?:(?:private|final|sealed|abstract|case)(?:\[\w+\])?\s+)*""" +
      """(?:object|class|trait)\s+(\w+)""").r
    val found = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Artifacts.scala")
      .flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        field.findAllMatchIn(src).map { m =>
          val o = owner.findAllMatchIn(src).takeWhile(_.start < m.start).toSeq.last
          s"${o.group(1)}.${m.group(1)}"
        }
      }.toSet
    val unlisted = found -- concurrentMapOk.keySet
    val stale = concurrentMapOk.keySet -- found
    assert(unlisted.isEmpty,
      s"hand-rolled caches outside engine.Artifacts (memoize through " +
        s"Artifacts.memo, or justify in concurrentMapOk): ${unlisted.toSeq.sorted.mkString(", ")}")
    assert(stale.isEmpty,
      s"concurrentMapOk names fields that no longer exist — remove them: " +
        stale.toSeq.sorted.mkString(", "))
  }

  test("rewrite rules and catalogs never list the filesystem themselves") {
    // freshness comes only from the scan's own FileIndex, through the
    // stamp Artifacts computes (plans.Layouts): a private listing drifts
    // from what the scan reads (hidden directories, partition discovery)
    import scala.jdk.CollectionConverters._
    val listing = "getFileSystem|listFiles|listStatus".r
    val found = java.nio.file.Files.list(java.nio.file.Paths.get("src/main/scala/graft/plans"))
      .iterator.asScala.filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if listing.findFirstIn(line).nonEmpty => s"${f.getFileName}:${i + 1}"
        }
      }.toSeq.sorted
    assert(found.isEmpty,
      s"filesystem listings in plans/ (compare Artifacts.stamp of the scan " +
        s"with the registered Layouts.Input instead): ${found.mkString(", ")}")
  }

  /** Registry builders allowed a hand-rolled build-once guard. */
  private val buildOnceOk: Map[String, String] = Map(
    "q_hybrid_catalog" -> ("its layout is rewritten on every build by " +
      "design (the promotion under test moves its granules), so there is " +
      "nothing to memoize; the pid path only keeps two JVMs apart"))

  test("registry fixtures build once only through engine.Artifacts") {
    // a done-marker, a catalog-find guard, a pid-keyed path or a fixed
    // /tmp path is a private build-once cache: it outlives an in-place
    // rewrite of its input, survives invalidateAll and leaks its
    // directory when the JVM exits
    import scala.jdk.CollectionConverters._
    val guard = ("createNewFile|(?:StarTreeCatalog|DenormCatalog)\\.find\\b|" +
      "ProcessHandle|\"/tmp/").r
    val queryDef = """QueryDef\(\s*"(q_\w+)"""".r
    val found = java.nio.file.Files.list(java.nio.file.Paths.get("src/main/scala/graft/queries"))
      .iterator.asScala.filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        guard.findAllMatchIn(src).map { m =>
          val q = queryDef.findAllMatchIn(src).takeWhile(_.start < m.start)
            .toSeq.lastOption.fold("?")(_.group(1))
          val line = src.substring(0, m.start).count(_ == '\n') + 1
          q -> s"${f.getFileName}:$line ($q)"
        }
      }.toSeq
    val unlisted = found.filterNot(h => buildOnceOk.contains(h._1)).map(_._2).sorted
    val stale = buildOnceOk.keySet -- found.map(_._1)
    assert(unlisted.isEmpty,
      s"build-once guards outside engine.Artifacts (memoize the fixture with " +
        s"Artifacts.segment, or justify in buildOnceOk): ${unlisted.mkString(", ")}")
    assert(stale.isEmpty,
      s"buildOnceOk names builders with no guard — remove them: ${stale.mkString(", ")}")
  }

  test("only graft.Harness builds a main's session and reads its bootstrap env") {
    // Harness is the one place the mains get their session, data dir, core
    // count and conf overrides; a second copy drifts (the mains once had
    // two CPU defaults, and only two of six read SPARK_GRAFT_EXTRA_CONF)
    import scala.jdk.CollectionConverters._
    val bootstrap = "Graft\\.session\\(|\"SPARK_GRAFT_(?:CPUS|SF_DIR|EXTRA_CONF)\"".r
    val found = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Harness.scala")
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if bootstrap.findFirstIn(line).nonEmpty => s"$f:${i + 1}"
        }
      }.toSeq.sorted
    assert(found.isEmpty,
      s"session or env bootstrap outside graft.Harness (use Harness.session, " +
        s"Harness.sfDir, Harness.cpus): ${found.mkString(", ")}")
  }
}
