package graftbench

import graft.queries.{QueryDef, Registry}

/** The closed-loop `query` workload. One client runs every query of the
  * workload once per pass, in a seeded shuffled order; the first pass in
  * the fresh JVM is the cold pass, the next `SettlePasses` settle the JIT,
  * then warm passes run for `--seconds` (the pass in flight is finished, so
  * every query has the same number of warm samples).
  */
object QueryWorkload {

  /** The serve group: short Pinot-surface queries, one to three per registry family
    * (CoreSql, PqlQueries, DateTimeQueries, JsonQueries, TextQueries,
    * MultiValueQueries, StarTreeQueries, JoinQueries, UpsertQueries,
    * TransformQueries), none of them a builder loop. Their builders fire
    * no Spark jobs, so planning, codegen, scheduling and GC dominate.
    * Queries that write under a fixed /tmp path are left out: the
    * benchmark writes only inside its own build directory.
    */
  val Serve: Seq[String] = Seq(
    "q_filter_basic", "q_topn_group", "q_distinctcount_hll",
    "q_pql_top",
    "q_datetrunc",
    "q_json_match",
    "q_text_match",
    "q_mv_unnest",
    "q_startree_rollup",
    "q_join_agg",
    "q_upsert_latest",
    "q_string_fns")

  /** The pipeline group: builder-loop queries (BuildLazinessSpec's allowlist:
    * Lloyd k-means, MMR selection) and members of two memoized-artifact
    * families (dedup pairs/clusters, BPE).
    */
  val Pipeline: Seq[String] = Seq(
    "q_kmeans", "q_topk_diverse",
    "q_dedup_ngram_jaccard", "q_dedup_clusters",
    "q_bpe_train")

  /** Both groups in one stream: the shuffled order interleaves serving
    * shapes with builder loops, as one long-lived server sees them. The
    * count is odd on purpose: every query has the same number of warm
    * samples, so with an even count the median falls between two queries'
    * samples and jumps with whichever side is slower in a run.
    */
  val Queries: Seq[String] = Serve ++ Pipeline

  /** Queries sharing one session-memoized artifact: whichever member runs
    * first in the cold pass builds it, and every later run reuses it.
    */
  val Families: Map[String, Set[String]] = Map(
    "dedup" -> Set("q_dedup_ngram_jaccard", "q_dedup_clusters"),
    "bpe" -> Set("q_bpe_train"))

  /** Passes after the cold one that still meet JIT compilation and are not
    * counted. Over ten seeds, against the median of the passes after them,
    * the first read a median 30% slower, the second 17% and the third 10%. */
  val SettlePasses = 3

  /** Warm passes behind pass_s, however slow the machine. */
  val MinWarmPasses = 2

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** One request; `span` and `execSpan` are its root and execute span ids
    * (0 when untraced), `codegenMs` the compile time of its execute phase. */
  final case class Req(id: Long, name: String, pass: Int, start: Double,
      built: Double, end: Double, ok: Boolean, span: Long, execSpan: Long,
      codegenMs: Double) {
    def ms: Double = end - start
  }

  def run(cfg: Config): Map[String, Any] = {
    val names = Queries
    val seeded = new scala.util.Random(cfg.seed)
    def nextOrder(): Seq[String] = seeded.shuffle(names)
    if (cfg.inputsOnly)
      return Map("inputs" -> Map("pass_orders" -> Seq.fill(3)(nextOrder())))

    val registry = Registry.all.map(q => q.name -> q).toMap
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"queries missing from the registry: ${missing.mkString(",")}")
    val throwing = if (cfg.inject == "throw") Some(names.min) else None
    val defs = names.map { n =>
      if (throwing.contains(n))
        QueryDef(n, (_, _) => throw new IllegalStateException("injected failure"), None)
      else registry(n)
    }.map(q => q.name -> q).toMap

    val clock = new Clock
    val gc = new GcWatch(clock)
    val (spark, _, setup) = Setup(cfg) { s =>
      Tables.foreach(t => graft.engine.Tables(s, cfg.dataDir, t))
      graft.engine.Tables.lineitem(s, cfg.dataDir).limit(1).count()
    }
    val tracer = if (cfg.trace) Some(new Tracer(spark, clock)) else None
    val sc = spark.sparkContext

    val reqIds = new java.util.concurrent.atomic.AtomicLong
    def request(q: QueryDef, pass: Int): Req = {
      val id = reqIds.incrementAndGet()
      val spanIds = tracer.map(t => (t.spans.newId(), t.spans.newId(), t.spans.newId()))
      spanIds.foreach { case (_, build, _) => Props.set(sc, id, build, "build") }
      val t0 = clock.now
      var t1 = Double.NaN
      var cg0 = Double.NaN
      val ok = try {
        val df = q.run(spark, cfg.dataDir)
        t1 = clock.now
        cg0 = Codegen.compileMs
        spanIds.foreach { case (_, _, exec) => Props.set(sc, id, exec, "execute") }
        // noop sink, as graft.Bench: every output row is produced, none kept
        df.write.format("noop").mode("overwrite").save()
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] ${q.name} failed: $e")
          false
      }
      val t2 = clock.now
      if (t1.isNaN) t1 = t2
      val cgMs = if (cg0.isNaN) 0.0 else Codegen.compileMs - cg0
      tracer.foreach(_ => Props.clear(sc))
      for (t <- tracer; (root, build, exec) <- spanIds) {
        t.spans.add(Span(root, 0L, id, s"request:${q.name}", t0, t2))
        t.spans.add(Span(build, root, id, "build", t0, t1))
        t.spans.add(Span(exec, root, id, "execute", t1, t2))
      }
      Req(id, q.name, pass, t0, t1, t2, ok, spanIds.map(_._1).getOrElse(0L), spanIds.map(_._3).getOrElse(0L), cgMs)
    }
    def pass(i: Int): Seq[Req] = nextOrder().map(n => request(defs(n), i))

    val cg0 = (Codegen.compiles, Codegen.compileMs)
    val coldStart = clock.now
    val cold = pass(0)
    val coldEnd = clock.now
    val cg1 = (Codegen.compiles, Codegen.compileMs)
    val settle = (1 to SettlePasses).flatMap(pass)
    val warmStart = clock.now
    val cg1w = (Codegen.compiles, Codegen.compileMs)
    val warm = Iterator.from(SettlePasses + 1).map(pass)
      .scanLeft(Vector.empty[Seq[Req]])(_ :+ _).drop(1)
      .find(ps => ps.size >= MinWarmPasses && clock.now - warmStart >= cfg.seconds * 1000.0).get
    val warmEnd = clock.now
    val cg2 = (Codegen.compiles, Codegen.compileMs)
    val liveHeap = gc.liveHeapMb()

    // Answers, once per query and outside the timed passes; run.py compares
    // them with the DuckDB oracle.
    val perturbed = if (cfg.inject == "perturb") Some(names.filter(n => registry(n).oracle.nonEmpty).min) else None
    val checks = names.sorted.map { n =>
      val dir = s"${cfg.workDir}/answers/$n"
      val ok = try {
        val df = defs(n).run(spark, cfg.dataDir)
        val out = if (perturbed.contains(n)) df.union(df.limit(1)) else df
        out.coalesce(1).write.mode("overwrite").parquet(dir)
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] answer for $n failed: $e")
          false
      }
      Map("name" -> n, "dir" -> dir, "oracle" -> registry(n).oracle, "ok" -> ok)
    }
    spark.stop()

    val warmReqs = warm.flatten
    val all = cold ++ settle ++ warmReqs
    val okWarm = warmReqs.filter(_.ok)
    val passMs = warm.map(p => p.last.end - p.head.start)
    val metrics = Map(
      "setup_s" -> setup.metrics("setup_s"),
      "p50_ms" -> (if (okWarm.isEmpty) Double.NaN else Stats.quantile(okWarm.map(_.ms), 0.5)),
      "pass_s" -> Stats.median(passMs) / 1e3,
      "cold_pass_s" -> (coldEnd - coldStart) / 1e3,
      "live_heap_mb" -> liveHeap)

    // Catalyst phases run inside the noop write; attribute each to the
    // request whose write call contains it (one client, so at most one).
    val attributed = tracer.toSeq.flatMap { t =>
      t.plans.all.flatMap { p =>
        all.find(r => r.built <= p.optimize._1 && p.physical._2 <= r.end + 1).map(r => (r, p))
      }
    }
    for (t <- tracer; (r, p) <- attributed) {
      p.spans(t.spans, r.execSpan, r.id).foreach(t.spans.add)
    }
    // What the layers account for of a request: its spans, plus the code it
    // compiled while executing (one client, so the compile timer's delta over
    // the execute phase is its own).
    val accounted = tracer.map(_.spans.accountedMs).getOrElse(Map.empty[Long, Double])
    val perQuery = warmReqs.groupBy(_.name).map { case (n, rs) =>
      n -> (Map("ms" -> Stats.median(rs.map(_.ms)), "warm_samples" -> rs.size) ++
        (if (tracer.isEmpty) Map.empty else Map("accounted_ms" -> Stats.median(rs.map(r => accounted(r.span) + r.codegenMs)),
          "codegen_ms" -> Stats.median(rs.map(_.codegenMs)))))
    }
    val layers = tracer.map { t =>
      val n = warm.size.toDouble
      val warmIds = warmReqs.map(_.id).toSet
      val plans = attributed.filter { case (r, _) => warmIds(r.id) }
      val optimizeMs = plans.map { case (_, p) => p.optimize._2 - p.optimize._1 }.sum
      val physicalMs = plans.map { case (_, p) => p.physical._2 - p.physical._1 }.sum
      val writeMs = warmReqs.map(r => r.end - r.built).sum
      val coldMs = cold.map(r => r.name -> r.ms).toMap
      val artifactMs = Families.values.toSeq.flatMap { fam =>
        cold.find(r => fam(r.name)).map(r => coldMs(r.name) - perQuery(r.name)("ms").asInstanceOf[Double])
      }.sum
      val gcs = gc.between(warmStart, warmEnd)
      ExecLayers(t.exec, warmIds, n, writeMs - optimizeMs - physicalMs) ++ Map(
        "engine.session_ms" -> setup.metrics("engine.session_ms"),
        "engine.first_touch_ms" -> setup.metrics("engine.first_touch_ms"),
        "queries.build_ms" -> warmReqs.map(r => r.built - r.start).sum / n,
        "queries.build_jobs" -> t.exec.jobList.count(j => warmIds(j.req) && j.phase == "build") / n,
        "catalyst.optimize_ms" -> optimizeMs / n,
        "catalyst.physical_ms" -> physicalMs / n,
        "plans.cube_served" -> 0.0,
        "codegen.compiles" -> (cg1._1 - cg0._1).toDouble,
        "codegen.compile_ms" -> (cg1._2 - cg0._2),
        "codegen.warm_compiles" -> (cg2._1 - cg1w._1) / n,
        "jvm.gc_ms" -> gcs.map(_.ms).sum / n,
        "jvm.gc_max_pause_ms" -> (0.0 +: gcs.map(_.ms)).max,
        "artifacts.first_build_ms" -> artifactMs) ++
        Ingest.idleStreamingLayers ++ Map(
        "trace.spans" -> t.spans.toSeq.size.toDouble)
    }
    tracer.foreach(_.spans.writeJsonl(cfg.spansOut))
    val failedReqs = all.count(!_.ok)
    Map(
      "metrics" -> metrics,
      "layers" -> layers,
      "attempted" -> (all.size + checks.size),
      "failed" -> (failedReqs + checks.count(c => c("ok") == false)),
      "checks" -> checks,
      "per_query" -> perQuery,
      "warm_passes" -> warm.size,
      "groups" -> Map("serve" -> Serve, "pipeline" -> Pipeline).map { case (g, qs) =>
        g -> Map(
          "cold_ms" -> cold.filter(r => qs.contains(r.name)).map(_.ms).sum,
          "pass_ms" -> Stats.median(warm.map(_.filter(r => qs.contains(r.name)).map(_.ms).sum)))
      },
      "samples" -> all.map(r => Map("name" -> r.name, "pass" -> r.pass, "ms" -> r.ms, "ok" -> r.ok)),
      "warm_samples" -> okWarm.size,
      "p90_ms" -> (if (okWarm.isEmpty) Double.NaN else Stats.quantile(okWarm.map(_.ms), 0.9)),
      "inputs" -> Map("cold_order" -> cold.map(_.name)))
  }
}

/** The scheduler/executor layer, per unit of work (`n` passes or read
  * rounds) over the jobs submitted by the requests in `reqs`.
  */
object ExecLayers {
  def apply(exec: ExecTrace, reqs: Set[Long], n: Double, execMs: Double): Map[String, Double] = {
    val st = exec.stages.filter(s => reqs(s.req))
    val stages = st.size.toDouble
    val tasks = st.map(_.tasks).sum.toDouble
    val runMs = st.map(_.runMs).sum
    Map(
      "exec.ms" -> execMs / n,
      "exec.jobs" -> exec.jobList.count(j => reqs(j.req)) / n,
      "exec.stages" -> stages / n,
      "exec.tasks" -> tasks / n,
      "exec.tasks_per_stage" -> (if (stages == 0) 0.0 else tasks / stages),
      "exec.run_ms" -> runMs / n,
      "exec.cpu_ms" -> st.map(_.cpuMs).sum / n,
      "exec.core_busy_ratio" -> (if (execMs <= 0) 0.0 else runMs / (execMs * Session.Cores)),
      "exec.sched_delay_ms" -> st.map(_.schedDelayMs).sum / n,
      "exec.input_bytes" -> st.map(_.inputBytes).sum / n,
      "exec.shuffle_write_bytes" -> st.map(_.shuffleWriteBytes).sum / n,
      "exec.shuffle_read_bytes" -> st.map(_.shuffleReadBytes).sum / n,
      "exec.spill_bytes" -> st.map(_.spillBytes).sum / n)
  }
}
