package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFns

/** Product quantization (PQ, Jégou et al. 2011) — the memory path that
  * makes billion-vector ANN fit a cluster: split each d-dim vector into
  * `m` subvectors, k-means each subspace into `kCodes` centroids, and
  * store each vector as m ONE-BYTE codes (kCodes ≤ 256). A 64-float
  * embedding (256 bytes) becomes m=8 bytes — 32×. Queries score against
  * codes with an asymmetric distance table (ADC): m·kCodes exact partial
  * dot products per query, then every candidate's approximate similarity
  * is m table lookups — no float vector is ever touched at scan time.
  *
  * Scale posture: codebooks are TINY (m·kCodes·(d/m) floats — driver/
  * broadcast class, like IvfAnn's centroid table) and in production train
  * on a corpus SAMPLE; encoding is one corpus scan against the broadcast
  * codebooks; the per-query distance table is nq·m·kCodes rows (broadcast
  * back); scoring is a scan-local array-HOF over the codes column plus
  * the k-bounded top_k_by heap — the exact q_knn_brute shape with 32×
  * less data moved. Vectors are L2-normalized before encoding so the ADC
  * dot IS the approximate cosine.
  */
object Pq {

  /** Expression-level let-binding: evaluate `value` ONCE per row and make
    * it available to `body` as a lambda variable. A plain two-step select
    * is NOT enough for loop-invariant hoisting — CollapseProject inlines
    * a once-referenced alias straight into downstream HOF lambdas, where
    * it re-evaluates per element (measured: the PQ code-assignment cache
    * build spent 4.4 s re-normalizing the vector inside every candidate's
    * zip_with; with the binding the same build is ~0.1 s). A one-element
    * `transform` is collapse-proof because the sharing is intrinsic to
    * the expression tree, not an optimizer courtesy.
    */
  private def bind(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), v => body(v)), 1)

  /** L2-normalize, norm let-bound so it computes once per row no matter
    * what projection the expression later collapses into.
    */
  private def normalized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol),
      bind(VectorFns.norm(col(vecCol)))(nrm =>
        transform(col(vecCol), x => x.cast("double") / nrm)).as("nvec"))

  private def subSlice(vec: Column, sub: Column, subDim: Column): Column =
    slice(vec, sub * subDim + 1, subDim)

  /** Per-subspace codebooks: (sub, cid, cvec), fit DRIVER-LOCALLY on a
    * bounded deterministic sample — the FAISS codebook discipline. The
    * cluster's job is the corpus-scale work (encoding every vector, the
    * ADC scan); codebook TRAINING only ever needs a representative sample,
    * so the sample size — not the corpus size — bounds the fit:
    *
    * - **Sample**: the `trainSample` smallest-xxhash64 ids, one TakeOrdered
    *   pass over the corpus (k-bounded heap, no shuffle of the full data).
    *   Collected driver state is trainSample·dim doubles — 2 MiB at the
    *   4096×64 defaults, the same driver-resident-bounded-state class as
    *   Kmeans centroids and these codebooks themselves, and O(1) in corpus
    *   volume: at 100 TB the sample is STILL 2 MiB.
    * - **Fit**: one joint Lloyd loop over all m subspaces in memory.
    *   maxIter iterations over trainSample·m subvectors × kCodes candidates
    *   ≈ 40 M flops at defaults — milliseconds, zero Spark jobs. (The
    *   previous cluster-side loop spent 7–13 s on 10 iterations over 2 000
    *   vectors: per-iteration plan re-analysis + codegen of an unrolled
    *   m·kCodes candidate CASE, pure scheduling overhead at any data size.)
    *
    * Everything is sequential over the id-sorted sample, so codebooks —
    * and therefore codes and ADC scores — are exactly reproducible across
    * runs, sessions, and partitionings (stronger than the cluster loop,
    * whose float summation order could vary). Seeding is the kCodes
    * smallest-id sample vectors per subspace, cycled when the corpus is
    * shorter than kCodes; ties in assignment keep the smallest cid; empty
    * cells keep their stale centroid (output arity is always m·kCodes).
    * `seed` remains in the signature for cache-key/API compatibility only.
    */
  def trainCodebooks(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, kCodes: Int, seed: Long = 42L, maxIter: Int = 10,
      trainSample: Int = 4096): DataFrame = {
    require(kCodes <= 256, "PQ codes must fit one byte (kCodes <= 256)")
    val spark = corpus.sparkSession
    val n = normalized(corpus, idCol, vecCol)
    // Bounded-sample collect: trainSample rows, never corpus-sized.
    val sample: Array[Array[Double]] = n
      .select(col(idCol).cast("long").as("id"), col("nvec"))
      .orderBy(xxhash64(col("id")), col("id")).limit(trainSample)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    require(sample.nonEmpty, "PQ training needs a non-empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m

    // Seeds: kCodes smallest-id sample slices per subspace, cycled.
    val cents = Array.tabulate(m, kCodes) { (s, c) =>
      java.util.Arrays.copyOfRange(
        sample(c % sample.length), s * subDim, (s + 1) * subDim)
    }
    var it = 0
    while (it < maxIter) {
      val sums = Array.fill(m, kCodes)(new Array[Double](subDim))
      val counts = Array.fill(m, kCodes)(0L)
      sample.foreach { vec =>
        var s = 0
        while (s < m) {
          val off = s * subDim
          var best = 0; var bestD = Double.PositiveInfinity
          var c = 0
          while (c < kCodes) {
            val cv = cents(s)(c)
            var d = 0.0; var j = 0
            while (j < subDim) { val t = vec(off + j) - cv(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          val sm = sums(s)(best); var j = 0
          while (j < subDim) { sm(j) += vec(off + j); j += 1 }
          counts(s)(best) += 1
          s += 1
        }
      }
      var s = 0
      while (s < m) {
        var c = 0
        while (c < kCodes) {
          if (counts(s)(c) > 0) cents(s)(c) = sums(s)(c).map(_ / counts(s)(c))
          c += 1
        }
        s += 1
      }
      it += 1
    }
    import spark.implicits._
    (for (s <- 0 until m; c <- 0 until kCodes) yield (s, c, cents(s)(c).toSeq))
      .toDF("sub", "cid", "cvec")
  }

  /** Encode every corpus vector as m codes: (id, codes array<int>), in
    * ONE scan-local projection — zero shuffles, zero joins. The codebook
    * is m·kCodes·subDim doubles (1 KiB at defaults), so it rides into the
    * scan as a single matrix literal and both loops (subspace, candidate)
    * enumerate at RUNTIME via `transform(sequence(…))` — the plan is O(1)
    * in m and kCodes. At any corpus size this is a pure map over the
    * vectors; the previous explode → broadcast-join → two-shuffle
    * reassembly moved m rows per vector through two exchanges for the
    * same result. Assignment ties keep the smallest cid (array_min over
    * (d2, cid) structs — same total order as training).
    */
  def encode(
      corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int): DataFrame = {
    val cb = codebooks.select(col("sub"), col("cid"), col("cvec")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val kCodes = cb.keys.map(_._2).max + 1
    val subDim = cb((0, 0)).length
    val matrix: Seq[Seq[Seq[Double]]] =
      (0 until m).map(s => (0 until kCodes).map(c => cb((s, c))))
    val mlit = typedlit(matrix)
    // nvec and each subspace slice are let-bound: evaluated once per row /
    // per subspace, not once per candidate (see `bind`).
    val codes = bind(col("nvec"))(nvec =>
      transform(sequence(lit(0), lit(m - 1)), s =>
        bind(slice(nvec, s * lit(subDim) + 1, lit(subDim)))(svec =>
          array_min(transform(sequence(lit(0), lit(kCodes - 1)), c =>
            struct(
              aggregate(
                zip_with(svec, element_at(element_at(mlit, s + 1), c + 1),
                  (a, b) => (a - b) * (a - b)),
                lit(0.0d), (acc, x) => acc + x).as("d2"),
              c.as("cid")))).getField("cid"))))
    normalized(corpus, idCol, vecCol)
      .select(col(idCol), codes.as("codes"))
  }

  /** Codebooks and codes are memoized: the registry query would otherwise
    * re-fit per run (a real deployment materializes codes with the
    * segments, like the IVF index).
    */
  private def buildCached(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, kCodes: Int, seed: Long): (DataFrame, DataFrame) =
    graft.engine.Artifacts.memo("pq", corpus, idCol, vecCol, m, kCodes, seed) {
      val cb = trainCodebooks(corpus, idCol, vecCol, m, kCodes, seed).persist()
      val codes = encode(corpus, idCol, vecCol, cb, m).persist()
      (cb, codes)
    } { case (cb, codes) => cb.unpersist(blocking = true); codes.unpersist(blocking = true) }

  /** ADC top-k: (q_id, cand_id, rank, sim). Self-matches are excluded,
    * ordering is (sim desc, cand_id asc) like every other knn* operator.
    *
    * With `rerankFactor` > 1 (the production shape) the ADC pass only
    * SHORTLISTS k·rerankFactor candidates per query; the shortlist —
    * queries·k·factor rows, broadcast class — then joins back to the
    * float vectors for exact cosine, and the final top-k is exact over
    * the shortlist. The corpus scan still touches only codes; the full
    * vectors are fetched for a per-query handful of ids (in a deployment,
    * a point-lookup against the vector store). rerankFactor = 1 is pure
    * ADC — lowest latency, lossiest.
    */
  def knnPq(
      queries: DataFrame, corpus: DataFrame, k: Int,
      m: Int = 8, kCodes: Int = 16, seed: Long = 42L,
      rerankFactor: Int = 8): DataFrame = {
    val (codebooks, codes) = buildCached(corpus, "vec_id", "embedding", m, kCodes, seed)
    val q = normalized(queries, "vec_id", "embedding")
      .select(col("vec_id").as("q_id"), col("nvec").as("qvec"))
    val dtab = adcTable(q, codebooks)
    // Scan-local scoring: m array lookups per (candidate, query).
    val sims = codes.crossJoin(broadcast(dtab))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"), adcScore.as("sim"))
    finishTopK(sims, q, corpus, k, rerankFactor)
  }

  /** Per-query ADC table: dtab[sub][cid] = dot(q_sub, centroid) — built
    * from a tiny cross of (queries × m·kCodes centroids), broadcast back.
    */
  private def adcTable(q: DataFrame, codebooks: DataFrame): DataFrame = {
    // sub-dimension comes from THIS row's centroid length — in-plan,
    // instead of a one-row .head() probe that cost a Spark job on every
    // query build (the BuildLazinessSpec class)
    q.crossJoin(broadcast(codebooks))
      .select(col("q_id"), col("sub"), col("cid"),
        VectorFns.dot(
          subSlice(col("qvec"), col("sub"), size(col("cvec"))), col("cvec"))
          .as("partial"))
      .groupBy(col("q_id"), col("sub"))
      .agg(transform(array_sort(collect_list(struct(col("cid"), col("partial")))),
        s => s.getField("partial")).as("ktab"))
      .groupBy(col("q_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("ktab")))),
        s => s.getField("ktab")).as("dtab"))
  }

  /** Approximate similarity of a `codes` row against a `dtab` row. */
  private def adcScore: Column =
    aggregate(
      zip_with(col("codes"), col("dtab"),
        (c, row) => element_at(row, c.cast("int") + 1)),
      lit(0.0d), (acc, x) => acc + x)

  /** Final top-k — pure ADC, or exact-cosine rerank of the shortlist. */
  private def finishTopK(
      sims: DataFrame, q: DataFrame, corpus: DataFrame,
      k: Int, rerankFactor: Int): DataFrame =
    if (rerankFactor <= 1) Ann.selectTopK(sims, k)
    else {
      val shortlist = Ann.selectTopK(sims, k * rerankFactor)
        .select(col("q_id"), col("cand_id"))
      val cv = normalized(corpus, "vec_id", "embedding")
      val exact = cv.join(broadcast(shortlist), cv("vec_id") === col("cand_id"))
        .join(broadcast(q), "q_id")
        .select(col("q_id"), col("cand_id"),
          VectorFns.dot(col("nvec"), col("qvec")).as("sim"))
      Ann.selectTopK(exact, k)
    }

  /** Materialize codebooks + codes next to the corpus segments (the
    * deployment shape, like IvfAnn.materialize: train/encode ONCE at
    * build, queries read bytes). Layout: `<path>/codebooks`, `<path>/codes`.
    */
  def materialize(
      corpus: DataFrame, path: String,
      m: Int = 8, kCodes: Int = 16, seed: Long = 42L): Unit = {
    val cb = trainCodebooks(corpus, "vec_id", "embedding", m, kCodes, seed)
    cb.write.mode("overwrite").parquet(s"$path/codebooks")
    encode(corpus, "vec_id", "embedding", cb, m)
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** INCREMENTAL index maintenance — the daily-ingest shape, PQ's sibling
    * of `IvfAnn.appendToIndex`: only the NEW batch is encoded, against
    * the codebooks already on disk — no re-training, no touch of existing
    * code files — and the new code rows append to the codes segment.
    * Codebooks drift as the corpus distribution grows; the scheduled full
    * `materialize` rebuild re-fits them (kept separate on purpose:
    * re-fitting re-encodes every vector). The batch encode is the same
    * single scan-local projection as the build path — O(batch), zero
    * shuffles.
    */
  def appendToIndex(
      spark: SparkSession, path: String, batch: DataFrame): Unit = {
    spark.catalog.refreshByPath(s"$path/codebooks")
    val codebooks = graft.sources.SegmentCatalog.readStableSchema(spark, s"$path/codebooks")
    val m = codebooks.agg(max(col("sub"))).head().getInt(0) + 1
    encode(batch, "vec_id", "embedding", codebooks, m)
      .write.mode("append").parquet(s"$path/codes")
  }

  /** Query a materialized PQ index. `corpus` supplies the float vectors
    * for the rerank stage only — a per-query shortlist-sized point lookup
    * in a deployment, never a corpus scan (pass rerankFactor = 1 for the
    * pure-ADC, codes-only path). refreshByPath first, so a serving loop
    * picks up a rebuilt index on its next batch (the IvfAnn hot-swap
    * lesson).
    */
  def knnPqIndexed(
      spark: SparkSession, path: String,
      queries: DataFrame, corpus: DataFrame, k: Int,
      rerankFactor: Int = 8): DataFrame = {
    spark.catalog.refreshByPath(s"$path/codebooks")
    spark.catalog.refreshByPath(s"$path/codes")
    val codebooks = graft.sources.SegmentCatalog.readStableSchema(spark, s"$path/codebooks")
    val codes = graft.sources.SegmentCatalog.readStableSchema(spark, s"$path/codes")
    val q = normalized(queries, "vec_id", "embedding")
      .select(col("vec_id").as("q_id"), col("nvec").as("qvec"))
    val sims = codes.crossJoin(broadcast(adcTable(q, codebooks)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"), adcScore.as("sim"))
    finishTopK(sims, q, corpus, k, rerankFactor)
  }

  /** IVF+PQ (the FAISS IVFPQ composition — the shape a billion-vector
    * deployment actually runs): coarse KMeans cells bound WHICH vectors
    * are scored (probe nProbe cells per query), PQ codes bound WHAT is
    * read per vector (m bytes, no floats), the ADC table bounds per-
    * candidate work to m lookups, and the exact rerank touches only the
    * k·factor shortlist. Corpus cost per query: |probed cells| · m byte
    * lookups — independent of both corpus dimension and float width.
    */
  def knnIvfPq(
      queries: DataFrame, corpus: DataFrame, k: Int,
      numCentroids: Int = 16, nProbe: Int = 4,
      m: Int = 8, kCodes: Int = 16, seed: Long = 42L,
      rerankFactor: Int = 8): DataFrame = {
    val (assigned, cellCentroids) = IvfAnn.buildIndexCached(corpus, numCentroids, seed)
    val (codebooks, codes) = buildCached(corpus, "vec_id", "embedding", m, kCodes, seed)
    val codesWithCell = codes.join(assigned.select(col("vec_id"), col("cell")), "vec_id")
    // Cell probing runs in the RAW embedding space (the IVF centroids are
    // trained there); ADC runs in the normalized space (cosine).
    val qRaw = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probes = IvfAnn.probeCells(qRaw, cellCentroids, nProbe)
    val q = normalized(queries, "vec_id", "embedding")
      .select(col("vec_id").as("q_id"), col("nvec").as("qvec"))
    val dtab = adcTable(q, codebooks)
    val sims = codesWithCell
      .join(broadcast(probes.join(dtab, "q_id")), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"), adcScore.as("sim"))
    finishTopK(sims, q, corpus, k, rerankFactor)
  }
}
