package graft.similarity

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFns

/** IVF (inverted-file) approximate nearest neighbor: partition the corpus
  * into KMeans cells, probe only the nProbe cells nearest each query.
  *
  * Scale posture: the centroid table is tiny (numCentroids rows) and
  * broadcasts; the corpus is scanned once at build to assign cells (in a
  * real deployment the assignment is materialized with the segments, like
  * any Pinot index, and queries touch ~nProbe/numCentroids of the data).
  * Cosine math reuses the codegen'd vector_dot expression; both the probe
  * selection and the final top-k use the k-bounded `top_k_by` aggregate —
  * no window stage, nothing but k-sized heaps per (query, map task)
  * crosses a shuffle.
  */
object IvfAnn {

  /** The cell assignment is memoized: a real deployment materializes it
    * with the segments (like any Pinot index) instead of re-fitting KMeans
    * per query.
    */
  def buildIndexCached(corpus: DataFrame, numCentroids: Int, seed: Long = 42L)
      : (DataFrame, DataFrame) =
    graft.engine.Artifacts.memo("ivf", corpus, numCentroids, seed) {
      val (assigned, centroids) = buildIndex(corpus, numCentroids, seed)
      (assigned.persist(), centroids.persist())
    } { case (a, c) => a.unpersist(blocking = true); c.unpersist(blocking = true) }

  /** Materialize the index next to the corpus segments (the deployment
    * shape: KMeans fit + assignment happen ONCE at build, queries read
    * only the assigned cells). Layout: `<path>/assigned` (corpus +
    * `cell`, partitioned by cell so probes prune whole directories) and
    * `<path>/centroids`.
    */
  def materialize(
      corpus: DataFrame, path: String,
      numCentroids: Int, seed: Long = 42L): Unit = {
    val (assigned, centroids) = buildIndex(corpus, numCentroids, seed)
    assigned.repartition(col("cell")).write.mode("overwrite")
      .partitionBy("cell").parquet(s"$path/assigned")
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Query a materialized index: probes read ~nProbe/numCentroids of the
    * corpus via partition pruning on `cell`.
    *
    * Hot-swap safety: the session's shared FileStatusCache can hold the
    * OLD file listing after the index path is re-materialized (overwrite
    * deletes the old part files), which would fail — or silently
    * short-read — the next probe. Refreshing the path first makes every
    * call serve the index as it exists on disk NOW, so a serving stream
    * (Realtime.annServe) picks up a rebuilt index on its next micro-batch.
    * Cost: one file listing, the same class as planning the scan.
    */
  def knnIvfIndexed(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, nProbe: Int = 2): DataFrame = {
    spark.catalog.refreshByPath(s"$path/assigned")
    spark.catalog.refreshByPath(s"$path/centroids")
    val assigned = graft.sources.SegmentCatalog.readStableSchema(spark, s"$path/assigned")
    val centroids = graft.sources.SegmentCatalog.readStableSchema(spark, s"$path/centroids")
    knnIvfOn(assigned, centroids, queries, k, nProbe)
  }

  /** Assign a batch to EXISTING centroids: nearest cell by euclidean
    * distance (|v−c|² = |v|² − 2·v·c + |c|²; |v|² is argmin-invariant per
    * vector), ties broken toward the smaller cell id so assignment is
    * deterministic. The centroid table broadcasts (dictionary-sized);
    * the batch is one scan + one per-vector rollup.
    */
  def assignCells(batch: DataFrame, centroids: DataFrame): DataFrame = {
    val cols = batch.columns
    batch.crossJoin(broadcast(centroids))
      .withColumn("__cell_dist",
        VectorFns.dot(col("centroid"), col("centroid")) -
          lit(2.0) * VectorFns.dot(col("embedding"), col("centroid")))
      .groupBy("vec_id")
      .agg(min_by(
        struct(cols.map(col) :+ col("cell"): _*),
        struct(col("__cell_dist"), col("cell"))).as("__r"))
      .select(col("__r.*"))
  }

  /** INCREMENTAL index maintenance — the daily-ingest shape (same
    * discipline as the dedup band index / TF-IDF DF index / LM vocab):
    * only the NEW batch is assigned, against the centroids already on
    * disk — no re-clustering, no touch of existing cell files — and the
    * rows append under their Hive cell partitions, so partition pruning
    * keeps holding for probes. Centroids drift as the corpus grows; the
    * scheduled full `materialize` rebuild re-centers them (kept separate
    * on purpose: re-centering rewrites every cell file).
    */
  def appendToIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame): Unit = {
    spark.catalog.refreshByPath(s"$path/centroids")
    val centroids = graft.sources.SegmentCatalog.readStableSchema(spark, s"$path/centroids")
    assignCells(batch, centroids)
      .repartition(col("cell")).write.mode("append")
      .partitionBy("cell").parquet(s"$path/assigned")
    // serving streams re-list per probe (knnIvfIndexed refreshes), but
    // refresh eagerly so same-session readers never see the stale listing
    spark.catalog.refreshByPath(s"$path/assigned")
  }

  /** cell-assigned corpus + centroid table (centroid_id, centroid float[]).
    *
    * numCentroids = 1 is the DEGENERATE single-cell index (Spark ML's
    * KMeans requires k ≥ 2, but argmin over one centroid is cell 0 by
    * definition, no training needed): the centroid is the corpus mean
    * (what one Lloyd step converges to) and every vector is assigned
    * cell 0. SemanticDedup's exact-regime twin uses this to turn cluster
    * blocking into the all-pairs search.
    */
  def buildIndex(corpus: DataFrame, numCentroids: Int, seed: Long = 42L)
      : (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    if (numCentroids == 1) {
      val assigned = corpus.withColumn("cell", lit(0))
      val meanRow = corpus
        .agg(graft.functions.VectorFns.vectorAvg(col("embedding")).as("c"))
        .head
      // an empty corpus yields a NULL vectorAvg aggregate — fail with the
      // same explicit message class the KMeans path produces, not an NPE
      require(!meanRow.isNullAt(0),
        "IvfAnn.buildIndex: empty corpus — cannot derive the single-cell " +
          "centroid (no vectors to average)")
      val mean = meanRow.getSeq[Double](0).map(_.toFloat).toArray
      val centroids = spark.createDataFrame(Seq((0, mean))).toDF("cell", "centroid")
      return (assigned, centroids)
    }
    val withVec = corpus.withColumn("__fv", array_to_vector(col("embedding")))
    val model = new KMeans()
      .setK(numCentroids).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("__fv").setPredictionCol("cell")
      .fit(withVec)
    val assigned = model.transform(withVec).drop("__fv")
    val centroids = spark.createDataFrame(
      model.clusterCenters.zipWithIndex.toSeq
        .map { case (c, i) => (i, c.toArray.map(_.toFloat)) })
      .toDF("cell", "centroid")
    (assigned, centroids)
  }

  /** Approximate cosine top-k: each query probes its nProbe nearest cells. */
  def knnIvf(
      queries: DataFrame, candidates: DataFrame, k: Int,
      numCentroids: Int = 16, nProbe: Int = 2, seed: Long = 42L): DataFrame = {
    val (assigned, centroids) = buildIndexCached(candidates, numCentroids, seed)
    knnIvfOn(assigned, centroids, queries, k, nProbe)
  }

  /** (q_id, cell) pairs: the nProbe nearest centroids per query
    * (euclidean, matching KMeans): |q-c|² = |q|² - 2·q·c + |c|²; |q|² is
    * rank-invariant per query. top_k_by keeps the nProbe LOWEST distances
    * (score = -distance). Shared by the float path below and the PQ-coded
    * path (Pq.knnIvfPq).
    */
  private[similarity] def probeCells(
      q: DataFrame, centroids: DataFrame, nProbe: Int): DataFrame =
    q.crossJoin(broadcast(centroids))
      .withColumn("cell_dist",
        VectorFns.dot(col("centroid"), col("centroid")) -
          lit(2.0) * VectorFns.dot(col("q_emb"), col("centroid")))
      .groupBy("q_id")
      .agg(VectorFns.topKBy(-col("cell_dist"), col("cell").cast("long"), nProbe).as("cells"))
      .select(col("q_id"), explode(col("cells.cand_id")).as("cell_l"))
      .withColumn("cell", col("cell_l").cast("int")).drop("cell_l")

  /** Probe an already-built (cached or materialized) index. */
  def knnIvfOn(
      assigned: DataFrame, centroids: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val q = queries.select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      VectorFns.norm(col("embedding")).as("q_nrm"))
    val probes = probeCells(q, centroids, nProbe).join(q, Seq("q_id"))

    val c = assigned.select(
      col("cell"), col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
      VectorFns.norm(col("embedding")).as("c_nrm"))
    val sims = broadcast(probes).join(c, Seq("cell"))
      .filter(col("q_id") =!= col("cand_id"))
      .withColumn("sim", VectorFns.dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
    Ann.selectTopK(sims, k)
  }
}
