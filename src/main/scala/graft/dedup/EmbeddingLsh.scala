package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.functions.VectorFns
import graft.functions.expressions.LshBandBuckets

/** Embedding-cosine near-duplicate pairs at scale: banded sign-LSH
  * candidate generation + exact-cosine verification.
  *
  * The naive form — `a JOIN b ON a.id < b.id` then filter on cosine — is a
  * cartesian-class join (BroadcastNestedLoop): O(n²) rows materialized, dead
  * far below 100 TB. Here each vector emits b scan-local band values
  * (LshBandBuckets, one codegen'd pass); candidates come from an EQUI-join
  * on the band value (pinned sort-merge — huge×huge, spill-capable), and
  * only candidates get the exact cosine check. No cartesian node anywhere.
  *
  * Recall: a pair at angle θ collides with probability 1-(1-p^r)^b,
  * p = 1-θ/π. The defaults (r=6, b=144) hold miss probability ≤ ~1e-4
  * down to cos 0.4 — deeper bands than the r=4/b=64 alternative, cutting
  * the band-join row volume ~2× for the same recall (verified exhaustive
  * on the fixtures); a production near-dup pass (cos ≥ 0.9) gets the same
  * recall from ~r=8, b=16 at a fraction of the candidate volume.
  * Precision is exact: false candidates are removed by the cosine filter.
  */
object EmbeddingLsh {

  def bandBuckets(emb: Column, r: Int, b: Int, dim: Int, seed: Long): Column =
    ColumnBridge.column(LshBandBuckets(ColumnBridge.expression(emb), r, b, dim, seed))

  /** Distinct candidate (a_id, b_id) pairs sharing ≥1 LSH band value. */
  def candidatePairs(
      emb: DataFrame, idCol: String, embCol: String,
      r: Int, b: Int, dim: Int, seed: Long): DataFrame = {
    val banded = pinJoinParallelism(spreadScan(emb, idCol, embCol).select(
      col(idCol).as("vec_id"),
      explode(bandBuckets(col(embCol), r, b, dim, seed)).as("band")))
    // never broadcast the exploded side, spill-capable join — see nearPairs
    banded.as("a").hint("merge")
      .join(banded.as("b").hint("merge"),
        col("a.band") === col("b.band") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
  }

  /** Pin the band self-join's parallelism to the session's configured
    * shuffle partitions. AQE's byte-based partition coalescing sees a
    * post-explode shuffle of a few MB and folds it to ONE partition —
    * but the join work per bucket is quadratic in bucket occupancy, so
    * the whole candidate+verify stage then runs as a single serial task
    * (measured r15: two 1-task ~2.5 s stages inside
    * q_dedup_embedding_prod on a 32-core box). An explicit
    * repartition-by-band at spark.sql.shuffle.partitions is exempt from
    * AQE coalescing, satisfies the join's distribution requirement (no
    * extra exchange), and tracks cluster parallelism through config
    * rather than a local constant.
    */
  private def pinJoinParallelism(banded: DataFrame): DataFrame = {
    val n = banded.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    banded.repartition(n, col("band"))
  }

  /** Spread the vector scan across the configured shuffle parallelism
    * BEFORE the O(r·b·dim)-per-row banding expression runs (guide §2.5:
    * an unsplittable input — the fixtures are one row group per file —
    * otherwise serializes the most expensive scan-local expression in
    * this operator into a single task; measured r15 as a 1.6 s 1-task
    * stage per join side). A keyless round-robin repartition is
    * deterministic under retry (sortBeforeRepartition) and banding is
    * per-row, so results are unchanged; at cluster scale the extra
    * exchange moves only (id, vector) once and is dwarfed by the banded
    * output it parallelizes.
    */
  private def spreadScan(
      emb: DataFrame, idCol: String, embCol: String): DataFrame = {
    val n = emb.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    emb.select(col(idCol), col(embCol)).repartition(n)
  }

  /** Exact-cosine near-dup pairs ≥ threshold, via LSH candidates.
    *
    * Order of operations matters at scale: the cosine VERIFY runs on the
    * raw band-collision rows BEFORE any dedup — the embedding lookup joins
    * are stats-auto-broadcast when the vector table is small (plain
    * equi-joins at corpus scale) and the dot product is codegen'd, so
    * collisions are filtered as they are produced, and the only wide
    * shuffle left (the final distinct) sees just the surviving true pairs
    * (each duplicated at most `b` times). Deduplicating candidates FIRST
    * would instead shuffle the full collision volume — at a low threshold
    * that is nearly all pairs.
    */
  def nearPairs(
      emb: DataFrame, idCol: String, embCol: String, threshold: Double,
      r: Int = 6, b: Int = 144, dim: Int = 64, seed: Long = 4242L,
      maxBucketSize: Int = 4096, maxSplitRounds: Int = 4,
      splitBits: Int = 8): DataFrame = {
    val v = emb.select(
      col(idCol).as("vec_id"), col(embCol).as("embedding"),
      VectorFns.norm(col(embCol)).as("nrm"))
    val banded = pinJoinParallelism(
      cappedBands(emb, idCol, embCol, r, b, dim, seed,
        maxBucketSize, maxSplitRounds, splitBits))
    // The band self-join must NEVER broadcast and must SPILL: both sides
    // are the same b-way EXPLODED table, and Catalyst's static stats
    // don't see the explosion (Generate keeps the child's size estimate),
    // so at deep tuned bandings the planner happily tried to broadcast a
    // hundreds-of-millions-row side and OOM'd the driver; shuffle_hash
    // fixed that but its per-partition hash-relation build is
    // non-spilling and fell over at the same scale. Sort-merge is the
    // plan that is right at every scale — both sides huge, spill-capable.
    banded.as("a").hint("merge")
      .join(banded.as("b").hint("merge"),
        col("a.band") === col("b.band") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .join(v.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("nrm").as("a_nrm")), Seq("a_id"))
      .join(v.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("nrm").as("b_nrm")), Seq("b_id"))
      .withColumn("sim",
        VectorFns.dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), col("sim"))
      .distinct()
  }

  /** Banded (vec_id, band) rows with per-(band, bucket) occupancy capped
    * by RECURSIVE SPLITTING — the `maxShingleDf` discipline applied to LSH
    * bands, so the band self-join's candidate stream stays
    * O(rows · maxBucketSize) instead of degenerating quadratically when
    * bucket occupancy explodes (at corpus scale: near-constant embeddings
    * from boilerplate pages pile into a handful of buckets; on random data
    * r sign bits give only 2^r buckets per band, so occupancy grows
    * linearly with n and pairs quadratically).
    *
    * Splitting beats dropping: a bucket over the cap is re-keyed by
    * `splitBits` ADDITIONAL hyperplane sign bits (a fresh seeded band per
    * round), which is exactly "this band now has r+splitBits planes" for
    * the hot keys only — true near-dups keep colliding with probability
    * p^splitBits per round (p = 1−θ/π, ≈0.97^8 at cos 0.9) while the junk
    * mass that made the bucket hot fans out across 2^splitBits sub-buckets
    * (random pairs keep colliding at only 2^-splitBits). Recall loss is
    * bounded and pushed onto exactly the pairs the extra planes disagree
    * on; nothing is silently discarded wholesale.
    *
    * Each round is one linear aggregation (hot-bucket list, map-side
    * partial counts) + one equi-join against that list — no quadratic
    * stage anywhere. Rounds stop early when no bucket exceeds the cap
    * (fixture-scale data never splits at the default cap, so the
    * hash-verified registry queries keep their exact recall; DedupSpec
    * forces a tight cap to exercise the path).
    */
  private[graft] def cappedBands(
      emb: DataFrame, idCol: String, embCol: String,
      r: Int, b: Int, dim: Int, seed: Long,
      maxBucketSize: Int, maxSplitRounds: Int, splitBits: Int): DataFrame = {
    val base = spreadScan(emb, idCol, embCol).select(
      col(idCol).as("vec_id"),
      explode(bandBuckets(col(embCol), r, b, dim, seed)).as("band"),
      // One split key per potential round, computed scan-local in the same
      // pass (an array<long> of maxSplitRounds fresh sign-bit bands).
      bandBuckets(col(embCol), splitBits, math.max(1, maxSplitRounds), dim,
        seed * 6364136223846793005L + 1442695040888963407L).as("sk"))
    var banded = base
    var round = 0
    var done = maxSplitRounds <= 0
    while (!done && round < maxSplitRounds) {
      val hot = banded.groupBy("band").agg(count(lit(1)).as("m"))
        .filter(col("m") > maxBucketSize)
        .select(col("band"), lit(true).as("is_hot"))
      if (hot.isEmpty) done = true
      else {
        banded = banded
          .join(hot, Seq("band"), "left")
          .withColumn("band",
            when(col("is_hot"),
              // New sub-bucket key: hash(old band, this round's split
              // bits). Cross-band chance collisions only ADD candidates
              // (removed by the exact verify) — never lose any.
              xxhash64(col("band"), element_at(col("sk"), round + 1)))
              .otherwise(col("band")))
          .drop("is_hot")
          .localCheckpoint()
        round += 1
      }
    }
    banded.select(col("vec_id"), col("band"))
  }

  /** (r, b) banding plan for a target cosine threshold: the cheapest
    * configuration whose per-pair miss probability AT the threshold stays
    * ≤ maxMiss. For each band depth r, the band count needed is
    * b(r) = ⌈ln(maxMiss)/ln(1−p^r)⌉ with p = 1−θ/π. Cost per vector is
    * modeled as b banding rows + expected random collisions
    * (expectedN/2)·b·2^-r — deeper bands trade more banding rows for
    * exponentially fewer junk candidates, so the optimum moves deeper as
    * the corpus grows (cos 0.9, n=1e6 → r≈16–20 and ~a few hundred bands;
    * cos 0.4 → shallow wide bands, the honestly-exhaustive regime).
    */
  def tunedBands(threshold: Double, maxMiss: Double = 1e-4,
      expectedN: Double = 1e6): (Int, Int) = {
    require(threshold > -1.0 && threshold < 1.0, s"threshold $threshold")
    val p = 1.0 - math.acos(threshold) / math.Pi
    val candidates = (4 to 24).flatMap { r =>
      val pr = math.pow(p, r)
      if (pr >= 1.0 || pr <= 0.0) None
      else {
        val b = math.ceil(math.log(maxMiss) / math.log1p(-pr)).toInt
        if (b < 1 || b > 4096) None
        else Some((r, b, b + expectedN / 2.0 * b * math.pow(2.0, -r)))
      }
    }
    require(candidates.nonEmpty,
      s"no feasible banding for threshold=$threshold maxMiss=$maxMiss")
    val best = candidates.minBy(_._3)
    (best._1, best._2)
  }
}
