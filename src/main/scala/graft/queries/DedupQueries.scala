package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.dedup.{MinHashLsh, SimHash}
import graft.functions.TextShingles

/** §K dedup — the four standard LLM-corpus near-dup detectors plus exact
  * hashing. The exact n-gram-Jaccard and embedding-cosine variants are
  * DuckDB-verified; MinHash/SimHash are LSH candidate generators whose
  * recall is bounded by specs (DedupSpec) against the exact answers.
  */
object DedupQueries {

  /** The near-dup pairs, the cluster map and the embedding pairs are
    * memoized artifacts: three operators (pairs, clusters, keep) share the
    * same expensive upstream, and recomputing it per query tripled the
    * pipeline cost. In production these are materialized tables written
    * alongside the corpus (like any Pinot index).
    */
  private def jaccardPairsCached(
      s: org.apache.spark.sql.SparkSession, d: String, threshold: Double,
      maxShingleDf: Long = 4096L) =
    graft.engine.Artifacts.persisted("dedup_pairs", Tables.documents(s, d),
      threshold, maxShingleDf)(jaccardPairs(s, d, threshold, maxShingleDf))

  private def embeddingPairsCached(
      s: org.apache.spark.sql.SparkSession, d: String, threshold: Double) = {
    val emb = Tables.embeddings(s, d)
    graft.engine.Artifacts.persisted("dedup_emb_pairs", emb, threshold)(
      graft.dedup.EmbeddingLsh.nearPairs(emb, "vec_id", "embedding", threshold))
  }

  private def clustersCached(
      s: org.apache.spark.sql.SparkSession, d: String, threshold: Double,
      maxShingleDf: Long = 4096L) =
    graft.engine.Artifacts.persisted("dedup_clusters", Tables.documents(s, d),
      threshold, maxShingleDf)(
      graft.dedup.Clusters.connectedComponents(
        jaccardPairsCached(s, d, threshold, maxShingleDf).select("a_id", "b_id")))

  /** Exact word-3-gram Jaccard ≥ threshold pairs (inverted-index join).
    *
    * maxShingleDf caps the bucket width of the self-join: a shingle present
    * in more docs than the cap is boilerplate ("of the ..."), carries no
    * near-dup signal, and at corpus scale turns one join key into an
    * m²-pair hot spot. Dropping it bounds every bucket at maxShingleDf
    * docs while true near-dups keep meeting through their rare shingles
    * (recall demonstrated in DedupSpec with the cap forced tight). Jaccard
    * denominators use the UNCAPPED set sizes, so scores are exact whenever
    * no shared shingle was dropped — always the case below the cap.
    */
  private[graft] def jaccardPairs(
      s: org.apache.spark.sql.SparkSession, d: String, threshold: Double,
      maxShingleDf: Long = 4096L) = {
    // One shingle pass (lazy checkpoint) feeds sizes, the df rollup and
    // both self-join sides — the r15 dedup-family discipline.
    val docs = TextShingles.withShingleHashes(Tables.documents(s, d), "doc_id", "text", 3)
      .localCheckpoint(eager = false)
    val sizes = docs.select(col("doc_id"), size(col("sh")).as("n"))
    val exAll = docs.select(col("doc_id"), explode(col("sh")).as("sh"))
    // Anti-join against the (tiny by construction: ≤ occurrences/cap keys)
    // over-cap shingle list; map-side partial counts keep the df groupBy
    // itself skew-safe.
    val hot = exAll.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf).select("sh")
    val ex = exAll.join(hot, Seq("sh"), "left_anti")
    val pairs = ex.as("a")
      .join(ex.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_dedup_exact",
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(md5(col("text")).as("content_hash"))
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .orderBy("keep_id"),
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
                     count(*) AS n_copies
              FROM documents GROUP BY 1 ORDER BY keep_id""")),

    // Benchmark DECONTAMINATION — the training-pipeline step that removes
    // corpus documents overlapping a held-out eval set by word-8-gram
    // collision (the standard n-gram decontamination setting). Scale
    // shape: the benchmark side is SMALL by nature (an eval suite, not a
    // corpus), so its (bench_id, gram) pairs broadcast — the 100 TB corpus
    // is touched by exactly one scan-local shingling pass + one broadcast
    // hash join; no shuffle of corpus grams at all. Grams are compared as
    // 64-bit hashes (8-byte keys, ~n²/2⁶⁴ collision odds); the fixture's
    // "benchmark" is the deterministic doc_id % 7 slice so DuckDB can
    // replay the whole check exactly.
    QueryDef(
      "q_decontaminate",
      (s, d) => {
        val sh = TextShingles.withShingleHashes(
          Tables.documents(s, d), "doc_id", "text", n = 8)
        val bench = sh.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id").as("bench_id"), explode(col("sh")).as("g"))
        val corpus = sh.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), explode(col("sh")).as("g"))
        corpus.join(broadcast(bench), "g")
          .groupBy("doc_id")
          .agg(
            countDistinct(col("g")).as("n_shared_grams"),
            countDistinct(col("bench_id")).as("n_bench_docs"))
          .orderBy("doc_id")
      },
      Some("""WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
                   sh AS (SELECT doc_id,
                          list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                                         || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
                                         FOR i IN range(1, len(w) - 6)]) AS s
                          FROM docs WHERE len(w) >= 8),
                   bench AS (SELECT doc_id AS bench_id, unnest(s) AS g FROM sh WHERE doc_id % 7 = 0),
                   corpus AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 7 != 0)
              SELECT c.doc_id,
                     CAST(count(DISTINCT c.g) AS BIGINT) AS n_shared_grams,
                     CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
              FROM corpus c JOIN bench b ON c.g = b.g
              GROUP BY 1 ORDER BY doc_id""")),

    // N-GRAM NOVELTY of an evaluation split — q_decontaminate's dual
    // (that query reports which TRAIN docs share grams with the bench;
    // this one scores every BENCH doc by how much of it is genuinely
    // unseen in train — the memorization screen an eval-set curator runs
    // before trusting a score). LEFT join keeps the zero-overlap docs:
    // novelty = 1.0 rows are the point. Scale shape: shingles are
    // scan-local 64-bit hashes, the train-gram dictionary is distinct-
    // deduped before the probe join, and the per-doc rollup is one
    // hash aggregation — no pair expansion anywhere.
    QueryDef(
      "q_ngram_novelty",
      (s, d) => {
        val sh = TextShingles.withShingleHashes(
          Tables.documents(s, d), "doc_id", "text", 3)
        val trainG = sh.filter(col("doc_id") % 7 =!= 0)
          .select(explode(col("sh")).as("g")).distinct()
          .withColumn("seen", lit(1L))
        sh.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), explode(col("sh")).as("g"))
          .join(trainG, Seq("g"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
          .select(col("doc_id"), col("n_grams"),
            (col("n_grams") - col("n_seen")).as("n_novel"),
            round((col("n_grams") - col("n_seen")) /
              col("n_grams").cast("double"), 4).as("novelty"))
          .orderBy("doc_id")
      },
      Some("""WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
                   sh AS (SELECT doc_id,
                          list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                         FOR i IN range(1, len(w) - 1)]) AS s
                          FROM docs WHERE len(w) >= 3),
                   train AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 7 != 0),
                   ex AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 7 = 0),
                   j AS (SELECT e.doc_id, count(*) AS n_grams,
                                count(t.g) AS n_seen
                         FROM ex e LEFT JOIN train t ON e.g = t.g
                         GROUP BY 1)
              SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
                     CAST(n_grams - n_seen AS BIGINT) AS n_novel,
                     round(CAST(n_grams - n_seen AS BIGINT) /
                           CAST(n_grams AS DOUBLE), 4) AS novelty
              FROM j ORDER BY doc_id""")),

    // Exact word-3-gram Jaccard ≥ 0.8 pairs via inverted-index join: only
    // docs sharing ≥1 shingle ever meet (never a cross join), intersection
    // counts come from one groupBy — the shape that survives 100 TB.
    // Shingles are joined as 64-bit hashes (8-byte shuffle keys, not
    // strings); Jaccard over hash sets equals Jaccard over string sets up
    // to a ~n²/2⁶⁴ collision chance.
    QueryDef(
      "q_dedup_ngram_jaccard",
      (s, d) =>
        jaccardPairsCached(s, d, 0.8)
          .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
          .orderBy("a_id", "b_id"),
      Some("""WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
                   sh AS (SELECT doc_id,
                          list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                         FOR i IN range(1, len(w) - 1)]) AS s
                          FROM docs WHERE len(w) >= 3),
                   ex AS (SELECT doc_id, unnest(s) AS shg FROM sh),
                   pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
                             FROM ex a JOIN ex b ON a.shg = b.shg AND a.doc_id < b.doc_id
                             GROUP BY 1, 2),
                   sizes AS (SELECT doc_id, len(s) AS n FROM sh)
              SELECT a_id, b_id,
                     round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard
              FROM pairs p
              JOIN sizes sa ON p.a_id = sa.doc_id
              JOIN sizes sb ON p.b_id = sb.doc_id
              WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
              ORDER BY a_id, b_id""")),

    // EDIT-DISTANCE near-dup pairs — the character-level refinement
    // stage a fuzzy-dedup pipeline runs AFTER blocking (shingle/LSH
    // dedup misses single-char typo families; Levenshtein catches them),
    // via the SORTED-NEIGHBORHOOD method: docs rank by head within a
    // (length-bucket, 3-char-prefix) block and each doc compares only to
    // the W=5 ranks after it — candidates are generated by EXPLODING the
    // W offsets and equi-joining on (block, rank), so the candidate
    // stream is O(n·W) BY CONSTRUCTION (a plain blocked self-join still
    // evaluates all in-block pairs as its residual; the first cut of this
    // query measured 11× at 10× data exactly because of that — this form
    // measures ~1×). The exact DP distance runs on bounded 40-char heads;
    // both engines run the same classic Levenshtein, so pairs and
    // distances hash-match. Near-identical heads sort adjacent, which is
    // why the W-window keeps full recall on typo families.
    QueryDef(
      "q_dedup_edit",
      (s, d) => {
        val W = 5
        val w = Window.partitionBy("lb", "pfx").orderBy(asc("head"), asc("doc_id"))
        // Compute-once barrier (r16, measured): `ranked` feeds BOTH the
        // probe explode and the join's right side, and the window sits
        // ABOVE the reusable exchange, so each side recomputed the
        // scan+rank pass (two 320 ms single-task stages of a 0.92 s
        // query). One lazy checkpoint of the ranked table halves that.
        val ranked = Tables.documents(s, d)
          .select(col("doc_id"), substring(lower(col("text")), 1, 40).as("head"),
            ((col("n_chars") / 50).cast("long")).as("lb"),
            substring(lower(col("text")), 1, 3).as("pfx"))
          .withColumn("r", row_number().over(w))
          .localCheckpoint(eager = false)
        val probes = ranked
          .withColumn("rb", explode(array((1 to W).map(j => col("r") + j): _*)))
          .select(col("doc_id").as("a_id"), col("head").as("a_head"),
            col("lb"), col("pfx"), col("rb"))
        // Spread the verify join: both sides read the 1-partition
        // checkpoint RDD, so the levenshtein pass would run single-task;
        // repartition the (5× exploded) probe side by the join key at the
        // session's shuffle parallelism (AQE-coalesce-exempt).
        val nb = s.conf.get("spark.sql.shuffle.partitions").toInt
        probes.repartition(nb, col("lb"), col("pfx"), col("rb"))
          .join(
            ranked.select(col("doc_id").as("b_id"), col("head").as("b_head"),
              col("lb"), col("pfx"), col("r").as("rb")),
            Seq("lb", "pfx", "rb"))
          .select(
            least(col("a_id"), col("b_id")).as("a_id"),
            greatest(col("a_id"), col("b_id")).as("b_id"),
            levenshtein(col("a_head"), col("b_head")).as("dist"))
          .filter(col("dist") <= 12)
          .orderBy("a_id", "b_id")
      },
      Some("""WITH dd AS (SELECT doc_id, substr(lower(text), 1, 40) AS head,
                     CAST(n_chars // 50 AS BIGINT) AS lb,
                     substr(lower(text), 1, 3) AS pfx
                   FROM documents),
                   rk AS (SELECT *, row_number() OVER (PARTITION BY lb, pfx
                            ORDER BY head, doc_id) AS r
                          FROM dd)
              SELECT least(a.doc_id, b.doc_id) AS a_id,
                     greatest(a.doc_id, b.doc_id) AS b_id,
                     CAST(levenshtein(a.head, b.head) AS INT) AS dist
              FROM rk a JOIN rk b
                ON a.lb = b.lb AND a.pfx = b.pfx
               AND b.r > a.r AND b.r <= a.r + 5
              WHERE levenshtein(a.head, b.head) <= 12
              ORDER BY a_id, b_id""")),

    // Asymmetric n-gram CONTAINMENT — the subset-detection companion of
    // Jaccard dedup: a short doc quoted wholesale inside a long one has
    // low Jaccard (union is dominated by the long doc) but containment
    // |S(a)∩S(b)| / |S(a)| ≈ 1, which is exactly the
    // quote/mirror/boilerplate-page signal a crawl dedup needs. Same
    // 100 TB shape as q_dedup_ngram_jaccard: inverted-index join on
    // 64-bit shingle hashes (docs only meet through a shared shingle,
    // never a cross join), one a<b pair per join, BOTH directions of the
    // asymmetric score derived from that single intersection count.
    QueryDef(
      "q_ngram_containment",
      (s, d) => {
        // one shingle pass (lazy checkpoint) for sizes, the df cap and
        // both inverted-index join sides — r15 dedup-family discipline
        val docs = TextShingles.withShingleHashes(
          Tables.documents(s, d), "doc_id", "text", 3)
          .localCheckpoint(eager = false)
        val sizes = docs.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
        val exAll = docs.filter(size(col("sh")) > 0)
          .select(col("doc_id"), explode(col("sh")).as("g"))
        // same hot-shingle cap as jaccardPairs: an over-cap shingle is
        // boilerplate and would turn one join key into an m² bucket;
        // scores stay exact whenever no shared shingle was dropped
        // (always, below the cap — the fixture never reaches it)
        val hot = exAll.groupBy("g").agg(count(lit(1)).as("df"))
          .filter(col("df") > 4096L).select("g")
        val ex = exAll.join(hot, Seq("g"), "left_anti")
        val pairs = ex.as("a")
          .join(ex.as("b"), col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .agg(count(lit(1)).as("inter"))
        pairs
          .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), "a_id")
          .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
          .filter(col("inter") / col("na") >= 0.9 || col("inter") / col("nb") >= 0.9)
          .select(col("a_id"), col("b_id"),
            round(col("inter") / col("na"), 4).as("c_ab"),
            round(col("inter") / col("nb"), 4).as("c_ba"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
                   sh AS (SELECT doc_id,
                          list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                         FOR i IN range(1, len(w) - 1)]) AS s
                          FROM docs WHERE len(w) >= 3),
                   ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
                   pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
                             FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
                             GROUP BY 1, 2),
                   sizes AS (SELECT doc_id, len(s) AS n FROM sh)
              SELECT a_id, b_id,
                     round(inter * 1.0 / sa.n, 4) AS c_ab,
                     round(inter * 1.0 / sb.n, 4) AS c_ba
              FROM pairs p
              JOIN sizes sa ON p.a_id = sa.doc_id
              JOIN sizes sb ON p.b_id = sb.doc_id
              WHERE inter * 1.0 / sa.n >= 0.9 OR inter * 1.0 / sb.n >= 0.9
              ORDER BY a_id, b_id""")),

    // Near-dup CLUSTERS: connected components over the Jaccard pairs —
    // cluster_id = min doc_id of the component; dedup keeps that doc.
    // Oracle: recursive CTE transitive closure over the same pairs.
    QueryDef(
      "q_dedup_clusters",
      (s, d) =>
        clustersCached(s, d, 0.8)
          .select(col("id").as("doc_id"), col("cluster_id"))
          .orderBy("doc_id"),
      Some("""WITH RECURSIVE
                   docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
                   sh AS (SELECT doc_id,
                          list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                         FOR i IN range(1, len(w) - 1)]) AS s
                          FROM docs WHERE len(w) >= 3),
                   ex AS (SELECT doc_id, unnest(s) AS shg FROM sh),
                   prs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
                           FROM ex a JOIN ex b ON a.shg = b.shg AND a.doc_id < b.doc_id
                           GROUP BY 1, 2),
                   sizes AS (SELECT doc_id, len(s) AS n FROM sh),
                   jp AS (SELECT a_id, b_id
                          FROM prs p
                          JOIN sizes sa ON p.a_id = sa.doc_id
                          JOIN sizes sb ON p.b_id = sb.doc_id
                          WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8),
                   edges AS (SELECT a_id AS u, b_id AS v FROM jp
                             UNION SELECT b_id, a_id FROM jp),
                   reach(u, v) AS (
                     SELECT DISTINCT u, u FROM edges
                     UNION
                     SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u)
              SELECT u AS doc_id, min(v) AS cluster_id
              FROM reach GROUP BY u ORDER BY doc_id""")),

    // Final dedup materialization: drop every cluster member that is not
    // its cluster's representative (min doc_id) — the surviving corpus.
    QueryDef(
      "q_dedup_keep",
      (s, d) => {
        val losers = clustersCached(s, d, 0.8)
          .filter(col("id") =!= col("cluster_id"))
          .select(col("id").as("doc_id"))
        Tables.documents(s, d)
          .join(losers, Seq("doc_id"), "left_anti")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_kept"))
          .orderBy("lang")
      },
      Some("""WITH RECURSIVE
                   docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
                   sh AS (SELECT doc_id,
                          list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                         FOR i IN range(1, len(w) - 1)]) AS s
                          FROM docs WHERE len(w) >= 3),
                   ex AS (SELECT doc_id, unnest(s) AS shg FROM sh),
                   prs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
                           FROM ex a JOIN ex b ON a.shg = b.shg AND a.doc_id < b.doc_id
                           GROUP BY 1, 2),
                   sizes AS (SELECT doc_id, len(s) AS n FROM sh),
                   jp AS (SELECT a_id, b_id
                          FROM prs p
                          JOIN sizes sa ON p.a_id = sa.doc_id
                          JOIN sizes sb ON p.b_id = sb.doc_id
                          WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8),
                   edges AS (SELECT a_id AS u, b_id AS v FROM jp
                             UNION SELECT b_id, a_id FROM jp),
                   reach(u, v) AS (
                     SELECT DISTINCT u, u FROM edges
                     UNION
                     SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
                   comp AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
                   losers AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
              SELECT lang, count(*) AS n_kept
              FROM documents
              WHERE doc_id NOT IN (SELECT doc_id FROM losers)
              GROUP BY lang ORDER BY lang""")),

    // LSH candidate generators — approximate by design; recall vs the
    // exact Jaccard answer is bounded in DedupSpec. rows-only check.
    QueryDef(
      "q_dedup_minhash",
      (s, d) =>
        MinHashLsh.candidatePairs(Tables.documents(s, d), "doc_id", "text")
          .orderBy("a_id", "b_id"),
      None),

    QueryDef(
      "q_dedup_simhash",
      (s, d) =>
        SimHash.nearPairs(Tables.documents(s, d), "doc_id", "text", maxHamming = 3)
          .orderBy("a_id", "b_id"),
      None),

    // q_dedup_minhash's EXACT-VERIFY twin, hash-verified: bands ≡
    // signature length (32 bands × 1 minhash) puts banding in its
    // exhaustive-recall regime — a J ≥ 0.8 pair is missed only if all 32
    // permutations pick non-shared shingles, probability (1−J)^32 ≤ 4e-23
    // — and the exact-Jaccard verify on the candidates then reproduces
    // the all-pairs Jaccard answer, so the full minhash pipeline
    // (shingle → signature → band join → verify) pins against
    // q_dedup_ngram_jaccard's exact oracle. Same fused scan-local
    // signature expression and band equi-join as the approximate row.
    QueryDef(
      "q_dedup_minhash_exact",
      (s, d) => {
        // ONE shingle pass feeds everything: the lazy localCheckpoint
        // materializes (doc_id, sh) on first use, so the band self-join's
        // two sides and both verify attaches read the SAME computed
        // blocks instead of re-running scan→split→shingle-hash 4× (the
        // r15 plan audit: 4 parquet scans each re-evaluating
        // word_shingle_hashes). Same expressions, same values — only the
        // materialization boundary moved.
        val docs = TextShingles.withShingleHashes(
          Tables.documents(s, d), "doc_id", "text", 3)
          .localCheckpoint(eager = false)
        val sets = docs.select(
          col("doc_id"), col("sh"), size(col("sh")).cast("long").as("n"))
        val cand = MinHashLsh.candidatePairsFromShingles(
          docs, "doc_id", numBands = MinHashLsh.NumHashes)
        // Project `inter` ONCE per candidate and checkpoint the small
        // (ids, na, nb, inter) frame before the threshold filter: without
        // the barrier the optimizer pushes the jaccard predicate into the
        // verify join and re-evaluates array_intersect three times per
        // pair (twice in the join condition, once in the projection).
        // The arithmetic above the barrier is unchanged, so the kept
        // pairs and their rounded jaccard are bit-identical.
        cand
          .join(sets.select(col("doc_id").as("a_id"), col("sh").as("a_sh"),
            col("n").as("na")), "a_id")
          .join(sets.select(col("doc_id").as("b_id"), col("sh").as("b_sh"),
            col("n").as("nb")), "b_id")
          .select(col("a_id"), col("b_id"), col("na"), col("nb"),
            size(array_intersect(col("a_sh"), col("b_sh"))).cast("long")
              .as("inter"))
          .localCheckpoint(eager = false)
          .withColumn("jaccard",
            col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .filter(col("jaccard") >= 0.8)
          .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
                   sh AS (SELECT doc_id,
                          list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                         FOR i IN range(1, len(w) - 1)]) AS s
                          FROM docs WHERE len(w) >= 3),
                   ex AS (SELECT doc_id, unnest(s) AS shg FROM sh),
                   pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
                             FROM ex a JOIN ex b ON a.shg = b.shg AND a.doc_id < b.doc_id
                             GROUP BY 1, 2),
                   sizes AS (SELECT doc_id, len(s) AS n FROM sh)
              SELECT a_id, b_id,
                     round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard
              FROM pairs p
              JOIN sizes sa ON p.a_id = sa.doc_id
              JOIN sizes sb ON p.b_id = sb.doc_id
              WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
              ORDER BY a_id, b_id""")),

    // q_dedup_simhash's EXACT-VERIFY twin, hash-verified: SimHash is a
    // bag-of-tokens signature (each occurrence adds ±1 to every bit sum),
    // so ANY two docs with equal token multisets collide at Hamming 0 and
    // land in the same chunk bucket in all 4 bands — banding recall for
    // the multiset-equality relation is exhaustive, not probabilistic.
    // The pipeline therefore pins end-to-end: tokenize → SimHash64 →
    // 4-chunk pigeonhole band join → exact multiset-equality verify ≡ the
    // DuckDB sorted-token-list self-join. Hamming-0 collisions of
    // genuinely different multisets (possible; SimHash is lossy) are
    // removed by the verify on BOTH engines' definitions, so the gate is
    // deterministic. The raw fixture has zero duplicate texts at sf0.01,
    // so the corpus is augmented with a token-REVERSED twin of every
    // 37th doc (order permutation: same multiset, same simhash, reversed
    // text ≠ original text) — exercising exactly the order-independence
    // the signature claims, with deterministic non-empty output at every
    // sf. The oracle replays the same augmentation.
    QueryDef(
      "q_dedup_simhash_exact",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        // The reversed-twin id namespace is provably disjoint: offset =
        // max(doc_id)+1 from parquet FOOTER stats (exact for int64, zero
        // Spark jobs), not a fixed 1e6 that would alias real doc_ids on
        // a >1M-doc corpus. The oracle replays the same max(doc_id)+1.
        val idOffset = graft.sources.SegmentCatalog
          .metadataColumnRangeLong(s, s"$d/documents.parquet", "doc_id")
          .map(_._2 + 1L)
          .getOrElse(docs.agg(max("doc_id")).head.getLong(0) + 1L)
        val reversed = docs.filter(col("doc_id") % 37 === 0)
          .select((col("doc_id") + lit(idOffset)).as("doc_id"),
            array_join(reverse(split(lower(col("text")), " ")), " ").as("text"))
        val corpus = docs.unionByName(reversed)
        val cand = SimHash.nearPairs(corpus, "doc_id", "text", maxHamming = 0)
        val toks = corpus.select(col("doc_id"),
            array_sort(array_remove(TextShingles.wordTokens(col("text")), ""))
              .as("tk"))
          .filter(size(col("tk")) > 0)
        cand
          .join(toks.select(col("doc_id").as("a_id"), col("tk").as("a_tk")), "a_id")
          .join(toks.select(col("doc_id").as("b_id"), col("tk").as("b_tk")), "b_id")
          .filter(col("a_tk") === col("b_tk"))
          .select(col("a_id"), col("b_id"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
                   off AS (SELECT max(doc_id) + 1 AS o FROM base),
                   rev AS (SELECT doc_id + (SELECT o FROM off) AS doc_id,
                                  array_to_string(list_reverse(string_split(lower(text), ' ')), ' ') AS text
                           FROM base WHERE doc_id % 37 = 0),
                   corpus AS (SELECT * FROM base UNION ALL SELECT * FROM rev),
                   t AS (SELECT doc_id,
                                list_sort(list_filter(string_split(lower(text), ' '),
                                                      x -> x <> '')) AS tk
                         FROM corpus),
                   nz AS (SELECT doc_id, tk FROM t WHERE len(tk) > 0)
              SELECT a.doc_id AS a_id, b.doc_id AS b_id
              FROM nz a JOIN nz b ON a.tk = b.tk AND a.doc_id < b.doc_id
              ORDER BY a_id, b_id""")),

    // Embedding near-dup at the PRODUCTION posture: the engine derives
    // the banding plan from the stated similarity regime and corpus size
    // (EmbeddingLsh.tunedBands — cheapest (r, b) holding per-pair miss
    // ≤ 1e-6 at the threshold) and runs with the per-(band, bucket)
    // occupancy cap active (hot buckets split by extra hyperplane bits,
    // the maxShingleDf discipline — see EmbeddingLsh.cappedBands), so the
    // candidate stream stays O(rows · cap) when bucket occupancy
    // degenerates at corpus scale. Hash-verified against the all-pairs
    // exact-cosine oracle at the same threshold.
    QueryDef(
      "q_dedup_embedding_prod",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        // corpus size for band tuning comes from parquet FOOTER metadata
        // (SegmentCatalog.metadataRowCount) — a planner input, not worth
        // a full-scan count job (at 100 TB an eager count() per query
        // build is its own scan of the corpus)
        val n = graft.sources.SegmentCatalog
          .metadataRowCount(s, s"$d/embeddings.parquet").toDouble
        val (r, b) = graft.dedup.EmbeddingLsh.tunedBands(
          0.45, maxMiss = 1e-6, expectedN = n)
        graft.dedup.EmbeddingLsh
          .nearPairs(e, "vec_id", "embedding", 0.45, r, b)
          .select(col("a_id"), col("b_id"), round(col("sim"), 4).as("sim"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                                CAST(unnest(embedding) AS DOUBLE) AS v
                         FROM embeddings),
                   dots AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, sum(a.v * b.v) AS dot
                            FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
                            GROUP BY 1, 2),
                   norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY 1)
              SELECT a_id, b_id, round(dot / (na.nrm * nb.nrm), 4) AS sim
              FROM dots
              JOIN norms na ON a_id = na.vec_id
              JOIN norms nb ON b_id = nb.vec_id
              WHERE dot / (na.nrm * nb.nrm) >= 0.45
              ORDER BY a_id, b_id""")),

    // Embedding near-dup CLUSTERS: the same connected-components engine
    // over the cosine pairs — cluster id = min vec_id; proves the CC
    // operator is metric-agnostic (text shingles or embeddings alike).
    QueryDef(
      "q_dedup_embedding_clusters",
      (s, d) =>
        graft.dedup.Clusters
          .connectedComponents(
            embeddingPairsCached(s, d, 0.4).select("a_id", "b_id"))
          .select(col("id").as("vec_id"), col("cluster_id"))
          .orderBy("vec_id"),
      Some("""WITH RECURSIVE
                   e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                                CAST(unnest(embedding) AS DOUBLE) AS v
                         FROM embeddings),
                   dots AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, sum(a.v * b.v) AS dot
                            FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
                            GROUP BY 1, 2),
                   norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY 1),
                   jp AS (SELECT a_id, b_id FROM dots
                          JOIN norms na ON a_id = na.vec_id
                          JOIN norms nb ON b_id = nb.vec_id
                          WHERE dot / (na.nrm * nb.nrm) >= 0.4),
                   edges AS (SELECT a_id AS u, b_id AS v FROM jp
                             UNION SELECT b_id, a_id FROM jp),
                   reach(u, v) AS (
                     SELECT DISTINCT u, u FROM edges
                     UNION
                     SELECT e2.u, r.v FROM edges e2 JOIN reach r ON e2.v = r.u)
              SELECT u AS vec_id, min(v) AS cluster_id
              FROM reach GROUP BY u ORDER BY vec_id""")),

    // Embedding cosine near-dup pairs — LSH band candidates + exact-cosine
    // verify (graft.dedup.EmbeddingLsh): equi-joins only, no cartesian
    // node; sims are exact doubles, so the DuckDB oracle still matches
    // (banding at r=4, b=64 holds per-pair miss probability ≤ ~2e-5 at the
    // 0.4 threshold; DedupSpec checks the candidates cover the all-pairs
    // ground truth on the fixture).
    QueryDef(
      "q_dedup_embedding",
      (s, d) =>
        embeddingPairsCached(s, d, 0.4)
          .select(col("a_id"), col("b_id"), round(col("sim"), 4).as("sim"))
          .orderBy("a_id", "b_id"),
      Some("""WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                                CAST(unnest(embedding) AS DOUBLE) AS v
                         FROM embeddings),
                   dots AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, sum(a.v * b.v) AS dot
                            FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
                            GROUP BY 1, 2),
                   norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY 1)
              SELECT a_id, b_id, round(dot / (na.nrm * nb.nrm), 4) AS sim
              FROM dots
              JOIN norms na ON a_id = na.vec_id
              JOIN norms nb ON b_id = nb.vec_id
              WHERE dot / (na.nrm * nb.nrm) >= 0.4
              ORDER BY a_id, b_id""")),

    // SemDeDup-style semantic dedup (Abbas et al. 2023): KMeans-cell
    // blocking instead of LSH bands — the learned-structure sibling of
    // q_dedup_embedding, sharing the session-cached IVF cell assignment
    // with the ANN family (one KMeans fit serves both). Pairs are
    // exact-cosine verified inside cells (precision exact by
    // construction; cross-cell recall bounded in DedupSpec). rows-only:
    // the KMeans assignment is not SQL-expressible.
    QueryDef(
      "q_dedup_semantic",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        graft.dedup.SemanticDedup.pairs(e, threshold = 0.4, numCentroids = 16)
          .groupBy("cell")
          .agg(
            count(lit(1)).as("n_pairs"),
            countDistinct(col("b_id")).as("n_dropped"),
            round(max(col("cos")), 4).as("max_cos"))
          .orderBy("cell")
      },
      None),

    // q_dedup_semantic's EXACT-REGIME twin (the probe-all promotion,
    // applied to cluster blocking): numCentroids = 1 puts every vector
    // in ONE cell, so the within-cell self-join IS the all-pairs search
    // and SemDeDup's exact-cosine verify reproduces the brute-force
    // near-dup answer — hash-verified against the same all-pairs oracle
    // as q_dedup_embedding, through the KMeans-assignment + cell-join +
    // verify production code path (only the cell count differs).
    QueryDef(
      "q_dedup_semantic_exact",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        graft.dedup.SemanticDedup.pairs(e, threshold = 0.4, numCentroids = 1)
          .select(col("a_id"), col("b_id"),
            (round(col("cos"), 4) + lit(0.0)).as("cos"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                                CAST(unnest(embedding) AS DOUBLE) AS v
                         FROM embeddings),
                   dots AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, sum(a.v * b.v) AS dot
                            FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
                            GROUP BY 1, 2),
                   norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY 1)
              SELECT a_id, b_id, round(dot / (na.nrm * nb.nrm), 4) + 0 AS cos
              FROM dots
              JOIN norms na ON a_id = na.vec_id
              JOIN norms nb ON b_id = nb.vec_id
              WHERE dot / (na.nrm * nb.nrm) >= 0.4
              ORDER BY a_id, b_id""")),

    // Leakage-safe train/valid/test SPLIT: hashing each DOCUMENT into a
    // split leaks near-duplicates across the train/eval boundary (the
    // contamination q_decontaminate exists to catch); hashing each
    // near-dup CLUSTER keeps every member on one side by construction.
    // group_id = the dedup cluster representative (min doc_id), falling
    // back to the doc's own id for singletons; the split is the shared
    // content-hash bucket (HashBuckets.md5Bucket — deterministic under
    // any partitioning, retry, or cluster size) of that representative,
    // 80/10/10. Scale shape: the cluster map is the already-audited
    // CC output (corpus-pairs-sized, NOT corpus-sized) joined back once;
    // everything else is scan-local + a 3-group rollup. SplitSpec asserts
    // the invariant directly: no near-dup pair straddles two splits.
    QueryDef(
      "q_split_leakage",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val cl = clustersCached(s, d, 0.8)
          .select(col("id").as("doc_id"), col("cluster_id"))
        val b = graft.functions.HashBuckets.md5Bucket(col("group_id").cast("string"), 10)
        docs.join(cl, Seq("doc_id"), "left_outer")
          .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
          .withColumn("split",
            when(b < 8, "train").when(b === 8, "valid").otherwise("test"))
          .groupBy("split")
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("group_id")).as("n_groups"),
            sum("doc_id").as("id_checksum"))
          .orderBy("split")
      },
      Some("""WITH RECURSIVE
                   docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
                   sh AS (SELECT doc_id,
                          list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                         FOR i IN range(1, len(w) - 1)]) AS s
                          FROM docs WHERE len(w) >= 3),
                   ex AS (SELECT doc_id, unnest(s) AS shg FROM sh),
                   prs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
                           FROM ex a JOIN ex b ON a.shg = b.shg AND a.doc_id < b.doc_id
                           GROUP BY 1, 2),
                   sizes AS (SELECT doc_id, len(s) AS n FROM sh),
                   jp AS (SELECT a_id, b_id
                          FROM prs p
                          JOIN sizes sa ON p.a_id = sa.doc_id
                          JOIN sizes sb ON p.b_id = sb.doc_id
                          WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8),
                   edges AS (SELECT a_id AS u, b_id AS v FROM jp
                             UNION SELECT b_id, a_id FROM jp),
                   reach(u, v) AS (
                     SELECT DISTINCT u, u FROM edges
                     UNION
                     SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
                   comp AS (SELECT u AS doc_id, min(v) AS cluster_id
                            FROM reach GROUP BY u),
                   grp AS (SELECT d.doc_id,
                                  coalesce(c.cluster_id, d.doc_id) AS group_id
                           FROM documents d
                           LEFT JOIN comp c ON d.doc_id = c.doc_id),
                   spl AS (SELECT doc_id, group_id,
                                  CAST(('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 4))
                                       AS INT) % 10 AS b
                           FROM grp)
              SELECT CASE WHEN b < 8 THEN 'train'
                          WHEN b = 8 THEN 'valid'
                          ELSE 'test' END AS split,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups,
                     CAST(sum(doc_id) AS BIGINT) AS id_checksum
              FROM spl GROUP BY 1 ORDER BY split""")),

    // INCREMENTAL near-dup dedup — the daily-ingest production shape at
    // 100 TB: the standing corpus's MinHash band index is materialized
    // ONCE at ingest (MinHashLsh.materializeBands, partitioned by band);
    // each new batch is shingled/hashed scan-locally and probes the
    // index with an equi-join on (band_idx, band_hash), so per-batch
    // cost is O(batch) + index join — the corpus is never re-shingled.
    // Registry form uses the EXHAUSTIVE-RECALL banding regime
    // (numBands = NumHashes, one minhash per band: a J ≥ 0.8 pair is
    // missed with probability (1−J)^32 ≤ 4e-23 — the q_dedup_minhash_exact
    // construction) plus an exact trigram-Jaccard verify, so the result
    // equals the all-(batch×corpus)-pairs Jaccard filter and is
    // DuckDB-hash-verifiable. Fixture split: doc_id % 5 == 0 is the
    // incoming batch, the rest is the standing corpus. The band index is
    // an Artifacts segment memoized on the corpus it indexes — steady-state
    // builds fire zero jobs for it. DedupSpec covers the production 8-band
    // posture of candidatePairsAgainst; this row hash-verifies the semantics.
    QueryDef(
      "q_dedup_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        val idxPath = graft.engine.Artifacts.segment("bandidx", corpus)(dir =>
          MinHashLsh.materializeBands(corpus, "doc_id", "text", s"$dir/bands",
            numBands = MinHashLsh.NumHashes)) + "/bands"
        val idx = graft.sources.SegmentCatalog.readStableSchema(s, idxPath)
        // verify sides shingle only their own split (new_id ∈ batch,
        // corpus_id ∈ corpus by construction) — one corpus-worth of
        // shingling total, not two; the batch frame is additionally
        // checkpointed so the index probe and the verify attach share ONE
        // batch shingle pass instead of each re-running it
        val batchSh = TextShingles.withShingleHashes(batch, "doc_id", "text", 3)
          .localCheckpoint(eager = false)
        val cands = MinHashLsh.candidatePairsAgainstFromShingles(
          batchSh, "doc_id", idx, numBands = MinHashLsh.NumHashes)
        val aSh = batchSh
          .select(col("doc_id").as("new_id"), col("sh").as("a_sh"))
        val bSh = TextShingles.withShingleHashes(corpus, "doc_id", "text", 3)
          .select(col("doc_id").as("corpus_id"), col("sh").as("b_sh"))
        // inter projected once + plan barrier before the threshold filter
        // (the pushed-down predicate would re-evaluate array_intersect 3×
        // per candidate); arithmetic unchanged, results bit-identical
        cands.join(aSh, "new_id").join(bSh, "corpus_id")
          .select(col("new_id"), col("corpus_id"),
            size(col("a_sh")).as("__na"), size(col("b_sh")).as("__nb"),
            size(array_intersect(col("a_sh"), col("b_sh"))).as("inter"))
          .localCheckpoint(eager = false)
          .withColumn("jaccard", col("inter").cast("double") /
            (col("__na") + col("__nb") - col("inter")))
          .filter(col("jaccard") >= 0.8)
          .select(col("new_id"), col("corpus_id"),
            round(col("jaccard"), 4).as("jaccard"))
          .orderBy("new_id", "corpus_id")
      },
      Some("""WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
                   sh AS (SELECT doc_id,
                          list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                         FOR i IN range(1, len(w) - 1)]) AS s
                          FROM docs WHERE len(w) >= 3),
                   ex AS (SELECT doc_id, unnest(s) AS shg FROM sh),
                   pairs AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
                                    count(*) AS inter
                             FROM ex a JOIN ex b ON a.shg = b.shg
                             WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
                             GROUP BY 1, 2),
                   sizes AS (SELECT doc_id, len(s) AS n FROM sh)
              SELECT new_id, corpus_id,
                     round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard
              FROM pairs p
              JOIN sizes sa ON p.new_id = sa.doc_id
              JOIN sizes sb ON p.corpus_id = sb.doc_id
              WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
              ORDER BY new_id, corpus_id"""))
  )
}
