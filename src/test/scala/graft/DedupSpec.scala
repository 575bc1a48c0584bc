package graft

import org.apache.spark.sql.functions._
import graft.dedup.{MinHashLsh, SimHash}
import graft.engine.Tables
import graft.queries.Registry

class DedupSpec extends SparkSpec {

  private def exactPairs(minJaccard: Double): Set[(Long, Long)] =
    Registry.queries("q_dedup_ngram_jaccard")(spark, sfDir)
      .filter(col("jaccard") >= minJaccard)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash LSH recalls high-Jaccard pairs") {
    val exact = exactPairs(0.9)
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    val cands = MinHashLsh.candidatePairs(Tables.documents(spark, sfDir), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(cands.contains).toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall over ${exact.size} exact pairs")
  }

  test("simhash finds near-dups within the hamming bound") {
    val pairs = SimHash.nearPairs(Tables.documents(spark, sfDir), "doc_id", "text", 3).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(2) <= 3, s"hamming ${r.getInt(2)} > 3")
    }
    // planted 0.98+-Jaccard twins should overlap substantially with simhash hits
    val exact = exactPairs(0.95)
    val simSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = exact.count(simSet.contains).toDouble / math.max(exact.size, 1)
    assert(hit >= 0.5, s"simhash found only $hit of near-identical pairs")
  }

  test("embedding LSH candidates cover the all-pairs ground truth") {
    import graft.functions.VectorFns
    val e = Tables.embeddings(spark, sfDir)
    // all-pairs exact cosine — ground truth, small-fixture only
    val v = e.select(col("vec_id"), col("embedding"),
      VectorFns.norm(col("embedding")).as("nrm"))
    val truth = v.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
      .join(v.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"), col("nrm").as("b_nrm")),
        col("a_id") < col("b_id"))
      .withColumn("sim", VectorFns.dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
      .filter(col("sim") >= 0.4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val got = graft.dedup.EmbeddingLsh
      .nearPairs(e, "vec_id", "embedding", threshold = 0.4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === truth, s"missed=${truth -- got} extra=${got -- truth}")
  }

  test("bucket-occupancy cap splits hot buckets and keeps high-sim recall") {
    import graft.dedup.EmbeddingLsh
    val e = Tables.embeddings(spark, sfDir)
    val n = e.count()
    // force the cap far below natural occupancy so every band splits
    val capped = EmbeddingLsh.cappedBands(e, "vec_id", "embedding",
      r = 4, b = 16, dim = 64, seed = 4242L,
      maxBucketSize = 4, maxSplitRounds = 4, splitBits = 8)
      .groupBy("band").count().collect()
    // (a) the split actually bounds occupancy: after maxSplitRounds no
    // bucket can exceed cap unless its members agree on EVERY extra bit
    // (near-identical vectors — none in this fixture at cap 4)
    val maxOcc = capped.map(_.getLong(1)).max
    assert(maxOcc <= 4, s"hot buckets survived the split: max occupancy $maxOcc")
    // (b) total banded rows unchanged — splitting re-keys, never drops
    assert(capped.map(_.getLong(1)).sum === n * 16)
    // (c) recall of NEAR-DUPLICATE pairs survives a tight cap: plant 10
    // duplicate pairs among 400 random vectors (r=4 ⇒ only 16 buckets
    // per band, occupancy ~25 ≫ cap ⇒ every band splits for real). A
    // duplicate pair's extra sign bits always agree, so splits can never
    // separate it — the junk mass that made the buckets hot is what fans
    // out. This is the production claim: hot-bucket capping costs recall
    // only on pairs the extra planes disagree on, i.e. NOT true dups.
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0L until 400L).map(i => (i, vec()))
    val dups = (0 until 10).map(j => (400L + j, base(j * 7)._2.clone()))
    val planted = spark.createDataFrame(
      spark.sparkContext.parallelize((base ++ dups).map {
        case (id, v) => org.apache.spark.sql.Row(id, v.toSeq)
      }, 4),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
    val expect = (0 until 10).map(j => (j * 7L, 400L + j)).toSet
    val gotCapped = EmbeddingLsh.nearPairs(planted, "vec_id", "embedding",
        threshold = 0.999, r = 4, b = 16, dim = 64, seed = 4242L,
        maxBucketSize = 4, maxSplitRounds = 4, splitBits = 8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expect.subsetOf(gotCapped),
      s"tight cap lost planted dups: missing=${expect -- gotCapped}")
    // precision stays exact — the cosine verify runs on every candidate
    assert((gotCapped -- expect).isEmpty, s"false pairs: ${gotCapped -- expect}")
  }

  test("tunedBands picks deeper, cheaper bands as the threshold rises") {
    import graft.dedup.EmbeddingLsh
    val (rLo, bLo) = EmbeddingLsh.tunedBands(0.45, maxMiss = 1e-4, expectedN = 1e6)
    val (rHi, bHi) = EmbeddingLsh.tunedBands(0.90, maxMiss = 1e-4, expectedN = 1e6)
    assert(rHi >= rLo, s"deeper bands at higher threshold: $rHi vs $rLo")
    // per-band junk collision mass b·2^-r must shrink with the threshold
    val junkLo = bLo * math.pow(2.0, -rLo)
    val junkHi = bHi * math.pow(2.0, -rHi)
    assert(junkHi < junkLo,
      s"high-threshold banding should be cheaper: $junkHi vs $junkLo")
    // and the guaranteed miss bound holds at the threshold by construction
    def miss(t: Double, r: Int, b: Int): Double = {
      val p = 1.0 - math.acos(t) / math.Pi
      math.pow(1.0 - math.pow(p, r), b)
    }
    assert(miss(0.45, rLo, bLo) <= 1e-4)
    assert(miss(0.90, rHi, bHi) <= 1e-4)
  }

  test("fuzzy join: symmetric-delete blocking is COMPLETE for edit distance 1") {
    // pure form of the blocking claim: lev(a,b)<=1 => keys share a member
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def keys(s: String): Set[String] =
      Set(s) ++ s.indices.map(i => s.substring(0, i) + s.substring(i + 1))
    val base = Gen.chooseNum(0, 11).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val mutated = for {
      s <- base
      kind <- Gen.oneOf("ins", "del", "sub", "same")
      pos <- Gen.chooseNum(0, math.max(0, s.length - 1))
      c <- Gen.alphaLowerChar
    } yield kind match {
      case "ins" => (s, s.substring(0, pos) + c + s.substring(pos))
      case "del" if s.nonEmpty => (s, s.substring(0, pos) + s.substring(pos + 1))
      case "sub" if s.nonEmpty => (s, s.substring(0, pos) + c + s.substring(pos + 1))
      case _ => (s, s)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500)
        .withInitialSeed(org.scalacheck.rng.Seed(7L)),
      Prop.forAll(mutated) { case (a, b) => (keys(a) & keys(b)).nonEmpty })
    assert(res.passed, res.status.toString)
  }

  test("fuzzy join equals the brute-force edit-distance-1 pairs") {
    val spark2 = spark
    import spark2.implicits._
    // seed strings plus systematic 1-edit variants and some far strings
    val strs = (Seq("gear", "ring", "widget", "bolt", "anvil") ++
      Seq("gearx", "ear", "rang", "wadget", "odd", "completely-different"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val df = strs.toDF("id", "name")
    val got = graft.dedup.FuzzyJoin.nearPairs(df, "name")
      .select("a_name", "b_name").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val names = strs.map(_._2).distinct
    val truth = (for {
      a <- names; b <- names
      if a < b && levenshteinDist(a, b) <= 1
    } yield (a, b)).toSet
    assert(got === truth, s"missed=${truth -- got} extra=${got -- truth}")
  }

  private def levenshteinDist(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("semantic (cell-blocked) dedup: exact precision, bounded recall vs all-pairs") {
    import graft.functions.VectorFns
    val e = Tables.embeddings(spark, sfDir)
    val v = e.select(col("vec_id"), col("embedding"),
      VectorFns.norm(col("embedding")).as("nrm"))
    val truth = v.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
      .join(v.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"), col("nrm").as("b_nrm")),
        col("a_id") < col("b_id"))
      .withColumn("sim", VectorFns.dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
      .filter(col("sim") >= 0.4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val got = graft.dedup.SemanticDedup.pairs(e, threshold = 0.4, numCentroids = 8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every reported pair is exact-verified inside its cell → zero false positives
    assert((got -- truth).isEmpty, s"false positives: ${got -- truth}")
    // recall is the approximation (cross-cell pairs missed); on the random
    // fixture cell-blocking is a blunt instrument — require a sanity floor,
    // and document that real clustered corpora are where it earns its keep
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall >= 0.2, s"recall $recall (got ${got.size} of ${truth.size})")
    // keep() drops exactly the higher-id members of reported pairs
    val kept = graft.dedup.SemanticDedup.keep(e, 0.4, numCentroids = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val dropped = got.map(_._2)
    assert(kept === (v.select("vec_id").collect().map(_.getLong(0)).toSet -- dropped))
  }

  test("embedding near-dup plan has no cartesian or nested-loop join") {
    val plan = graft.dedup.EmbeddingLsh
      .nearPairs(Tables.embeddings(spark, sfDir), "vec_id", "embedding", 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("shingle df cap preserves near-dup recall while bounding buckets") {
    // The fixture's df histogram tops out at 9 (two boilerplate shingles
    // above 7; near-dup cluster shingles sit at df <= 7). A cap of 7 drops
    // the boilerplate yet yields the IDENTICAL pair set: near-dups meet
    // through their discriminative shingles. The cap must stay above the
    // duplicate-cluster size — shingles shared by a whole twin cluster
    // carry df = cluster size, which is why production caps are O(1000),
    // not O(10).
    val uncapped = Registry.queries("q_dedup_ngram_jaccard")(spark, sfDir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = graft.queries.DedupQueries
      .jaccardPairs(spark, sfDir, 0.8, maxShingleDf = 7L)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.nonEmpty)
    assert(capped === uncapped,
      s"lost=${uncapped -- capped} invented=${capped -- uncapped}")
  }

  test("exact dedup keeps one representative per distinct content") {
    val docs = Tables.documents(spark, sfDir)
    val out = Registry.queries("q_dedup_exact")(spark, sfDir)
    assert(out.agg(sum("n_copies")).head().getLong(0) === docs.count())
  }

  test("incremental candidates against a materialized band index match the self-join") {
    import java.nio.file.Files
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val newBatch = docs.filter(col("doc_id") % 5 === 0)
    val idx = tempDir("band_index")
    MinHashLsh.materializeBands(corpus, "doc_id", "text", idx)
    val indexed = spark.read.parquet(idx)
    val incr = MinHashLsh
      .candidatePairsAgainst(newBatch, "doc_id", "text", indexed)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: all-corpus self-join candidates restricted to
    // (new, existing) pairs
    val newIds = newBatch.select("doc_id").collect().map(_.getLong(0)).toSet
    val full = MinHashLsh.candidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        if (newIds(a) && !newIds(b)) Some((a, b))
        else if (newIds(b) && !newIds(a)) Some((b, a))
        else None
      }.toSet
    assert(incr === full,
      s"lost=${(full -- incr).take(5)} invented=${(incr -- full).take(5)}")
    // the index probe prunes by band partition (scan carries band_idx
    // partition column, not a full-index scan requirement)
    assert(indexed.columns.contains("band_idx"))
  }

  test("connected components equals union-find on random graphs (chains, stars, cliques)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // chains exercise many-round convergence; stars/cliques the min-label
    // fan-in; random edges the general case
    val chain = (0L until 40L).sliding(2).map(s => (s(0) + 1000, s(1) + 1000)).toSeq
    val star = (1L to 15L).map(i => (2000L, 2000L + i))
    val clique = for (a <- 0 to 6; b <- a + 1 to 6) yield (3000L + a, 3000L + b)
    val random = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val edges = (chain ++ star ++ clique ++ random).distinct
    val pairs = edges.toDF("a_id", "b_id")
    val got = graft.dedup.Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side union-find ground truth
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(n => n -> find(n)).toMap
    assert(got.keySet === want.keySet)
    // same PARTITION into components and the min-id representative per component
    assert(got === want, s"diff=${got.toSet.diff(want.toSet).take(10)}")
  }
}
