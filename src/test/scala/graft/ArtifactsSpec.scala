package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Artifacts
import graft.plans.{DenormCatalog, StarTreeCatalog}
import graft.queries.Registry

/** Memoized artifacts follow their input: a table rewritten in place
  * (temp write, then atomic rename — what compaction, retention and
  * merge-rollup do) must be served fresh on the next run, with no
  * invalidation call from the writer. One query per artifact kind; each
  * runs over its own copy of the sf0.001 fixtures, so every rewrite
  * changes the answer.
  *
  * Per query: run, rewrite the input with changed rows, run again. The
  * second answer must equal the answer over a fresh copy of the
  * rewritten fixtures (a new path shares no cache entry with the old
  * one, whoever keeps the cache) and differ from the first.
  * `invalidateAll()` must also unpersist
  * every frame the memos persisted, delete every segment directory they
  * wrote and drop every cube or view they registered.
  */
class ArtifactsSpec extends SparkSpec {

  private def retype(df: DataFrame, c: String, v: org.apache.spark.sql.Column) =
    df.withColumn(c, v.cast(df.schema(c).dataType))

  /** Each copy of a row under a new id: every doc/vector gains an exact
    * duplicate.
    */
  private def duplicated(idCol: String)(df: DataFrame) =
    df.unionByName(retype(df, idCol, col(idCol) + 1000000L))

  private def doubled(c: String)(df: DataFrame) = retype(df, c, col(c) * 2)

  private val cases: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("q_dedup_clusters", "documents", duplicated("doc_id")),
    ("q_dedup_embedding", "embeddings", duplicated("vec_id")),
    ("q_bpe_train", "documents", duplicated("doc_id")),
    ("q_percentile_cube", "lineitem", doubled("l_extendedprice")),
    ("q_timestamp_rewrite", "events", doubled("value")),
    ("q_text_index_rewrite", "documents", duplicated("doc_id")),
    ("q_text_index_search", "documents", duplicated("doc_id")),
    ("q_json_index_rewrite", "events", doubled("value")),
    // every order becomes urgent: a stale bloom set drops the new ones
    ("q_idset_filter", "orders",
      df => df.withColumn("o_orderpriority", lit("1-URGENT"))),
    ("q_ann_ivf", "embeddings", duplicated("vec_id")),
    ("q_ann_pq", "embeddings", duplicated("vec_id")),
    ("q_rollup_agg", "events", doubled("value")),
    ("q_startree_hll", "lineitem", doubled("l_quantity")),
    ("q_startree_kll", "lineitem", doubled("l_quantity")),
    ("q_startree_kll_exact", "lineitem", doubled("l_quantity")),
    ("q_dedup_incremental", "documents", duplicated("doc_id")),
    ("q_denorm_join", "orders", doubled("o_totalprice")),
    ("q_avro_ingest", "documents", duplicated("doc_id")))

  private def fixtureCopy(from: String, to: String): String = {
    val dir = Files.createDirectories(Paths.get(to))
    new File(from).listFiles().foreach(f => Files.copy(f.toPath, dir.resolve(f.getName)))
    dir.toString
  }

  private def rewrite(dir: String, table: String, change: DataFrame => DataFrame): Unit = {
    val target = Paths.get(dir, s"$table.parquet")
    val tmp = Files.createTempDirectory(Paths.get(dir), "_rewrite")
    change(spark.read.parquet(target.toString)).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, target,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  /** Persisted RDDs once the ContextCleaner has reclaimed what is
    * unreachable: the localCheckpoint RDDs inside an artifact's lineage
    * are freed by the cleaner after the released frame is dropped, not by
    * its unpersist, so the count is read once GC has settled it.
    */
  private def settledPersistentRdds(): Int = {
    def now() = { System.gc(); Thread.sleep(200); spark.sparkContext.getPersistentRDDs.size }
    var (prev, cur, rounds) = (-1, now(), 0)
    while (cur != prev && rounds < 20) { prev = cur; cur = now(); rounds += 1 }
    cur
  }

  private def segmentDirs(): Set[String] =
    new File(System.getProperty("java.io.tmpdir")).listFiles()
      .map(_.getName).filter(_.matches("graft_\\w+_q\\d*")).toSet

  /** Star-tree cubes and denormalized views registered for the rewrites. */
  private def registrations(): (Int, Int) = (StarTreeCatalog.size, DenormCatalog.size)

  cases.foreach { case (name, table, change) =>
    test(s"$name serves the rewritten $table, and invalidateAll releases it") {
      val q = Registry.all.find(_.name == name).get
      val root = tempDir("graft_artifacts_spec")
      try {
        val dir = fixtureCopy(sfDir, s"$root/fixtures")
        def answer(d: String) = q.run(spark, d).collect().map(_.toString).toSeq
        Artifacts.invalidateAll()
        val persisted = settledPersistentRdds()
        val segments = segmentDirs()
        val registered = registrations()

        val first = answer(dir)
        rewrite(dir, table, change)
        val afterRewrite = answer(dir)
        Artifacts.invalidateAll()
        val copy = fixtureCopy(dir, s"$root/copy")
        val rebuilt = answer(copy)
        assert(afterRewrite === rebuilt, s"$name served a stale artifact after $table changed")
        assert(rebuilt !== first, s"the $table rewrite did not change $name's answer")

        Artifacts.invalidateAll()
        assert(settledPersistentRdds() === persisted,
          s"$name: invalidateAll left persisted frames behind")
        assert(segmentDirs() === segments,
          s"$name: invalidateAll left segment directories behind")
        assert(registrations() === registered,
          s"$name: invalidateAll left star-tree or denorm registrations behind")
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new File(root))
    }
  }
}
