package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The engine's one memo for derived artifacts — persisted frames, index
  * segments, trained dictionaries, bloom sets. Pinot builds each index
  * with its segment, so an index always matches the data it was built
  * from; here an artifact is built on first use and remembered, and this
  * object is what keeps it matched to its data.
  *
  * An entry is keyed by (session, kind, params, the input plan's
  * semantic hash) and stamped with a fingerprint of the input's files
  * (`stamp`). A lookup whose fingerprint differs from the stamp — the
  * input was compacted, retained, rolled up or replaced in place —
  * releases the old entry and rebuilds, so writers never need to know
  * which artifacts exist.
  *
  * Release happens BEFORE the rebuild, and persisted frames unpersist
  * blocking: Spark's CacheManager matches a rebuilt plan over the same
  * root path to the old persisted data, so a rebuild next to a live old
  * entry would be served the stale blocks.
  *
  * Lookups are re-entrant (a build may look up another artifact, as the
  * dedup clusters build through the pairs); each key has its own lock,
  * taken only after the key's slot exists, so no map lock is held across
  * a build.
  */
object Artifacts {

  /** (stamp, value, release) of the entry a key currently holds. */
  private final class Slot {
    var entry: Option[(Set[(String, Long, Long)], Any, () => Unit)] = None
  }

  private val slots =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, List[Any], Int), Slot]()

  /** The artifact `kind`(`params`) over `input`: built by `build` on first
    * use or after `input`'s files change, handed to `release` when
    * replaced or invalidated.
    */
  def memo[T](kind: String, input: DataFrame, params: Any*)(build: => T)(
      release: T => Unit): T = {
    val plan = input.queryExecution.analyzed
    val current = stamp(plan)
    val slot = slots.computeIfAbsent(
      (input.sparkSession, kind, params.toList, plan.semanticHash()), _ => new Slot)
    slot.synchronized {
      slot.entry match {
        case Some((`current`, v, _)) => v.asInstanceOf[T]
        case _ =>
          drop(slot)
          val v = build
          slot.entry = Some((current, v, () => release(v)))
          v
      }
    }
  }

  /** The fingerprint of `plan`'s input files: (path, length, mtime) of
    * every file under each file-source leaf, read from the listing the
    * leaf's FileIndex already holds (no I/O, no Spark job). The memo
    * stamps its entries with it, and the cube and view registrations
    * (graft.plans.Layouts) with the stamp of their fact and dim scans.
    */
  def stamp(plan: LogicalPlan): Set[(String, Long, Long)] =
    plan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.listFiles(Nil, Nil).flatMap(_.files)
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    }.flatten.toSet

  /** A persisted frame; released by a blocking unpersist. */
  def persisted(kind: String, input: DataFrame, params: Any*)(build: => DataFrame): DataFrame =
    memo(kind, input, params: _*)(build.persist())(_.unpersist(blocking = true))

  /** A segment directory written by `write` into a fresh temp dir; released
    * by `unregister(dir)` (dropping whatever catalog entry `write` made),
    * then deleting the directory. Directories still live when the JVM
    * exits are deleted then.
    */
  def segment(kind: String, input: DataFrame, unregister: String => Unit = _ => ())(
      write: String => Unit): String =
    memo(kind, input) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_${kind}_q").toString
      liveDirs.add(dir)
      write(dir)
      dir
    } { dir =>
      unregister(dir)
      liveDirs.remove(dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }

  /** Directories to delete at JVM exit: the live segments, plus scratch
    * layouts a builder rewrites on every build (`deleteAtExit`). The hook
    * touches only the filesystem: Spark may already be stopping.
    */
  private val liveDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  sys.addShutdownHook(liveDirs.forEach(d =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))))

  private[graft] def deleteAtExit(dir: String): Unit = liveDirs.add(dir)

  private def drop(slot: Slot): Unit = {
    val old = slot.entry
    slot.entry = None
    old.foreach(_._3())
  }

  /** Release every entry: the next lookup of each artifact rebuilds it. */
  def invalidateAll(): Unit =
    slots.keySet.forEach(k => Option(slots.remove(k)).foreach(s => s.synchronized(drop(s))))
}
