package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.Graft

/** The one bootstrap of every `main` (Bench, Verify, Probe, ScaleBench):
  * where the data is, how many cores, the engine session, which queries,
  * and how a query is timed.
  *
  * Environment:
  *  - `SPARK_GRAFT_SF_DIR`: the scale-factor directory (default sf0.1);
  *  - `SPARK_GRAFT_CPUS`: `local[cpus]` with as many shuffle partitions
  *    (default 4);
  *  - `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"`: session conf applied after the
  *    engine defaults — the invariance hook (re-run the registry with AQE
  *    off, another broadcast threshold, …);
  *  - `SPARK_GRAFT_ONLY="q1,q2"`: restrict Bench or ScaleBench to the
  *    named queries.
  */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `SPARK_GRAFT_ONLY` split on commas; empty when unset. */
  def only: Seq[String] =
    sys.env.get("SPARK_GRAFT_ONLY").toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** The engine session (`Graft.session`) at `local[cpus]`, UI off, with
    * `extraConf` ("k=v;k=v") applied last.
    */
  def session(
      appName: String,
      extraConf: Option[String] = sys.env.get("SPARK_GRAFT_EXTRA_CONF")): SparkSession =
    Graft.session(s"local[$cpus]", cpus, appName,
      Map("spark.ui.enabled" -> "false") ++ extraConf.map(parseConf).getOrElse(Map.empty))

  /** "k=v;k=v" with key and value trimmed and empty entries skipped. An
    * entry without `=` or without a key throws: a dropped or mangled
    * override (`"k = v"` once set the key "k ") runs the wrong regime and
    * still reads green.
    */
  def parseConf(spec: String): Map[String, String] =
    spec.split(';').iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2).map(_.trim) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF: malformed entry '$kv', expected key=value")
      }
    }.toMap

  /** The entries of `from` that `names` selects, or all of `from` when
    * `names` is empty. Throws naming every unknown entry, so a typo fails
    * the run instead of timing or dumping nothing.
    */
  def select(names: Seq[String], from: Map[String, Query] = SparkEntry.queries)
      : Map[String, Query] = {
    val unknown = names.filterNot(from.contains).distinct
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) from else from.filter { case (n, _) => names.contains(n) }
  }

  /** Seconds to build `q` at `sfDir` and run it into the noop sink, which
    * materializes every output row and column (count() lets Spark prune
    * the final project and under-times wide results).
    */
  def time(spark: SparkSession, sfDir: String, q: Query): Double = {
    val t0 = System.nanoTime()
    q(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** `time`, or None with "`label` FAILED: message" on stderr. */
  def tryTime(spark: SparkSession, sfDir: String, q: Query, label: String): Option[Double] =
    try Some(time(spark, sfDir, q))
    catch { case e: Throwable =>
      System.err.println(s"$label FAILED: ${e.getMessage}")
      None
    }
}
