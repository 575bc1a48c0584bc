package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

import graft.engine.Artifacts
import graft.sources.SegmentCatalog.normalize

/** What the cube and view rewrites share: the registered inputs of a
  * derived layout, the one scan shape both rules match, and the analyzed
  * relations of the registered layouts.
  *
  * Freshness is one rule, the one `Artifacts` applies to its memo: a
  * registration records the file stamp (`Artifacts.stamp`) of each input
  * as a scan of it lists it, and a rule serves the cube or view only
  * while the query's own scan carries that stamp. A retention drop, an
  * append or an in-place rewrite of the fact (or dim) changes the stamp,
  * so the query scans its input until the writer re-registers.
  */
object Layouts {

  /** A registered input: its normalized path and its stamp at
    * registration.
    */
  final case class Input(path: String, stamp: Set[(String, Long, Long)]) {
    /** True when `paths` (a scan's root paths) name this input. */
    def isAt(paths: Set[String]): Boolean = paths.map(normalize) == Set(path)
  }

  /** `path` as a scan of it lists it now: the same data source and
    * FileIndex listing, with no schema inference.
    */
  def input(path: String): Input =
    Input(normalize(path), Artifacts.stamp(SparkSession.active.read
      .schema(new StructType()).parquet(path).queryExecution.analyzed))

  /** A file-source scan beneath attribute-only Projects and Filters (the
    * child of a rewritable Aggregate, each side of a rewritable Join),
    * with the conjunction of those filters.
    */
  private[plans] final case class Scan(
      relation: LogicalRelation, paths: Set[String], filter: Option[Expression]) {

    /** True while this scan reads exactly the files `input` had when its
      * layout was registered.
      */
    def reads(input: Input): Boolean = Artifacts.stamp(relation) == input.stamp
  }

  private[plans] object Scan {
    def unapply(p: LogicalPlan): Option[Scan] = p match {
      case l @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        Some(Scan(l, fs.location.rootPaths.map(_.toString).toSet, None))
      case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
        unapply(child)
      case Filter(cond, child) =>
        unapply(child).map(s => s.copy(filter = s.filter.map(And(_, cond)).orElse(Some(cond))))
      case _ => None
    }
  }

  private val relations =
    new java.util.concurrent.ConcurrentHashMap[String, LogicalPlan]()

  /** The analyzed relation of the layout at `path`, resolved once per
    * registration: parquet footer and schema work must not run inside the
    * optimizer on every matching query.
    */
  private[graft] def relation(spark: SparkSession, path: String): LogicalPlan =
    relations.computeIfAbsent(path,
      p => graft.sources.SegmentCatalog.readStableSchema(spark, p).queryExecution.analyzed)

  /** A fresh-exprId instance of `relation`, so two rewrites in one plan
    * never share attribute ids.
    */
  private[plans] def instance(spark: SparkSession, path: String): LogicalPlan =
    relation(spark, path) match {
      case m: MultiInstanceRelation => m.newInstance().asInstanceOf[LogicalPlan]
      case other => other
    }

  /** Drop the analyzed relation of a layout that was rebuilt or released. */
  private[plans] def forget(path: String): Unit = relations.remove(path)
}
