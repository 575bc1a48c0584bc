package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Transparent DENORMALIZED-VIEW join elimination — the join sibling of
  * StarTreeRewriteRule (reference: /root/reference/basics/Architecture.md
  * lookup joins + import-data/README.md ingest transforms: Pinot resolves
  * dimensions INTO fact segments at ingest so queries never pay the join).
  *
  * `DenormCatalog.register` binds a (fact paths, dim paths, key) triple to
  * a view materialized by graft.sources.DenormView. The rule then rewrites
  *
  *   Join(Inner, fact.key = dim.key,
  *        [Project/Filter] Scan(fact), [Project/Filter] Scan(dim))
  *
  * into a scan of the view with both sides' filters re-applied and the
  * join's output projected by NAME from the view's columns — at 100 TB
  * that removes the fact-sized shuffle (or per-query broadcast) entirely,
  * which is precisely why Pinot denormalizes at ingest.
  *
  * Semantics contract (spec-pinned, DenormRewriteSpec): the registration
  * captures the file stamps of the fact and dim the view was built from
  * (Layouts). The rule fires only when both scans' root paths match a
  * registration AND their current stamps equal the captured ones — a
  * different dim table, an unregistered fact, a non-equi/non-inner join, or files
  * appended/removed since registration all fall back to the real join
  * (drift is detected at rewrite time, never served stale). Several dims
  * of the same fact table register independently (keyed by the full
  * (fact, dim, key) triple). After a dim change, re-materialize and
  * re-register (the same freshness discipline as StarTreeCatalog after a
  * fact rewrite); DenormView.refreshIncremental keeps the view current
  * for fact APPENDS without touching history — followed by re-register.
  */
object DenormCatalog {

  final case class ViewDef(
      /** the fact and dim paths and their file stamps when the view was
        * built: the rule serves the view only while both scans still carry
        * them, so files appended to the fact without refreshIncremental +
        * re-register degrade to the real join instead of missing rows.
        */
      fact: Layouts.Input,
      dim: Layouts.Input,
      key: String,
      viewPath: String)

  private val views = new java.util.concurrent.ConcurrentHashMap[String, ViewDef]()

  def register(factPath: String, dimPath: String, key: String, viewPath: String): Unit = {
    Layouts.forget(viewPath) // view may have been rebuilt
    val fact = Layouts.input(factPath); val dim = Layouts.input(dimPath)
    // keyed by the full (fact, dim, key) triple so several dims of the
    // same fact table coexist — a fact-only key silently evicted every
    // registration but the last
    views.put(s"${fact.path}|${dim.path}|$key", ViewDef(fact, dim, key, viewPath))
  }

  /** Drop every view registered over `factPath`: its joins run again. */
  def unregister(factPath: String): Unit = {
    val f = graft.sources.SegmentCatalog.normalize(factPath)
    views.asScala.foreach { case (k, v) =>
      if (v.fact.path == f && views.remove(k, v)) Layouts.forget(v.viewPath)
    }
  }

  private[graft] def size: Int = views.size

  /** Path match is necessary but not sufficient: two registrations can
    * share the same fact+dim paths with DIFFERENT join keys (a dim joined
    * on more than one foreign key), so the lookup selects by the full
    * (fact, dim, key) triple — a first-path-match would return the
    * wrong-key ViewDef and the rewrite would silently decline.
    */
  def find(factPaths: Set[String], dimPaths: Set[String], key: String)
      : Option[ViewDef] =
    views.values.asScala.find(v =>
      v.key == key && v.fact.isAt(factPaths) && v.dim.isAt(dimPaths))
}

class DenormRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** `spark.graft.denorm.enabled=false` disables the rule — the A/B
    * parity convention shared with the star-tree/timestamp/json/term
    * rewrites (rule-off runs the real join).
    */
  private def enabled: Boolean =
    spark.conf.get("spark.graft.denorm.enabled", "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformDown {
      case j: Join => tryRewrite(j).getOrElse(j)
    }

  private def tryRewrite(j: Join): Option[LogicalPlan] = {
    if (j.joinType != Inner) return None
    // single equi-join key, same column name both sides (the DenormView
    // materialize contract: fact.join(dim, key))
    val (leftKey, rightKey) = j.condition match {
      case Some(EqualTo(a: AttributeReference, b: AttributeReference)) => (a, b)
      case _ => return None
    }
    // the materialize contract needs ONE key name shared by both sides;
    // checking it up front lets the catalog lookup select by key too
    if (leftKey.name != rightKey.name) return None
    val l = Layouts.Scan.unapply(j.left).getOrElse(return None)
    val r = Layouts.Scan.unapply(j.right).getOrElse(return None)
    // fact on either side of the join
    val (view, fact, dim) = DenormCatalog.find(l.paths, r.paths, leftKey.name)
      .map((_, l, r))
      .orElse(DenormCatalog.find(r.paths, l.paths, leftKey.name).map((_, r, l)))
      .getOrElse(return None)
    // FRESHNESS: the view was materialized from exactly the registered
    // files. Files appended/removed since (without refreshIncremental +
    // re-register) would silently serve missing/stale rows — decline and
    // fall back to the real join instead.
    if (!fact.reads(view.fact) || !dim.reads(view.dim)) return None

    val viewRel = Layouts.instance(spark, view.viewPath)
    val byName = viewRel.output.map(a => a.name -> a).toMap

    // every column the join produces must exist in the view by name. The
    // join output carries BOTH sides' key attributes (a USING join prunes
    // one later, above the Join) — both map onto the view's single key
    // column; all other names must be unique, or the by-name remap is
    // ambiguous (fact self-join, dim column shadowing a fact column).
    val keyAttr = byName.getOrElse(view.key, return None)
    val keyIds = Set(leftKey.exprId, rightKey.exprId)
    val nonKeyOut = j.output.filterNot(a => keyIds.contains(a.exprId))
    if (nonKeyOut.map(_.name).distinct.size != nonKeyOut.size) return None
    if (nonKeyOut.exists(_.name == view.key)) return None
    val remap: Map[ExprId, Attribute] =
      (nonKeyOut.flatMap(a => byName.get(a.name).map(a.exprId -> _)) ++
        keyIds.toSeq.map(_ -> keyAttr)).toMap
    if (!j.output.forall(a => remap.contains(a.exprId))) return None

    def remapped(e: Expression): Option[Expression] = {
      var ok = true
      val r = e.transformUp {
        case a: AttributeReference =>
          remap.get(a.exprId).orElse(
            // filter may reference the dim key pruned from j.output
            byName.get(a.name)).getOrElse { ok = false; a }
      }
      if (ok) Some(r) else None
    }

    val conds = Seq(fact.filter, dim.filter).flatten
      .map(f => remapped(f).getOrElse(return None))
    val filtered = conds.reduceOption(And) match {
      case Some(c) => Filter(c, viewRel)
      case None => viewRel
    }
    // project to the join's exact output, preserving the original exprIds
    // so parents resolve unchanged
    val projectList: Seq[NamedExpression] = j.output.map { a =>
      Alias(remap(a.exprId), a.name)(exprId = a.exprId)
    }
    Some(Project(projectList, filtered))
  }
}
