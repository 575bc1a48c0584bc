package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

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
  * captures the EXACT fact+dim file listings the view was built from.
  * The rule fires only when both scans' root paths match a registration
  * AND their current listings equal the captured ones — a different dim
  * table, an unregistered fact, a non-equi/non-inner join, or files
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
      factPaths: Set[String],
      dimPaths: Set[String],
      key: String,
      viewPath: String,
      /** Exact data-file listings of fact and dim AT REGISTRATION — the
        * freshness contract: the rule serves the view only while the
        * scans' current listings match, so files appended to the fact
        * path without refreshIncremental + re-register degrade to the
        * real join instead of silently missing rows.
        */
      factSig: Set[String],
      dimSig: Set[String])

  private val views = new java.util.concurrent.ConcurrentHashMap[String, ViewDef]()
  private val relations =
    new java.util.concurrent.ConcurrentHashMap[String, LogicalPlan]()

  def register(factPath: String, dimPath: String, key: String, viewPath: String): Unit = {
    relations.remove(viewPath) // view may have been rebuilt
    val f = normalize(factPath); val d = normalize(dimPath)
    // keyed by the full (fact, dim, key) triple so several dims of the
    // same fact table coexist — a fact-only key silently evicted every
    // registration but the last
    views.put(s"$f|$d|$key",
      ViewDef(Set(f), Set(d), key, viewPath, listSig(factPath), listSig(dimPath)))
  }

  /** Data-file signature of a path (recursive listing, hidden files
    * excluded — the same set a FileIndex exposes as inputFiles). A
    * driver-side metadata operation, same cost class as any scan's own
    * listing; captured once per registration.
    *
    * EVERY path component below the root is checked for the hidden
    * prefixes, not just the leaf name: InMemoryFileIndex prunes whole
    * hidden DIRECTORIES (a `_temporary` left by a crashed write, a
    * `.staging` dir), so a leaf-only filter would bake their files into
    * the signature and the freshness equality against
    * `FileIndex.inputFiles` could never pass again — silently disabling
    * the rewrite forever.
    */
  private def listSig(path: String): Set[String] = {
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val root = fs.makeQualified(p)
    def hiddenUnderRoot(f: org.apache.hadoop.fs.Path): Boolean = {
      var cur = f
      while (cur != null && cur != root) {
        val n = cur.getName
        if (n.startsWith("_") || n.startsWith(".")) return true
        cur = cur.getParent
      }
      false
    }
    if (!fs.exists(p)) Set.empty
    else {
      val it = fs.listFiles(p, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next().getPath
        if (!hiddenUnderRoot(f)) b += normalize(f.toString)
      }
      b.result()
    }
  }

  /** Drop every view registered over `factPath`: its joins run again. */
  def unregister(factPath: String): Unit = {
    val f = normalize(factPath)
    views.asScala.foreach { case (k, v) =>
      if (v.factPaths(f) && views.remove(k, v)) relations.remove(v.viewPath)
    }
  }

  private[graft] def size: Int = views.size

  /** Analyzed view relation, resolved once per registration (no parquet
    * footer work inside the optimizer); fresh exprIds per use.
    */
  def viewRelation(spark: SparkSession, viewPath: String): LogicalPlan =
    relations.computeIfAbsent(viewPath,
      p => graft.sources.SegmentCatalog.readStableSchema(spark, p)
        .queryExecution.analyzed)

  /** Path match is necessary but not sufficient: two registrations can
    * share the same fact+dim paths with DIFFERENT join keys (a dim joined
    * on more than one foreign key), so the lookup selects by the full
    * (fact, dim, key) triple — a first-path-match would return the
    * wrong-key ViewDef and the rewrite would silently decline.
    */
  def find(factPaths: Set[String], dimPaths: Set[String], key: String)
      : Option[ViewDef] = {
    val f = factPaths.map(normalize); val d = dimPaths.map(normalize)
    views.values.asScala.find(v =>
      f.nonEmpty && d.nonEmpty && v.key == key &&
        f.subsetOf(v.factPaths) && d.subsetOf(v.dimPaths))
  }

  private[plans] def normalize(p: String): String =
    p.replaceFirst("^file:/*", "/").stripSuffix("/")
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

  /** Scan beneath attribute-only Projects and Filters; returns the scan's
    * root paths, the accumulated filter condition, and the scan's CURRENT
    * data-file listing (already materialized in the relation's FileIndex —
    * reading it costs no I/O) for the freshness check.
    */
  private def scanSide(p: LogicalPlan)
      : Option[(Set[String], Option[Expression], Set[String])] = p match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      Some((fs.location.rootPaths.map(_.toString).toSet, None,
        fs.location.inputFiles.map(DenormCatalog.normalize).toSet))
    case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
      scanSide(child)
    case Filter(cond, child) =>
      scanSide(child).map { case (paths, f, files) =>
        (paths, f.map(And(_, cond)).orElse(Some(cond)), files)
      }
    case _ => None
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
    val (lPaths, lFilter, lFiles) = scanSide(j.left).getOrElse(return None)
    val (rPaths, rFilter, rFiles) = scanSide(j.right).getOrElse(return None)
    // fact on either side of the join
    val (view, factFilter, dimFilter, factFiles, dimFiles) =
      DenormCatalog.find(lPaths, rPaths, leftKey.name) match {
        case Some(v) => (v, lFilter, rFilter, lFiles, rFiles)
        case None => DenormCatalog.find(rPaths, lPaths, leftKey.name) match {
          case Some(v) => (v, rFilter, lFilter, rFiles, lFiles)
          case None => return None
        }
      }
    // FRESHNESS: the view was materialized from exactly the registered
    // files. Files appended/removed since (without refreshIncremental +
    // re-register) would silently serve missing/stale rows — decline and
    // fall back to the real join instead.
    if (factFiles != view.factSig || dimFiles != view.dimSig) return None

    val viewRel = DenormCatalog.viewRelation(spark, view.viewPath) match {
      case m: org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation =>
        m.newInstance().asInstanceOf[LogicalPlan]
      case other => other
    }
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

    val conds = Seq(factFilter, dimFilter).flatten
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
