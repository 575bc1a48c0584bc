package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Transparent star-tree pre-aggregation (reference: /root/reference/
  * basics/indexing/README.md:16 — Pinot's star-tree index answers eligible
  * aggregations from pre-aggregated records WITHOUT the query changing).
  *
  * `StarTreeCatalog.register` binds a fact table's path, and the files it
  * holds at that moment, to a materialized cube (built by
  * graft.operators.StarTree.buildCube, written as parquet). While a
  * query's fact scan still lists exactly those files (Layouts), the
  * optimizer rule rewrites
  *
  *   Aggregate(dims ⊆ cube.dims, SUM/COUNT/AVG over cube.metrics,
  *             [Filter on dims] Scan(fact))
  *
  * into the same aggregate over the cube's partials (SUM(m) → SUM(s_m),
  * COUNT(*) → SUM(cube_cnt), COUNT(m) → SUM(c_m),
  * AVG(m) → SUM(s_m)/SUM(c_m) where c_m is the metric's non-null count —
  * NOT cube_cnt, which counts all rows and would corrupt AVG/COUNT over
  * nullable metrics) — at 100 TB
  * that turns a full fact scan into a scan of a cube orders of magnitude
  * smaller, exactly like Pinot serving group-bys from the star-tree.
  */
object StarTreeCatalog {

  final case class CubeDef(
      /** the fact path and its file stamp when the cube was built */
      fact: Layouts.Input,
      dims: Set[String],
      metrics: Set[String],
      cubePath: String,
      /** metrics carrying a mergeable HLL sketch (`hll_<m>`) in the cube —
        * Pinot's DISTINCTCOUNTHLL star-tree aggregation family. */
      distinctMetrics: Set[String] = Set.empty,
      /** metrics carrying a mergeable KLL sketch (`kll_<m>`) in the cube —
        * Pinot's PERCENTILEKLL star-tree aggregation family. */
      quantileMetrics: Set[String] = Set.empty)

  private val cubes = new java.util.concurrent.ConcurrentHashMap[String, CubeDef]()

  /** Serve `cubePath` for group-bys over `factPath` while the fact's files
    * stay as they are now: call it after the cube is (re)built from them.
    */
  def register(factPath: String, dims: Seq[String], metrics: Seq[String], cubePath: String,
      distinctMetrics: Seq[String] = Nil,
      quantileMetrics: Seq[String] = Nil): Unit = {
    Layouts.forget(cubePath) // cube may have been rebuilt
    val fact = Layouts.input(factPath)
    cubes.put(fact.path, CubeDef(fact, dims.toSet, metrics.toSet, cubePath,
      distinctMetrics.toSet, quantileMetrics.toSet))
  }

  /** Drop the cube registered for `factPath`: its group-bys scan the fact
    * again.
    */
  def unregister(factPath: String): Unit =
    Option(cubes.remove(graft.sources.SegmentCatalog.normalize(factPath)))
      .foreach(c => Layouts.forget(c.cubePath))

  private[graft] def size: Int = cubes.size

  def find(paths: Set[String]): Option[CubeDef] =
    cubes.values.asScala.find(_.fact.isAt(paths))
}

class StarTreeRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** `spark.graft.starTree.enabled=false` disables the rule (the parity
    * convention of the timestamp/JSON/term rewrites — the rule-off run
    * aggregates the raw fact scan, so an A/B pair isolates the cube win).
    */
  private def enabled: Boolean =
    spark.conf.get("spark.graft.starTree.enabled", "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformDown {
      case agg @ Aggregate(groups, aggExprs, child, _) if groups.nonEmpty =>
        tryRewrite(groups, aggExprs, child).getOrElse(agg)
    }

  private def tryRewrite(
      groups: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val scan = Layouts.Scan.unapply(child).getOrElse(return None)
    val filterOpt = scan.filter
    val cube = StarTreeCatalog.find(scan.paths).filter(c => scan.reads(c.fact))
      .getOrElse(return None)

    // grouping must be plain dim attributes
    val groupAttrs = groups.map {
      case a: AttributeReference if cube.dims.contains(a.name) => a
      case _ => return None
    }
    // a dim-only filter can ride on the cube; anything else disqualifies
    filterOpt.foreach { f =>
      if (!f.references.forall(a => cube.dims.contains(a.name))) return None
    }

    val cubeRel = Layouts.instance(spark, cube.cubePath)
    val cubeAttrByName = cubeRel.output.map(a => a.name -> a).toMap
    if (!cube.dims.forall(cubeAttrByName.contains) ||
      !cube.metrics.forall(m => cubeAttrByName.contains(s"s_$m")) ||
      !cube.distinctMetrics.forall(m => cubeAttrByName.contains(s"hll_$m")) ||
      !cube.quantileMetrics.forall(m => cubeAttrByName.contains(s"kll_$m")) ||
      !cubeAttrByName.contains("cube_cnt"))
      return None
    def cubeAttr(n: String): AttributeReference =
      cubeAttrByName(n).asInstanceOf[AttributeReference]

    def sumOf(name: String): Expression =
      Sum(cubeAttr(name)).toAggregateExpression()

    // rewrite each output: grouping attrs pass through; aggregates are
    // remapped onto the partials WHEREVER they appear in the output
    // expression (they may be wrapped, e.g. round(sum(x), 2))
    // transformUp: a top-down transform would descend into the freshly
    // built replacement (whose sum(s_*) partials don't match the metric
    // guard) and wrongly flag it unsupported
    var supported = true
    def rewriteAggTree(e: Expression): Expression = e.transformUp {
      // Any aggregate shape the cube cannot serve must DISQUALIFY the whole
      // rewrite, not merely be left in place: a FILTER'd or DISTINCT
      // aggregate that survives untouched would still have its dim
      // references remapped to cube attributes below, pass the
      // references-subset check, and silently aggregate cube CELLS instead
      // of fact ROWS (e.g. count(*) FILTER (WHERE dim = 'x') returning the
      // number of cube cells, or sum(x) FILTER (...) dropping its
      // predicate).
      case ae: AggregateExpression
          if ae.mode != Complete || ae.isDistinct || ae.filter.isDefined =>
        supported = false; ae
      case ae @ AggregateExpression(fn, Complete, false, None, _) =>
        fn match {
          case Sum(m: AttributeReference, _) if cube.metrics.contains(m.name) =>
            sumOf(s"s_${m.name}")
          // COUNT(*) / COUNT(non-null literal) only: COUNT(NULL) is
          // constant 0 and must NOT become the total row count.
          case Count(Seq(Literal(v, _))) if v != null =>
            sumOf("cube_cnt")
          // COUNT(m) and AVG(m) count only NON-NULL metric rows, so they
          // roll up from the per-metric c_<m> partial, never cube_cnt
          // (which counts all rows and silently inflates the denominator
          // for any nullable metric).
          case Count(Seq(m: AttributeReference))
              if cube.metrics.contains(m.name) &&
                cubeAttrByName.contains(s"c_${m.name}") =>
            sumOf(s"c_${m.name}")
          case Average(m: AttributeReference, _)
              if cube.metrics.contains(m.name) &&
                cubeAttrByName.contains(s"c_${m.name}") =>
            Divide(
              Cast(sumOf(s"s_${m.name}"), DoubleType),
              Cast(sumOf(s"c_${m.name}"), DoubleType))
          // MIN/MAX roll up losslessly (min of mins, max of maxes); the
          // partial-column guard keeps cubes built before these partials
          // existed un-rewritten rather than wrong.
          case Min(m: AttributeReference)
              if cube.metrics.contains(m.name) &&
                cubeAttrByName.contains(s"mn_${m.name}") =>
            Min(cubeAttr(s"mn_${m.name}")).toAggregateExpression()
          case Max(m: AttributeReference)
              if cube.metrics.contains(m.name) &&
                cubeAttrByName.contains(s"mx_${m.name}") =>
            Max(cubeAttr(s"mx_${m.name}")).toAggregateExpression()
          // DISTINCTCOUNTHLL from the star-tree (Pinot's sketch metric
          // family): approx_count_distinct(m) over the fact becomes a
          // union of the cube cells' mergeable HLL sketches + estimate.
          // Only the user-declared APPROX function is rewritten — exact
          // COUNT(DISTINCT m) never decomposes across cells and is left
          // on the fact scan.
          // The cube sketch is a DataSketches HLL at the default lgConfigK
          // (12 → RSE ≈ 1.04/√4096 ≈ 1.6%). A query asking for TIGHTER
          // precision than the cube can deliver (approx_count_distinct(m,
          // 0.005)) must keep its fact scan — serving it from the cube
          // would silently degrade the requested error bound (and switch
          // algorithms, HLL++ → DataSketches, changing the estimate).
          case HyperLogLogPlusPlus(m: AttributeReference, rsd, _, _)
              if rsd >= 0.0163 &&
                cube.distinctMetrics.contains(m.name) &&
                cubeAttrByName.contains(s"hll_${m.name}") =>
            HllSketchEstimate(
              HllUnionAgg(cubeAttr(s"hll_${m.name}"), Literal(true), 0, 0)
                .toAggregateExpression())
          // PERCENTILEKLL from the star-tree (Pinot's percentile sketch
          // metric family): percentile_approx(m, p, acc) over the fact
          // becomes a union of the cube cells' mergeable KLL sketches +
          // quantile read. Only the user-declared APPROX function is
          // rewritten — exact percentile() never decomposes across cells
          // and keeps its fact scan. Precision guard, like the HLL rsd
          // guard: the GK summary behind percentile_approx bounds rank
          // error by 1/acc while the cube's KLL bounds it by ~2/KllK, so
          // a request with acc > KllK/2 asks for tighter error than the
          // cube delivers and must keep its fact scan (it would also
          // switch algorithms, GK → KLL, changing the estimate).
          case ap: ApproximatePercentile =>
            (ap.child, ap.percentageExpression, ap.accuracyExpression) match {
              case (m: AttributeReference, Literal(p: Double, DoubleType),
                    Literal(acc, _))
                  if cube.quantileMetrics.contains(m.name) &&
                    cubeAttrByName.contains(s"kll_${m.name}") &&
                    acc.toString.toLong <= graft.operators.StarTree.KllK / 2 =>
                val q = graft.functions.expressions.KllQuantile(
                  graft.functions.expressions.KllUnionAgg(
                    cubeAttr(s"kll_${m.name}"), graft.operators.StarTree.KllK)
                    .toAggregateExpression(),
                  Literal(p))
                if (m.dataType == DoubleType) q else Cast(q, m.dataType)
              case _ => supported = false; ae
            }
          case _ => supported = false; ae
        }
      case a: AttributeReference if cube.dims.contains(a.name) => cubeAttr(a.name)
    }
    val newAggs = scala.collection.mutable.ArrayBuffer[NamedExpression]()
    val topProject = aggExprs.map {
      case a: AttributeReference if cube.dims.contains(a.name) =>
        val ca = cubeAttr(a.name)
        newAggs += ca
        Alias(ca, a.name)(exprId = a.exprId)
      case al @ Alias(child, name) =>
        val rewritten = rewriteAggTree(child)
        // anything still referencing the fact table disqualifies
        if (!supported || !rewritten.references.forall(cubeRel.outputSet.contains))
          return None
        val inner = Alias(rewritten, name)()
        newAggs += inner
        Alias(inner.toAttribute, name)(exprId = al.exprId)
      case _ => return None
    }
    if (!supported) return None

    val filtered = filterOpt match {
      case Some(f) =>
        val rewrittenCond = f.transform {
          case a: AttributeReference => cubeAttr(a.name)
        }
        Filter(rewrittenCond, cubeRel)
      case None => cubeRel
    }
    val newAggregate = Aggregate(groupAttrs.map(a => cubeAttr(a.name)), newAggs.toSeq, filtered)
    Some(Project(topProject, newAggregate))
  }
}
