package graft.engine

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.expressions._

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions. Install with
  * `.config("spark.sql.extensions", "graft.engine.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)` — after that
  * `SELECT vector_dot(a, b)`, `minhash_bands(...)`, `top_k_by(...)` etc.
  * work from plain SQL. No name here may shadow a Spark built-in
  * (SqlInterfaceSpec checks): theta and KLL sketches are Spark's own
  * `theta_*` and `kll_*_double` functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Constructor parameters (k, band counts, seeds) must be literals. */
  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal integer argument, got $other")
  }
  private def longArg(e: Expression, fn: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal integer argument, got $other")
  }
  private def strArg(e: Expression, fn: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) if v != null =>
      v.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal string argument, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    def register(name: String, clazz: Class[_])(builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), builder))

    register("vector_dot", classOf[VectorDot])(es => VectorDot(es.head, es(1)))
    register("word_shingle_hashes", classOf[WordShingleHashes])(es =>
      WordShingleHashes(es.head, intArg(es(1), "word_shingle_hashes")))
    register("minhash_bands", classOf[MinHashBands])(es =>
      MinHashBands(es.head,
        intArg(es(1), "minhash_bands"), intArg(es(2), "minhash_bands")))
    register("simhash64", classOf[SimHash64])(es =>
      if (es.size > 1) SimHash64(es.head, longArg(es(1), "simhash64"))
      else SimHash64(es.head))
    register("image_dims", classOf[ImageDims])(es => ImageDims(es.head))
    register("in_id_set", classOf[InIdSet])(es => InIdSet(es.head, es(1)))
    register("lsh_band_buckets", classOf[LshBandBuckets])(es =>
      LshBandBuckets(es.head,
        intArg(es(1), "lsh_band_buckets"), intArg(es(2), "lsh_band_buckets"),
        intArg(es(3), "lsh_band_buckets"), longArg(es(4), "lsh_band_buckets")))
    // aggregates: the analyzer wraps AggregateFunctions used in agg context
    register("top_k_by", classOf[TopKByAgg])(es =>
      TopKByAgg(es.head, es(1), intArg(es(2), "top_k_by")))
    register("top_k_by_str", classOf[TopKByStrAgg])(es =>
      TopKByStrAgg(es.head, es(1), intArg(es(2), "top_k_by_str")))
    register("frequent_items", classOf[FrequentItemsAgg])(es =>
      FrequentItemsAgg(es.head, intArg(es(1), "frequent_items")))
    register("vector_avg", classOf[VectorAvgAgg])(es => VectorAvgAgg(es.head))
    register("tuple_sketch_agg", classOf[TupleSketchAgg])(es =>
      TupleSketchAgg(es.head, es(1), intArg(es(2), "tuple_sketch_agg")))
    register("tuple_union_agg", classOf[TupleUnionAgg])(es =>
      TupleUnionAgg(es.head, intArg(es(1), "tuple_union_agg")))
    register("tuple_distinct", classOf[TupleDistinct])(es => TupleDistinct(es.head))
    register("tuple_sum", classOf[TupleSum])(es => TupleSum(es.head))
    register("tuple_union", classOf[TupleUnion])(es => TupleUnion(es.head, es(1)))
    register("tuple_intersect", classOf[TupleIntersect])(es =>
      TupleIntersect(es.head, es(1)))
    register("tuple_a_not_b", classOf[TupleANotB])(es => TupleANotB(es.head, es(1)))
    // composed-builtin function (no custom expression class): the SQL name
    // expands to the same codegen'd regexp/string tree the Column API builds
    register("canonicalize_url", graft.functions.UrlFns.getClass)(es =>
      graft.functions.UrlFns.canonicalizeExpr(es.head))
    // Pinot predicate surface as SQL functions (the query string must be a
    // literal — it is compiled into the predicate tree at plan time). Both
    // expand to composed codegen'd builtin trees, same as the Column API.
    import org.apache.spark.sql.graftbridge.ColumnBridge
    register("text_match", graft.functions.TextSearch.getClass)(es =>
      ColumnBridge.resolvedExpression(graft.functions.TextSearch.textMatch(
        ColumnBridge.column(es.head), strArg(es(1), "text_match"))))
    register("json_match", graft.functions.JsonFns.getClass)(es =>
      ColumnBridge.resolvedExpression(graft.functions.JsonFns.jsonMatchSql(
        ColumnBridge.column(es.head), strArg(es(1), "json_match"))))

    // transparent star-tree pre-aggregation (fires only on fact tables
    // registered in graft.plans.StarTreeCatalog)
    ext.injectOptimizerRule(session => new graft.plans.StarTreeRewriteRule(session))
    // transparent timestamp-, json- and text-index rewrites (fire only on
    // scans carrying SegmentWriter-derived columns)
    ext.injectOptimizerRule(session => new graft.plans.DerivedColumnRewriteRule(session))
    // transparent denormalized-view join elimination (fires only on
    // fact⋈dim joins registered in graft.plans.DenormCatalog)
    ext.injectOptimizerRule(session => new graft.plans.DenormRewriteRule(session))
  }
}
