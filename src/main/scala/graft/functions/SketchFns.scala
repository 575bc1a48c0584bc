package graft.functions

import org.apache.spark.sql.Column

import graft.functions.expressions._

/** Column API over the TUPLE sketch family (Pinot's DataSketches Tuple
  * aggregations): a KMV sketch whose retained keys carry a summed LONG
  * metric, so set algebra answers "how many distinct keys AND how much
  * metric" in one O(k) blob. Metric is a long by contract — quantize
  * money to cents per row first (the integer-grid rule).
  *
  * Theta and KLL sketches come from Spark itself
  * (`org.apache.spark.sql.functions.theta_*` and `kll_*_double`, the
  * DataSketches library Pinot's DISTINCTCOUNTTHETASKETCH and
  * PERCENTILEKLL use); Spark has no tuple sketch, hence this object.
  */
object SketchFns {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def tupleSketch(key: Column, metric: Column, k: Int = 4096): Column =
    ColumnBridge.column(
      TupleSketchAgg(
        ColumnBridge.expression(key), ColumnBridge.expression(metric), k)
        .toAggregateExpression())

  def tupleUnionAgg(sketch: Column, k: Int = 4096): Column =
    ColumnBridge.column(
      TupleUnionAgg(ColumnBridge.expression(sketch), k).toAggregateExpression())

  def tupleDistinct(sketch: Column): Column =
    ColumnBridge.column(TupleDistinct(ColumnBridge.expression(sketch)))

  def tupleSum(sketch: Column): Column =
    ColumnBridge.column(TupleSum(ColumnBridge.expression(sketch)))

  def tupleUnion(a: Column, b: Column): Column =
    ColumnBridge.column(
      TupleUnion(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def tupleIntersect(a: Column, b: Column): Column =
    ColumnBridge.column(
      TupleIntersect(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def tupleANotB(a: Column, b: Column): Column =
    ColumnBridge.column(
      TupleANotB(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
