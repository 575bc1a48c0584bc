package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** TUPLE sketch: a KMV theta sketch whose retained entries each CARRY a
  * summary — here a summed long metric per distinct key. Where the theta
  * family answers "how many distinct users in A ∩ B", the tuple family
  * answers "how many, AND how much did they spend": the retained sample
  * is a uniform sample of the distinct keys, so the scaled sum of the
  * sampled summaries estimates the metric total over the full key set.
  * Pinot ships this as the Apache DataSketches Tuple sketch aggregations
  * (the sketch column families of configuration-reference/schema.md:48);
  * public algorithm: the theta/tuple sketch framework (Beyer et al.
  * SIGMOD'07; Apache DataSketches Tuple sketches).
  *
  * Same exactness contract as ThetaState: while fewer than k distinct
  * keys have been seen nothing trims (theta = MAX) and BOTH the distinct
  * count and the summary sums are exact — the hash-verifiable regime the
  * *_exact twin queries run in.
  *
  * Scale shape: O(k) mergeable (hash, sum) pairs per group per map task;
  * only k (long, long) entries cross the shuffle regardless of input
  * cardinality, and summaries fold additively because each row lands in
  * exactly one partial.
  */
final class TupleState(val k: Int) extends Serializable {
  /** Exclusive upper bound on retained hashes; MAX ⇒ untrimmed (exact). */
  var theta: Long = Long.MaxValue
  val entries: java.util.TreeMap[java.lang.Long, java.lang.Long] =
    new java.util.TreeMap[java.lang.Long, java.lang.Long]()

  def add(h63: Long, metric: Long): Unit =
    if (h63 < theta) {
      val prev = entries.get(h63)
      entries.put(h63, if (prev == null) metric else prev + metric)
      if (prev == null) trim()
    }

  private def trim(): Unit =
    while (entries.size > k) {
      val mx = entries.lastKey()
      entries.remove(mx)
      theta = mx
    }

  def mergeFrom(other: TupleState): Unit = {
    if (other.theta < theta) {
      theta = other.theta
      entries.tailMap(theta, true).clear()
    }
    other.entries.forEach { (h, m) =>
      if (h < theta) {
        val prev = entries.get(h)
        entries.put(h, if (prev == null) m.longValue() else prev + m.longValue())
      }
    }
    trim()
  }

  private def scale: Double =
    if (theta == Long.MaxValue) 1.0 else Long.MaxValue.toDouble / theta.toDouble

  def distinctEstimate: Double = entries.size.toDouble * scale

  def sumEstimate: Double = {
    var s = 0L
    entries.forEach((_, m) => s += m.longValue())
    s.toDouble * scale
  }

  def serialized: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 + 4 + 16 * entries.size)
    bb.putInt(k).putLong(theta).putInt(entries.size)
    entries.forEach { (h, m) => bb.putLong(h).putLong(m) }
    bb.array()
  }
}

object TupleState {
  def deserialize(bytes: Array[Byte]): TupleState = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val st = new TupleState(bb.getInt())
    st.theta = bb.getLong()
    val n = bb.getInt()
    var i = 0
    while (i < n) { st.entries.put(bb.getLong(), bb.getLong()); i += 1 }
    st
  }
}

private[expressions] trait TupleAggBase extends TypedImperativeAggregate[TupleState] {
  def k: Int
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def createAggregationBuffer(): TupleState = new TupleState(k)
  override def merge(buffer: TupleState, other: TupleState): TupleState = {
    buffer.mergeFrom(other); buffer
  }
  override def eval(buffer: TupleState): Any = buffer.serialized
  override def serialize(buffer: TupleState): Array[Byte] = buffer.serialized
  override def deserialize(bytes: Array[Byte]): TupleState = TupleState.deserialize(bytes)
}

/** `tuple_sketch_agg(key, metric, k)` → binary sketch blob. The metric is
  * a LONG by contract (the repo's integer-grid rule: quantize money to
  * cents per row BEFORE aggregating, so partial sums recombine exactly
  * under any partitioning — the class of bug q_seasonal_decompose had).
  */
case class TupleSketchAgg(
    left: Expression,
    right: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TupleAggBase with BinaryLike[Expression] {

  require(k >= 16, s"tuple_sketch_agg requires k >= 16, got $k")

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType | LongType | IntegerType, LongType) => TypeCheckResult.TypeCheckSuccess
    case (kt, mt) => TypeCheckResult.TypeCheckFailure(
      s"tuple_sketch_agg requires (string/int/bigint key, bigint metric), " +
        s"got (${kt.catalogString}, ${mt.catalogString})")
  }

  override def update(buffer: TupleState, input: InternalRow): TupleState = {
    val key = left.eval(input)
    val m = right.eval(input)
    if (key != null && m != null)
      buffer.add(ThetaState.hash63(key), m.asInstanceOf[Long])
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TupleSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TupleSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TupleSketchAgg =
    copy(left = l, right = r)
  override def prettyName: String = "tuple_sketch_agg"
}

/** `tuple_union_agg(sketch, k)` — fold PRE-BUILT tuple blobs (the cube
  * rollup path). NOTE union is summary-ADDITIVE: re-delivering the same
  * rows double-counts metric sums (unlike theta's idempotent key union),
  * so streaming folds need the batch-id replay guard kllCubeRefreshSink
  * documents.
  */
case class TupleUnionAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TupleAggBase with UnaryLike[Expression] {

  require(k >= 16, s"tuple_union_agg requires k >= 16, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"tuple_union_agg requires binary sketches, got ${other.catalogString}")
  }

  override def update(buffer: TupleState, input: InternalRow): TupleState = {
    val v = child.eval(input)
    if (v != null) buffer.mergeFrom(TupleState.deserialize(v.asInstanceOf[Array[Byte]]))
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TupleUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TupleUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TupleUnionAgg =
    copy(child = newChild)
  override def prettyName: String = "tuple_union_agg"
}

/** `tuple_distinct(sketch)` → rounded distinct-key estimate (bigint);
  * exact while the sketch is untrimmed.
  */
case class TupleDistinct(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"tuple_distinct requires a binary sketch, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType

  override protected def nullSafeEval(v: Any): Any =
    math.round(TupleState.deserialize(v.asInstanceOf[Array[Byte]]).distinctEstimate)

  override protected def withNewChildInternal(newChild: Expression): TupleDistinct =
    copy(child = newChild)
  override def prettyName: String = "tuple_distinct"
}

/** `tuple_sum(sketch)` → rounded estimate of the metric total over ALL
  * distinct keys (bigint; the sampled summaries scaled by 1/θ-density);
  * exact while untrimmed.
  */
case class TupleSum(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"tuple_sum requires a binary sketch, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType

  override protected def nullSafeEval(v: Any): Any =
    math.round(TupleState.deserialize(v.asInstanceOf[Array[Byte]]).sumEstimate)

  override protected def withNewChildInternal(newChild: Expression): TupleSum =
    copy(child = newChild)
  override def prettyName: String = "tuple_sum"
}

/** Shared shape of the binary tuple set ops (grouped-output scalars, no
  * hot path — CodegenFallback deliberate, same rationale as ThetaSetOp).
  */
sealed trait TupleSetOp extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two binary sketches, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  override def dataType: DataType = BinaryType

  protected def combine(a: TupleState, b: TupleState): TupleState

  override protected def nullSafeEval(l: Any, r: Any): Any =
    combine(
      TupleState.deserialize(l.asInstanceOf[Array[Byte]]),
      TupleState.deserialize(r.asInstanceOf[Array[Byte]])).serialized
}

/** Union: keys from either side, summaries summed per key. */
case class TupleUnion(left: Expression, right: Expression) extends TupleSetOp {
  override protected def combine(a: TupleState, b: TupleState): TupleState = {
    a.mergeFrom(b); a
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TupleUnion =
    copy(left = l, right = r)
  override def prettyName: String = "tuple_union"
}

/** Intersection: keys in BOTH below min(θa, θb); the kept summary is the
  * SUM of the two sides' summaries (the DataSketches default combiner) —
  * "users who did both, with their spend across both".
  */
case class TupleIntersect(left: Expression, right: Expression) extends TupleSetOp {
  override protected def combine(a: TupleState, b: TupleState): TupleState = {
    val out = new TupleState(math.min(a.k, b.k))
    out.theta = math.min(a.theta, b.theta)
    a.entries.forEach { (h, m) =>
      if (h < out.theta) {
        val bm = b.entries.get(h)
        if (bm != null) out.entries.put(h, m + bm)
      }
    }
    out
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TupleIntersect =
    copy(left = l, right = r)
  override def prettyName: String = "tuple_intersect"
}

/** A-NOT-B: A's keys below min(θa, θb) that B lacks, keeping A's summaries. */
case class TupleANotB(left: Expression, right: Expression) extends TupleSetOp {
  override protected def combine(a: TupleState, b: TupleState): TupleState = {
    val out = new TupleState(a.k)
    out.theta = math.min(a.theta, b.theta)
    a.entries.forEach { (h, m) =>
      if (h < out.theta && !b.entries.containsKey(h)) out.entries.put(h, m)
    }
    out
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TupleANotB =
    copy(left = l, right = r)
  override def prettyName: String = "tuple_a_not_b"
}
