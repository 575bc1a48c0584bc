package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** KMV theta sketch: the k smallest 63-bit hashes of the distinct values,
  * plus `theta`, the exclusive upper bound below which the sample is
  * complete. While fewer than k distinct hashes have been seen the sketch
  * is EXACT (theta stays at MAX); once trimmed, the estimate is
  * |retained| / (theta / MAX) — the density of a uniform sample.
  *
  * Unlike HLL (q_distinctcount_hll), theta sketches support set ALGEBRA:
  * union, intersection and A-NOT-B all yield another sketch, because the
  * retained hashes of two sketches over the same hash function are
  * comparable sample sets (public algorithm: the KMV / theta family,
  * Beyer et al. SIGMOD'07, Apache DataSketches). Pinot ships this exact
  * capability as DISTINCTCOUNTTHETASKETCH (reference:
  * configuration-reference/schema.md:48 names the sketch aggregation
  * column families) — intersection cardinality ("users who did BOTH")
  * is inexpressible with HLL alone.
  *
  * Scale shape: O(k) mergeable state per group per map task — the same
  * partial/merge contract as frequent_items; only k longs cross the
  * shuffle regardless of input cardinality.
  */
final class ThetaState(val k: Int) extends Serializable {
  /** Exclusive upper bound on retained hashes; MAX ⇒ untrimmed (exact). */
  var theta: Long = Long.MaxValue
  val hashes: java.util.TreeSet[java.lang.Long] = new java.util.TreeSet[java.lang.Long]()

  def addHash(h63: Long): Unit =
    if (h63 < theta && hashes.add(h63)) trim()

  private def trim(): Unit =
    while (hashes.size > k) {
      val mx = hashes.last()
      hashes.remove(mx)
      theta = mx // retained set is everything strictly below the evicted hash
    }

  def mergeFrom(other: ThetaState): Unit = {
    if (other.theta < theta) {
      theta = other.theta
      // drop own entries no longer below the tightened bound
      hashes.tailSet(theta, true).clear()
    }
    other.hashes.forEach { h => if (h < theta) hashes.add(h) }
    trim()
  }

  def estimate: Double =
    if (theta == Long.MaxValue) hashes.size.toDouble
    else hashes.size.toDouble * (Long.MaxValue.toDouble / theta.toDouble)

  def serialized: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 + 4 + 8 * hashes.size)
    bb.putInt(k).putLong(theta).putInt(hashes.size)
    hashes.forEach(h => bb.putLong(h))
    bb.array()
  }
}

object ThetaState {
  def deserialize(bytes: Array[Byte]): ThetaState = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val st = new ThetaState(bb.getInt())
    st.theta = bb.getLong()
    val n = bb.getInt()
    var i = 0
    while (i < n) { st.hashes.add(bb.getLong()); i += 1 }
    st
  }

  /** 63-bit value hash (sign bit cleared so every hash is a valid
    * candidate below theta). One shared definition so sketches built on
    * different columns/tables stay algebra-compatible.
    */
  def hash63(v: Any): Long = {
    val h = v match {
      case s: UTF8String => XXH64.hashUTF8String(s, 0x7e7a5e7aL)
      case l: Long => XXH64.hashLong(l, 0x7e7a5e7aL)
      case i: Int => XXH64.hashLong(i.toLong, 0x7e7a5e7aL)
      case other => XXH64.hashUTF8String(UTF8String.fromString(other.toString), 0x7e7a5e7aL)
    }
    h & Long.MaxValue
  }

  /** theta = min of the two; retained = the given base set filtered to it. */
  def withMinTheta(a: ThetaState, b: ThetaState): Long = math.min(a.theta, b.theta)
}

private[expressions] trait ThetaAggBase extends TypedImperativeAggregate[ThetaState] {
  def k: Int
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def createAggregationBuffer(): ThetaState = new ThetaState(k)
  override def merge(buffer: ThetaState, other: ThetaState): ThetaState = {
    buffer.mergeFrom(other); buffer
  }
  override def eval(buffer: ThetaState): Any = buffer.serialized
  override def serialize(buffer: ThetaState): Array[Byte] = buffer.serialized
  override def deserialize(bytes: Array[Byte]): ThetaState = ThetaState.deserialize(bytes)
}

/** `theta_sketch_agg(col, k)` → binary sketch blob. */
case class ThetaSketchAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends ThetaAggBase with UnaryLike[Expression] {

  require(k >= 16, s"theta_sketch_agg requires k >= 16, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"theta_sketch_agg requires string/int/bigint, got ${other.catalogString}")
  }

  override def update(buffer: ThetaState, input: InternalRow): ThetaState = {
    val v = child.eval(input)
    if (v != null) buffer.addHash(ThetaState.hash63(v))
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ThetaSketchAgg =
    copy(child = newChild)
  override def prettyName: String = "theta_sketch_agg"
}

/** `theta_union_agg(sketch, k)` — merge PRE-BUILT sketch blobs into one:
  * the rollup aggregate that makes sketch CUBES servable (Pinot stores
  * theta sketches as aggregated star-tree metrics for exactly this —
  * any coarser grouping unions the cell sketches instead of rescanning
  * raw rows). Mergeable O(k) state; when every input sketch is untrimmed
  * the union is EXACTLY the sketch of the united inputs (same hash set),
  * which the spec pins.
  */
case class ThetaUnionAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends ThetaAggBase with UnaryLike[Expression] {

  require(k >= 16, s"theta_union_agg requires k >= 16, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"theta_union_agg requires binary sketches, got ${other.catalogString}")
  }

  override def update(buffer: ThetaState, input: InternalRow): ThetaState = {
    val v = child.eval(input)
    if (v != null) buffer.mergeFrom(ThetaState.deserialize(v.asInstanceOf[Array[Byte]]))
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ThetaUnionAgg =
    copy(child = newChild)
  override def prettyName: String = "theta_union_agg"
}

/** `theta_estimate(sketch)` → rounded distinct-count estimate (bigint). */
case class ThetaEstimate(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"theta_estimate requires a binary sketch, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType

  override protected def nullSafeEval(v: Any): Any =
    math.round(ThetaState.deserialize(v.asInstanceOf[Array[Byte]]).estimate)

  override protected def withNewChildInternal(newChild: Expression): ThetaEstimate =
    copy(child = newChild)
  override def prettyName: String = "theta_estimate"
}

/** Shared shape of the binary set-algebra operators. These run on GROUPED
  * output (a handful of sketch blobs), never per input row — CodegenFallback
  * is deliberate; there is no hot path to codegen.
  */
sealed trait ThetaSetOp extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two binary sketches, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  override def dataType: DataType = BinaryType

  protected def combine(a: ThetaState, b: ThetaState): ThetaState

  override protected def nullSafeEval(l: Any, r: Any): Any =
    combine(
      ThetaState.deserialize(l.asInstanceOf[Array[Byte]]),
      ThetaState.deserialize(r.asInstanceOf[Array[Byte]])).serialized
}

/** Union: same merge as the aggregate's partial/merge path. */
case class ThetaUnion(left: Expression, right: Expression) extends ThetaSetOp {
  override protected def combine(a: ThetaState, b: ThetaState): ThetaState = {
    a.mergeFrom(b); a
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ThetaUnion =
    copy(left = l, right = r)
  override def prettyName: String = "theta_union"
}

/** Intersection: theta = min(θa, θb); retain hashes present in BOTH below
  * it. |result| ≤ min(|a|, |b|) ≤ k, so no re-trim is needed.
  */
case class ThetaIntersect(left: Expression, right: Expression) extends ThetaSetOp {
  override protected def combine(a: ThetaState, b: ThetaState): ThetaState = {
    val out = new ThetaState(math.min(a.k, b.k))
    out.theta = ThetaState.withMinTheta(a, b)
    a.hashes.forEach { h => if (h < out.theta && b.hashes.contains(h)) out.hashes.add(h) }
    out
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ThetaIntersect =
    copy(left = l, right = r)
  override def prettyName: String = "theta_intersect"
}

/** A-NOT-B: theta = min(θa, θb); retain hashes of A below it that B lacks. */
case class ThetaANotB(left: Expression, right: Expression) extends ThetaSetOp {
  override protected def combine(a: ThetaState, b: ThetaState): ThetaState = {
    val out = new ThetaState(a.k)
    out.theta = ThetaState.withMinTheta(a, b)
    a.hashes.forEach { h => if (h < out.theta && !b.hashes.contains(h)) out.hashes.add(h) }
    out
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ThetaANotB =
    copy(left = l, right = r)
  override def prettyName: String = "theta_a_not_b"
}
