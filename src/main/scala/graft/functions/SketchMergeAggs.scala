package graft.functions

import org.apache.datasketches.frequencies.{ErrorType, LongsSketch}
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{SetOperation, Union}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** EXECUTOR-SIDE sketch merges for the rewrite's hybrid folds: the
  * below-cap paths answer `approx_count_distinct` / `percentile_approx`
  * / `approx_top_k` by merging each group's per-slot sketches on the
  * DRIVER; the hybrids instead ship raw per-minute sketch bytes (and,
  * with edges, raw sliver values) on the partials relation, and a real
  * executor-side [[org.apache.spark.sql.catalyst.plans.logical.Aggregate]]
  * merges them per group — O(1) driver work per shipped entry, merge
  * on the cluster, per-aggregate range clipping via the usual slot
  * FILTER.
  *
  * All three families are mergeable by construction (the wheel tiers
  * are built by exactly these unions): Theta set-union is
  * order-insensitive, so the executor estimate equals the
  * driver-merged one bit-for-bit; KLL and Misra-Gries merges carry the
  * family's published error bounds for ANY merge order (asserted in
  * the specs), which is the honesty contract the approximate SQL
  * spellings already accept. */
private[graft] object SketchMergeAggs {
  /** Worst-case 1-σ relative error of a Theta union at the wheels'
    * default nominal 4096 (≈1.04/√k) — the STATIC accuracy gate for
    * the hybrid folds: the below-cap fold gates on the merged sketch's
    * realized bound, which the driver does not compute here, so a
    * request tighter than the worst case refuses to the scan (strictly
    * more conservative, never less honest). */
  val ThetaWorstRse: Double = 1.04 / math.sqrt(4096.0)
}

/** UNION-OR-UPDATE seam for the residue sketch folds (round 17): a
  * sub-minute hybrid's union has two leg kinds — interior rows carry
  * per-minute sketch BYTES, edge rows carry the RAW sketched value —
  * and each leg NULLs the other's column, so one aggregate serves both:
  * non-null bytes union via the family merge, non-null raws feed the
  * same `update` call the build stage makes (long for Theta and
  * Misra-Gries — the families' integral-key contract — double for KLL;
  * NULL raws skip, mirroring the builds' null filter, which is also
  * the approximate SQL spellings' ignore-NULL semantics).
  *
  * Buffers are LIVE heap sketches, not bytes: a raw edge-row update is
  * an O(1) sketch update instead of a heapify-union per row, and the
  * interior unions heapify once per shipped minute. Theta stays
  * order-insensitive under mixed union/update, so the hybrid's answer
  * over an exact-regime range equals the scan's exactly; KLL and
  * Misra-Gries carry the family's published any-merge-order bounds. */
private[graft] abstract class SketchUpdateAgg[S >: Null <: AnyRef]
    extends TypedImperativeAggregate[S] with BinaryLike[Expression] {
  /** The interior leg's sketch-bytes column (NULL on edge rows). */
  def bytes: Expression
  /** The edge leg's raw value column (NULL on interior rows). */
  def raw: Expression
  override def left: Expression = bytes
  override def right: Expression = raw

  protected def newBuffer(): S
  protected def unionBytes(buf: S, b: Array[Byte]): Unit
  protected def updateRaw(buf: S, v: Any): Unit
  protected def mergeInto(a: S, b: S): Unit
  protected def toBytes(buf: S): Array[Byte]
  protected def fromBytes(b: Array[Byte]): S

  override def createAggregationBuffer(): S = null
  override def update(buf0: S, input: InternalRow): S = {
    val b = bytes.eval(input)
    val r = raw.eval(input)
    if (b == null && r == null) return buf0
    val buf = if (buf0 == null) newBuffer() else buf0
    if (b != null) unionBytes(buf, b.asInstanceOf[Array[Byte]])
    if (r != null) updateRaw(buf, r)
    buf
  }
  override def merge(a: S, b: S): S =
    if (a == null) b else if (b == null) a else { mergeInto(a, b); a }
  // zero-length bytes are the null buffer's wire form (real serialized
  // sketches always carry headers, so the sentinel is unambiguous)
  override def serialize(buf: S): Array[Byte] =
    if (buf == null) Array.emptyByteArray else toBytes(buf)
  override def deserialize(bs: Array[Byte]): S =
    if (bs.isEmpty) null else fromBytes(bs)
}

/** `approx_count_distinct(col)` over a sub-minute hybrid: union the
  * interior minutes' Theta bytes, update the edge rows' raw long keys.
  * Zero input = 0, the function's own zero-row answer. */
private[graft] final case class ThetaUpdateMergeAgg(
    bytes: Expression, raw: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends SketchUpdateAgg[Union] {
  override protected def newBuffer(): Union =
    SetOperation.builder().buildUnion()
  override protected def unionBytes(u: Union, b: Array[Byte]): Unit =
    u.union(Memory.wrap(b))
  override protected def updateRaw(u: Union, v: Any): Unit =
    u.update(v.asInstanceOf[Long])
  override protected def mergeInto(a: Union, b: Union): Unit =
    a.union(b.getResult)
  override protected def toBytes(u: Union): Array[Byte] =
    u.getResult.toByteArray
  override protected def fromBytes(b: Array[Byte]): Union = {
    val u = newBuffer(); u.union(Memory.wrap(b)); u
  }
  override def eval(buf: Union): Any =
    if (buf == null) 0L else math.round(buf.getResult.getEstimate)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_theta_update_merge"
  override def withNewMutableAggBufferOffset(o: Int): ThetaUpdateMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaUpdateMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ThetaUpdateMergeAgg =
    copy(bytes = l, raw = r)
}

/** `percentile_approx(col, p[, acc])` over a sub-minute hybrid: merge
  * interior KLL bytes, update raw edge doubles. Zero input = SQL NULL. */
private[graft] final case class KllUpdateMergeAgg(
    bytes: Expression, raw: Expression,
    percentages: Seq[Double],
    scalar: Boolean,
    resultType: DataType,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends SketchUpdateAgg[KllDoublesSketch] {
  override protected def newBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(graft.wheel.QuantileWheel.K)
  override protected def unionBytes(s: KllDoublesSketch, b: Array[Byte]): Unit =
    s.merge(KllDoublesSketch.heapify(Memory.wrap(b)))
  override protected def updateRaw(s: KllDoublesSketch, v: Any): Unit =
    s.update(v.asInstanceOf[Double])
  override protected def mergeInto(a: KllDoublesSketch, b: KllDoublesSketch): Unit =
    a.merge(b)
  override protected def toBytes(s: KllDoublesSketch): Array[Byte] =
    s.toByteArray
  override protected def fromBytes(b: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(b))
  override def eval(buf: KllDoublesSketch): Any =
    if (buf == null || buf.isEmpty) null
    else if (scalar) buf.getQuantile(percentages.head)
    else new GenericArrayData(
      percentages.map(p => buf.getQuantile(p): Any).toArray)
  override def nullable: Boolean = true
  override def dataType: DataType = resultType
  override def prettyName: String = "graft_kll_update_merge"
  override def withNewMutableAggBufferOffset(o: Int): KllUpdateMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KllUpdateMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): KllUpdateMergeAgg =
    copy(bytes = l, raw = r)
}

/** `approx_top_k(col, k)` over a sub-minute hybrid: merge interior
  * Misra-Gries bytes, update raw edge longs. Zero input = empty array.
  * Output rows in the family's deterministic (estimate desc, key asc)
  * order. */
private[graft] final case class MgUpdateMergeAgg(
    bytes: Expression, raw: Expression,
    k: Int,
    resultType: DataType,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends SketchUpdateAgg[LongsSketch] {
  override protected def newBuffer(): LongsSketch =
    new LongsSketch(graft.wheel.FrequencyWheel.MaxMapSize)
  override protected def unionBytes(s: LongsSketch, b: Array[Byte]): Unit = {
    s.merge(LongsSketch.getInstance(Memory.wrap(b))); ()
  }
  override protected def updateRaw(s: LongsSketch, v: Any): Unit =
    s.update(v.asInstanceOf[Long])
  override protected def mergeInto(a: LongsSketch, b: LongsSketch): Unit = {
    a.merge(b); ()
  }
  override protected def toBytes(s: LongsSketch): Array[Byte] =
    s.toByteArray
  override protected def fromBytes(b: Array[Byte]): LongsSketch =
    LongsSketch.getInstance(Memory.wrap(b))
  override def eval(buf: LongsSketch): Any =
    if (buf == null) new GenericArrayData(Array.empty[Any])
    else {
      val rows: Array[Any] = buf
        .getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
        .toSeq
        .map(r => (r.getItem, r.getEstimate))
        .sortBy { case (key, est) => (-est, key) }
        .take(k)
        .map { case (key, est) => InternalRow(key, est): Any }
        .toArray
      new GenericArrayData(rows)
    }
  override def nullable: Boolean = false
  override def dataType: DataType = resultType
  override def prettyName: String = "graft_mg_update_merge"
  override def withNewMutableAggBufferOffset(o: Int): MgUpdateMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MgUpdateMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): MgUpdateMergeAgg =
    copy(bytes = l, raw = r)
}
