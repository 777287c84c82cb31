package graft.functions

import graft.sketch.{KllDoubles, SketchCodec}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `approx_quantiles(x, array(p1, p2, ...)[, k])` — mergeable KLL quantile
  * estimates (see [[graft.sketch.KllDoubles]]). Returns one retained-item
  * estimate per requested probability as `ARRAY<DOUBLE>`; NULL for an empty
  * group. The quantile companion to `approx_distinct` (cardinality) and
  * `approx_top_k` (frequency) ([[SketchAggregate]]): one O(k·log log n)
  * sketch per group crosses the shuffle.
  *
  * `kll_sketch_agg(x[, k])` (emitBinary) returns the serialized sketch for
  * storing; `kll_merge_agg(bin, probs[, k])` (mergeBinary) re-aggregates
  * stored sketches — store-then-merge for quantiles: keep one sketch per
  * partition/day, answer any percentile over any day range later without
  * rescanning raw data.
  */
case class ApproxQuantiles(
    child: Expression,
    probsExpr: Expression,
    kExpr: Expression,
    mergeBinary: Boolean = false,
    emitBinary: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAggregate[KllDoubles] {

  def this(child: Expression, probs: Expression) =
    this(child, probs, Literal(KllDoubles.DefaultK))

  override def children: Seq[Expression] = Seq(child, probsExpr, kExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), probsExpr = newChildren(1), kExpr = newChildren(2))

  override def withNewMutableAggBufferOffset(newOffset: Int): ApproxQuantiles =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ApproxQuantiles =
    copy(inputAggBufferOffset = newOffset)

  override def dataType: DataType =
    if (emitBinary) BinaryType else ArrayType(DoubleType, containsNull = false)
  override def prettyName: String =
    if (emitBinary) "kll_sketch_agg"
    else if (mergeBinary) "kll_merge_agg"
    else "approx_quantiles"

  override protected def codec: SketchCodec[KllDoubles] = KllDoubles
  override protected def literals: Seq[(String, Expression)] =
    Seq("probabilities" -> probsExpr, "k" -> kExpr)
  override protected def storedName: String = "KLL sketch"
  override protected def mergesIntoNewSketch: Boolean = true

  @transient private lazy val k: Int = intArg(kExpr, KllDoubles.DefaultK)
  @transient private lazy val probs: Array[Double] = QuantileArgs.probabilities(probsExpr)
  @transient private lazy val toDouble: Any => Double = QuantileArgs.toDouble(child.dataType)

  override protected def paramError: Option[String] =
    if (k < 8 || k > 65535) Some(s"k must be in [8, 65535], got $k")
    else if (emitBinary) None
    else QuantileArgs.probabilitiesError(probsExpr)

  override protected def inputError(dt: DataType): Option[String] = QuantileArgs.inputError(dt)

  override protected def newSketch(): KllDoubles = new KllDoubles(k)

  override protected def offer(
      slot: SketchSlot[KllDoubles], value: Any, input: InternalRow): Unit =
    slot.sketch.update(toDouble(value))

  override protected def result(sketch: KllDoubles): Any =
    if (sketch.n == 0L) null
    else if (emitBinary) sketch.serialize()
    else new GenericArrayData(probs.map(sketch.quantile))
}
