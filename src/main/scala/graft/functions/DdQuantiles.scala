package graft.functions

import graft.sketch.{DdSketch, SketchCodec}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `dd_quantiles(x, array(p1, ...)[, alpha])` — mergeable DDSketch
  * quantile estimates with a RELATIVE-error guarantee: each returned
  * estimate is within α of the true quantile VALUE (vs KLL's rank-error
  * bound — see [[graft.sketch.DdSketch]] for why both families exist).
  * Returns `ARRAY<DOUBLE>`, NULL for an empty group. One log-bucket
  * histogram per group crosses the shuffle ([[SketchAggregate]]); partial
  * aggregation is exact bucket-count addition (deterministic — any
  * partitioning yields the identical sketch below the bucket cap).
  *
  * `dd_sketch_agg(x[, alpha])` (emitBinary) returns the serialized
  * sketch for storing; `dd_merge_agg(bin, probs)` (mergeBinary)
  * re-aggregates stored sketches — one sketch per partition/day,
  * any percentile over any day range later, no raw rescan.
  */
case class DdQuantiles(
    child: Expression,
    probsExpr: Expression,
    alphaExpr: Expression,
    mergeBinary: Boolean = false,
    emitBinary: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAggregate[DdSketch] {

  def this(child: Expression, probs: Expression) =
    this(child, probs, Literal(DdSketch.DefaultAlpha))

  override def children: Seq[Expression] = Seq(child, probsExpr, alphaExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), probsExpr = newChildren(1),
      alphaExpr = newChildren(2))

  override def withNewMutableAggBufferOffset(newOffset: Int): DdQuantiles =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DdQuantiles =
    copy(inputAggBufferOffset = newOffset)

  override def dataType: DataType =
    if (emitBinary) BinaryType else ArrayType(DoubleType, containsNull = false)
  override def prettyName: String =
    if (emitBinary) "dd_sketch_agg"
    else if (mergeBinary) "dd_merge_agg"
    else "dd_quantiles"

  override protected def codec: SketchCodec[DdSketch] = DdSketch
  override protected def literals: Seq[(String, Expression)] =
    Seq("probabilities" -> probsExpr, "alpha" -> alphaExpr)
  override protected def storedName: String = "ddsketch"
  override protected def mergesIntoNewSketch: Boolean = true

  @transient private lazy val alpha: Double = doubleArg(alphaExpr, DdSketch.DefaultAlpha)
  @transient private lazy val probs: Array[Double] = QuantileArgs.probabilities(probsExpr)
  @transient private lazy val toDouble: Any => Double = QuantileArgs.toDouble(child.dataType)

  override protected def paramError: Option[String] =
    if (alpha < 1e-4 || alpha > 0.5) Some(s"alpha must be in [1e-4, 0.5], got $alpha")
    else if (emitBinary) None
    else QuantileArgs.probabilitiesError(probsExpr)

  override protected def inputError(dt: DataType): Option[String] = QuantileArgs.inputError(dt)

  override protected def newSketch(): DdSketch = new DdSketch(alpha)

  override protected def offer(
      slot: SketchSlot[DdSketch], value: Any, input: InternalRow): Unit =
    slot.sketch.update(toDouble(value))

  override protected def result(sketch: DdSketch): Any =
    if (sketch.n == 0L) null
    else if (emitBinary) sketch.serialize()
    else new GenericArrayData(probs.map(sketch.quantile))
}
