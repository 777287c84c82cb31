package graft.functions

import graft.sketch.{CountMin, SketchCodec}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** `cm_sketch_agg(x[, width[, depth]])` — aggregate a column into a
  * serialized Count-Min sketch ([[graft.sketch.CountMin]]); `cm_merge_agg`
  * re-aggregates stored sketches (store-then-merge, additive like
  * SpaceSaving/KLL). The merge variant takes no width/depth — stored
  * sketches carry their shape, and counters of different shapes cannot be
  * re-binned (unlike SpaceSaving/KLL/theta, which widen to the weaker
  * parameter), so a mixed-shape store fails the merge with a clean
  * [[graft.sketch.SketchMergeException]]. Probe with the scalar
  * `cm_estimate(bin, key)` — the key is hashed with the same typed kernel
  * as the aggregate input, so probes must use the same column TYPE the
  * sketch was built from. */
case class CountMinAgg(
    child: Expression,
    widthExpr: Expression,
    depthExpr: Expression,
    mergeBinary: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAggregate[CountMin] {

  def this(child: Expression) =
    this(child, Literal(CountMin.DefaultWidth), Literal(CountMin.DefaultDepth))
  def this(child: Expression, width: Expression) =
    this(child, width, Literal(CountMin.DefaultDepth))

  override def children: Seq[Expression] = Seq(child, widthExpr, depthExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), widthExpr = newChildren(1), depthExpr = newChildren(2))

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)

  override def dataType: DataType = BinaryType
  override def prettyName: String = if (mergeBinary) "cm_merge_agg" else "cm_sketch_agg"

  override protected def codec: SketchCodec[CountMin] = CountMin
  override protected def literals: Seq[(String, Expression)] =
    Seq("width" -> widthExpr, "depth" -> depthExpr)
  override protected def storedName: String = "count-min sketch"

  @transient private lazy val width: Int = intArg(widthExpr, CountMin.DefaultWidth)
  @transient private lazy val depth: Int = intArg(depthExpr, CountMin.DefaultDepth)

  override protected def paramError: Option[String] =
    if (!isIntegral(widthExpr.dataType) || !isIntegral(depthExpr.dataType))
      Some("width and depth must be integral literals")
    else if (width < 16 || width > CountMin.MaxWidth || (width & (width - 1)) != 0)
      Some(s"width must be a power of 2 in [16, ${CountMin.MaxWidth}], got $width")
    else if (depth < 1 || depth > 16) Some(s"depth must be in [1,16], got $depth")
    else None

  @transient private lazy val hashFn: Any => Long =
    TypedXxHash.kernel(child.dataType, CountMinFunctions.HashSeed)

  override protected def newSketch(): CountMin = new CountMin(depth, width)

  override protected def offer(
      slot: SketchSlot[CountMin], value: Any, input: InternalRow): Unit =
    slot.sketch.offerHash(hashFn(value))

  override protected def result(sketch: CountMin): Any = sketch.serialize()
}

object CountMinFunctions {
  /** Independent from the other sketch seeds so a count-min probe can never
    * silently agree with a bloom/topk hash of the same value. */
  val HashSeed = 91L
}

/** `cm_estimate(bin, key)` — point-frequency estimate of `key` in a stored
  * count-min sketch (never underestimates). Runs over sketch ROWS, so
  * CodegenFallback costs nothing; the sketch is re-parsed only when the
  * byte-array reference changes (same caching as [[MightContain]]). */
case class CmEstimate(sketchExpr: Expression, child: Expression)
  extends BinaryExpression with CodegenFallback {

  override def left: Expression = sketchExpr
  override def right: Expression = child
  override def dataType: DataType = LongType
  override def prettyName: String = "cm_estimate"

  override def checkInputDataTypes(): TypeCheckResult = {
    if (sketchExpr.dataType != BinaryType)
      return TypeCheckResult.TypeCheckFailure(
        s"cm_estimate: first argument must be a BINARY count-min sketch, got ${sketchExpr.dataType.sql}")
    child.dataType match {
      case dt if org.apache.spark.sql.graft.GraftBridge.isAtomic(dt) =>
        TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"cm_estimate: unsupported key type ${dt.sql}")
    }
  }

  @transient private lazy val hashFn: Any => Long =
    TypedXxHash.kernel(child.dataType, CountMinFunctions.HashSeed)

  @transient private var lastRef: Array[Byte] = _
  @transient private var lastParsed: CountMin = _

  override def nullSafeEval(sketchBytes: Any, key: Any): Any = {
    val bytes = sketchBytes.asInstanceOf[Array[Byte]]
    if (bytes.isEmpty) return null
    if (!(bytes eq lastRef)) {
      lastParsed = CountMin.deserialize(bytes)
      lastRef = bytes
    }
    java.lang.Long.valueOf(lastParsed.estimateHash(hashFn(key)))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmEstimate =
    copy(sketchExpr = newLeft, child = newRight)
}

/** `cm_total(bin)` — total offered weight N of a stored count-min sketch
  * (the N in the ε·N error bound). */
case class CmTotal(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "cm_total"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"cm_total expects a BINARY count-min sketch, got ${dt.sql}")
  }
  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[Array[Byte]]
    if (bytes.isEmpty) null
    else java.lang.Long.valueOf(CountMin.deserialize(bytes).totalWeight)
  }
  override protected def withNewChildInternal(c: Expression): CmTotal = copy(child = c)
}
