package graft.functions

import graft.sketch.{CountSketch, SketchCodec}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** `agms_sketch_agg(x[, width[, depth]])` — aggregate a join-key column
  * into a serialized Count-Sketch ([[graft.sketch.CountSketch]]);
  * `agms_merge_agg` re-aggregates stored sketches (additive — append-once
  * store discipline). Two sketches built with the same shape over two
  * tables' key columns answer `agms_join_size(a, b)` — the equi-join
  * cardinality estimate a planner prices joins with — and
  * `agms_f2(bin)` estimates a single column's second moment (skew).
  * Keys hash with the shared typed kernel, so both sides must sketch the
  * same key TYPE (cast first if the schemas differ). */
case class AgmsAgg(
    child: Expression,
    widthExpr: Expression,
    depthExpr: Expression,
    mergeBinary: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAggregate[CountSketch] {

  def this(child: Expression) =
    this(child, Literal(CountSketch.DefaultWidth), Literal(CountSketch.DefaultDepth))
  def this(child: Expression, width: Expression) =
    this(child, width, Literal(CountSketch.DefaultDepth))

  override def children: Seq[Expression] = Seq(child, widthExpr, depthExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), widthExpr = newChildren(1), depthExpr = newChildren(2))

  override def withNewMutableAggBufferOffset(newOffset: Int): AgmsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): AgmsAgg =
    copy(inputAggBufferOffset = newOffset)

  override def dataType: DataType = BinaryType
  override def prettyName: String = if (mergeBinary) "agms_merge_agg" else "agms_sketch_agg"

  override protected def codec: SketchCodec[CountSketch] = CountSketch
  override protected def literals: Seq[(String, Expression)] =
    Seq("width" -> widthExpr, "depth" -> depthExpr)
  override protected def storedName: String = "count-sketch"

  @transient private lazy val width: Int = intArg(widthExpr, CountSketch.DefaultWidth)
  @transient private lazy val depth: Int = intArg(depthExpr, CountSketch.DefaultDepth)

  override protected def paramError: Option[String] =
    if (!isIntegral(widthExpr.dataType) || !isIntegral(depthExpr.dataType))
      Some("width and depth must be integral literals")
    else if (width < 16 || width > CountSketch.MaxWidth || (width & (width - 1)) != 0)
      Some(s"width must be a power of 2 in [16, ${CountSketch.MaxWidth}], got $width")
    else if (depth < 1 || depth > 16) Some(s"depth must be in [1,16], got $depth")
    else None

  @transient private lazy val hashFn: Any => Long =
    TypedXxHash.kernel(child.dataType, AgmsFunctions.HashSeed)

  override protected def newSketch(): CountSketch = new CountSketch(depth, width)

  override protected def offer(
      slot: SketchSlot[CountSketch], value: Any, input: InternalRow): Unit =
    slot.sketch.offerHash(hashFn(value))

  override protected def result(sketch: CountSketch): Any = sketch.serialize()
}

object AgmsFunctions {
  /** Independent from every other family's seed — parallel sketches must
    * agree with EACH OTHER, never accidentally with a CM/bloom hash. */
  val HashSeed = 131L
}

/** `agms_join_size(a, b)` — equi-join cardinality estimate from two
  * parallel count-sketches (median over rows of the bucket inner
  * product). Sketch-row volume only; CodegenFallback costs nothing. */
case class AgmsJoinSize(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "agms_join_size"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"agms_join_size expects two BINARY count-sketches, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val ab = a.asInstanceOf[Array[Byte]]
    val bb = b.asInstanceOf[Array[Byte]]
    if (ab.isEmpty || bb.isEmpty) return null
    java.lang.Double.valueOf(
      CountSketch.deserialize(ab).joinSize(CountSketch.deserialize(bb)))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AgmsJoinSize =
    copy(left = newLeft, right = newRight)
}

/** `agms_f2(bin)` — second-moment (self-join size) estimate of a stored
  * count-sketch. */
case class AgmsF2(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "agms_f2"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"agms_f2 expects a BINARY count-sketch, got ${dt.sql}")
  }
  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[Array[Byte]]
    if (bytes.isEmpty) null
    else java.lang.Double.valueOf(CountSketch.deserialize(bytes).f2())
  }
  override protected def withNewChildInternal(c: Expression): AgmsF2 = copy(child = c)
}
