package graft.functions

import graft.sketch.SketchCodec

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.types._

/** Aggregation buffer of every sketch aggregate: at most one live sketch,
  * created on the group's first non-null input, so an empty group holds
  * null. It serializes as 0 bytes, so an all-null partition does not NPE as
  * the reference does (SURVEY §2 quirks). */
final class SketchSlot[S](var sketch: S) extends Serializable

/** One storable, mergeable sketch aggregate — the shape of the reference UDAF
  * (UDAFCardinalityEstimator.java:69-344) shared by every sketch family.
  *
  * `TypedImperativeAggregate` is the Catalyst analogue of Hive's
  * `GenericUDAFEvaluator` object-buffer protocol:
  * `createAggregationBuffer` ≅ getNewAggregationBuffer (:225), `update` ≅
  * iterate (:237), `serialize`/`deserialize` ≅ terminatePartial (:276) and
  * the partial decode (:303-316), `merge` ≅ merge (:297), `eval` ≅ terminate
  * (:327). Catalyst's AggUtils splits it into Partial/Final automatically, so
  * map-side combine (one sketch per group crosses the shuffle, never raw
  * rows) needs no code here. It executes under ObjectHashAggregateExec.
  *
  * This class owns that whole lifecycle. NULL inputs are skipped (ref
  * :238-240). In build mode a value is offered to the group's sketch, which is
  * created by the first one. In merge mode (`mergeBinary`, or a sketch-struct
  * child) the input is a stored sketch: its bytes are merged in through the
  * family's [[SketchCodec]], and a 0-byte stored sketch means "no sketch",
  * like an empty slot. An empty group evaluates to `emptyResult` (NULL, ref
  * :329-331). Literal arguments must be foldable and are read once at bind
  * time, not per row as the reference does (:242-245).
  *
  * A family supplies its codec, parameter checks, `newSketch()`, `offer`,
  * `result`, and its names and data type.
  */
abstract class SketchAggregate[S >: Null <: AnyRef]
  extends TypedImperativeAggregate[SketchSlot[S]] {

  def child: Expression
  def mergeBinary: Boolean

  protected def codec: SketchCodec[S]
  /** Literal arguments by name; each must be foldable. */
  protected def literals: Seq[(String, Expression)]
  /** What merge mode takes, as in "a BINARY serialized $storedName". */
  protected def storedName: String
  /** First problem with the literal arguments, read after they are known to
    * be foldable. */
  protected def paramError: Option[String]
  /** Problem with the build-mode input type; any atomic type by default. */
  protected def inputError(dt: DataType): Option[String] =
    if (GraftBridge.isAtomic(dt)) None else Some(s"unsupported input type ${dt.sql}")
  protected def newSketch(): S
  /** Offer one non-null raw value to `slot.sketch` (already created). It
    * takes the slot rather than the sketch: a sketch-typed parameter needs
    * an erasure bridge in every family, and that extra frame on the per-row
    * path made sketch-build's partial aggregation tasks ~1.7× slower
    * (4-vCPU VM). */
  protected def offer(slot: SketchSlot[S], value: Any, input: InternalRow): Unit
  protected def result(sketch: S): Any
  protected def emptyResult: Any = null
  /** Set by the families whose merge reconciles parameters against the
    * configured sketch (KLL k and SpaceSaving capacity shrink to the smaller
    * one; DDSketch alpha and Bloom shape must match). A group then merges
    * into `newSketch()`, as if the slot had been filled up front, and an
    * empty input buffer still merges an empty sketch (a KLL merge
    * re-compacts). The other families adopt the first sketch they absorb,
    * parameters and all. */
  protected def mergesIntoNewSketch: Boolean = false

  override def nullable: Boolean = true

  final override def checkInputDataTypes(): TypeCheckResult = {
    val error = literals.collectFirst {
      case (name, e) if !e.foldable => s"$name must be a foldable literal"
    }.orElse(paramError).orElse(
      if (!mergeBinary) inputError(child.dataType)
      else if (child.dataType == BinaryType) None
      else Some(s"expects a BINARY serialized $storedName, got ${child.dataType.sql}"))
    error.fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(e =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName: $e"))
  }

  /** A numeric literal argument; NULL means `default`. */
  protected def intArg(e: Expression, default: Int): Int =
    Option(e.eval()).fold(default)(_.asInstanceOf[Number].intValue())
  protected def doubleArg(e: Expression, default: Double): Double =
    Option(e.eval()).fold(default)(_.asInstanceOf[Number].doubleValue())

  protected def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  @transient private lazy val mergeMode: Boolean =
    mergeBinary || SketchExprs.isSketchStruct(child.dataType)

  private def target(sketch: S): S =
    if (sketch == null && mergesIntoNewSketch) newSketch() else sketch

  final override def createAggregationBuffer(): SketchSlot[S] = new SketchSlot[S](null)

  final override def update(slot: SketchSlot[S], input: InternalRow): SketchSlot[S] = {
    val v = child.eval(input)
    if (v != null) {
      if (mergeMode) {
        val bytes = SketchExprs.bytesOf(v, child.dataType)
        if (bytes != null && bytes.length > 0)
          slot.sketch = codec.mergeSerializedInto(bytes, target(slot.sketch))
      } else {
        if (slot.sketch == null) slot.sketch = newSketch()
        offer(slot, v, input)
      }
    }
    slot
  }

  final override def merge(slot: SketchSlot[S], input: SketchSlot[S]): SketchSlot[S] = {
    val other = if (input.sketch != null) input.sketch else target(null)
    if (other != null) {
      val into = target(slot.sketch)
      slot.sketch = if (into == null) other else codec.merge(into, other)
    }
    slot
  }

  final override def eval(slot: SketchSlot[S]): Any =
    if (slot.sketch == null) emptyResult else result(slot.sketch)

  final override def serialize(slot: SketchSlot[S]): Array[Byte] =
    if (slot.sketch == null) Array.emptyByteArray else codec.serialize(slot.sketch)

  final override def deserialize(bytes: Array[Byte]): SketchSlot[S] =
    new SketchSlot[S](if (bytes.isEmpty) null else codec.deserialize(bytes))
}

/** Argument helpers of the two quantile families ([[ApproxQuantiles]],
  * [[DdQuantiles]]). */
private[functions] object QuantileArgs {
  /** Numeric value to double, resolved once per input type. */
  def toDouble(dt: DataType): Any => Double = dt match {
    case DoubleType => v => v.asInstanceOf[Double]
    case FloatType => v => v.asInstanceOf[Float].toDouble
    case LongType => v => v.asInstanceOf[Long].toDouble
    case IntegerType => v => v.asInstanceOf[Int].toDouble
    case ShortType => v => v.asInstanceOf[Short].toDouble
    case ByteType => v => v.asInstanceOf[Byte].toDouble
    case _: DecimalType => v => v.asInstanceOf[Decimal].toDouble
    case _ => v => v.asInstanceOf[Number].doubleValue()
  }

  def inputError(dt: DataType): Option[String] = dt match {
    case _: NumericType => None
    case _ => Some(s"expects a numeric column, got ${dt.sql}")
  }

  def probabilities(e: Expression): Array[Double] = e.eval() match {
    case a: ArrayData => a.toDoubleArray()
    case _ => Array.empty[Double]
  }

  def probabilitiesError(e: Expression): Option[String] = {
    lazy val probs = probabilities(e)
    e.dataType match {
      case ArrayType(DoubleType, _) =>
        if (probs.isEmpty) Some("at least one probability required")
        else if (probs.exists(p => p < 0.0 || p > 1.0 || p.isNaN))
          Some(s"probabilities must be in [0,1], got ${probs.mkString(",")}")
        else None
      case dt => Some(s"probabilities must be ARRAY<DOUBLE>, got ${dt.sql}")
    }
  }
}
