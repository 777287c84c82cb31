package graft.functions

import graft.sketch.{Hll, LinearCounter, Sketch, SketchCodec}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object ApproxDistinct {
  val HllDefaultB = 16      // HLL_DEFAULT_B, UDAFCardinalityEstimator.java:89
  val LcDefaultSize = 1000000 // LC_DEFAULT_SIZE, UDAFCardinalityEstimator.java:90
  val HashSeed = 42L

  /** Result struct — field names match the reference's output inspector
    * (`type`/`cardinality`/`binary`, UDAFCardinalityEstimator.java:91-93). */
  val resultType: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("cardinality", LongType),
    StructField("binary", BinaryType)))
}

/** `approx_distinct(x[, algo[, precision]])` — approximate COUNT(DISTINCT) as
  * a distributive, re-aggregatable sketch aggregate: the Spark-native
  * re-expression of the reference UDAF (see [[SketchAggregate]]).
  *
  * Input paths, as in the reference:
  *  - atomic child (:237-258): hash the typed value (64-bit xxHash, NOT the
  *    reference's 32-bit string-murmur — see SURVEY §2 quirks) and offer;
  *  - sketch struct child (:259-265) or, with `mergeBinary`, a raw serialized
  *    sketch BinaryType child: merge the stored sketch in (re-aggregation of
  *    stored sketches — E3 in SURVEY §3).
  */
case class ApproxDistinct(
    child: Expression,
    algoExpr: Expression,
    precisionExpr: Expression,
    mergeBinary: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAggregate[Sketch] {

  import ApproxDistinct._

  def this(child: Expression) =
    this(child, Literal("hll"), Literal(-1))
  def this(child: Expression, algo: Expression) = this(child, algo, Literal(-1))

  override def children: Seq[Expression] = Seq(child, algoExpr, precisionExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), algoExpr = newChildren(1), precisionExpr = newChildren(2))

  override def withNewMutableAggBufferOffset(newOffset: Int): ApproxDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ApproxDistinct =
    copy(inputAggBufferOffset = newOffset)

  override def dataType: DataType = resultType
  override def prettyName: String = if (mergeBinary) "sketch_merge_agg" else "approx_distinct"

  override protected def codec: SketchCodec[Sketch] = Sketch
  override protected def literals: Seq[(String, Expression)] =
    Seq("algo" -> algoExpr, "precision" -> precisionExpr)
  override protected def storedName: String = "sketch"

  @transient private lazy val algoName: String =
    Option(algoExpr.eval()).map(_.toString.toUpperCase(java.util.Locale.ROOT)).getOrElse("HLL")
  @transient private lazy val precision: Int = intArg(precisionExpr, -1)

  override protected def paramError: Option[String] =
    if (algoName != "HLL" && algoName != "LC")
      Some(s"estimator type must be 'hll' or 'lc', got '$algoName'")
    else if (precision != -1 && algoName == "HLL" && (precision < 4 || precision > 24))
      Some(s"HLL precision b must be in [4,24], got $precision")
    else if (precision != -1 && algoName == "LC" && precision <= 0)
      Some(s"LC bitmap size must be positive, got $precision")
    else None

  override protected def inputError(dt: DataType): Option[String] = dt match {
    case s: StructType if !SketchExprs.isSketchStruct(s) =>
      Some(s"struct input must be a sketch struct ${resultType.sql}, got ${s.sql}")
    case _: StructType => None
    case _ => super.inputError(dt)
  }

  override protected def newSketch(): Sketch =
    if (algoName == "HLL") new Hll(if (precision == -1) HllDefaultB else precision)
    else new LinearCounter(if (precision == -1) LcDefaultSize else precision)

  // One hash kernel per child type, resolved once at bind time (not per row).
  @transient private lazy val hashFn: Any => Long =
    TypedXxHash.kernel(child.dataType, HashSeed)

  override protected def offer(
      slot: SketchSlot[Sketch], value: Any, input: InternalRow): Unit =
    slot.sketch.offerHash(hashFn(value))

  override protected def result(sketch: Sketch): Any =
    InternalRow(UTF8String.fromString(sketch.algo), sketch.estimate, sketch.serialize())
}
