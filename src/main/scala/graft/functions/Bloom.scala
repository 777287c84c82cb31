package graft.functions

import graft.sketch.{BloomFilter, SketchCodec}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types._

object BloomAgg {
  /** ~1% FPR at one million elements (10 bits/element, k=7). */
  val DefaultNumBits = 10000000 - (10000000 % 64) + 64
  val DefaultNumHashes = 7
  val HashSeed = 77L // independent from the sketch hash seed
}

/** `bloom_agg(x[, numBits[, numHashes]])` — build a Bloom filter of a
  * column's values as a BINARY value. The distributed runtime-filter
  * primitive: build once over the small/selective side of a join, broadcast
  * the few-MB filter, and drop non-matching fact rows at the scan — the
  * shuffle then carries only rows that can match. Merge is bitwise OR, so
  * partial aggregation is exact and stored filters re-aggregate
  * (`bloom_merge_agg`) like every other sketch in the engine
  * ([[SketchAggregate]]). An empty group gives the empty filter, not NULL.
  * Hashes via [[TypedXxHash]] so [[MightContain]] probes agree by
  * construction.
  */
case class BloomAgg(
    child: Expression,
    numBitsExpr: Expression,
    numHashesExpr: Expression,
    mergeBinary: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAggregate[BloomFilter] {

  def this(child: Expression) =
    this(child, Literal(BloomAgg.DefaultNumBits), Literal(BloomAgg.DefaultNumHashes))
  def this(child: Expression, numBits: Expression) =
    this(child, numBits, Literal(BloomAgg.DefaultNumHashes))

  override def children: Seq[Expression] = Seq(child, numBitsExpr, numHashesExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), numBitsExpr = newChildren(1), numHashesExpr = newChildren(2))

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)

  override def dataType: DataType = BinaryType
  override def prettyName: String = if (mergeBinary) "bloom_merge_agg" else "bloom_agg"

  override protected def codec: SketchCodec[BloomFilter] = BloomFilter
  override protected def literals: Seq[(String, Expression)] =
    Seq("numBits" -> numBitsExpr, "numHashes" -> numHashesExpr)
  override protected def storedName: String = "bloom filter"
  override protected def mergesIntoNewSketch: Boolean = true

  @transient private lazy val numBits: Int = intArg(numBitsExpr, BloomAgg.DefaultNumBits)
  @transient private lazy val numHashes: Int = intArg(numHashesExpr, BloomAgg.DefaultNumHashes)

  override protected def paramError: Option[String] =
    if (numBits < 64 || numBits % 64 != 0)
      Some(s"numBits must be a positive multiple of 64, got $numBits")
    else if (numHashes < 1 || numHashes > 16)
      Some(s"numHashes must be in [1,16], got $numHashes")
    else None

  @transient private lazy val hashFn: Any => Long =
    TypedXxHash.kernel(child.dataType, BloomAgg.HashSeed)

  override protected def newSketch(): BloomFilter = new BloomFilter(numBits, numHashes)

  override protected def offer(
      slot: SketchSlot[BloomFilter], value: Any, input: InternalRow): Unit =
    slot.sketch.offerHash(hashFn(value))

  override protected def result(sketch: BloomFilter): Any = sketch.serialize()

  override protected def emptyResult: Any = result(newSketch())
}

/** `might_contain(bloom, x)` — probe a serialized Bloom filter. `false`
  * means x was definitely never inserted (no false negatives); `true` means
  * probably inserted (FPR per [[graft.sketch.BloomFilter]]).
  *
  * When the bloom side references no input attributes (a literal or a
  * scalar subquery — the runtime-filter shape), the filter is deserialized
  * ONCE and reused for every probe. A per-row bloom column falls back to
  * deserializing per distinct byte array (reference-cached), which is only
  * sensible for small filters.
  */
case class MightContain(bloomExpr: Expression, child: Expression)
  extends BinaryExpression {

  override def left: Expression = bloomExpr
  override def right: Expression = child
  override def dataType: DataType = BooleanType
  override def prettyName: String = "might_contain"

  override def checkInputDataTypes(): TypeCheckResult = {
    if (bloomExpr.dataType != BinaryType)
      return TypeCheckResult.TypeCheckFailure(
        s"might_contain: first argument must be a BINARY bloom filter, got ${bloomExpr.dataType.sql}")
    child.dataType match {
      case dt if org.apache.spark.sql.graft.GraftBridge.isAtomic(dt) =>
        TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"might_contain: unsupported probe type ${dt.sql}")
    }
  }

  @transient private lazy val hashFn: Any => Long =
    TypedXxHash.kernel(child.dataType, BloomAgg.HashSeed)

  /** Parse-once path: bloom value fixed for the whole query. */
  @transient private lazy val staticBloom: BloomFilter = {
    val v = bloomExpr.eval(null)
    if (v == null) null else BloomFilter.deserialize(v.asInstanceOf[Array[Byte]])
  }
  // foldable, NOT references.isEmpty: a BoundReference (per-row bloom
  // column, e.g. probing a bloom manifest) also has no references but
  // cannot be evaluated against a null row
  @transient private lazy val isStatic: Boolean = bloomExpr.foldable

  // per-row fallback: cache keyed on the byte array reference
  @transient private var lastRef: Array[Byte] = _
  @transient private var lastParsed: BloomFilter = _

  def bloomFor(bytes: Array[Byte]): BloomFilter = {
    if (isStatic) staticBloom
    else {
      if (!(bytes eq lastRef)) {
        lastParsed = BloomFilter.deserialize(bytes)
        lastRef = bytes
      }
      lastParsed
    }
  }

  /** Kernel for generated code: probe with the bound hash function. */
  def probe(bytes: Array[Byte], value: Any): Boolean =
    bloomFor(bytes).mightContainHash(hashFn(value))

  override def nullSafeEval(bloomBytes: Any, value: Any): Any =
    probe(bloomBytes.asInstanceOf[Array[Byte]], value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mightContain", this, classOf[MightContain].getName)
    // box primitives explicitly — generated Java has no autoboxing here
    val box: String => String =
      if (CodeGenerator.isPrimitiveType(child.dataType))
        v => s"${CodeGenerator.boxedType(child.dataType)}.valueOf($v)"
      else identity
    nullSafeCodeGen(ctx, ev, (b, v) =>
      s"${ev.value} = $ref.probe($b, ${box(v)});")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MightContain =
    copy(bloomExpr = newLeft, child = newRight)
}
