package graft.sketch

import java.io.{ByteArrayOutputStream, DataOutputStream}

import scala.collection.mutable

/** DDSketch — relative-error quantile sketch (Masson, Rim & Lee,
  * "DDSketch: a fast and fully-mergeable quantile sketch with
  * relative-error guarantees", VLDB 2019).
  *
  * Where KLL ([[KllDoubles]]) bounds RANK error (the returned value's
  * position is within ε·n of the target), DDSketch bounds VALUE error:
  * the returned estimate x̂ satisfies |x̂ − x_q| ≤ α·x_q. That is the
  * guarantee latency/size observability actually wants — "p99 within 1%
  * of the true p99 milliseconds", however heavy the tail — and it is why
  * this family complements rather than duplicates KLL.
  *
  * Structure: log-γ value buckets with γ = (1+α)/(1−α). A value v > 0
  * lands in bucket i = ⌈log_γ v⌉ (bucket i covers (γ^{i−1}, γ^i]); the
  * bucket estimate 2γ^i/(γ+1) is within α of every value in the bucket.
  * Negatives go to a mirrored store keyed by |v|; |v| < 1e-12 counts as
  * zero (the sub-resolution bucket every practical implementation has).
  *
  * Mergeability is EXACT: a merge adds bucket counts, so aggregation is
  * associative, commutative, and — unlike KLL's randomized compaction —
  * fully deterministic: any partitioning of the data yields the
  * IDENTICAL sketch as long as no store exceeded `MaxBuckets`
  * (property-tested). Memory is bounded by collapsing the LOWEST-index
  * buckets into their neighbor once a store passes `MaxBuckets`
  * (the DataDog `collapsingLowest` variant): the α guarantee then still
  * holds for every quantile above the collapsed mass — the high
  * quantiles observability cares about — and only the extreme low tail
  * degrades.
  *
  * Quantile queries walk negative buckets by descending index (most
  * negative value first), the zero bucket, then positive buckets by
  * ascending index, returning the bucket estimate at cumulative count
  * ≥ max(1, ⌈q·n⌉).
  */
final class DdSketch(val alpha: Double) extends Serializable {
  require(alpha >= 1e-4 && alpha <= 0.5,
    s"ddsketch alpha must be in [1e-4, 0.5], got $alpha")

  val gamma: Double = (1.0 + alpha) / (1.0 - alpha)
  private val lnGamma: Double = math.log(gamma)

  private[graft] val pos = mutable.LongMap.empty[Long] // index -> count
  private[graft] val neg = mutable.LongMap.empty[Long]
  private[graft] var zero: Long = 0L
  private[graft] var n: Long = 0L

  private def index(absV: Double): Long =
    math.ceil(math.log(absV) / lnGamma).toLong

  private def estimate(i: Long): Double =
    2.0 * math.pow(gamma, i.toDouble) / (gamma + 1.0)

  def update(v: Double): Unit = updateN(v, 1L)

  def updateN(v: Double, count: Long): Unit = {
    if (v.isNaN || count <= 0L) return
    n += count
    if (math.abs(v) < DdSketch.ZeroEps) zero += count
    else if (v > 0) bump(pos, index(v), count)
    else bump(neg, index(-v), count)
  }

  private def bump(store: mutable.LongMap[Long], i: Long,
      count: Long): Unit = {
    store.update(i, store.getOrElse(i, 0L) + count)
    if (store.size > DdSketch.MaxBuckets) collapseLowest(store)
  }

  /** Fold the smallest-index bucket into the next smallest — bounded
    * memory at the cost of the extreme LOW tail only (all counts are
    * preserved, just at a coarser low-end resolution). */
  private def collapseLowest(store: mutable.LongMap[Long]): Unit = {
    if (store.size < 2) return
    var lo1 = Long.MaxValue; var lo2 = Long.MaxValue
    store.foreachKey { k =>
      if (k < lo1) { lo2 = lo1; lo1 = k } else if (k < lo2) lo2 = k
    }
    val c = store(lo1)
    store -= lo1
    store.update(lo2, store.getOrElse(lo2, 0L) + c)
  }

  def mergeInPlace(other: DdSketch): Unit = {
    if (math.abs(other.alpha - alpha) > 1e-12)
      throw new SketchMergeException(
        s"cannot merge ddsketch(alpha=${other.alpha}) into ddsketch(alpha=$alpha): " +
          "the log-bucket grids differ; re-aggregate from raw data instead")
    other.pos.foreach { case (i, c) => bump(pos, i, c) }
    other.neg.foreach { case (i, c) => bump(neg, i, c) }
    zero += other.zero
    n += other.n
  }

  /** The α-relative-error estimate of the q-quantile (q in [0,1]);
    * NaN on an empty sketch. */
  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile prob must be in [0,1], got $q")
    if (n == 0L) return Double.NaN
    val target = math.max(1L, math.ceil(q * n).toLong)
    var cum = 0L
    // negatives: most negative first = descending |v| index
    val negKeys = neg.keys.toArray.sorted(Ordering[Long].reverse)
    var j = 0
    while (j < negKeys.length) {
      cum += neg(negKeys(j))
      if (cum >= target) return -estimate(negKeys(j))
      j += 1
    }
    cum += zero
    if (cum >= target) return 0.0
    val posKeys = pos.keys.toArray.sorted
    j = 0
    while (j < posKeys.length) {
      cum += pos(posKeys(j))
      if (cum >= target) return estimate(posKeys(j))
      j += 1
    }
    if (posKeys.nonEmpty) estimate(posKeys.last)
    else if (zero > 0) 0.0
    else -estimate(negKeys.last)
  }

  def buckets: Int = pos.size + neg.size + (if (zero > 0) 1 else 0)

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeByte(DdSketch.WireTag)
    out.writeDouble(alpha)
    out.writeLong(zero)
    out.writeLong(n)
    def store(m: mutable.LongMap[Long]): Unit = {
      out.writeInt(m.size)
      // sorted for a canonical wire form: equal sketches serialize equal
      m.keys.toArray.sorted.foreach { k =>
        out.writeLong(k); out.writeLong(m(k))
      }
    }
    store(pos); store(neg)
    out.flush()
    bos.toByteArray
  }
}

object DdSketch extends SketchCodec[DdSketch] {
  val WireTag: Byte = 0x44 // 'D'
  val DefaultAlpha = 0.01
  /** Per-store bucket cap: 4096 buckets at α=0.01 span ~35 orders of
    * magnitude before any collapse — far beyond any physical metric. */
  val MaxBuckets = 4096
  val ZeroEps = 1e-12

  def serialize(sketch: DdSketch): Array[Byte] = sketch.serialize()

  def merge(into: DdSketch, other: DdSketch): DdSketch = { into.mergeInPlace(other); into }

  def deserialize(bytes: Array[Byte]): DdSketch = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    checkTag(in.readByte(), WireTag, "a ddsketch")
    val alpha = in.readDouble()
    if (alpha < 1e-4 || alpha > 0.5)
      throw new SketchMergeException(s"corrupted ddsketch payload: alpha=$alpha")
    val s = new DdSketch(alpha)
    s.zero = in.readLong()
    s.n = in.readLong()
    if (s.zero < 0 || s.n < 0)
      throw new SketchMergeException(
        s"corrupted ddsketch payload: zero=${s.zero} n=${s.n}")
    def load(m: mutable.LongMap[Long]): Unit = {
      val sz = in.readInt()
      if (sz < 0 || sz > MaxBuckets)
        throw new SketchMergeException(s"corrupted ddsketch payload: $sz buckets")
      var i = 0
      while (i < sz) {
        val k = in.readLong(); val c = in.readLong()
        if (c < 0) throw new SketchMergeException(
          s"corrupted ddsketch payload: negative count at $k")
        m.update(k, c); i += 1
      }
    }
    load(s.pos); load(s.neg)
    s
  }
}
