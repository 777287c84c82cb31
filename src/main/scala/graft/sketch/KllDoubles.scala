package graft.sketch

import java.io.{ByteArrayOutputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

/** KLL quantile sketch over doubles (Karnin, Lang, Liberty 2016) — the
  * mergeable approximate-quantile companion to the cardinality and
  * frequency sketches.
  *
  * Structure: a hierarchy of levels; items at level i carry weight 2^i.
  * Level 0 receives raw updates; a full level is COMPACTED — sorted, every
  * other item (random even/odd offset) promoted to the next level, the rest
  * discarded. Level capacities shrink geometrically (ratio 2/3, floor 8)
  * below the top level, giving O(k · log log n) space and uniform rank
  * error ε ≈ O(1/k): with the default k the observed normalized rank error
  * is well under 1% (property-tested at 3× margin in KllSpec).
  *
  * Merge concatenates levels pairwise then re-compacts — associative up to
  * the randomized compaction choices, with the same error bound on the
  * merged weight, so partial aggregation and store-then-merge re-aggregation
  * are both safe (the same contract as [[Hll]] / [[SpaceSaving]]).
  * MIXED k merge to the smaller one (the KLL error analysis only needs the
  * compaction schedule from the merge point on, so adopting the coarser
  * geometry keeps the min-k bound — the same convention as the published
  * DataSketches implementation): a store accumulated across a k
  * reconfiguration stays readable, weakest vintage governing the error.
  *
  * Compaction coin-flips come from a counter-seeded deterministic PRNG:
  * the SAME sketch state always compacts the same way (reproducible runs),
  * but estimates remain partition-order-dependent — gates must assert the
  * rank-error envelope, never exact estimate values.
  *
  * Quantile queries return a RETAINED ITEM (no interpolation): the value at
  * the smallest cumulative weight ≥ q·n, which is what the rank-error
  * guarantee speaks about.
  */
final class KllDoubles(initialK: Int) extends Serializable {
  require(initialK >= 8 && initialK <= 65535,
    s"kll k must be in [8, 65535], got $initialK")

  /** Shrinks (only) when a smaller-k sketch is merged in. */
  private var _k: Int = initialK
  def k: Int = _k

  // levels(i): items of weight 2^i; kept sorted except level 0
  private[graft] var levels: ArrayBuffer[ArrayBuffer[Double]] =
    ArrayBuffer(ArrayBuffer.empty[Double])
  private[graft] var n: Long = 0L
  private[graft] var compactions: Long = 0L

  private def capacity(lvl: Int): Int = {
    val depth = levels.length - 1 - lvl
    math.max(8, math.ceil(k * math.pow(2.0 / 3.0, depth)).toInt)
  }

  def update(v: Double): Unit = {
    if (v.isNaN) return
    levels(0) += v
    n += 1
    if (levels(0).length >= capacity(0)) compress()
  }

  /** Compact every over-full level bottom-up. */
  private def compress(): Unit = {
    var lvl = 0
    while (lvl < levels.length) {
      if (levels(lvl).length >= capacity(lvl)) compactLevel(lvl)
      lvl += 1
    }
  }

  private def compactLevel(lvl: Int): Unit = {
    val buf = levels(lvl)
    if (buf.length < 2) return
    val sorted = buf.sortInPlace()
    if (lvl + 1 >= levels.length) levels += ArrayBuffer.empty[Double]
    // deterministic coin: same state => same compaction (reproducibility)
    compactions += 1
    val seed = compactions * 0x9E3779B97F4A7C15L + lvl * 0xC2B2AE3D27D4EB4FL + n
    val offset = new java.util.Random(seed).nextInt(2)
    val promoted = levels(lvl + 1)
    // halve pairwise: of each consecutive sorted pair (weight w each) one
    // random side survives with weight 2w — total weight exactly preserved;
    // an odd trailing item has no pair and STAYS at this level
    val len = sorted.length
    val pairs = len / 2
    var j = 0
    while (j < pairs) {
      promoted += sorted(2 * j + offset)
      j += 1
    }
    levels(lvl) =
      if (len % 2 == 1) ArrayBuffer(sorted(len - 1)) else ArrayBuffer.empty[Double]
    if (promoted.length >= capacity(lvl + 1)) compactLevel(lvl + 1)
  }

  def mergeInPlace(other: KllDoubles): Unit = {
    // mixed k merge to the smaller: the ensuing compress() re-compacts this
    // sketch to the coarser geometry, and the min-k error bound governs
    if (other.k < _k) _k = other.k
    while (levels.length < other.levels.length) levels += ArrayBuffer.empty[Double]
    var lvl = 0
    while (lvl < other.levels.length) {
      levels(lvl) ++= other.levels(lvl)
      lvl += 1
    }
    n += other.n
    compactions += other.compactions
    compress()
  }

  /** All retained (value, weight) pairs, sorted by value. */
  private def weighted(): Array[(Double, Long)] = {
    val out = ArrayBuffer.empty[(Double, Long)]
    var lvl = 0
    while (lvl < levels.length) {
      val w = 1L << lvl
      levels(lvl).foreach(v => out += ((v, w)))
      lvl += 1
    }
    out.sortBy(_._1).toArray
  }

  /** The retained value at cumulative weight ≥ q·n (q in [0,1]). */
  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile prob must be in [0,1], got $q")
    val items = weighted()
    if (items.isEmpty) return Double.NaN
    val target = math.max(1L, math.ceil(q * n).toLong)
    var cum = 0L
    var i = 0
    while (i < items.length) {
      cum += items(i)._2
      if (cum >= target) return items(i)._1
      i += 1
    }
    items.last._1
  }

  /** Estimated rank (fraction of values ≤ v). */
  def rank(v: Double): Double = {
    if (n == 0) return 0.0
    var cum = 0L
    var lvl = 0
    while (lvl < levels.length) {
      val w = 1L << lvl
      levels(lvl).foreach(x => if (x <= v) cum += w)
      lvl += 1
    }
    cum.toDouble / n.toDouble
  }

  def retained: Int = levels.map(_.length).sum

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeByte(KllDoubles.WireTag)
    out.writeInt(k)
    out.writeLong(n)
    out.writeLong(compactions)
    out.writeInt(levels.length)
    levels.foreach { lvl =>
      out.writeInt(lvl.length)
      lvl.foreach(out.writeDouble)
    }
    out.flush()
    bos.toByteArray
  }
}

object KllDoubles extends SketchCodec[KllDoubles] {
  val WireTag: Byte = 0x4B // 'K'
  val DefaultK = 256

  def serialize(sketch: KllDoubles): Array[Byte] = sketch.serialize()

  def merge(into: KllDoubles, other: KllDoubles): KllDoubles = { into.mergeInPlace(other); into }

  def deserialize(bytes: Array[Byte]): KllDoubles = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    checkTag(in.readByte(), WireTag, "a KLL sketch")
    val k = in.readInt()
    if (k < 8 || k > 65535)
      throw new SketchMergeException(s"corrupted KLL payload: k=$k")
    val s = new KllDoubles(k)
    s.n = in.readLong()
    s.compactions = in.readLong()
    val numLevels = in.readInt()
    if (numLevels < 1 || numLevels > 64)
      throw new SketchMergeException(s"corrupted KLL payload: $numLevels levels")
    s.levels = ArrayBuffer.fill(numLevels)(ArrayBuffer.empty[Double])
    var lvl = 0
    var retained = 0L
    while (lvl < numLevels) {
      val sz = in.readInt()
      if (sz < 0 || { retained += sz; retained } > bytes.length / 8 + 1)
        throw new SketchMergeException(s"corrupted KLL payload: level $lvl size $sz")
      var i = 0
      while (i < sz) { s.levels(lvl) += in.readDouble(); i += 1 }
      lvl += 1
    }
    s
  }
}
