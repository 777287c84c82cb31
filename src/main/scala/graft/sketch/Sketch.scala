package graft.sketch

/** Mergeable cardinality sketch — the data-model core of the engine.
  *
  * Re-derives the capability of the reference UDAF
  * (`/root/reference/src/main/java/com/github/mlnick/hive/udaf/UDAFCardinalityEstimator.java`)
  * from the published algorithms it cites (Flajolet et al. 2007 HyperLogLog;
  * Whang et al. 1990 Linear Counting — cited at UDAFCardinalityEstimator.java:50-51).
  * Unlike the reference (32-bit murmur over `toString`, see SURVEY §2 quirks) we
  * hash the typed value with 64-bit xxHash *before* offering, so the sketch layer
  * itself only ever sees a well-mixed 64-bit hash. This removes the ~2^32
  * cardinality ceiling and the long-range-correction question the reference
  * side-steps with `cardinality(false)` (UDAFCardinalityEstimator.java:335-337).
  *
  * Sketches form a commutative monoid (merge = union), which is what makes them
  * safe across shuffles, re-aggregation over stored sketch columns, and
  * streaming state — on a 1000-executor cluster a partial sketch is the ONLY
  * thing that crosses the wire per group (KBs, not raw rows).
  */
sealed trait Sketch extends Serializable {
  /** Algorithm tag, matching the reference's result-struct `type` field
    * ("HLL" / "LC", UDAFCardinalityEstimator.java:71-86). */
  def algo: String
  /** Offer one pre-hashed (64-bit, well-mixed) value. */
  def offerHash(h: Long): Unit
  /** Current cardinality estimate. */
  def estimate: Long
  /** In-place union with another sketch of the same algo+precision.
    * @throws SketchMergeException on algo or precision mismatch (mirrors the
    *         reference's wrapped CardinalityMergeException at :411-413). */
  def mergeInPlace(other: Sketch): Unit
  /** Tagged wire format; see [[Sketch.deserialize]]. */
  def serialize(): Array[Byte]
}

final class SketchMergeException(msg: String) extends RuntimeException(msg)

object Sketch extends SketchCodec[Sketch] {
  val TagHll: Byte = 1
  val TagLc: Byte = 2
  val TagHllSparse: Byte = 3
  val TagLcSparse: Byte = 4

  private[sketch] def readInt(bytes: Array[Byte], off: Int): Int =
    ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
      ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)

  /** Sparse payload length check. `expected` is computed in Long: an entry
    * count near 2^30 would wrap the Int arithmetic back to the short actual
    * length, pass the check and then allocate that many entries. */
  private[sketch] def requireLength(bytes: Array[Byte], expected: Long, what: String): Unit =
    require(bytes.length == expected, s"$what length ${bytes.length} != $expected")

  private[sketch] def writeInt(bytes: Array[Byte], off: Int, v: Int): Unit = {
    bytes(off) = (v >>> 24).toByte
    bytes(off + 1) = (v >>> 16).toByte
    bytes(off + 2) = (v >>> 8).toByte
    bytes(off + 3) = v.toByte
  }

  /** Inverse of [[Sketch.serialize]]. Wire formats (each impl also keeps a
    * sparse IN-MEMORY mode; the sparse encodings exist because at scale most
    * groups are small and a dense 2^b-byte payload per group would dominate
    * shuffle bytes — see serialize() in each impl):
    *  HLL dense:  [tag=1][b: 1][2^b register bytes]
    *  LC dense:   [tag=2][sizeBytes: 4 BE][bitmap bytes]
    *  HLL sparse: [tag=3][b: 1][n: 4 BE][n × (regIdx: 3 BE, rho: 1)]
    *  LC sparse:  [tag=4][sizeBytes: 4 BE][n: 4 BE][n × bitIdx: 4 BE]
    */
  def deserialize(bytes: Array[Byte]): Sketch = {
    require(bytes != null && bytes.length >= 1, "empty sketch payload")
    bytes(0) match {
      case TagHll =>
        val b = bytes(1).toInt
        val m = 1 << b
        require(bytes.length == 2 + m, s"HLL payload length ${bytes.length} != ${2 + m}")
        val regs = java.util.Arrays.copyOfRange(bytes, 2, 2 + m)
        new Hll(b, regs)
      case TagHllSparse =>
        val b = bytes(1).toInt
        val n = readInt(bytes, 2)
        requireLength(bytes, 6 + 4L * n, "sparse HLL")
        val entries = new Array[(Int, Byte)](n)
        var i = 0
        while (i < n) {
          val off = 6 + 4 * i
          val idx = ((bytes(off) & 0xff) << 16) | ((bytes(off + 1) & 0xff) << 8) |
            (bytes(off + 2) & 0xff)
          // out-of-range indices would silently skew sparse estimates (zero
          // miscount) or blow up only on a later densification — fail here
          if (idx >= (1 << b))
            throw new SketchMergeException(
              s"corrupt sparse HLL payload: register index $idx >= 2^$b")
          entries(i) = (idx, bytes(off + 3))
          i += 1
        }
        Hll.fromSparse(b, entries)
      case TagLc =>
        val size = readInt(bytes, 1)
        require(bytes.length == 5 + size, s"LC payload length ${bytes.length} != ${5 + size}")
        val bitmap = java.util.Arrays.copyOfRange(bytes, 5, 5 + size)
        new LinearCounter(size, bitmap)
      case TagLcSparse =>
        val size = readInt(bytes, 1)
        val n = readInt(bytes, 5)
        requireLength(bytes, 9 + 4L * n, "sparse LC")
        val idxs = new Array[Int](n)
        var i = 0
        while (i < n) {
          val idx = readInt(bytes, 9 + 4 * i)
          if (idx < 0 || idx.toLong >= 8L * size)
            throw new SketchMergeException(
              s"corrupt sparse LC payload: bit index $idx outside [0, ${8L * size})")
          idxs(i) = idx
          i += 1
        }
        LinearCounter.fromSparse(size, idxs)
      case t => throw new SketchMergeException(s"unknown sketch tag $t")
    }
  }

  def serialize(sketch: Sketch): Array[Byte] = sketch.serialize()

  def merge(into: Sketch, other: Sketch): Sketch = { into.mergeInPlace(other); into }

  /** Merge a SERIALIZED sketch directly into `target`, without materializing
    * an intermediate [[Sketch]]. Semantically identical to
    * `target.mergeInPlace(deserialize(bytes))` — the target's register/bit
    * multiset (and therefore its estimate and serialized bytes) is the same —
    * but the per-payload allocations (copyOfRange, entry arrays, a LongMap
    * rebuilt per input row) disappear. This is the hot path of every
    * `sketch_merge_agg` update: a merge-heavy query (q298: instants ×
    * covering-buckets merge rows) otherwise allocates and discards one full
    * sparse sketch PER INPUT ROW, and that churn — not the OR itself — was
    * the bench's heaviest, least stable entry (±2–3× same-session GC drift).
    * Returns the merged sketch (deserialized fresh when `target` is null). */
  override def mergeSerializedInto(bytes: Array[Byte], target: Sketch): Sketch = {
    if (target == null) return deserialize(bytes)
    require(bytes != null && bytes.length >= 1, "empty sketch payload")
    target match {
      case lc: LinearCounter => lc.mergeSerialized(bytes)
      case h: Hll => h.mergeSerialized(bytes)
    }
    target
  }
}

/** HyperLogLog (Flajolet/Fusy/Gandouet/Meunier 2007) with an HLL++-style
  * sparse→dense representation.
  *
  * `b` = log2(register count), default 16 in the engine API to match the
  * reference's `HLL_DEFAULT_B = 16` (UDAFCardinalityEstimator.java:89), giving
  * a theoretical std-err of 1.04/sqrt(2^16) ≈ 0.41%.
  *
  * 64-bit variant: top `b` hash bits select the register, the rank of the
  * remaining (64-b) bits feeds it. Small-range correction = LinearCounting on
  * the zero registers; NO 32-bit long-range correction (meaningless at 64 bits,
  * and the reference disables it too — UDAFCardinalityEstimator.java:335-337).
  *
  * Representation: a new sketch starts as a small idx→rank map and upgrades
  * to the dense 2^b array once > 2^b/8 registers are touched. At scale, most
  * groups of a high-cardinality GROUP BY are small; sparse mode makes their
  * aggregation-buffer cost O(distinct), not a fixed 64 KB each. All
  * observable behavior (estimates, serialized bytes) is representation-
  * independent: estimate math runs over the same register multiset and
  * serialization emits ascending-index order either way, preserving the
  * partition-invariance guarantee (identical bytes for any data split).
  */
final class Hll private (val b: Int, private var dense: Array[Byte],
    private var sparse: scala.collection.mutable.LongMap[Int]) extends Sketch {
  require(b >= 4 && b <= 24, s"HLL precision b must be in [4,24], got $b")

  /** New empty sketch — starts sparse. */
  def this(b: Int) = this(b, null, new scala.collection.mutable.LongMap[Int](64))
  /** Dense from existing registers (deserialization, tests). */
  def this(b: Int, regs: Array[Byte]) = this(b, regs, null)

  private[this] val m = 1 << b
  private def upgradeAt: Int = m >>> 3

  override def algo: String = "HLL"

  private def toDense(): Unit = {
    val regs = new Array[Byte](m)
    sparse.foreachEntry((idx, rho) => regs(idx.toInt) = rho.toByte)
    dense = regs
    sparse = null
  }

  /** Dense register array (forces densification — for internal/test use). */
  private[graft] def registers: Array[Byte] = {
    if (dense == null) toDense()
    dense
  }

  override def offerHash(h: Long): Unit = {
    val idx = (h >>> (64 - b)).toInt
    val w = h << b
    // rank of the remaining 64-b bits; all-zero suffix => max rank 64-b+1
    val rho = if (w == 0) (64 - b + 1) else java.lang.Long.numberOfLeadingZeros(w) + 1
    if (dense != null) {
      if (rho > dense(idx)) dense(idx) = rho.toByte
    } else {
      // missing key => 0, and ranks are always >= 1, so max-update is one compare
      if (rho > sparse.getOrElse(idx.toLong, 0)) sparse.update(idx.toLong, rho)
      if (sparse.size > upgradeAt) toDense()
    }
  }

  private def alphaMM: Double = {
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    alpha * m.toDouble * m.toDouble
  }

  override def estimate: Long = {
    var sum = 0.0
    var zeros = 0
    if (dense != null) {
      var i = 0
      while (i < m) {
        val r = dense(i) & 0xff
        sum += 1.0 / (1L << r).toDouble
        if (r == 0) zeros += 1
        i += 1
      }
    } else {
      // untouched registers contribute 2^-0 = 1 each and count as zeros
      zeros = m - sparse.size
      sum = zeros.toDouble
      sparse.foreachValue(rho => sum += 1.0 / (1L << rho).toDouble)
    }
    val e = alphaMM / sum
    val est =
      if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) // small-range LC correction
      else e // no long-range correction by design
    math.round(est)
  }

  override def mergeInPlace(other: Sketch): Unit = other match {
    case o: Hll =>
      if (o.b != b)
        throw new SketchMergeException(s"cannot merge HLL(b=$b) with HLL(b=${o.b})")
      if (o.dense == null && dense == null) {
        o.sparse.foreachEntry { (idx, rho) =>
          if (rho > sparse.getOrElse(idx, 0)) sparse.update(idx, rho)
        }
        if (sparse.size > upgradeAt) toDense()
      } else if (o.dense == null) { // this dense, other sparse
        o.sparse.foreachEntry { (idx, rho) =>
          if (rho > dense(idx.toInt)) dense(idx.toInt) = rho.toByte
        }
      } else { // other dense: densify this and take register-wise max
        if (dense == null) toDense()
        var i = 0
        while (i < m) {
          if (o.dense(i) > dense(i)) dense(i) = o.dense(i)
          i += 1
        }
      }
    case o => throw new SketchMergeException(s"cannot merge HLL with ${o.algo}")
  }

  /** Wire-format merge (see [[Sketch.mergeSerializedInto]]): applies a
    * serialized HLL payload register-by-register with zero intermediate
    * allocation. Validation mirrors [[Sketch.deserialize]] exactly, so
    * corrupt or mismatched payloads fail with the same exceptions. */
  private[sketch] def mergeSerialized(bytes: Array[Byte]): Unit = bytes(0) match {
    case Sketch.TagHll =>
      val ob = bytes(1).toInt
      if (ob != b)
        throw new SketchMergeException(s"cannot merge HLL(b=$b) with HLL(b=$ob)")
      require(bytes.length == 2 + m, s"HLL payload length ${bytes.length} != ${2 + m}")
      if (dense == null) toDense()
      var i = 0
      while (i < m) {
        if (bytes(2 + i) > dense(i)) dense(i) = bytes(2 + i)
        i += 1
      }
    case Sketch.TagHllSparse =>
      val ob = bytes(1).toInt
      if (ob != b)
        throw new SketchMergeException(s"cannot merge HLL(b=$b) with HLL(b=$ob)")
      val n = Sketch.readInt(bytes, 2)
      Sketch.requireLength(bytes, 6 + 4L * n, "sparse HLL")
      var i = 0
      while (i < n) {
        val off = 6 + 4 * i
        val idx = ((bytes(off) & 0xff) << 16) | ((bytes(off + 1) & 0xff) << 8) |
          (bytes(off + 2) & 0xff)
        if (idx >= m)
          throw new SketchMergeException(
            s"corrupt sparse HLL payload: register index $idx >= 2^$b")
        val rho = bytes(off + 3).toInt
        if (dense != null) {
          if (rho > dense(idx)) dense(idx) = rho.toByte
        } else if (rho > sparse.getOrElse(idx.toLong, 0)) sparse.update(idx.toLong, rho)
        i += 1
      }
      if (dense == null && sparse.size > upgradeAt) toDense()
    case Sketch.TagLc | Sketch.TagLcSparse =>
      throw new SketchMergeException("cannot merge HLL with LC")
    case t => throw new SketchMergeException(s"unknown sketch tag $t")
  }

  /** Dense when ≥ m/4 registers are set, else sparse (idx,rho) pairs: a
    * low-cardinality group ships O(n) bytes across the shuffle instead of a
    * fixed 2^b — at scale, groups are mostly small and this is the
    * difference between KBs and GBs of exchange. Both in-memory
    * representations emit ascending register order, so the bytes depend only
    * on the register multiset and partition-invariance (bit-identical
    * sketches for any split) is preserved. */
  override def serialize(): Array[Byte] = {
    if (dense == null) {
      val n = sparse.size
      val out = new Array[Byte](6 + 4 * n)
      out(0) = Sketch.TagHllSparse
      out(1) = b.toByte
      Sketch.writeInt(out, 2, n)
      val idxs = sparse.keys.toArray
      java.util.Arrays.sort(idxs)
      var j = 0
      while (j < n) {
        val idx = idxs(j).toInt
        val off = 6 + 4 * j
        out(off) = (idx >>> 16).toByte
        out(off + 1) = (idx >>> 8).toByte
        out(off + 2) = idx.toByte
        out(off + 3) = sparse(idxs(j)).toByte
        j += 1
      }
      out
    } else {
      var nonZero = 0
      var i = 0
      while (i < m) {
        if (dense(i) != 0) nonZero += 1
        i += 1
      }
      if (nonZero.toLong * 4 + 6 < 2L + m) {
        val out = new Array[Byte](6 + 4 * nonZero)
        out(0) = Sketch.TagHllSparse
        out(1) = b.toByte
        Sketch.writeInt(out, 2, nonZero)
        var j = 0
        i = 0
        while (i < m) {
          if (dense(i) != 0) {
            val off = 6 + 4 * j
            out(off) = (i >>> 16).toByte
            out(off + 1) = (i >>> 8).toByte
            out(off + 2) = i.toByte
            out(off + 3) = dense(i)
            j += 1
          }
          i += 1
        }
        out
      } else {
        val out = new Array[Byte](2 + m)
        out(0) = Sketch.TagHll
        out(1) = b.toByte
        System.arraycopy(dense, 0, out, 2, m)
        out
      }
    }
  }
}

object Hll {
  /** Rebuild from sparse wire entries without densifying (merges of many
    * small stored sketches stay O(distinct)). */
  private[sketch] def fromSparse(b: Int, entries: Array[(Int, Byte)]): Hll = {
    val h = new Hll(b)
    entries.foreach { case (idx, rho) =>
      if (rho > h.sparse.getOrElse(idx.toLong, 0)) h.sparse.update(idx.toLong, rho.toInt)
    }
    if (h.sparse.size > h.upgradeAt) h.toDense()
    h
  }
}

/** Linear (probabilistic) Counting (Whang/Vander-Zanden/Taylor 1990).
  *
  * `sizeBytes` bytes of bitmap => m = 8*sizeBytes buckets; estimate
  * n̂ = m·ln(m/z) with z = unset buckets. Default size 1,000,000 bytes matches
  * the reference's `LC_DEFAULT_SIZE` (UDAFCardinalityEstimator.java:90).
  * Near-exact while n ≪ m; saturates (z → 0) beyond.
  *
  * Like [[Hll]], starts as a sparse set of set-bit indices and materializes
  * the bitmap only past 1/32 fill — with the 1 MB default, a small group's
  * aggregation buffer is O(distinct) instead of a megabyte (the "LC memory
  * under high-key GROUP BY" risk flagged in SURVEY §7). All observable
  * behavior is representation-independent.
  */
final class LinearCounter private (val sizeBytes: Int, private var dense: Array[Byte],
    private var sparse: scala.collection.mutable.LongMap[Boolean]) extends Sketch {
  require(sizeBytes > 0, s"LC size must be positive, got $sizeBytes")

  /** New empty counter — starts sparse. */
  def this(sizeBytes: Int) =
    this(sizeBytes, null, new scala.collection.mutable.LongMap[Boolean](64))
  /** Dense from an existing bitmap (deserialization, tests). */
  def this(sizeBytes: Int, bitmap: Array[Byte]) = this(sizeBytes, bitmap, null)

  private[this] val mBits: Long = sizeBytes.toLong * 8L
  private def upgradeAt: Int = math.max(64, sizeBytes >>> 2) // bits ≈ bytes/4*8 = 1/32 fill

  override def algo: String = "LC"

  private def toDense(): Unit = {
    val bm = new Array[Byte](sizeBytes)
    sparse.foreachKey { idx =>
      bm((idx >>> 3).toInt) = (bm((idx >>> 3).toInt) | (1 << (idx & 7).toInt)).toByte
    }
    dense = bm
    sparse = null
  }

  /** Dense bitmap (forces densification — for internal/test use). */
  private[graft] def bitmap: Array[Byte] = {
    if (dense == null) toDense()
    dense
  }

  override def offerHash(h: Long): Unit = {
    val idx = java.lang.Math.floorMod(h, mBits)
    if (dense != null) {
      val byteIdx = (idx >>> 3).toInt
      dense(byteIdx) = (dense(byteIdx) | (1 << (idx & 7).toInt)).toByte
    } else {
      sparse.update(idx, true)
      if (sparse.size > upgradeAt) toDense()
    }
  }

  private def zeros: Long = {
    if (dense == null) mBits - sparse.size
    else {
      var ones = 0L
      var i = 0
      while (i < sizeBytes) {
        ones += java.lang.Integer.bitCount(dense(i) & 0xff)
        i += 1
      }
      mBits - ones
    }
  }

  override def estimate: Long = {
    val z = zeros
    if (z == 0) mBits // saturated: report capacity rather than infinity
    else math.round(mBits.toDouble * math.log(mBits.toDouble / z))
  }

  override def mergeInPlace(other: Sketch): Unit = other match {
    case o: LinearCounter =>
      if (o.sizeBytes != sizeBytes)
        throw new SketchMergeException(
          s"cannot merge LC(size=$sizeBytes) with LC(size=${o.sizeBytes})")
      if (o.dense == null && dense == null) {
        o.sparse.foreachKey(idx => sparse.update(idx, true))
        if (sparse.size > upgradeAt) toDense()
      } else if (o.dense == null) {
        o.sparse.foreachKey { idx =>
          dense((idx >>> 3).toInt) = (dense((idx >>> 3).toInt) | (1 << (idx & 7).toInt)).toByte
        }
      } else {
        if (dense == null) toDense()
        var i = 0
        while (i < sizeBytes) {
          dense(i) = (dense(i) | o.dense(i)).toByte
          i += 1
        }
      }
    case o => throw new SketchMergeException(s"cannot merge LC with ${o.algo}")
  }

  /** Wire-format merge (see [[Sketch.mergeSerializedInto]]): ORs a serialized
    * LC payload straight into this counter — a dense payload is one byte-OR
    * sweep, a sparse payload sets its bit indices directly — with zero
    * intermediate allocation. Validation mirrors [[Sketch.deserialize]]. */
  private[sketch] def mergeSerialized(bytes: Array[Byte]): Unit = bytes(0) match {
    case Sketch.TagLc =>
      val size = Sketch.readInt(bytes, 1)
      if (size != sizeBytes)
        throw new SketchMergeException(
          s"cannot merge LC(size=$sizeBytes) with LC(size=$size)")
      require(bytes.length == 5 + size, s"LC payload length ${bytes.length} != ${5 + size}")
      if (dense == null) toDense()
      var i = 0
      while (i < sizeBytes) {
        dense(i) = (dense(i) | bytes(5 + i)).toByte
        i += 1
      }
    case Sketch.TagLcSparse =>
      val size = Sketch.readInt(bytes, 1)
      if (size != sizeBytes)
        throw new SketchMergeException(
          s"cannot merge LC(size=$sizeBytes) with LC(size=$size)")
      val n = Sketch.readInt(bytes, 5)
      Sketch.requireLength(bytes, 9 + 4L * n, "sparse LC")
      var i = 0
      while (i < n) {
        val idx = Sketch.readInt(bytes, 9 + 4 * i)
        if (idx < 0 || idx.toLong >= mBits)
          throw new SketchMergeException(
            s"corrupt sparse LC payload: bit index $idx outside [0, $mBits)")
        if (dense != null)
          dense(idx >>> 3) = (dense(idx >>> 3) | (1 << (idx & 7))).toByte
        else sparse.update(idx.toLong, true)
        i += 1
      }
      if (dense == null && sparse.size > upgradeAt) toDense()
    case Sketch.TagHll | Sketch.TagHllSparse =>
      throw new SketchMergeException("cannot merge LC with HLL")
    case t => throw new SketchMergeException(s"unknown sketch tag $t")
  }

  /** Sparse bit-index list when it is strictly smaller, dense bitmap
    * otherwise — chosen PURELY from the set-bit count, never from the
    * in-memory mode: serialized bytes must depend only on the bit multiset
    * (partition invariance), so a sparse-mode counter near the encoding
    * threshold emits the same bytes as its equal-multiset dense twin.
    * Both encodings emit ascending bit order (same rationale as HLL). */
  override def serialize(): Array[Byte] = {
    val n: Int = if (dense == null) sparse.size else (mBits - zeros).toInt
    if (n.toLong * 4 + 9 < 5L + sizeBytes) {
      val out = new Array[Byte](9 + 4 * n)
      out(0) = Sketch.TagLcSparse
      Sketch.writeInt(out, 1, sizeBytes)
      Sketch.writeInt(out, 5, n)
      if (dense == null) {
        val idxs = sparse.keys.toArray
        java.util.Arrays.sort(idxs)
        var j = 0
        while (j < n) {
          Sketch.writeInt(out, 9 + 4 * j, idxs(j).toInt)
          j += 1
        }
      } else {
        var j = 0
        var i = 0
        while (i < sizeBytes) {
          val byte = dense(i) & 0xff
          if (byte != 0) {
            var bit = 0
            while (bit < 8) {
              if ((byte & (1 << bit)) != 0) {
                Sketch.writeInt(out, 9 + 4 * j, i * 8 + bit)
                j += 1
              }
              bit += 1
            }
          }
          i += 1
        }
      }
      out
    } else {
      if (dense == null) toDense()
      val out = new Array[Byte](5 + sizeBytes)
      out(0) = Sketch.TagLc
      Sketch.writeInt(out, 1, sizeBytes)
      System.arraycopy(dense, 0, out, 5, sizeBytes)
      out
    }
  }
}

object LinearCounter {
  /** Rebuild from sparse wire entries without materializing the bitmap. */
  private[sketch] def fromSparse(sizeBytes: Int, bitIdxs: Array[Int]): LinearCounter = {
    val lc = new LinearCounter(sizeBytes)
    bitIdxs.foreach(i => lc.sparse.update(i.toLong, true))
    if (lc.sparse.size > lc.upgradeAt) lc.toDense()
    lc
  }
}
