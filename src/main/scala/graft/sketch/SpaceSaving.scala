package graft.sketch

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.util.PriorityQueue

import scala.collection.mutable

import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving frequent-items summary (Metwally, Agrawal, El Abbadi 2005),
  * the sketch behind `approx_top_k`.
  *
  * Invariants (for a summary of capacity m over a stream of n items):
  *  - every item with true count > n/m is present in the summary;
  *  - for every tracked item: true ≤ est ≤ true + err, with err ≤ n/m;
  *  - if fewer than m distinct items were ever offered, counts are EXACT
  *    (est == true, err == 0) — no eviction ever happens.
  *
  * Mergeability (parallel SpaceSaving, Cafaro et al. 2016 / the trim step of
  * Agarwal et al. "Mergeable Summaries" 2012): estimates add pointwise; an
  * item absent from the other summary picks up that summary's minimum
  * estimate as additional error (an absent item's true count is bounded by
  * the min estimate — or 0 if that summary never evicted); then keep the
  * top m by estimate. The merged summary keeps the SpaceSaving guarantees
  * with err ≤ (n1+n2)/m, so partial aggregation and sketch re-aggregation
  * (store-then-merge) are both safe.
  *
  * MIXED capacities merge to the smaller one: trimming to m' ≤ m is the
  * same keep-top-m' step the overflow path already performs (Agarwal et
  * al.'s summary-size reduction), and the result carries the guarantees at
  * m' — so a store accumulated across a capacity reconfiguration stays
  * readable, with the weakest vintage governing the error bound.
  *
  * Hot-path design: keys are [[UTF8String]]s — hashCode/equals compare
  * bytes, so a buffer-backed value straight from a Spark row probes the map
  * with ZERO decoding or allocation; bytes are cloned only when an item is
  * actually inserted. A hit is a single map probe plus a counter bump — no
  * clone, no heap push, no allocation at all. Eviction needs the current
  * minimum-estimate entry; rather than the original paper's bucket list,
  * this uses a LAZY-UPDATE min-heap: each tracked item has one heap entry
  * carrying an estimate snapshot ≤ its current estimate (hits never touch
  * the heap); popMin re-inserts a stale minimum at its current estimate and
  * keeps polling. Since snapshots never exceed current estimates, a popped
  * entry whose snapshot matches its live estimate is a true minimum.
  * Amortized O(log m) per eviction, O(1) per hit.
  */
final class SpaceSaving(initialCapacity: Int) extends Serializable {
  require(initialCapacity >= 1,
    s"approx_top_k capacity must be >= 1, got $initialCapacity")

  /** Shrinks (only) when a smaller-capacity summary is merged in. */
  private var _capacity: Int = initialCapacity
  def capacity: Int = _capacity

  /** est and err per tracked item; `key` is the map's own (owned) key, so
    * heap maintenance never has to re-clone a row-buffer-backed probe. */
  final class Entry(val key: UTF8String, var est: Long, var err: Long)
    extends Serializable

  private[graft] val entries = new mutable.HashMap[UTF8String, Entry]
  /** total offered count (for the n/m error bound; survives merge). */
  private[graft] var n: Long = 0L
  /** true once an eviction happened — until then counts are exact. */
  private[graft] var evicted: Boolean = false

  // (estimate-snapshot, item); snapshot ≤ the live entry's current est —
  // hits bump est without touching the heap, popMin repairs lazily
  @transient private var heap: PriorityQueue[(Long, UTF8String)] = _

  private def heapOrd: java.util.Comparator[(Long, UTF8String)] =
    (a: (Long, UTF8String), b: (Long, UTF8String)) => java.lang.Long.compare(a._1, b._1)

  private def rebuildHeap(): Unit = {
    heap = new PriorityQueue[(Long, UTF8String)](math.max(capacity, 16), heapOrd)
    entries.foreach { case (k, e) => heap.add((e.est, k)) }
  }

  private def pushHeap(est: Long, item: UTF8String): Unit = {
    if (heap == null) rebuildHeap()
    else heap.add((est, item))
  }

  /** Pop until the head's snapshot matches its live estimate; a stale live
    * minimum is re-inserted at its current estimate (lazy update), a dead
    * item (evicted since its push) is dropped. Snapshots never exceed live
    * estimates, so a matching pop is a true minimum over live entries. */
  private def popMin(): (Long, UTF8String) = {
    if (heap == null) rebuildHeap()
    while (true) {
      val top = heap.poll()
      val live = entries.getOrElse(top._2, null)
      if (live != null) {
        if (live.est == top._1) return top
        heap.add((live.est, live.key))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def offer(item: String): Unit = offer(UTF8String.fromString(item), 1L)

  def offer(item: UTF8String): Unit = offer(item, 1L)

  /** `item` may be backed by a transient row buffer: it is cloned if (and
    * only if) it has to be stored. A hit allocates nothing. */
  def offer(item: UTF8String, weight: Long): Unit = {
    require(weight > 0, s"approx_top_k weight must be positive, got $weight")
    n += weight
    val hit = entries.getOrElse(item, null)
    if (hit != null) {
      hit.est += weight
    } else if (entries.size < capacity) {
      val owned = item.clone()
      entries.put(owned, new Entry(owned, weight, 0L))
      pushHeap(weight, owned)
    } else {
      val (minEst, minItem) = popMin()
      entries.remove(minItem)
      val owned = item.clone()
      entries.put(owned, new Entry(owned, minEst + weight, minEst))
      evicted = true
      pushHeap(minEst + weight, owned)
    }
  }

  /** Merge `other` into this summary (see class doc for the guarantee).
    * Mixed capacities are legal: the result trims to min(capacity) and
    * carries the guarantees at that size. */
  def mergeInPlace(other: SpaceSaving): Unit = {
    val newCap = math.min(_capacity, other.capacity)
    val minSelf = if (evicted) minEstimate() else 0L
    val minOther = if (other.evicted) other.minEstimate() else 0L
    val merged = new mutable.HashMap[UTF8String, Entry]
    entries.foreach { case (k, e) =>
      other.entries.get(k) match {
        case Some(o) => merged.put(k, new Entry(k, e.est + o.est, e.err + o.err))
        case None => merged.put(k, new Entry(k, e.est + minOther, e.err + minOther))
      }
    }
    other.entries.foreach { case (k, o) =>
      if (!entries.contains(k)) merged.put(k, new Entry(k, o.est + minSelf, o.err + minSelf))
    }
    entries.clear()
    _capacity = newCap
    if (merged.size > newCap) {
      evicted = true
      merged.toSeq.sortBy { case (k, e) => (-e.est, k) }.take(newCap)
        .foreach { case (k, e) => entries.put(k, e) }
    } else {
      evicted = evicted || other.evicted
      merged.foreach { case (k, e) => entries.put(k, e) }
    }
    n += other.n
    heap = null
  }

  def minEstimate(): Long =
    if (entries.isEmpty) 0L else entries.valuesIterator.map(_.est).min

  /** Top-k by (estimate desc, item asc) — deterministic under ties. */
  def topK(k: Int): Seq[(String, Long, Long)] =
    entries.toSeq.map { case (item, e) => (item.toString, e.est, e.err) }
      .sortBy { case (item, est, _) => (-est, item) }
      .take(k)

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeByte(SpaceSaving.WireTag)
    out.writeInt(capacity)
    out.writeLong(n)
    out.writeBoolean(evicted)
    out.writeInt(entries.size)
    // deterministic order: bytes depend only on the entry multiset
    entries.toSeq.sortBy(_._1).foreach { case (item, e) =>
      val b = item.getBytes
      out.writeInt(b.length)
      out.write(b)
      out.writeLong(e.est)
      out.writeLong(e.err)
    }
    out.flush()
    bos.toByteArray
  }
}

object SpaceSaving extends SketchCodec[SpaceSaving] {
  val WireTag: Byte = 0x53 // 'S'; HLL/LC sketches use their own tags

  def serialize(sketch: SpaceSaving): Array[Byte] = sketch.serialize()

  def merge(into: SpaceSaving, other: SpaceSaving): SpaceSaving = { into.mergeInPlace(other); into }

  def deserialize(bytes: Array[Byte]): SpaceSaving = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    checkTag(in.readByte(), WireTag, "an approx_top_k summary")
    val capacity = in.readInt()
    if (capacity < 1)
      throw new SketchMergeException(s"corrupted approx_top_k payload: capacity $capacity")
    val ss = new SpaceSaving(capacity)
    ss.n = in.readLong()
    ss.evicted = in.readBoolean()
    val size = in.readInt()
    if (size < 0 || size > capacity)
      throw new SketchMergeException(
        s"corrupted approx_top_k payload: $size entries for capacity $capacity")
    var i = 0
    while (i < size) {
      val len = in.readInt()
      if (len < 0 || len > bytes.length)
        throw new SketchMergeException(s"corrupted approx_top_k payload: item length $len")
      val b = new Array[Byte](len)
      in.readFully(b)
      val est = in.readLong()
      val err = in.readLong()
      if (est < 0 || err < 0 || err > est)
        throw new SketchMergeException(
          s"corrupted approx_top_k payload: est=$est err=$err")
      val key = UTF8String.fromBytes(b)
      ss.entries.put(key, new ss.Entry(key, est, err))
      i += 1
    }
    ss
  }
}
