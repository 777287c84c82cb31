package perfbench

import java.util.SplittableRandom

/** Seeded input generator for the two sketch workloads.
  *
  * Every value is `Gen.value(seed, key, j)`, a bijective mix of the pair
  * (key, j), so values of one key never collide with each other or with
  * another key's. The exact distinct count of any set of values is therefore
  * the number of distinct j it covers, known without counting.
  */
object Gen {

  /** splitmix64 finalizer: a bijection on 64-bit words. */
  def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The j-th distinct value of `key`; injective in (key, j) for j < 2^32. */
  def value(seed: Long, key: Int, j: Long): Long =
    mix(((key.toLong << 32) | j) + seed * 0x9e3779b97f4a7c15L)

  /** `n` sizes log-uniform in [lo, hi), one per stratum of equal log width
    * (so the spread of sizes barely moves between seeds), in seeded order. */
  def logUniformSizes(rnd: SplittableRandom, n: Int, lo: Int, hi: Int): Array[Int] = {
    val (l0, l1) = (math.log(lo.toDouble), math.log(hi.toDouble))
    val sizes = Array.tabulate(n)(i =>
      math.exp(l0 + (i + rnd.nextDouble()) / n * (l1 - l0)).toInt)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = sizes(i); sizes(i) = sizes(j); sizes(j) = t
      i -= 1
    }
    sizes
  }

  /** Assigns keys to `batches` batches round-robin in order of size, so
    * every batch holds the same spread of small and large keys. */
  def stratifiedBatches(sizes: Array[Int], batches: Int): Array[Array[Int]] = {
    val bySize = sizes.indices.sortBy(k => (sizes(k), k))
    Array.tabulate(batches)(b =>
      bySize.indices.filter(_ % batches == b).map(bySize).sorted.toArray)
  }
}

/** `sketch-build` input: `keys` groups with log-uniform distinct counts in
  * [minDistinct, maxDistinct). A seeded quarter of the distinct values
  * occur twice, and the two occurrences land on neighbouring partitions, so
  * every partition holds a partial sketch of most groups. */
final case class BuildSpec(seed: Long, keys: Int = 384, minDistinct: Int = 64,
    maxDistinct: Int = 40000, batches: Int = 8, partitions: Int = 8) {

  /** Exact distinct count of each key, by construction. */
  val distinct: Array[Int] =
    Gen.logUniformSizes(new SplittableRandom(seed), keys, minDistinct, maxDistinct)
  val batchKeys: Array[Array[Int]] = Gen.stratifiedBatches(distinct, batches)

  def copies(v: Long): Int = if ((Gen.mix(v ^ seed) & 3L) == 0L) 2 else 1
  /** Partition of the c-th occurrence of value index j. */
  def partOf(j: Int, c: Int): Int = (j + c) % partitions

  def rowsOf(key: Int): Long =
    (0 until distinct(key)).iterator.map(j => copies(Gen.value(seed, key, j)).toLong).sum

  /** Rows of one batch on one partition as (key, value), keys interleaved
    * (value index major), so no key arrives in a long run. */
  def partitionRows(batch: Int, part: Int): Iterator[(Int, Long)] = {
    val keys = batchKeys(batch).sortBy(k => -distinct(k))
    val ks = new scala.collection.mutable.ArrayBuilder.ofInt
    val vs = new scala.collection.mutable.ArrayBuilder.ofLong
    var j = 0
    while (j < distinct(keys.head)) {
      val first = partOf(j, 0) == part
      if (first || partOf(j, 1) == part) {
        var i = 0
        while (i < keys.length && distinct(keys(i)) > j) {
          val v = Gen.value(seed, keys(i), j)
          if (first || copies(v) == 2) { ks += keys(i); vs += v }
          i += 1
        }
      }
      j += 1
    }
    val (ka, va) = (ks.result(), vs.result())
    Iterator.range(0, ka.length).map(i => (ka(i), va(i)))
  }

  /** The values each partition's partial sketch of `key` sees. */
  def partValues(key: Int): Seq[Array[Long]] = {
    val parts = Array.fill(partitions)(Array.newBuilder[Long])
    (0 until distinct(key)).foreach { j =>
      val v = Gen.value(seed, key, j)
      (0 until copies(v)).foreach(c => parts(partOf(j, c)) += v)
    }
    parts.toSeq.map(_.result())
  }
}

/** `sketch-rollup` input: per-(day, key) value windows. Key k covers the
  * value indices [day * step(k), day * step(k) + width(k)) on each day, so
  * consecutive days overlap by half a window and every union or
  * intersection of days has an exact size known in closed form. */
final case class RollupSpec(seed: Long, keys: Int = 128, days: Int = 12,
    minWidth: Int = 32, maxWidth: Int = 40000, batches: Int = 16) {
  require(days % 4 == 0, "days must split into quarters")

  val width: Array[Int] =
    Gen.logUniformSizes(new SplittableRandom(seed ^ 0x5deece66dL), keys, minWidth, maxWidth)
  val batchKeys: Array[Array[Int]] = Gen.stratifiedBatches(width, batches)
  def step(k: Int): Int = (width(k) + 1) / 2
  val half: Int = days / 2
  /** Days [from, until) of quarter q. */
  def quarter(q: Int): (Int, Int) = (q * days / 4, (q + 1) * days / 4)

  /** Exact size of the union of days [d0, d1) for key k. */
  def unionExact(k: Int, d0: Int, d1: Int): Long =
    (d1 - d0 - 1).toLong * step(k) + width(k)
  def allExact(k: Int): Long = unionExact(k, 0, days)
  /** Exact |A ∩ B| for A = days [0, half), B = days [half, days). */
  def intersectionExact(k: Int): Long = math.max(0L, width(k).toLong - step(k))

  def dayValues(k: Int, day: Int): Iterator[Long] = {
    val j0 = day.toLong * step(k)
    Iterator.range(0, width(k)).map(j => Gen.value(seed, k, j0 + j))
  }
}
