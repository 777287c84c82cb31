package perfbench

import graft.functions.{ApproxDistinct, TypedXxHash}
import graft.sketch.{Hll, LinearCounter, Sketch}

import org.apache.spark.sql.types.LongType

/** Single-thread replay of a workload's own values through the sketch
  * kernels, one timed step per kernel. Input: groups, each a list of parts;
  * a part is the set of values one partial (build) or stored (rollup)
  * sketch sees, and a group's parts are merged into one sketch. */
object Replay {
  private val Reps = 3

  private def nsPer(count: Long)(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0).toDouble / math.max(1L, count)
  }

  def run(groups: Seq[Seq[Array[Long]]]): Map[String, Double] = {
    val hash = TypedXxHash.kernel(LongType, ApproxDistinct.HashSeed)
    val boxed: Seq[Seq[Array[AnyRef]]] =
      groups.map(_.map(_.map(v => java.lang.Long.valueOf(v): AnyRef)))
    val nValues = groups.map(_.map(_.length.toLong).sum).sum
    val nParts = groups.map(_.size.toLong).sum

    val runs = (0 until Reps).map { _ =>
      var hashes: Seq[Seq[Array[Long]]] = Nil
      val xx = nsPer(nValues) { hashes = boxed.map(_.map(_.map(hash))) }
      var hlls: Seq[Seq[Sketch]] = Nil
      val hllOffer = nsPer(nValues) {
        hlls = hashes.map(_.map { hs =>
          val s = new Hll(ApproxDistinct.HllDefaultB)
          hs.foreach(s.offerHash)
          s
        })
      }
      var lcs: Seq[Seq[Sketch]] = Nil
      val lcOffer = nsPer(nValues) {
        lcs = hashes.map(_.map { hs =>
          val s = new LinearCounter(ApproxDistinct.LcDefaultSize)
          hs.foreach(s.offerHash)
          s
        })
      }
      var payloads: Seq[Seq[Array[Byte]]] = Nil
      val ser = nsPer(2 * nParts) {
        payloads = hlls.map(_.map(_.serialize()))
        lcs.foreach(_.foreach(_.serialize()))
      }
      var objects: Seq[Seq[Sketch]] = Nil
      val deser = nsPer(nParts) { objects = payloads.map(_.map(Sketch.deserialize)) }
      val merge = nsPer(nParts - groups.size) {
        objects.foreach(ss => ss.tail.foreach(ss.head.mergeInPlace))
      }
      val wire = nsPer(nParts) {
        payloads.foreach(ps => ps.foldLeft(null: Sketch)((acc, p) => Sketch.mergeSerializedInto(p, acc)))
      }
      val dense = payloads.flatten.count(_(0) == Sketch.TagHll).toDouble / nParts
      Seq(xx, hllOffer, lcOffer, ser, deser, merge, wire, (deser + merge) / wire, dense)
    }
    val names = Seq("functions.xxhash_ns", "sketch.hll_offer_ns", "sketch.lc_offer_ns",
      "sketch.serialize_ns", "sketch.deserialize_ns", "sketch.merge_ns", "sketch.wire_merge_ns",
      "sketch.wire_vs_object_merge", "sketch.dense_frac")
    names.zipWithIndex.map { case (n, i) => n -> Stats.median(runs.map(_(i))) }.toMap
  }
}
