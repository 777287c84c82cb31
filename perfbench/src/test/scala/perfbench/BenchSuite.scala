package perfbench

import java.nio.file.Files

import graft.functions.{ApproxDistinct, TypedXxHash}
import graft.sketch.{Hll, LinearCounter}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks: the generators' exact counts are right, and
  * the output checks reject a wrong expected value. */
class BenchSuite extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("perfbench-test").toString
  private lazy val spark: SparkSession = Main.session(2, work)

  override def afterAll(): Unit = spark.stop()

  private val smallBuild = BuildSpec(seed = 7, keys = 24, minDistinct = 16, maxDistinct = 3000,
    batches = 3, partitions = 4)
  private val smallRollup = RollupSpec(seed = 7, keys = 12, days = 8, minWidth = 8,
    maxWidth = 2000, batches = 3)

  test("sketch-build generator: exact distinct and row counts per key") {
    import spark.implicits._
    val s = smallBuild
    val rows = spark.range(0, s.partitions, 1, s.partitions).as[Long]
      .flatMap(p => Iterator.range(0, s.batches).flatMap(b => s.partitionRows(b, p.toInt)))
      .toDF("k", "v")
    val counted = rows.groupBy("k").agg(countDistinct("v"), count(lit(1))).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(counted.keySet == (0 until s.keys).toSet)
    (0 until s.keys).foreach { k =>
      assert(counted(k) == ((s.distinct(k).toLong, s.rowsOf(k))), s"key $k")
    }
    assert(s.batchKeys.flatten.sorted.toSeq == (0 until s.keys))
  }

  test("sketch-rollup generator: exact unions and intersection per key") {
    import spark.implicits._
    val s = smallRollup
    val rows = spark.createDataset(for (k <- 0 until s.keys; d <- 0 until s.days) yield (k, d))
      .flatMap { case (k, d) => s.dayValues(k, d).map(v => (k, d, v)) }.toDF("k", "day", "v")
    val early = col("day") < s.half
    val got = rows.groupBy("k").agg(countDistinct("v"),
        countDistinct(when(early, col("v"))), countDistinct(when(!early, col("v"))))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val inBoth = rows.groupBy("k", "v").agg(countDistinct(early).as("n")).where(col("n") === 2)
      .groupBy("k").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until s.keys).foreach { k =>
      assert(got(k) == ((s.allExact(k), s.unionExact(k, 0, s.half), s.unionExact(k, s.half, s.days))),
        s"key $k")
      assert(inBoth.getOrElse(k, 0L) == s.intersectionExact(k), s"key $k")
    }
  }

  test("sketch-build check passes, and fails on a wrong expected count") {
    val w = new SketchBuild(spark, smallBuild)
    w.prepare()
    val out = w.execute(0, w.build(0))
    assert(w.check(0, out))
    val wrong = smallBuild.copy()
    val k = out.head.getInt(0)
    wrong.distinct(k) = (wrong.distinct(k) * 1.05).toInt + 4
    assert(!new SketchBuild(spark, wrong).check(0, out))
  }

  test("sketch-rollup check passes, and fails on a wrong expected value") {
    val w = new SketchRollup(spark, smallRollup, s"$work/rollup-test")
    w.prepare()
    val out = w.execute(1, w.build(1))
    assert(w.check(1, out))
    val r = out.head
    val tampered = Row.fromSeq(r.toSeq.updated(1, r.getLong(1) + 1))
    assert(!w.check(1, tampered +: out.tail))
  }

  test("no estimate leaves the check envelope by chance, over 20 seeds") {
    val hash = TypedXxHash.kernel(LongType, ApproxDistinct.HashSeed)
    for (seed <- 1L to 20L) {
      val s = BuildSpec(seed)
      (0 until s.keys).foreach { k =>
        val (h, l) = (new Hll(ApproxDistinct.HllDefaultB), new LinearCounter(ApproxDistinct.LcDefaultSize))
        s.partValues(k).flatten.foreach { v => val x = hash(v); h.offerHash(x); l.offerHash(x) }
        assert(Accuracy.within(h.estimate, s.distinct(k)), s"seed $seed key $k HLL ${h.estimate} vs ${s.distinct(k)}")
        assert(Accuracy.within(l.estimate, s.distinct(k)), s"seed $seed key $k LC")
      }
    }
  }

  test("the tail is the highest percentile with 10 samples above it") {
    assert(Stats.tail((1 to 50).reverse.map(_.toDouble)) == ((0.8, 40.0, 10)))
    assert(Stats.tail((1 to 10).map(_.toDouble)) == ((1.0, 10.0, 0)))
  }
}
