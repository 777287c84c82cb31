package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.GraftFunctions.{approx_distinct, sketch_estimate, sketch_intersection_estimate, sketch_merge_agg, sketch_union}
import graft.SparkEntry
import graft.functions.{ApproxDistinct, TypedXxHash}
import graft.sketch.{Hll, Sketch}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DecimalType, IntegerType, LongType, StructField, StructType, TimestampType}
import org.apache.spark.storage.StorageLevel

/** One workload: a closed loop of operations. Each operation builds a plan
  * (the operators layer), executes it (spark), and for query-mix frees the
  * checkpoint blocks it left (plans); its output is then checked, untimed. */
trait Workload {
  type Out
  /** Makes the workload's inputs. */
  def prepare(): Unit
  def warmUp(): Unit
  /** Operations per cycle. A run holds at least one cycle. */
  def cycle: Int
  /** A run measures exactly one cycle, whatever its time budget, so that
    * the tail latency is the same order statistic at any engine speed. */
  def onePass: Boolean = false
  def freesCheckpoints: Boolean = false
  def build(i: Int): DataFrame
  def label(i: Int): String = s"batch ${i % cycle}"
  def execute(i: Int, df: DataFrame): Out
  /** Untimed output check of operation i. */
  def check(i: Int, out: Out): Boolean
  /** Work units operation i completed (rows, sketches merged, queries). */
  def work(i: Int): Long
  /** Size and accuracy metrics, from the outputs of the last full cycle. */
  def quality(): Map[String, Double]
  /** Estimates of [[quality]] outside the check envelope, counted as failed
    * operations. */
  def qualityFailures: Int = 0
  /** Sketch-layer inputs for the single-thread kernel replay: groups, each
    * a list of parts (the values one partial sketch sees). The sketch
    * workloads replay their first and last batch, which hold their
    * smallest and largest keys. */
  def replayInput(): Seq[Seq[Array[Long]]]
  def detail: Map[String, Any]
}

object Accuracy {
  /** HLL precision and the BASELINE.md envelope 3·1.04/√2^b around it. */
  val B: Int = ApproxDistinct.HllDefaultB
  val RelEnvelope: Double = 3 * 1.04 / math.sqrt((1 << B).toDouble)
  /** The per-estimate check. BASELINE's envelope is 3 standard errors for
    * one estimate; a sketch-build seed has 768 (384 keys, HLL and LC), and
    * with that envelope one seed in 200 (seeds 1 to 200) fails by chance
    * alone. At 6 standard errors the chance that any of them falls outside
    * is below 1e-5, while a biased estimator still fails. The 3 counts of
    * slack cover small groups, where one register collision among 64 values
    * already moves an estimate by 1/64. */
  val CheckEnvelope: Double = 2 * RelEnvelope
  val AbsSlack: Long = 3
  def within(est: Long, exact: Long): Boolean =
    math.abs(est - exact) <= CheckEnvelope * exact + AbsSlack
  /** Error statistics use groups at least this large, where the relative
    * error no longer depends on integer rounding. */
  val MinErrGroup: Long = 1000

  def relErrors(pairs: Seq[(Long, Long)]): Seq[Double] =
    pairs.collect { case (est, exact) if exact >= MinErrGroup =>
      math.abs(est - exact).toDouble / exact }

  def summary(bytesPerGroup: Double, errs: Seq[Double]): Map[String, Double] = {
    require(errs.nonEmpty, "no group large enough for the error statistics")
    Map("sketch_bytes_per_group" -> bytesPerGroup,
      "rel_err_p50" -> Stats.quantile(errs, 0.5), "rel_err_p90" -> Stats.quantile(errs, 0.9))
  }
}

/** `sketch-build`: grouped HLL and LC `approx_distinct` over seeded rows
  * cached in memory, one batch of keys per operation. */
final class SketchBuild(spark: SparkSession, val spec: BuildSpec) extends Workload {
  type Out = Array[Row]
  private var rows: DataFrame = _
  private val batchRows: Array[Long] = spec.batchKeys.map(_.map(spec.rowsOf).sum)
  private val last = new Array[Array[Row]](spec.batches)

  /** Generates every batch in one job and caches the rows in memory; each
    * partition holds its rows batch by batch, so a batch filter skips the
    * other batches' cached column blocks. */
  def prepare(): Unit = {
    import spark.implicits._
    val s = spec
    rows = spark.range(0, s.partitions, 1, s.partitions).as[Long]
      .flatMap(p => Iterator.range(0, s.batches).flatMap(b =>
        s.partitionRows(b, p.toInt).map { case (k, v) => (b, k, v) }))
      .toDF("b", "k", "v").persist(StorageLevel.MEMORY_ONLY)
    require(rows.count() == batchRows.sum, "generated row count")
  }
  /** Three cycles: the batch filter's literal makes code compiled per
    * batch, and later cycles let the JIT finish compiling the sketch paths,
    * which otherwise still speed up during the measured phase. */
  def warmUp(): Unit = (0 until 3 * spec.batches).foreach(i => execute(i, build(i)))
  def cycle: Int = spec.batches

  def build(i: Int): DataFrame =
    rows.where(col("b") === i % spec.batches).groupBy("k")
      .agg(approx_distinct(col("v")).as("h"), approx_distinct(col("v"), "lc").as("l"))
      .select(col("k"), col("h.cardinality"), length(col("h.binary")),
        col("l.cardinality"), length(col("l.binary")))
  def execute(i: Int, df: DataFrame): Array[Row] = df.collect()

  def check(i: Int, out: Array[Row]): Boolean = {
    val keys = spec.batchKeys(i % spec.batches)
    val ok = out.length == keys.length && out.forall { r =>
      val exact = spec.distinct(r.getInt(0)).toLong
      keys.contains(r.getInt(0)) &&
        Accuracy.within(r.getLong(1), exact) && Accuracy.within(r.getLong(3), exact)
    }
    if (ok) last(i % spec.batches) = out
    ok
  }
  def work(i: Int): Long = batchRows(i % spec.batches)

  def quality(): Map[String, Double] = {
    val rows = last.filter(_ != null).flatten.toSeq
    Accuracy.summary(
      rows.map(r => (r.getInt(2) + r.getInt(4)).toDouble).sum / rows.size,
      Accuracy.relErrors(rows.map(r => (r.getLong(1), spec.distinct(r.getInt(0)).toLong))))
  }

  def replayInput(): Seq[Seq[Array[Long]]] =
    (spec.batchKeys.head ++ spec.batchKeys.last).toSeq.map(spec.partValues)

  def detail: Map[String, Any] = Map(
    "keys" -> spec.keys, "rows" -> batchRows.sum,
    "distinct_range" -> Seq(spec.minDistinct, spec.maxDistinct),
    "distinct_total" -> spec.distinct.map(_.toLong).sum,
    "batches" -> spec.batches, "partitions" -> spec.partitions,
    "hll_dense_frac" -> {
      val bytes = last.filter(_ != null).flatten.map(_.getInt(2))
      bytes.count(_ == 2 + (1 << Accuracy.B)).toDouble / math.max(1, bytes.length)
    })
}

/** `sketch-rollup`: per-(day, key) sketches stored as parquet at set-up,
  * rolled up per key by every read-side entry point each operation. */
final class SketchRollup(spark: SparkSession, val spec: RollupSpec, dir: String) extends Workload {
  import SketchRollup.Expected
  type Out = Array[Row]
  private val last = new Array[Array[Row]](spec.batches)

  /** Builds each (day, key) sketch with the engine's own hash kernel and
    * default HLL, exactly the payload `approx_distinct` emits, and stores
    * them as parquet (the result struct and its binary field), one
    * directory per batch of keys. */
  def prepare(): Unit = {
    val s = spec
    val cells = for (b <- 0 until s.batches; k <- s.batchKeys(b); day <- 0 until s.days)
      yield (b, k, day)
    val built = spark.sparkContext.parallelize(cells, s.batches).map { case (b, k, day) =>
      val hash = TypedXxHash.kernel(LongType, ApproxDistinct.HashSeed)
      val sk = new Hll(ApproxDistinct.HllDefaultB)
      s.dayValues(k, day).foreach(v => sk.offerHash(hash(v)))
      val bytes = sk.serialize()
      Row(b, day, k, Row(sk.algo, sk.estimate, bytes), bytes)
    }
    spark.createDataFrame(built, SketchRollup.Schema)
      .write.mode("overwrite").partitionBy("batch").parquet(s"$dir/rollup")
  }

  /** The stored payloads per batch, then per key: (day, bytes), read back
    * once for the checks. */
  private lazy val stored: Array[Map[Int, Seq[(Int, Array[Byte])]]] = {
    val back = spark.read.parquet(s"$dir/rollup").select("batch", "day", "k", "bin").collect()
    Array.tabulate(spec.batches)(b => back.toSeq.filter(_.getInt(0) == b)
      .map(r => (r.getInt(2), (r.getInt(1), r.getAs[Array[Byte]](3))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._1) })
  }
  private lazy val expected: Array[Map[Int, Expected]] =
    stored.map(_.map { case (k, days) => k -> expect(days) })

  /** The same rollup through the kernel API: deserialize, then merge,
    * quarters first; the halves and the whole are unions of quarters. */
  private def expect(days: Seq[(Int, Array[Byte])]): Expected = {
    val quarters = (0 until 4).map { q =>
      val (d0, d1) = spec.quarter(q)
      val ds = days.filter(d => d._1 >= d0 && d._1 < d1)
      val acc = Sketch.deserialize(ds.head._2)
      ds.tail.foreach(d => acc.mergeInPlace(Sketch.deserialize(d._2)))
      acc
    }
    val est = quarters.map(_.estimate)
    quarters(0).mergeInPlace(quarters(1))
    quarters(2).mergeInPlace(quarters(3))
    val (a, b) = (quarters(0), quarters(2))
    val (ea, eb) = (a.estimate, b.estimate)
    a.mergeInPlace(b)
    Expected(a.estimate, ea, eb, est, math.max(0L, ea + eb - a.estimate), Stats.md5(a.serialize()))
  }

  /** Batches differ only in the directory read, so half a cycle warms
    * every code path. */
  def warmUp(): Unit = (0 until spec.batches / 2).foreach(i => execute(i, build(i)))
  def cycle: Int = spec.batches

  /** Per key: the whole period two ways (binary and struct input), each
    * half, each quarter, the union and the intersection of the halves. */
  def build(i: Int): DataFrame = {
    val early = col("day") < spec.half
    val quarter = (0 until 4).map { q =>
      val (d0, d1) = spec.quarter(q)
      sketch_merge_agg(when(col("day") >= d0 && col("day") < d1, col("bin"))).as(s"q$q")
    }
    spark.read.schema(SketchRollup.Stored).parquet(s"$dir/rollup/batch=${i % spec.batches}").groupBy("k")
      .agg(sketch_merge_agg(col("bin")).as("all"), approx_distinct(col("sk")).as("all_struct") +:
        sketch_merge_agg(when(early, col("bin"))).as("a") +:
        sketch_merge_agg(when(!early, col("bin"))).as("b") +: quarter: _*)
      .select(Seq(col("k"), col("all.cardinality"), col("all_struct.cardinality"),
        sketch_estimate(sketch_union(col("a"), col("b"))),
        sketch_intersection_estimate(col("a"), col("b")), md5(col("all.binary")),
        col("a.cardinality"), col("b.cardinality")) ++
        (0 until 4).map(q => col(s"q$q.cardinality")): _*)
  }
  def execute(i: Int, df: DataFrame): Array[Row] = df.collect()

  def check(i: Int, out: Array[Row]): Boolean = {
    val exp = expected(i % spec.batches)
    val ok = out.length == exp.size && out.forall { r =>
      exp.get(r.getInt(0)).exists(e => r.getLong(1) == e.all && r.getLong(2) == e.all &&
        r.getLong(3) == e.all && r.getLong(4) == e.intersection && r.getString(5) == e.md5 &&
        r.getLong(6) == e.early && r.getLong(7) == e.late &&
        (0 until 4).forall(q => r.getLong(8 + q) == e.quarters(q)))
    }
    if (ok) last(i % spec.batches) = out
    ok
  }
  def work(i: Int): Long = {
    val b = stored(i % spec.batches)
    // each stored sketch feeds four aggregates; two more merges per key
    4L * b.values.map(_.size).sum + 2L * b.size
  }

  def quality(): Map[String, Double] = {
    val payloads = stored.flatMap(_.values.flatten).map(_._2.length.toDouble)
    val rows = last.filter(_ != null).flatten.toSeq
    Accuracy.summary(payloads.sum / payloads.length, Accuracy.relErrors(rows.flatMap { r =>
      val k = r.getInt(0)
      Seq((r.getLong(1), spec.allExact(k)), (r.getLong(6), spec.unionExact(k, 0, spec.half)),
        (r.getLong(7), spec.unionExact(k, spec.half, spec.days))) ++
        (0 until 4).map { q =>
          val (d0, d1) = spec.quarter(q)
          (r.getLong(8 + q), spec.unionExact(k, d0, d1))
        }
    }))
  }

  def replayInput(): Seq[Seq[Array[Long]]] = (spec.batchKeys.head ++ spec.batchKeys.last).toSeq.map(k =>
    (0 until spec.days).map(d => spec.dayValues(k, d).toArray))

  def detail: Map[String, Any] = Map(
    "keys" -> spec.keys, "days" -> spec.days,
    "width_range" -> Seq(spec.minWidth, spec.maxWidth),
    "stored_sketches" -> stored.map(_.values.map(_.size).sum).sum,
    "stored_dense_frac" -> {
      val tags = stored.flatMap(_.values.flatten).map(_._2(0))
      tags.count(_ == Sketch.TagHll).toDouble / tags.length
    })
}

object SketchRollup {
  final case class Expected(all: Long, early: Long, late: Long, quarters: Seq[Long],
      intersection: Long, md5: String)
  /** One batch directory's schema, given to the reader as the source layer
    * does (`graft.sources.Tables`), so no operation infers it again. */
  val Stored: StructType = StructType(Seq(
    StructField("day", IntegerType), StructField("k", IntegerType),
    StructField("sk", ApproxDistinct.resultType), StructField("bin", BinaryType)))
  val Schema: StructType = StructType(StructField("batch", IntegerType) +: Stored.fields)
}

/** `query-mix`: a fixed list of declared queries, each written to the
  * `noop` sink, with the checkpoint sweep between queries as `graft.Bench`
  * does. The seed only permutes the order. Outputs are checked from the
  * untimed warm-up pass, which writes each result the way `graft.Verify`
  * renders it, with the `oracleSql` twins in `oracle_sql.json`; run.py
  * compares them with DuckDB through the repository's oracle gate. */
final class QueryMix(spark: SparkSession, seed: Long, sfDir: String, dir: String) extends Workload {
  type Out = Unit
  val names: Seq[String] = QueryMix.Prefixes.map { p =>
    SparkEntry.queries.keys.find(_.startsWith(p + "_"))
      .getOrElse(sys.error(s"query-mix: no declared query $p"))
  }
  names.foreach(n => require(SparkEntry.oracleSql.contains(n), s"query-mix: $n has no oracleSql"))
  val order: IndexedSeq[String] = new scala.util.Random(seed).shuffle(names).toIndexedSeq

  def prepare(): Unit = ()
  override def freesCheckpoints: Boolean = true
  override def onePass: Boolean = true

  /** Verify's rendering: naive timestamps and doubles for decimals. */
  private def rendered(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case TimestampType => d.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
        case _: DecimalType => d.withColumn(f.name, col(f.name).cast("double"))
        case _ => d
      }
    }

  def warmUp(): Unit = {
    val out = Paths.get(dir, "out")
    // a query that fails must not leave an earlier run's output behind
    if (Files.exists(out)) Files.walk(out).sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    order.foreach { n =>
      try rendered(SparkEntry.queries(n)(spark, sfDir)).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$n")
      catch { case e: Throwable => System.err.println(s"perfbench: $n failed: $e") }
      finally graft.plans.Checkpoints.freeAll(spark)
    }
    Files.createDirectories(out)
    Files.write(out.resolve("oracle_sql.json"),
      Json(order.map(n => n -> SparkEntry.oracleSql(n)).toMap).getBytes("UTF-8"))
  }
  def cycle: Int = order.size
  def build(i: Int): DataFrame = SparkEntry.queries(order(i % order.size))(spark, sfDir)
  override def label(i: Int): String = order(i % order.size)
  def execute(i: Int, df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  def check(i: Int, out: Unit): Boolean = true
  def work(i: Int): Long = 1L

  /** Accuracy probe on the mix's own data: HLL estimates of three lineitem
    * keys per ship year against exact counts, untimed. */
  private lazy val probe: Array[Row] = {
    val li = graft.sources.Tables.lineitem(spark, sfDir)
      .withColumn("l_line", col("l_orderkey") * 8 + col("l_linenumber"))
    li.groupBy(year(col("l_shipdate"))).agg(
        approx_distinct(col("l_orderkey")).as("a"), countDistinct(col("l_orderkey")),
        approx_distinct(col("l_partkey")).as("b"), countDistinct(col("l_partkey")),
        approx_distinct(col("l_line")).as("c"), countDistinct(col("l_line")))
      .select(col("a.cardinality"), col("count(DISTINCT l_orderkey)"), length(col("a.binary")),
        col("b.cardinality"), col("count(DISTINCT l_partkey)"), length(col("b.binary")),
        col("c.cardinality"), col("count(DISTINCT l_line)"), length(col("c.binary")))
      .collect()
  }

  /** (estimate, exact, sketch bytes) per probe group and key. */
  private def triples: Seq[(Long, Long, Int)] = probe.toSeq.flatMap(r =>
    (0 until 3).map(c => (r.getLong(3 * c), r.getLong(3 * c + 1), r.getInt(3 * c + 2))))
  override def qualityFailures: Int = triples.count { case (e, x, _) => !Accuracy.within(e, x) }

  def quality(): Map[String, Double] =
    Accuracy.summary(triples.map(_._3.toDouble).sum / triples.size,
      Accuracy.relErrors(triples.map(t => (t._1, t._2))))

  def replayInput(): Seq[Seq[Array[Long]]] = {
    val rows = graft.sources.Tables.lineitem(spark, sfDir)
      .select(year(col("l_shipdate")), col("l_orderkey"), col("l_partkey")).collect()
    rows.groupBy(_.getInt(0)).values.toSeq.flatMap { rs =>
      Seq(1, 2).map(c => rs.indices.groupBy(_ % 4).values.toSeq.map(ix => ix.map(i => rs(i).getLong(c)).toArray))
    }
  }

  def detail: Map[String, Any] = Map("sf" -> sfDir, "queries" -> order)
}

object QueryMix {
  /** The ROADMAP targets (q379 q264 q298 q66 q421 q143 q411) and the
    * queries reaching `streaming.StreamOps` (q117 q119); all have an
    * `oracleSql` twin. The list is short because each query's first, cold
    * run adds about 3 s of set-up to every run; an odd count puts the median
    * on one query (q379), not between two. */
  val Prefixes: Seq[String] = Seq(
    "q379", "q264", "q298", "q66", "q421", "q143", "q411", "q117", "q119")
}
