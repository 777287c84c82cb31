package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import graft.GraftFunctions

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark: builds a session on `local[cores]`, sets up one
  * workload, drives it with one closed-loop client (the next operation
  * starts when the previous one returns) for `--seconds` of measured time,
  * checks every output untimed, and writes the metrics as one JSON file for
  * run.py. With `--trace 1` it runs half a cycle untraced, then the traced
  * phase, then the rest of the cycle untraced, and writes the per-layer
  * metrics, the spans, and the tracing overhead. */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, work: String, sf: String, result: String)

  private def usage(msg: String): Nothing = throw new IllegalArgumentException(msg)

  def parse(argv: Array[String]): Conf = {
    if (argv.length % 2 != 0) usage(s"arguments must be --key value pairs: ${argv.mkString(" ")}")
    val kv = argv.grouped(2).map { a =>
      if (!a(0).startsWith("--")) usage(s"expected --key, got ${a(0)}")
      a(0).drop(2) -> a(1)
    }.toMap
    def str(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    def int(k: String) = str(k).toIntOption.getOrElse(usage(s"--$k must be an integer, got ${str(k)}"))
    val c = Conf(str("workload"), str("seed").toLongOption.getOrElse(usage("--seed must be an integer")),
      int("seconds"), int("trace") match {
        case 0 => false
        case 1 => true
        case t => usage(s"--trace must be 0 or 1, got $t")
      }, int("cores"), str("work"), str("sf"), str("result"))
    if (c.cores < 1) usage(s"--cores must be positive, got ${c.cores}")
    if (c.seconds < 1) usage(s"--seconds must be positive, got ${c.seconds}")
    c
  }

  /** End-to-end metrics (`--trace 0`) and per-layer metrics (`--trace 1`). */
  val Units: Map[String, String] = Map(
    "setup_s" -> "s", "work_per_s" -> "1/s", "op_s_p50" -> "s", "op_s_tail" -> "s",
    "sketch_bytes_per_group" -> "B",
    "rel_err_p50" -> "ratio", "rel_err_p90" -> "ratio",
    "sketch.hll_offer_ns" -> "ns", "sketch.lc_offer_ns" -> "ns", "sketch.serialize_ns" -> "ns",
    "sketch.merge_ns" -> "ns", "sketch.wire_merge_ns" -> "ns", "sketch.deserialize_ns" -> "ns",
    "sketch.wire_vs_object_merge" -> "ratio", "sketch.dense_frac" -> "ratio",
    "functions.xxhash_ns" -> "ns", "functions.partial_agg_task_s" -> "s/op",
    "functions.final_merge_task_s" -> "s/op",
    "operators.plan_build_s" -> "s/op", "operators.eager_jobs" -> "count/op",
    "plans.catalyst_s" -> "s/op", "plans.free_s" -> "s/op", "plans.blocks_freed" -> "count/op",
    "sources.input_bytes" -> "B/op", "sources.scan_s" -> "s/op",
    "graft.register_s" -> "s",
    "spark.jobs" -> "count/op", "spark.stages" -> "count/op", "spark.tasks" -> "count/op",
    "spark.task_run_s" -> "s/op", "spark.busy_frac" -> "ratio",
    "spark.shuffle_write_bytes" -> "B/op", "spark.shuffle_read_bytes" -> "B/op",
    "spark.spill_bytes" -> "B/op", "spark.gc_s" -> "s/op", "spark.peak_heap_mb" -> "MB",
    "trace.overhead_frac" -> "ratio")

  def main(argv: Array[String]): Unit = {
    val conf =
      try parse(argv)
      catch { case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
      }
    run(conf)
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // sketch-build caches its generated rows; uncompressed, they build fast
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the checkpoint sweep logs one expected WARN per freed block
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  private def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Old-generation heap in use after each collection, highest seen. */
  object Heap {
    @volatile private var peak = 0L
    private val listener: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if (pool.contains("Old Gen") || pool.contains("Tenured")) peak = math.max(peak, u.getUsed)
        }
      }
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
    def reset(): Unit = peak = 0L
    /** Peak since reset, including a collection forced now. */
    def peakMb(): Double = {
      System.gc()
      Thread.sleep(200) // notifications arrive on a JMX thread
      peak / (1024.0 * 1024.0)
    }
  }

  final class Phase(val first: Int) {
    val latencies = mutable.ArrayBuffer.empty[Double]
    var work = 0L
    var failed = 0
    var busy = 0.0
    var next: Int = first
    def attempted: Int = next - first
    /** Operations of this phase at position k of a period. */
    def executions(k: Int, period: Int): Int = (first until next).count(_ % period == k)
  }

  private def within[T](tr: Option[Tracer], op: Int, layer: String, name: String)(f: => T): T =
    tr.fold(f)(_.span(op, layer, name)(f))

  /** Closed loop: operations back to back while `more` holds. Checks are
    * untimed. */
  def loop(spark: SparkSession, w: Workload, from: Int, tr: Option[Tracer])(more: Phase => Boolean): Phase = {
    val ph = new Phase(from)
    while (more(ph)) {
      val i = ph.next
      val t0 = System.nanoTime()
      tr.foreach(_.opStart(i, t0))
      val out =
        try {
          val df: DataFrame = within(tr, i, "operators", "build")(w.build(i))
          val o = within(tr, i, "spark", "execute")(w.execute(i, df))
          if (w.freesCheckpoints) within(tr, i, "plans", "free") {
            tr.foreach(_.count(i, "plans.blocks_freed",
              spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum))
            graft.plans.Checkpoints.freeAll(spark)
          }
          Some(o)
        } catch { case e: Throwable =>
          System.err.println(s"perfbench: operation $i failed: $e")
          None
        }
      val t1 = System.nanoTime()
      tr.foreach(_.opEnd(i, t1))
      val lat = (t1 - t0) / 1e9
      System.err.println(f"perfbench: op $i%d ${w.label(i)}%s $lat%.4f s")
      ph.busy += lat
      out match {
        case Some(o) if w.check(i, o) =>
          ph.latencies += lat
          ph.work += w.work(i)
        case _ =>
          ph.latencies += lat
          ph.failed += 1
      }
      ph.next += 1
    }
    ph
  }

  def run(c: Conf): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(Paths.get(c.work))
    Heap.install()
    val spark = session(c.cores, c.work)
    val (_, registerS) = seconds(GraftFunctions.register(spark))
    val w: Workload = c.workload match {
      case "sketch-build" => new SketchBuild(spark, BuildSpec(c.seed))
      case "sketch-rollup" => new SketchRollup(spark, RollupSpec(c.seed), c.work)
      case "query-mix" => new QueryMix(spark, c.seed, c.sf, c.work)
      case other => usage(s"unknown workload $other")
    }
    val (_, prepareS) = seconds(w.prepare())
    val (_, warmUpS) = seconds(w.warmUp())
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(f"perfbench: set-up $setupS%.2f s (prepare $prepareS%.2f s, warm-up $warmUpS%.2f s)")

    val metrics = mutable.Map.empty[String, Double]
    val detail = mutable.Map[String, Any]("workload" -> c.workload, "seed" -> c.seed,
      "cores" -> c.cores, "clients" -> 1, "loop" -> "closed", "seconds" -> c.seconds,
      "prepare_s" -> prepareS, "warm_up_s" -> warmUpS)
    // a measured phase runs `budget` seconds of operations and at least
    // one cycle, or exactly one cycle (see [[Workload.onePass]])
    def measured(budget: Double)(ph: Phase): Boolean =
      if (w.onePass) ph.attempted < w.cycle else ph.busy < budget || ph.attempted < w.cycle
    def halfCycle(ph: Phase): Boolean = ph.attempted < w.cycle / 2

    val plain = loop(spark, w, 0, None)(if (c.trace) halfCycle else measured(c.seconds))
    var phases = Seq(plain)

    if (!c.trace) {
      val (tailP, tailV, beyond) = Stats.tail(plain.latencies.toSeq)
      metrics ++= Seq("setup_s" -> setupS, "work_per_s" -> plain.work / plain.busy,
        "op_s_p50" -> Stats.median(plain.latencies.toSeq), "op_s_tail" -> tailV)
      metrics ++= w.quality()
      detail ++= Seq("op_s_tail_percentile" -> tailP * 100, "op_s_tail_beyond" -> beyond,
        "ops" -> plain.attempted, "measured_s" -> plain.busy)
    } else {
      // half a cycle untraced, the traced phase, the other half untraced:
      // the untraced halves run the same operations as one traced cycle,
      // and drift from a still-warming JVM cancels out of the overhead
      val tr = new Tracer(spark)
      tr.start()
      Heap.reset()
      val traced = loop(spark, w, plain.next, Some(tr))(measured(c.seconds / 2.0))
      metrics("spark.peak_heap_mb") = Heap.peakMb()
      tr.stop()
      val plain2 = loop(spark, w, traced.next, None)(ph => ph.attempted < w.cycle - plain.attempted)
      phases = Seq(plain, traced, plain2)
      val ops = (traced.first until traced.next).toSet
      val n = ops.size.toDouble
      def perOp(name: String): Double =
        ops.toSeq.map(i => tr.counters.get(i).flatMap(_.get(name)).getOrElse(0.0)).sum / n
      def spanMean(layer: String, name: String): Double = {
        val ss = tr.spans.filter(s => ops.contains(s.op) && s.layer == layer && s.name == name)
        if (ss.isEmpty) 0.0 else ss.map(_.dur).sum / 1e9 / n
      }
      Seq("functions.partial_agg_task_s", "functions.final_merge_task_s", "operators.eager_jobs",
        "plans.catalyst_s", "plans.blocks_freed", "sources.input_bytes", "sources.scan_s",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
        "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.gc_s"
      ).foreach(m => metrics(m) = perOp(m))
      val self = tr.selfSeconds(ops)
      val taskLayers = metrics("functions.partial_agg_task_s") + metrics("functions.final_merge_task_s") +
        metrics("sources.scan_s")
      metrics ++= Seq(
        "operators.plan_build_s" -> spanMean("operators", "build"),
        "plans.free_s" -> spanMean("plans", "free"),
        "graft.register_s" -> registerS,
        "spark.busy_frac" -> metrics("spark.task_run_s") * n / (traced.busy * c.cores),
        "trace.overhead_frac" ->
          ((plain.work + plain2.work) / (plain.busy + plain2.busy) / (traced.work / traced.busy) - 1))
      val (kernels, replayS) = seconds(Replay.run(w.replayInput()))
      metrics ++= kernels
      tr.write(Paths.get(c.work, s"spans-${c.workload}-${c.seed}.jsonl"))
      // self time per layer, seconds per operation: client-thread spans for
      // operators, plans and spark; task time for functions, sources and the
      // rest of spark's task time; single-thread replay time for sketch
      detail("self_s") = Map(
        "operators" -> self.getOrElse("operators", 0.0) / n,
        "plans" -> self.getOrElse("plans", 0.0) / n,
        "spark" -> self.getOrElse("spark", 0.0) / n,
        "spark_tasks" -> math.max(0.0, metrics("spark.task_run_s") - taskLayers),
        "functions" -> (metrics("functions.partial_agg_task_s") + metrics("functions.final_merge_task_s")),
        "sources" -> metrics("sources.scan_s"),
        "sketch_replay" -> replayS)
      detail ++= Seq("spans" -> tr.spans.size, "ops_untraced" -> (plain.attempted + plain2.attempted),
        "ops_traced" -> traced.attempted)
    }
    detail ++= w.detail
    val missing = metrics.keys.filterNot(Units.contains)
    require(missing.isEmpty, s"metrics without a unit: $missing")

    // executions per query-mix query, so run.py can fail every execution of
    // a query whose checked output is wrong
    val queryExecutions = w match {
      case q: QueryMix =>
        q.order.indices.map(k => q.order(k) -> phases.map(_.executions(k, q.order.size)).sum).toMap
      case _ => Map.empty[String, Int]
    }
    val result = Map(
      "attempted" -> phases.map(_.attempted).sum,
      "failed" -> (phases.map(_.failed).sum + (if (c.trace) 0 else w.qualityFailures)),
      "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> Units(k)) },
      "detail" -> detail,
      "query_out" -> s"${c.work}/out",
      "query_executions" -> queryExecutions)
    Files.write(Paths.get(c.result), Json(result).getBytes("UTF-8"))
    spark.stop()
  }
}
