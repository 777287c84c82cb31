package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Complete}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are `System.nanoTime` values; listener events
  * (which carry wall-clock milliseconds) are mapped onto the same clock.
  * `op` is the operation the span belongs to, -1 for set-up. */
final case class Span(op: Int, layer: String, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Tracing for the `--trace 1` run: spans around each call the benchmark
  * makes into a layer, plus Spark listener events (jobs, stages, query
  * planning phases, plan metrics) recorded at the same boundaries. Spans
  * stay in memory and are written once, at the end of the run.
  *
  * Jobs and stages are attributed to an operation through a local property
  * the client thread sets before each call; planning phases and plan
  * metrics through the interval of the operation that contains them. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Per-operation counters, keyed by op then counter name. */
  val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  /** Operation intervals, open (end = Long.MaxValue) while running. */
  private val opWindows = mutable.LinkedHashMap.empty[Int, (Long, Long)]
  private val msToNano: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def fromMs(ms: Long): Long = ms * 1000000L + msToNano

  val OpProperty = "perfbench.op"
  val PhaseProperty = "perfbench.phase"

  def count(op: Int, name: String, v: Double): Unit = synchronized {
    val m = counters.getOrElseUpdate(op, mutable.Map.empty)
    m(name) = m.getOrElse(name, 0.0) + v
  }

  def span[T](op: Int, layer: String, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(OpProperty, op.toString)
    sc.setLocalProperty(PhaseProperty, s"$layer.$name")
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      synchronized { spans += Span(op, layer, name, t0, t1) }
      sc.setLocalProperty(OpProperty, null)
      sc.setLocalProperty(PhaseProperty, null)
    }
  }

  def opStart(op: Int, start: Long): Unit = synchronized { opWindows(op) = (start, Long.MaxValue) }
  def opEnd(op: Int, end: Long): Unit = synchronized {
    val start = opWindows(op)._1
    opWindows(op) = (start, end)
    spans += Span(op, "bench", "op", start, end)
  }

  private def opAt(t: Long): Int = synchronized {
    opWindows.collectFirst { case (op, (s, e)) if t >= s && t <= e => op }.getOrElse(-1)
  }

  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobStarts = mutable.Map.empty[Int, (Int, Long)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpProperty))).map(_.toInt).getOrElse(-1)
      val eager = props.flatMap(p => Option(p.getProperty(PhaseProperty))).contains("operators.build")
      Tracer.this.synchronized {
        e.stageIds.foreach(s => stageOp(s) = op)
        jobStarts(e.jobId) = (op, fromMs(e.time))
      }
      count(op, "spark.jobs", 1)
      if (eager) count(op, "operators.eager_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (op, t0) =>
        spans += Span(op, "spark", "job", t0, math.max(t0, fromMs(e.time)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val op = Tracer.this.synchronized(stageOp.getOrElse(info.stageId, -1))
      count(op, "spark.stages", 1)
      count(op, "spark.tasks", info.numTasks)
      val m = info.taskMetrics
      if (m != null) {
        count(op, "spark.task_run_s", m.executorRunTime / 1e3)
        count(op, "spark.gc_s", m.jvmGCTime / 1e3)
        count(op, "spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        count(op, "spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        count(op, "spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(planNodes)
  }

  /** Seconds held by a timing metric, whichever clock it counts in. */
  private def metricSeconds(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map { m =>
      if (m.metricType == "nsTiming") m.value / 1e9 else m.value / 1e3
    }.getOrElse(0.0)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (qe eq marker) markerSeen = true else recordQuery(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def recordQuery(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq
    // planning ends inside the operation that ran the query, even where
    // millisecond rounding moves its start before the operation's
    val op = opAt(if (phases.isEmpty) System.nanoTime() else fromMs(phases.map(_._2.endTimeMs).max))
    phases.foreach { case (name, ph) =>
      Tracer.this.synchronized {
        spans += Span(op, "plans", s"catalyst.$name", fromMs(ph.startTimeMs), fromMs(ph.endTimeMs))
      }
      count(op, "plans.catalyst_s", ph.durationMs / 1e3)
    }
    planNodes(qe.executedPlan).foreach {
      case s: FileSourceScanExec =>
        count(op, "sources.scan_s", metricSeconds(s, "scanTime"))
        count(op, "sources.input_bytes", s.metrics.get("filesSize").map(_.value.toDouble).getOrElse(0.0))
      case a: BaseAggregateExec =>
        val isFinal = a.aggregateExpressions.exists(e => e.mode == Final || e.mode == Complete)
        count(op, if (isFinal) "functions.final_merge_task_s" else "functions.partial_agg_task_s",
          metricSeconds(a, "aggTime"))
      case _ => ()
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  @volatile private var marker: QueryExecution = _
  @volatile private var markerSeen = false

  /** Stops recording once the listener bus has delivered every event of the
    * traced operations, or after `timeoutMs`. The bus delivers events in
    * order, so they have all arrived once the callback of a marker query,
    * run after them, has. */
  def stop(timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    val m = spark.range(1).toDF()
    marker = m.queryExecution
    m.collect()
    def pending: Boolean = synchronized(jobStarts.nonEmpty || !markerSeen)
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(20)
    if (pending) System.err.println("perfbench: trace stopped before every listener event arrived")
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Self time per layer on the client thread: each span's duration less the
    * part of it covered by spans nested inside it, summed per layer. */
  def selfSeconds(ops: Set[Int]): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    synchronized(spans.toSeq).filter(s => ops.contains(s.op)).groupBy(_.op).values.foreach { ss =>
      ss.foreach { s =>
        val inner = ss.filter(c => (c ne s) && c.start >= s.start && c.end <= s.end)
        out(s.layer) = out.getOrElse(s.layer, 0.0) + (s.dur - covered(inner)) / 1e9
      }
    }
    out.toMap
  }

  private def covered(spans: Seq[Span]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_.start).foreach { s =>
      if (s.start > curE) {
        if (curE > curS) total += curE - curS
        curS = s.start; curE = s.end
      } else curE = math.max(curE, s.end)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Writes every span as one JSON line, with the innermost span of the
    * same operation that encloses it as its parent (-1: none). */
  def write(path: java.nio.file.Path): Unit = {
    val all = synchronized(spans.toSeq).sortBy(s => (s.start, -s.end)).toIndexedSeq
    val lines = all.indices.map { i =>
      val s = all(i)
      val parent = (0 until i).filter { j =>
        all(j).op == s.op && all(j).start <= s.start && all(j).end >= s.end
      }.sortBy(j => all(j).dur).headOption.getOrElse(-1)
      s"""{"id":$i,"parent":$parent,"op":${s.op},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
