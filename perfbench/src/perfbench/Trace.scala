package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** A timed interval. `op` is the operation (request or batch job) it
  * belongs to; `parent` is the span that caused it (0 for a root). */
case class Span(id: Long, parent: Long, op: String, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder plus the engine-side listeners of a traced
  * run. Every span is taken from outside the program: around the public
  * calls the benchmark makes, and from Spark's public listener events.
  * Spark jobs are tied to an operation by the job group the caller sets
  * on its own thread before calling into the engine. */
class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  // epoch-ms event times are mapped onto the nanoTime axis of the spans
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def nsOfEpochMs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  def newId(): Long = ids.incrementAndGet()

  def span[T](name: String, op: String, parent: Long, id: Long = newId())(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
  }

  /** Run `body` with Spark jobs of this thread tagged as operation `op`. */
  def inGroup[T](op: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(op, op, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  // ------------------------------------------------------------ Spark side
  class JobAgg(val group: String, val startMs: Long) {
    @volatile var endMs: Long = startMs
    val stages = new AtomicLong(0)
    val tasks = new AtomicLong(0)
    val runMs = new AtomicLong(0)
    val cpuNs = new AtomicLong(0)
    val waitMs = new AtomicLong(0)
    val shuffleWriteBytes = new AtomicLong(0)
  }
  val jobs = new ConcurrentHashMap[Int, JobAgg]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val execPlan = new ConcurrentHashMap[Long, Double]() // execution id -> plan ms
  // QueryExecutionListener callbacks carry no execution id. Spark delivers
  // each to the listeners of the shared queue, on one thread, right
  // before the SQLExecutionEnd event that triggered it: pair them there.
  @volatile private var pendingPlanMs: Option[Double] = None

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.foreach { g =>
        jobs.put(e.jobId, new JobAgg(g, e.time))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          j.runMs.addAndGet(m.executorRunTime)
          j.cpuNs.addAndGet(m.executorCpuTime)
          j.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          // the scheduler delay of Spark's UI: task wall time not spent
          // deserializing, running, serializing or fetching the result
          val info = e.taskInfo
          j.waitMs.addAndGet(math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)))
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
      case s: SparkListenerSQLExecutionEnd =>
        pendingPlanMs.foreach(ms => execPlan.put(s.executionId, ms))
        pendingPlanMs = None
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      pendingPlanMs = Some(Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0

  def detach(): Unit = {
    // listener events are delivered asynchronously: let the bus drain
    var last = -1L; var n = 0
    while (n < 50 && last != jobs.size + execPlan.size) {
      last = jobs.size + execPlan.size; Thread.sleep(100); n += 1
    }
    Thread.sleep(200)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Recorded spans plus one span per tagged Spark job, each job parented
    * to the innermost span of its operation that contains its start. */
  def allSpans: Seq[Span] = {
    val own = spans.asScala.toSeq
    val byOp = own.groupBy(_.op)
    val jobSpans = jobs.asScala.toSeq.sortBy(_._1).map { case (jobId, j) =>
      val s = nsOfEpochMs(j.startMs); val e = math.max(s, nsOfEpochMs(j.endMs))
      val parent = byOp.getOrElse(j.group, Nil).filter(p => p.startNs <= s && s <= p.endNs)
        .sortBy(p => p.endNs - p.startNs).headOption.map(_.id).getOrElse(0L)
      Span(-jobId - 1L, parent, j.group, s"spark.job.$jobId", s, e)
    }
    own ++ jobSpans
  }

  /** Planning time (analysis + optimization + planning) per operation. */
  def planMsByOp: Map[String, Double] =
    execPlan.asScala.toSeq.flatMap { case (exec, ms) =>
      Option(execGroup.get(exec)).map(_ -> ms)
    }.groupMapReduce(_._1)(_._2)(_ + _)

  def jobsByOp: Map[String, Seq[JobAgg]] = jobs.asScala.values.toSeq.groupBy(_.group)

  /** Write the spans as JSON lines, times in ms from the first span. */
  def write(path: java.nio.file.Path): Unit = {
    val all = allSpans.sortBy(_.startNs)
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.map { s =>
      f"""{"id": ${s.id}, "parent": ${s.parent}, "op": "${s.op}", "name": "${s.name}", "start_ms": ${(s.startNs - t0) / 1e6}%.3f, "end_ms": ${(s.endNs - t0) / 1e6}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  /** Length of the union of `intervals` clipped to [lo, hi], in ns. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    for ((s, e) <- clipped) {
      if (curE < 0 || s > curE) { if (curE >= 0) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total
  }

  /** A span's duration minus the part its children cover, in ms. */
  def selfMs(s: Span, children: Seq[Span]): Double =
    (s.endNs - s.startNs - covered(s.startNs, s.endNs, children.map(c => (c.startNs, c.endNs)))) / 1e6
}

/** The per-layer metrics of a traced run. */
object PerLayer {

  /** Every per-layer metric with its unit, as listed in BENCHMARK.json. */
  val All: Seq[(String, String)] = Seq(
    "api.parse_ms" -> "ms", "api.parse_self_ms" -> "ms",
    "api.analyze_ms" -> "ms", "api.analyze_self_ms" -> "ms",
    "api.assemble_ms" -> "ms", "api.assemble_self_ms" -> "ms",
    "api.close_ms" -> "ms", "api.request_kb" -> "KiB", "api.response_kb" -> "KiB",
    "spark.jobs_per_req" -> "count", "spark.stages_per_req" -> "count",
    "spark.tasks_per_req" -> "count", "spark.driver_self_ms_per_req" -> "ms",
    "spark.plan_ms_per_req" -> "ms", "spark.codegen_compiles_per_req" -> "count",
    "spark.task_run_ms_per_req" -> "ms", "spark.task_cpu_ms_per_req" -> "ms",
    "spark.task_wait_ms_per_req" -> "ms", "spark.shuffle_write_kb_per_req" -> "KiB",
    "forecast.fit_us" -> "us", "forecast.predict_us" -> "us",
    "forecast.forecast_ms" -> "ms", "forecast.series_fitted" -> "count",
    "ts.group_by_time_ms" -> "ms", "ts.rows_in" -> "count", "ts.rows_out" -> "count",
    "stats.acf_pacf_ms" -> "ms",
    "queries.cached_frames_after" -> "count", "spark.persisted_rdds_after" -> "count",
    "jvm.gc_ms" -> "ms", "trace.overhead_ms" -> "ms")

  /** All metrics in order; a layer the workload does not exercise reads 0. */
  def metrics(values: Map[String, Double]): Seq[(String, Metric)] = {
    require(values.keySet.subsetOf(All.map(_._1).toSet), values.keySet -- All.map(_._1))
    All.map { case (name, unit) => name -> Metric(values.getOrElse(name, 0.0), unit) }
  }

  /** Median over the traced operations of the named child span of each
    * root, in ms: its whole duration, or its self time. */
  def childMs(spans: Seq[Span], roots: Seq[Span], name: String, self: Boolean = false): Double = {
    val kids = spans.groupBy(_.parent)
    Stats.median(roots.map { r =>
      kids.getOrElse(r.id, Nil).find(_.name == name).map { s =>
        if (self) Trace.selfMs(s, kids.getOrElse(s.id, Nil)) else s.ms
      }.getOrElse(0.0)
    })
  }

  /** Engine work per traced operation (means over `roots`), plus the
    * shared counters of the phase (codegen, GC) over all `opsInPhase`
    * operations, traced or not, and the leak probe. */
  def engine(t: Tracer, roots: Seq[Span], opsInPhase: Int, gcMs: Long,
             probe: (Double, Int, Int)): Map[String, Double] = {
    val spans = t.allSpans
    val jobSpans = spans.filter(_.id < 0).groupBy(_.op)
    val jobs = t.jobsByOp
    val plan = t.planMsByOp
    val n = math.max(1, roots.size).toDouble
    def perOp(f: Span => Double): Double = roots.map(f).sum / n
    def perJob(f: Tracer#JobAgg => Double): Double = perOp(r => jobs.getOrElse(r.op, Nil).map(f).sum)
    Map(
      "spark.jobs_per_req" -> perJob(_ => 1.0),
      "spark.stages_per_req" -> perJob(_.stages.get.toDouble),
      "spark.tasks_per_req" -> perJob(_.tasks.get.toDouble),
      "spark.driver_self_ms_per_req" -> perOp(r => (r.endNs - r.startNs -
        Trace.covered(r.startNs, r.endNs, jobSpans.getOrElse(r.op, Nil).map(j => (j.startNs, j.endNs)))) / 1e6),
      "spark.plan_ms_per_req" -> perOp(r => plan.getOrElse(r.op, 0.0)),
      "spark.codegen_compiles_per_req" -> t.codegenCompiles.toDouble / math.max(1, opsInPhase),
      "spark.task_run_ms_per_req" -> perJob(_.runMs.get.toDouble),
      "spark.task_cpu_ms_per_req" -> perJob(_.cpuNs.get / 1e6),
      "spark.task_wait_ms_per_req" -> perJob(_.waitMs.get.toDouble),
      "spark.shuffle_write_kb_per_req" -> perJob(_.shuffleWriteBytes.get / 1024.0),
      "jvm.gc_ms" -> gcMs.toDouble / math.max(1, opsInPhase),
      "queries.cached_frames_after" -> probe._2.toDouble,
      "spark.persisted_rdds_after" -> probe._3.toDouble)
  }

  /** Whether the k-th operation of a traced run is traced. Operations
    * alternate, and the alternation flips every `period` operations
    * (period 2: untraced, traced, traced, untraced, …; for a pool, each
    * entry is sent once each way per two rounds), so both sides see the
    * same mix and the same warm-up trend. */
  def tracedAt(k: Int, period: Int): Boolean = (k + k / period) % 2 == 1
}
