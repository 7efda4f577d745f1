package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Wall clock in epoch milliseconds with sub-millisecond resolution, the
  * time base shared by benchmark spans and Spark listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `op` groups the spans of one operation (a request,
  * an export pass, a gate run); `parent` is the enclosing span's id, 0 at
  * the top. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder; spans are written out when the run ends. */
final class Spans {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  def apply[T](name: String, op: Long, parent: Long = 0L)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = Clock.nowMs
    try body(id) finally buf.add(Span(id, parent, op, name, t0, Clock.nowMs))
  }
  def add(s: Span): Unit = buf.add(s.copy(id = ids.incrementAndGet()))
  def all: Seq[Span] = buf.asScala.toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)
}

/** Task metrics summed over one Spark job. */
final class JobStats(val jobId: Int, val startMs: Double) {
  var endMs: Double = startMs
  var stages = 0
  var tasks = 0L
  var failedTasks = 0L
  var schedDelayMs = 0.0
  var runMs = 0.0
  var cpuMs = 0.0
  var deserMs = 0.0
  var gcMs = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0.0
  var spill = 0L
  var peakExecMem = 0L
  var inputBytes = 0L
  var inputRows = 0L
}

/** One finished SQL execution: its window, the Catalyst phases its
  * `QueryExecution` tracked (name → start, end) and its executed scans. */
final case class QueryStats(startMs: Double, endMs: Double,
    phases: Map[String, (Double, Double)], scans: Int) {
  def phaseMs(name: String): Double = phases.get(name).map(p => p._2 - p._1).getOrElse(0.0)
}

/** One streaming micro-batch progress report. */
final case class BatchStats(addBatchMs: Double, planningMs: Double,
    latestOffsetMs: Double, walCommitMs: Double)

/** Benchmark-side listener on Spark's listener bus, registered from
  * outside the engine. It sees jobs, stages and tasks; SQL executions, with
  * their `QueryExecution` (Catalyst phases, executed plan); and streaming
  * progress — from every session, including the isolated sessions the
  * engine's streaming gates run in. */
final class Probe(spark: SparkSession) {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val sqlStarts = mutable.Map.empty[Long, Double]
  private val queries = mutable.ArrayBuffer.empty[QueryStats]
  private val batches = mutable.ArrayBuffer.empty[BatchStats]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      val j = new JobStats(e.jobId, e.time.toDouble)
      j.stages = e.stageIds.size
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId)) {
        j.tasks += 1
        if (e.reason != Success) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          val info = e.taskInfo
          val gettingResult =
            if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
          j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
          j.runMs += m.executorRunTime
          j.cpuMs += m.executorCpuTime / 1e6
          j.deserMs += m.executorDeserializeTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
          j.inputBytes += m.inputMetrics.bytesRead
          j.inputRows += m.inputMetrics.recordsRead
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Probe.this.synchronized(sqlStarts(s.executionId) = s.time.toDouble)
      case end: SparkListenerSQLExecutionEnd =>
        val qe = Internals.queryExecution(end)
        val phases = qe.map(_.tracker.phases.map { case (k, p) =>
          k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }).getOrElse(Map.empty)
        val scans = qe.map(q => Probe.executedScans(q.executedPlan)).getOrElse(0)
        Probe.this.synchronized {
          val start = sqlStarts.remove(end.executionId).getOrElse(end.time.toDouble)
          queries += QueryStats(start, end.time.toDouble, phases, scans)
        }
      case p: QueryProgressEvent =>
        val d = p.progress.durationMs.asScala
        def ms(k: String) = d.get(k).map(_.doubleValue).getOrElse(0.0)
        val b = BatchStats(ms("addBatch"), ms("queryPlanning"), ms("latestOffset"),
          ms("walCommit"))
        Probe.this.synchronized(batches += b)
      case _ => ()
    }
  }

  def start(): Unit = spark.sparkContext.addSparkListener(listener)

  /** Waits for every event posted so far, then detaches the listener. */
  def stop(): Unit = {
    Internals.drainBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  // Spark stamps events in whole milliseconds, rounded down: an event in
  // a window may carry a time up to 1 ms before the window's start.
  private def within(t: Double, fromMs: Double, toMs: Double) =
    t >= fromMs - 1 && t <= toMs

  /** Jobs that started in [fromMs, toMs]. */
  def jobsIn(fromMs: Double, toMs: Double): Seq[JobStats] = synchronized {
    jobs.values.filter(j => within(j.startMs, fromMs, toMs)).toSeq
  }
  def queriesIn(fromMs: Double, toMs: Double): Seq[QueryStats] = synchronized {
    queries.filter(q => within(q.startMs, fromMs, toMs)).toSeq
  }
  def allBatches: Seq[BatchStats] = synchronized(batches.toSeq)

  /** Spans for the jobs that started inside `parent`, parented to it. */
  def jobSpans(parent: Span): Seq[Span] =
    jobsIn(parent.startMs, parent.endMs).map(j =>
      Span(0L, parent.id, parent.op, s"spark.job.${j.jobId}", j.startMs, j.endMs))
}

object Probe {

  /** Reuse-aware executed-scan count: file scans in the AQE-final plan,
    * stopping at `ReusedExchangeExec` (an exchange whose output another
    * branch already produced reads nothing). */
  def executedScans(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => executedScans(a.executedPlan)
    case q: QueryStageExec => executedScans(q.plan)
    case _: ReusedExchangeExec => 0
    case _: FileSourceScanExec => 1
    case other =>
      other.children.map(executedScans).sum + other.subqueries.map(executedScans).sum
  }

  /** Per-layer sums over a window's jobs and queries. */
  def layerSums(jobs: Seq[JobStats], queries: Seq[QueryStats]): Map[String, Double] = Map(
    "spark.jobs" -> jobs.size.toDouble,
    "spark.stages" -> jobs.map(_.stages).sum.toDouble,
    "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
    "spark.failed_tasks" -> jobs.map(_.failedTasks).sum.toDouble,
    "spark.job_ms" -> jobs.map(j => j.endMs - j.startMs).sum,
    "spark.sched_delay_ms" -> jobs.map(_.schedDelayMs).sum,
    "spark.executor_run_ms" -> jobs.map(_.runMs).sum,
    "spark.executor_cpu_ms" -> jobs.map(_.cpuMs).sum,
    "spark.deser_ms" -> jobs.map(_.deserMs).sum,
    "spark.task_gc_ms" -> jobs.map(_.gcMs).sum,
    "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum.toDouble,
    "spark.shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum.toDouble,
    "spark.shuffle_fetch_wait_ms" -> jobs.map(_.fetchWaitMs).sum,
    "spark.spill_bytes" -> jobs.map(_.spill).sum.toDouble,
    "spark.peak_exec_mem_bytes" -> jobs.map(_.peakExecMem).maxOption.getOrElse(0L).toDouble,
    "sources.input_bytes" -> jobs.map(_.inputBytes).sum.toDouble,
    "sources.input_rows" -> jobs.map(_.inputRows).sum.toDouble,
    "catalyst.queries" -> queries.size.toDouble,
    "catalyst.analysis_ms" -> queries.map(_.phaseMs("analysis")).sum,
    "catalyst.optimization_ms" -> queries.map(_.phaseMs("optimization")).sum,
    "catalyst.planning_ms" -> queries.map(_.phaseMs("planning")).sum,
    "sources.executed_scans" -> queries.map(_.scans).sum.toDouble)

  /** Length of the union of intervals, clipped to [fromMs, toMs]. */
  def covered(intervals: Seq[(Double, Double)], fromMs: Double, toMs: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0.0)
  }
}

/** Process-wide counters read before and after a window: Janino codegen
  * (`CodegenMetrics`) and JVM CPU, GC and heap. */
final class JvmCounters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def compile = CodegenMetrics.METRIC_COMPILATION_TIME
  private def classes = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE

  private var cpu0, gc0, compiles0, classes0 = 0L
  @volatile private var heapMax = 0L

  def start(): Unit = {
    cpu0 = os.getProcessCpuTime
    gc0 = gcs.map(_.getCollectionTime).sum
    compiles0 = compile.getCount
    classes0 = classes.getCount
    heapMax = 0L
  }

  /** Samples heap use; call after each operation. */
  def sample(): Unit = {
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > heapMax) heapMax = used
  }

  def read(): Map[String, Double] = {
    sample()
    val compiles = compile.getCount - compiles0
    Map(
      "jvm.process_cpu_ms" -> (os.getProcessCpuTime - cpu0) / 1e6,
      "jvm.gc_ms" -> (gcs.map(_.getCollectionTime).sum - gc0).toDouble,
      "jvm.heap_used_max_mb" -> heapMax / 1048576.0,
      // the histogram keeps a sample of compile times: mean × new count
      "codegen.compile_ms" -> compile.getSnapshot.getMean * compiles,
      "codegen.compiles" -> compiles.toDouble,
      "codegen.classes" -> (classes.getCount - classes0).toDouble)
  }
}
