package perfbench

import org.apache.spark.sql.SparkSession

/** Turns a traced window into per-layer metrics, each normalised per
  * operation (a request, an export pass or a gate run). */
object Layers {

  /** The per-layer metrics every workload reports, in output order. */
  val Generic: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.job_ms", "spark.sched_delay_ms", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.deser_ms",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.peak_exec_mem_bytes",
    "catalyst.queries", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "codegen.classes",
    "sources.executed_scans", "sources.input_bytes", "sources.input_rows",
    "sources.rows_read_per_row_out",
    "storage.blocks_held_bytes_max", "storage.blocks_held_after_pass",
    "stream.batches",
    "self.spark_jobs_ms", "self.catalyst_ms", "self.sql_exec_ms", "self.driver_ms",
    "trace.op_ms", "trace.overhead_pct",
    "jvm.process_cpu_ms", "jvm.gc_ms", "jvm.heap_used_max_mb", "jvm.peak_rss_mb",
    "jvm.retained_heap_mb",
    "box.foreign_cpu_share", "loadgen.clients", "loadgen.ops", "error_rate")

  /** Bytes held by cached and checkpointed blocks right now. */
  def storageBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble

  /** Per-op averages of the listener sums over each op's time window, with
    * the op's wall time split into self times, each interval counted once
    * in this order: running Spark jobs; Catalyst phases; the rest of SQL
    * executions (adaptive re-planning, job submission, result handling);
    * and the remainder, driver code outside any SQL execution. */
  def perOp(probe: Probe, ops: Seq[Span]): Map[String, Double] = {
    val per = ops.map { o =>
      val jobs = probe.jobsIn(o.startMs, o.endMs)
      val queries = probe.queriesIn(o.startMs, o.endMs)
      val m = Probe.layerSums(jobs, queries)
      val j = jobs.map(x => (x.startMs, x.endMs))
      val c = queries.flatMap(_.phases.values)
      val s = queries.map(q => (q.startMs, q.endMs))
      def cov(xs: Seq[(Double, Double)]) = Probe.covered(xs, o.startMs, o.endMs)
      val (jMs, jcMs, jcsMs) = (cov(j), cov(j ++ c), cov(j ++ c ++ s))
      m ++ Map(
        "self.spark_jobs_ms" -> jMs,
        "self.catalyst_ms" -> (jcMs - jMs),
        "self.sql_exec_ms" -> (jcsMs - jcMs),
        "self.driver_ms" -> (o.ms - jcsMs),
        "trace.op_ms" -> o.ms)
    }
    per.head.keys.map(k => k -> Stats.mean(per.map(_(k)))).toMap
  }

  /** Everything a traced window adds beyond [[perOp]]. `j` is the
    * [[JvmCounters]] reading over the traced ops; `rowsOut` is their total
    * output units (placemarks, features, gate rows). */
  def finish(perOpSums: Map[String, Double], probe: Probe, j: Map[String, Double], box: Box,
      ops: Int, rowsOut: Double, untracedMs: Double, tracedMs: Double,
      storageMax: Double, storageAfter: Double, clients: Int, attempted: Double,
      failed: Double): (Map[String, Double], Map[String, Double]) = {
    val batches = probe.allBatches
    val layers = perOpSums ++ Map(
      "sources.rows_read_per_row_out" -> perOpSums("sources.input_rows") * ops / rowsOut,
      "codegen.classes" -> j("codegen.classes") / ops,
      "storage.blocks_held_bytes_max" -> storageMax,
      "storage.blocks_held_after_pass" -> storageAfter,
      "stream.batches" -> batches.size.toDouble / ops,
      "trace.overhead_pct" -> 100 * (tracedMs - untracedMs) / untracedMs,
      "jvm.process_cpu_ms" -> j("jvm.process_cpu_ms") / ops,
      "jvm.gc_ms" -> j("jvm.gc_ms") / ops,
      "jvm.heap_used_max_mb" -> j("jvm.heap_used_max_mb"),
      "box.foreign_cpu_share" -> box.foreignCpuShare(),
      "loadgen.clients" -> clients.toDouble,
      "loadgen.ops" -> ops.toDouble,
      "error_rate" -> failed / attempted)
    val detail = Map(
      "spark.task_gc_ms" -> perOpSums("spark.task_gc_ms"),
      "spark.shuffle_fetch_wait_ms" -> perOpSums("spark.shuffle_fetch_wait_ms"),
      "codegen.compile_ms" -> j("codegen.compile_ms") / ops,
      "codegen.compiles" -> j("codegen.compiles") / ops,
      "trace.untraced_op_ms" -> untracedMs,
      "trace.traced_op_ms" -> tracedMs) ++ box.summary
    (layers, detail)
  }
}
