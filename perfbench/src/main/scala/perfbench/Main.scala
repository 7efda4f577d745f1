package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The engine's session, from the engine's own factory, with every file it
  * writes kept under `work`. */
object Session {
  def start(work: File): SparkSession = {
    val cpus = GraftSession.defaultCpus
    val s = GraftSession.builder(master = s"local[$cpus]", appName = "perfbench",
        shufflePartitions = cpus)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Human-readable lines printed before the result line. */
object Info {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")

  def emit(tag: String, m: Map[String, Double]): Unit = println(s"# $tag ${json(m)}")
}

/** Runs one workload once and prints the result object as the last line
  * of standard output.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --data <dir>`; `perfbench/run.py` builds the classpath and
  * passes these. */
object Main {
  val Workloads: Map[String, Ctx => Report] = Map(
    "ates_serve" -> Serve.run,
    "ates_export" -> Export.run,
    "gates_mix" -> Gates.run)

  /** End-to-end metrics, reported with tracing off: name, unit, value. */
  def endToEnd(r: Report): Seq[(String, String, Double)] = Seq(
    ("setup_s", "s", r.setupS),
    ("throughput_per_s", "1/s", r.throughputPerS),
    ("latency_p50_ms", "ms", r.p50Ms),
    ("geomean_ms", "ms", r.geomeanMs))

  /** Heap still in use after a full collection: what the engine keeps
    * between operations (cached and checkpointed blocks, memoised plans,
    * code-generation caches). */
  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val workload = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val traced = opt("trace") == "1"
    val work = new File(opt("work"))
    val spark = Session.start(work)
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, traced, work,
      new File(opt("data")), GraftSession.defaultCpus, sessionS)
    val (r, workloadS) = Stats.timedS(workload(ctx))
    val rss = Box.peakRssMb()
    val retainedMb = Main.retainedHeapMb()
    val (_, stopS) = Stats.timedS(spark.stop())

    val metrics =
      if (!traced) endToEnd(r)
      else {
        val jvm = Map("jvm.peak_rss_mb" -> rss, "jvm.retained_heap_mb" -> retainedMb)
        Layers.Generic.map(k => (k, Units.of(k), (r.layers ++ jvm)(k)))
      }
    Info.emit("run", Map("ops" -> r.samples.toDouble, "p90_ms" -> r.p90Ms,
      "error_rate" -> r.failed.toDouble / r.attempted, "session_s" -> sessionS,
      "workload_s" -> workloadS, "stop_s" -> stopS, "peak_rss_mb" -> rss,
      "retained_heap_mb" -> retainedMb))
    if (traced) {
      Info.emit("trace-detail", r.detail)
      writeSpans(new File(work, s"spans-$name-${ctx.seed}.jsonl"), r.spans)
    }
    val body = metrics.map { case (k, u, v) =>
      s""""$k": {"value": ${Info.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": {$body}}""")
  }

  private def writeSpans(f: File, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(_.startMs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ms":${Info.num(s.startMs)},"end_ms":${Info.num(s.endMs)}}""")
    Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Units of the per-layer metrics, by name. */
object Units {
  def of(k: String): String =
    if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_bytes") || k.endsWith("_bytes_max") || k.endsWith("_after_pass") ||
      k == "sources.input_bytes") "bytes"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_pct")) "%"
    else if (k.endsWith("_share") || k == "error_rate" || k.endsWith("_per_row_out")) "ratio"
    else "count"
}
