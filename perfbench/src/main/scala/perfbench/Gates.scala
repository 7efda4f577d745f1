package perfbench

import java.io.File
import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

import graft.SparkEntry
import graft.sources.Tables

/** `gates_mix`: engine gates from `SparkEntry.queries` over the fixed
  * tables in `data/sf0.01`, one caller, every gate once per pass in a
  * seeded order. The set mixes a shuffle-heavy join (q_tpch_q5), a
  * driver-bound iterative gate over a memoised shared rollup (q_pagerank),
  * an executor-bound text kernel (q_ngram_novelty) and a streaming gate
  * (q_stream_session) beside the sub-second q1_agg.
  *
  * Each result is checked by row count and an order-insensitive digest
  * against `data/gates_expected.tsv`, recorded with [[RecordGates]] from the
  * engine as it was when the benchmark was added.
  */
object Gates {
  val Names: Seq[String] = Seq("q1_agg", "q_tpch_q5", "q_pagerank",
    "q_ngram_novelty", "q_stream_session")

  val WarmPasses = 2

  /** Tables the gates read. */
  val TablesRead: Seq[String] = Seq("lineitem", "orders", "customer", "supplier",
    "nation", "region", "documents", "events")

  private val Precision = new MathContext(6)

  /** Canonical text of a value: doubles to 6 significant digits, so a
    * last-bit difference in a floating-point sum does not change it. */
  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case f: Float if f.isNaN || f.isInfinite => f.toString
    case d: Double => new JBigDecimal(d).round(Precision).stripTrailingZeros.toPlainString
    case f: Float => new JBigDecimal(f.toDouble).round(Precision).stripTrailingZeros.toPlainString
    case d: JBigDecimal => d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => canon(k) + ":" + canon(x) }
      .toSeq.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case other => other.toString
  }

  /** Order-insensitive 64-bit digest: the sum of the rows' hashes. */
  def digest(rows: Array[Row]): String = {
    val sum = rows.iterator.map { r =>
      val s = canon(r)
      (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
    }.sum
    f"$sum%016x"
  }

  def expected(data: File): Map[String, (Long, String)] =
    Files.readAllLines(new File(data, "gates_expected.tsv").toPath, StandardCharsets.UTF_8)
      .asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(name, rows, dig) = l.split("\t")
        name -> (rows.toLong, dig)
      }.toMap

  final case class GateRun(name: String, ms: Double, rows: Long, ok: Boolean)

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    val dir = new File(ctx.data, "sf0.01").getPath
    val want = expected(ctx.data)
    val (_, prepareS) = Setup.repeated { _ =>
      TablesRead.foreach(t => Tables.load(spark, dir, t).count())
    }
    var pass = 0
    var op = 0L
    def order(): Seq[String] = {
      pass += 1
      new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(Names)
    }

    /** Runs one gate, timing the call and the collect; checks the rows
      * outside the timing. */
    def gate(name: String, spans: Option[Spans]): GateRun = {
      val fn = SparkEntry.queries(name)
      op += 1
      val t0 = Clock.nowMs
      val rows = spans match {
        case Some(s) => s(s"gate.$name", op)(_ => fn(spark, dir).collect())
        case None => fn(spark, dir).collect()
      }
      val ms = Clock.nowMs - t0
      val got = (rows.length.toLong, digest(rows))
      val ok = want.get(name).contains(got)
      if (!ok) System.err.println(
        s"[perfbench] $name: rows/digest $got, expected ${want.get(name)}")
      GateRun(name, ms, rows.length.toLong, ok)
    }
    def runPass(spans: Option[Spans]): Seq[GateRun] = order().map(gate(_, spans))

    val box = new Box
    // warm-up belongs to setup: the first pass pays for code generation,
    // the second lets the JIT settle before anything is timed
    val (warm, warmS) = Stats.timedS(Vector.fill(WarmPasses)(runPass(None)))
    box.start()
    // traced runs time untraced passes before and after the traced ones:
    // the difference is the tracing overhead
    val untracedMs = ctx.seconds * 1000 / (if (ctx.traced) 4 else 1)
    val before = Stats.until(Clock.nowMs + untracedMs)(runPass(None))

    val traced = if (!ctx.traced) None else {
      val probe = new Probe(spark)
      val jvm = new JvmCounters
      val spans = new Spans
      probe.start(); jvm.start()
      var storageMax = 0.0
      val passes = Stats.until(Clock.nowMs + 2 * untracedMs)(order().map { g =>
        val r = gate(g, Some(spans))
        jvm.sample()
        storageMax = math.max(storageMax, Layers.storageBytes(spark))
        r
      })
      probe.stop()
      Some((probe, jvm.read(), spans, storageMax, passes))
    }
    val plain = if (ctx.traced) before ++ Stats.until(Clock.nowMs + untracedMs)(runPass(None))
      else before

    val measured = traced.map(_._5).getOrElse(plain)
    val runs = warm ++ plain ++ traced.map(_._5).getOrElse(Nil)
    val failed = runs.flatten.count(!_.ok)
    val passMs = measured.map(_.map(_.ms).sum)
    val perGate = Names.map(g => g -> Stats.median(measured.flatten.filter(_.name == g).map(_.ms)))
    // the median pass: every gate at its median time, so one slow gate run
    // does not make its pass the outlier
    val medianPassMs = perGate.map(_._2).sum
    val base = Report(
      attempted = runs.flatten.size,
      failed = failed,
      setupS = ctx.sessionS + prepareS + warmS,
      throughputPerS = Names.size / (medianPassMs / 1000),
      p50Ms = medianPassMs,
      p90Ms = Stats.percentile(passMs, 0.9),
      geomeanMs = Stats.geomean(perGate.map(_._2)),
      samples = passMs.size)
    traced match {
      case None =>
        Info.emit("gates_mix", Map("passes" -> passMs.size.toDouble, "prepare_s" -> prepareS,
          "warm_s" -> warmS) ++ perGate.map { case (g, ms) => s"gates.${g}_ms" -> ms } ++
          passMs.zipWithIndex.map { case (ms, i) => s"pass${i + 1}_ms" -> ms } ++ box.summary)
        base
      case Some((probe, jvm, spans, storageMax, passes)) =>
        val gateSpans = spans.all.filter(_.name.startsWith("gate."))
        gateSpans.foreach(g => probe.jobSpans(g).foreach(spans.add))
        val n = gateSpans.size
        val perGateLayers = Names.flatMap { g =>
          val mine = gateSpans.filter(_.name == s"gate.$g")
          val l = Layers.perOp(probe, mine)
          Seq(s"gates.${g}_ms" -> l("trace.op_ms"), s"gates.${g}_scans" -> l("sources.executed_scans"),
            s"gates.${g}_jobs" -> l("spark.jobs"), s"gates.${g}_cpu_ms" -> l("spark.executor_cpu_ms"))
        }
        val batches = probe.allBatches
        val streamRuns = gateSpans.count(_.name.startsWith("gate.q_stream")).toDouble
        val rowsOut = passes.flatten.map(_.rows).sum.toDouble
        val (layers, detail) = Layers.finish(Layers.perOp(probe, gateSpans), probe, jvm, box,
          ops = n, rowsOut = rowsOut, untracedMs = Stats.median(plain.map(_.map(_.ms).sum)),
          tracedMs = Stats.median(passMs), storageMax = storageMax,
          storageAfter = Layers.storageBytes(spark), clients = 1,
          attempted = runs.flatten.size, failed = failed)
        base.copy(layers = layers, spans = spans.all, detail = detail ++ perGateLayers ++ Map(
          "stream.batches_per_gate" -> batches.size / streamRuns,
          "stream.add_batch_ms" -> batches.map(_.addBatchMs).sum / streamRuns,
          "stream.query_planning_ms" -> batches.map(_.planningMs).sum / streamRuns,
          "stream.latest_offset_ms" -> batches.map(_.latestOffsetMs).sum / streamRuns,
          "stream.wal_commit_ms" -> batches.map(_.walCommitMs).sum / streamRuns))
    }
  }
}

/** Records `gates_expected.tsv` (gate, rows, digest) from the current
  * engine: `RecordGates <data dir>`, run once on the commit whose results
  * are the reference. */
object RecordGates {
  def main(args: Array[String]): Unit = {
    val data = new File(args(0))
    val spark = Session.start(new File(sys.props("java.io.tmpdir")))
    val dir = new File(data, "sf0.01").getPath
    val lines = Gates.Names.map { g =>
      val rows = SparkEntry.queries(g)(spark, dir).collect()
      s"$g\t${rows.length}\t${Gates.digest(rows)}"
    }
    Files.write(new File(data, "gates_expected.tsv").toPath,
      ("# gate\trows\tdigest (perfbench.Gates.digest)" +: lines).asJava, StandardCharsets.UTF_8)
    lines.foreach(println)
    spark.stop()
  }
}
