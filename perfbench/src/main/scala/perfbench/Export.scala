package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.ates.AtesPipeline
import graft.sinks.Sinks

/** `ates_export`: the GeoJSON-LD bulk export (EP3),
  * `AtesPipeline.geoJsonLdFeatures` → `Sinks.writeGeoJsonLd`, one caller
  * running whole passes back to back over a fixed corpus. Full scans, the
  * warnify shuffle and a distributed write, where `ates_serve` does point
  * reads with heavy planning.
  */
object Export {
  val Areas = 1000

  /** Lines per `table=<name>` partition of one pass's output. */
  private def lineCounts(out: File): Map[String, Long] =
    out.listFiles().filter(_.getName.startsWith("table=")).map { d =>
      d.getName.stripPrefix("table=") ->
        d.listFiles().filter(_.getName.startsWith("part-")).map { f =>
          Files.lines(f.toPath, StandardCharsets.UTF_8).count()
        }.sum
    }.toMap

  /** Every line parses as a GeoJSON Feature tagged with its partition's
    * table. Returns the number of bad lines. */
  private def badFeatures(out: File): Long = {
    val json = new ObjectMapper()
    out.listFiles().filter(_.getName.startsWith("table=")).map { d =>
      val table = d.getName.stripPrefix("table=")
      d.listFiles().filter(_.getName.startsWith("part-")).map { f =>
        Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.count { line =>
          val ok = scala.util.Try {
            val n = json.readTree(line)
            n.path("type").asText() == "Feature" &&
              n.path("geometry").path("type").isTextual &&
              n.path("geometry").path("coordinates").isArray &&
              n.path("properties").path("table").asText() == table
          }
          !ok.getOrElse(false)
        }.toLong
      }.sum
    }.sum
  }

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    val ((tables, corpus), prepareS) = Setup.repeated { rep =>
      AtesCorpus.write(spark, s"${ctx.work}/corpus-$rep", Areas, ctx.seed, ctx.cpus)
    }
    val expected = corpus.featureCounts
    val features = expected.values.sum.toDouble
    var passNo = 0
    var invalid = 0

    /** One timed pass into a fresh directory, validated by line counts
      * outside the timing; the last pass's directory is kept for the
      * per-line check. */
    def pass(spans: Option[Spans]): Span = {
      passNo += 1
      val out = new File(ctx.work, s"export-$passNo")
      val rec = spans.getOrElse(new Spans)
      rec("export.pass", passNo) { id =>
        val plan = rec("ates.ld_plan", passNo, id)(_ => AtesPipeline.geoJsonLdFeatures(tables))
        rec("sinks.ld_write", passNo, id)(_ => Sinks.writeGeoJsonLd(plan, out.getPath))
      }
      val counts = lineCounts(out)
      if (counts != expected) {
        invalid += 1
        System.err.println(s"[perfbench] export pass $passNo: lines $counts, expected $expected")
      }
      rec.named("export.pass").last
    }
    def lastOut = new File(ctx.work, s"export-$passNo")
    def dropLast(): Unit = Setup.deleteRecursively(lastOut)

    val box = new Box
    val (_, warmS) = Stats.timedS { pass(None); dropLast() }
    box.start()
    // traced runs time untraced passes before and after the traced ones:
    // the difference is the tracing overhead
    val untracedMs = ctx.seconds * 1000 / (if (ctx.traced) 4 else 1)
    def plainPasses() = Stats.until(Clock.nowMs + untracedMs) { dropLast(); pass(None) }
    val before = plainPasses()

    val traced = if (!ctx.traced) None else {
      val probe = new Probe(spark)
      val jvm = new JvmCounters
      val spans = new Spans
      probe.start(); jvm.start()
      var storageMax = 0.0
      val n = Stats.until(Clock.nowMs + 2 * untracedMs) {
        dropLast()
        pass(Some(spans))
        jvm.sample()
        storageMax = math.max(storageMax, Layers.storageBytes(spark))
      }.size
      probe.stop()
      Some((probe, jvm.read(), spans, storageMax, n))
    }
    val untraced = if (ctx.traced) before ++ plainPasses() else before
    val bad = badFeatures(lastOut)
    if (bad > 0) System.err.println(s"[perfbench] export: $bad lines are not GeoJSON Features")
    val outBytes = lastOut.listFiles().filter(_.getName.startsWith("table="))
      .flatMap(_.listFiles()).filter(_.getName.startsWith("part-")).map(_.length).sum
    dropLast()
    val failed = invalid + (if (bad > 0) 1 else 0)

    val passes = traced.map(_._3.named("export.pass")).getOrElse(untraced)
    val lat = passes.map(_.ms)
    val base = Report(
      attempted = passNo,
      failed = failed,
      setupS = ctx.sessionS + prepareS + warmS,
      throughputPerS = features / (Stats.median(lat) / 1000),
      p50Ms = Stats.median(lat),
      p90Ms = Stats.percentile(lat, 0.9),
      geomeanMs = Stats.geomean(lat),
      samples = lat.size)
    traced match {
      case None =>
        Info.emit("ates_export", Map(
          "passes" -> lat.size.toDouble, "features_per_pass" -> features,
          "prepare_s" -> prepareS, "warm_s" -> warmS) ++ box.summary)
        base
      case Some((probe, jvm, spans, storageMax, n)) =>
        passes.foreach(p => probe.jobSpans(p).foreach(spans.add))
        def mean(name: String) = Stats.mean(spans.named(name).map(_.ms))
        val (layers, detail) = Layers.finish(Layers.perOp(probe, passes), probe, jvm, box,
          ops = n, rowsOut = features * n, untracedMs = Stats.median(untraced.map(_.ms)),
          tracedMs = Stats.median(lat), storageMax = storageMax,
          storageAfter = Layers.storageBytes(spark), clients = 1,
          attempted = passNo, failed = failed)
        base.copy(layers = layers, spans = spans.all, detail = detail ++ Map(
          "ates.ld_plan_ms" -> mean("ates.ld_plan"),
          "sinks.ld_write_ms" -> mean("sinks.ld_write"),
          "sinks.ld_bytes_per_feature" -> outBytes / features,
          "export.features_per_pass" -> features))
    }
  }
}
