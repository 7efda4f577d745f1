package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.zip.ZipInputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.ates.{AtesPipeline, KmzHttpServer}
import graft.sinks.Sinks

/** `ates_serve`: `GET /:lang/:areaId.kmz` against an in-process
  * `KmzHttpServer`, closed loop with [[Clients]] clients.
  *
  * A closed loop because the seed serves about one request per second: an
  * open loop with enough samples for a p90 would need minutes per run. Area
  * ids follow a Zipf(s = 1) law over a seeded ranking of the areas, 80 %
  * of requests ask for `en` and 20 % for `fr`.
  *
  * The traced run sends requests one at a time so every Spark job falls in
  * exactly one request's time window, and repeats each request as direct
  * calls to `AtesPipeline.kmlDocument` and `Sinks.writeKmz`.
  */
object Serve {
  val Areas = 500
  val Clients = 4
  val WarmRequests = 5

  final case class Req(lang: String, area: AtesCorpus.Area)
  final case class Sample(req: Req, startMs: Double, endMs: Double, status: Int,
      body: Array[Byte]) {
    def ms: Double = endMs - startMs
  }

  /** Seeded request stream: Zipf(1) over a seeded permutation of areas. */
  final class Requests(areas: IndexedSeq[AtesCorpus.Area], seed: Long) {
    private val r = new SplittableRandom(seed ^ 0x5e4e5eL)
    private val ranked = {
      val a = areas.toArray
      for (i <- a.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    private val cdf = {
      val w = (1 to ranked.length).map(k => 1.0 / k)
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def next(): Req = synchronized {
      val u = r.nextDouble()
      val k = java.util.Arrays.binarySearch(cdf, u) match {
        case i if i >= 0 => i
        case i => math.min(-i - 1, ranked.length - 1)
      }
      Req(if (r.nextInt(100) < 80) "en" else "fr", ranked(k))
    }
  }

  def get(port: Int, req: Req): Sample = {
    val t0 = Clock.nowMs
    val c = URI.create(s"http://127.0.0.1:$port/${req.lang}/${req.area.id}.kmz")
      .toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      val status = c.getResponseCode
      val in = if (status < 400) c.getInputStream else c.getErrorStream
      val body = if (in == null) Array.emptyByteArray else in.readAllBytes()
      Sample(req, t0, Clock.nowMs, status, body)
    } finally c.disconnect()
  }

  def unzipKml(kmz: Array[Byte]): Option[String] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(kmz))
    try Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .find(_.getName == "doc.kml")
      .map(_ => new String(zin.readAllBytes(), StandardCharsets.UTF_8))
    finally zin.close()
  }

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Checks a KML document against the area's ground truth: the Document
    * name, the folder names for the language, and the placemark count of
    * each folder (one decision-point placemark per distinct geometry).
    * Returns the problems found, empty when the document is right.
    *
    * The Document name is accepted raw or XML-escaped: the engine writes it
    * unescaped, which [[unescapedDocName]] counts separately. */
  def check(kml: String, req: Req): Seq[String] = {
    val a = req.area
    val problems = Seq.newBuilder[String]
    val name = "<Document><name>(.*?)</name>".r.findFirstMatchIn(kml).map(_.group(1))
    if (!name.exists(n => n == a.name || n == xmlEscape(a.name)))
      problems += s"area ${a.id}: document name ${name.getOrElse("missing")}"
    val folders = kml.split("<Folder>").drop(1)
    val names = folders.map(f => "^<name>(.*?)</name>".r.findFirstMatchIn(f).map(_.group(1)).getOrElse(""))
    val want = AtesCorpus.FolderTables.map(t => AtesPipeline.displayName(t, req.lang))
    if (names.toSeq != want) problems += s"area ${a.id}: folders ${names.mkString("|")}"
    val counts = folders.map(_.split("<Placemark>", -1).length - 1).toSeq
    if (counts != a.folderCounts)
      problems += s"area ${a.id}: placemarks $counts, expected ${a.folderCounts}"
    problems.result()
  }

  def unescapedDocName(kml: String, req: Req): Boolean =
    req.area.name != xmlEscape(req.area.name) &&
      kml.contains(s"<Document><name>${req.area.name}</name>")

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    val ((tables, corpus), prepareS) = Setup.repeated { rep =>
      AtesCorpus.write(spark, s"${ctx.work}/corpus-$rep", Areas, ctx.seed, ctx.cpus)
    }
    val server = new KmzHttpServer(spark, tables)
    val port = server.start()
    try {
      // warm-up belongs to setup: the first request pays for code generation,
      // the next ones let the JIT settle before anything is timed
      val (warm, warmS) = Stats.timedS(
        Seq.fill(WarmRequests)(get(port, Req("en", corpus.areas.head))))
      val requests = new Requests(corpus.areas, ctx.seed)
      val setupS = ctx.sessionS + prepareS + warmS
      if (ctx.traced) traced(ctx, tables, port, requests, setupS, warm)
      else closedLoop(ctx, tables, port, requests, setupS, warm)
    } finally server.stop()
  }

  /** Validation shared by both modes: a response counts as failed unless it
    * is a 200 whose doc.kml passes [[check]]. */
  private def failures(samples: Seq[Sample]): (Int, Seq[String]) = {
    val problems = samples.map { s =>
      if (s.status != 200) Seq(s"area ${s.req.area.id}: HTTP ${s.status}")
      else unzipKml(s.body).map(check(_, s.req)).getOrElse(Seq("no doc.kml"))
    }
    (problems.count(_.nonEmpty), problems.flatten.take(5))
  }

  /** Outside timing: the doc.kml of one seeded pick of the responses must
    * equal, byte for byte, a direct `kmlDocument` call for the same request.
    * Returns 1 on a mismatch. */
  private def directMismatch(tables: Map[String, DataFrame], samples: Seq[Sample],
      seed: Long): Int = {
    val s = samples(new scala.util.Random(seed).nextInt(samples.size))
    val direct = AtesPipeline.kmlDocument(tables, s.req.area.id, s.req.lang)
    if (unzipKml(s.body).contains(direct)) 0 else 1
  }

  /** [[Clients]] threads, each sending its next request once the previous
    * one answered, until the deadline. */
  private def clients(deadlineMs: Double, port: Int, requests: Requests): Seq[Sample] = {
    val out = new ConcurrentLinkedQueue[Sample]()
    val threads = (1 to Clients).map { _ =>
      new Thread(() => while (Clock.nowMs < deadlineMs) out.add(get(port, requests.next())))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    out.asScala.toSeq
  }

  /** Untraced run: half the time [[Clients]] clients in a closed loop
    * (throughput, and latency under load for the `#` line), then half one
    * client alone (idle-server latency; it comes last, where the JIT has
    * settled most). */
  private def closedLoop(ctx: Ctx, tables: Map[String, DataFrame], port: Int,
      requests: Requests, setupS: Double, warm: Seq[Sample]): Report = {
    val box = new Box
    box.start()
    val t0 = Clock.nowMs
    val loaded = clients(t0 + ctx.seconds * 1000 / 2, port, requests)
    val serial = Stats.until(Clock.nowMs + ctx.seconds * 1000 / 2)(get(port, requests.next()))
    val box1 = box.summary
    val (failed, problems) = failures(warm ++ serial ++ loaded)
    val mismatches = directMismatch(tables, loaded, ctx.seed)
    problems.foreach(p => System.err.println(s"[perfbench] invalid response: $p"))
    val idle = serial.map(_.ms)
    // under load, latency is read in steady state: the first wave starts
    // together and queues 1..Clients deep, every later request waits behind
    // the other clients' requests
    val underLoad = loaded.sortBy(_.startMs).drop(Clients).map(_.ms)
    val loadedStats =
      if (underLoad.isEmpty) Map.empty[String, Double]
      else Map("loaded_p50_ms" -> Stats.median(underLoad),
        "loaded_p90_ms" -> Stats.percentile(underLoad, 0.9))
    Info.emit("ates_serve", loadedStats ++ Map(
      "idle_samples" -> idle.size.toDouble,
      "loaded_samples" -> underLoad.size.toDouble,
      "unescaped_doc_names" -> (warm ++ serial ++ loaded).count(s =>
        unzipKml(s.body).exists(unescapedDocName(_, s.req))).toDouble) ++ box1)
    val loadedFailed = failures(loaded)._1
    Report(
      attempted = warm.size + serial.size + loaded.size + 1,
      failed = failed + mismatches,
      setupS = setupS,
      // validated responses over the time from the first send to the last
      // answer: a saturated server answers one request per service time
      throughputPerS = (loaded.size - loadedFailed) / ((loaded.map(_.endMs).max - t0) / 1000),
      p50Ms = Stats.median(idle),
      p90Ms = Stats.percentile(idle, 0.9),
      geomeanMs = Stats.geomean(idle),
      samples = idle.size)
  }

  private def traced(ctx: Ctx, tables: Map[String, DataFrame], port: Int,
      requests: Requests, setupS: Double, warm: Seq[Sample]): Report = {
    val box = new Box
    box.start()
    // untraced serial requests before and after the traced ones: the traced
    // result minus theirs is the tracing overhead
    val quarterMs = ctx.seconds * 1000 / 4
    val before = Stats.until(Clock.nowMs + quarterMs)(get(port, requests.next()))
    val probe = new Probe(ctx.spark)
    val jvm = new JvmCounters
    val spans = new Spans
    probe.start(); jvm.start()
    val deadline = Clock.nowMs + 2 * quarterMs
    var op = 0L
    var storageMax = 0.0
    val traced = Vector.newBuilder[(Sample, Boolean)]
    while (Clock.nowMs < deadline || op == 0) {
      op += 1
      val req = requests.next()
      val sample = spans("http.request", op)(_ => get(port, req))
      spans("ates.plan_build", op)(_ => AtesPipeline.kmlPlacemarks(tables, req.area.id))
      val kml = spans("ates.kml_doc", op)(_ =>
        AtesPipeline.kmlDocument(tables, req.area.id, req.lang))
      val zipped = new ByteArrayOutputStream()
      spans("sinks.kmz_zip", op)(_ => Sinks.writeKmz(kml, zipped))
      traced += sample -> unzipKml(sample.body).contains(kml)
      jvm.sample()
      storageMax = math.max(storageMax, Layers.storageBytes(ctx.spark))
    }
    probe.stop()
    val jvmRead = jvm.read()
    val plain = before ++ Stats.until(Clock.nowMs + quarterMs)(get(port, requests.next()))
    val samples = traced.result()
    val (failed, problems) = failures(warm ++ plain ++ samples.map(_._1))
    problems.foreach(p => System.err.println(s"[perfbench] invalid response: $p"))
    val mismatches = samples.count(!_._2)

    def mean(name: String) = Stats.mean(spans.named(name).map(_.ms))
    val http = spans.named("http.request")
    http.foreach(h => probe.jobSpans(h).foreach(spans.add))
    val perOp = Layers.perOp(probe, http)
    val kmls = samples.flatMap(s => unzipKml(s._1.body))
    val placemarks = kmls.map(_.split("<Placemark>", -1).length - 1.0)
    val lat = http.map(_.ms)
    val (layers, detail) = Layers.finish(perOp, probe, jvmRead, box, ops = samples.size,
      rowsOut = placemarks.sum, untracedMs = Stats.median(plain.map(_.ms)),
      tracedMs = Stats.median(lat), storageMax = storageMax,
      storageAfter = Layers.storageBytes(ctx.spark), clients = 1,
      attempted = warm.size + plain.size + samples.size, failed = failed + mismatches)
    val reqMs = Stats.mean(lat)
    val httpSelf = math.max(0.0, reqMs - mean("ates.kml_doc") - mean("sinks.kmz_zip"))
    val ates = Map(
      "ates.plan_build_ms" -> mean("ates.plan_build"),
      "ates.kml_doc_ms" -> mean("ates.kml_doc"),
      "ates.placemarks_per_req" -> Stats.mean(placemarks),
      "http.request_ms" -> reqMs,
      "http.self_ms" -> httpSelf,
      "sinks.kmz_zip_ms" -> mean("sinks.kmz_zip"),
      "sinks.kmz_bytes_per_kml_byte" ->
        samples.map(_._1.body.length.toDouble).sum / kmls.map(_.getBytes("UTF-8").length).sum,
      // the request's driver time outside SQL executions: building the
      // plans (measured by the direct kmlPlacemarks call), the zip, and the
      // rest (HTTP shim, document assembly)
      "self.ates_ms" -> mean("ates.plan_build"),
      "self.sinks_ms" -> mean("sinks.kmz_zip"),
      "self.http_ms" ->
        math.max(0.0, layers("self.driver_ms") - mean("ates.plan_build") - mean("sinks.kmz_zip")),
      "trace.measured_share" -> (reqMs - layers("self.driver_ms") +
        mean("ates.plan_build") + mean("sinks.kmz_zip")) / reqMs)
    Report(
      attempted = warm.size + plain.size + samples.size,
      failed = failed + mismatches,
      setupS = setupS,
      throughputPerS = (samples.size - failed) / (lat.sum / 1000),
      p50Ms = Stats.median(lat),
      p90Ms = Stats.percentile(lat, 0.9),
      geomeanMs = Stats.geomean(lat),
      samples = samples.size,
      layers = layers,
      detail = detail ++ ates,
      spans = spans.all)
  }
}
