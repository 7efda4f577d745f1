package graft.ates

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.slf4j.LoggerFactory

import graft.sinks.Sinks

/** The reference's HTTP entry point (S9, `kmlExpressAppWrappyThing`,
  * `/root/reference/src/from-ground-up.js:976-1009`): `GET
  * /:lang/:areaId.kmz` → KMZ attachment; `GET /` → help text.
  *
  * A thin shim over the engine (JDK built-in HttpServer, zero deps): route
  * parameters bind to the plan exactly like the reference's prepared-
  * statement `$1` (`area_id === lit(areaId)`), each request runs the EP1
  * pipeline, and the zip streams back with the reference's
  * `attachment; filename=<areaId>.kmz` disposition (FGU:994). Input
  * validation mirrors `returnIfIn`: lang ∉ {en, fr} → 'en' (FGU:963); an
  * id that is not a decimal `Long` → 404. A failed request answers a fixed
  * `internal error` 500 and sends the exception to the log.
  *
  * Requests are dispatched on a fixed pool of
  * `spark.sparkContext.defaultParallelism` threads, so up to that many
  * requests run at once, each as one Spark query; `stop()` shuts the pool
  * down.
  */
class KmzHttpServer(spark: SparkSession, tables: Map[String, DataFrame],
    port: Int = 0) {

  private val Route = "^/([^/]+)/([0-9]+)\\.kmz$".r
  private object AreaId { def unapply(s: String): Option[Long] = s.toLongOption }
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  private val log = LoggerFactory.getLogger(getClass)
  private val pool = Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism)
  server.setExecutor(pool)

  server.createContext("/", (ex: HttpExchange) => {
    try {
      ex.getRequestURI.getPath match {
        case "/" => respond(ex, 200, "help", "text/plain")
        case Route(langRaw, AreaId(areaId)) =>
          val lang = if (Seq("en", "fr").contains(langRaw)) langRaw else "en"
          val kml = AtesPipeline.kmlDocument(tables, areaId, lang)
          val bytes = new ByteArrayOutputStream()
          Sinks.writeKmz(kml, bytes)
          ex.getResponseHeaders.add("Content-Type", "application/vnd.google-earth.kmz")
          ex.getResponseHeaders.add("Content-Disposition",
            s"attachment; filename=$areaId.kmz")
          val body = bytes.toByteArray
          ex.sendResponseHeaders(200, body.length.toLong)
          ex.getResponseBody.write(body)
          ex.close()
        case _ => respond(ex, 404, "not found", "text/plain")
      }
    } catch {
      case e: Throwable =>
        log.error(s"${ex.getRequestMethod} ${ex.getRequestURI} failed", e)
        respond(ex, 500, "internal error", "text/plain")
    }
  })

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.add("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

/** CLI: serve the fixture tables — `runMain graft.ates.KmzHttpServerMain [port]`. */
object KmzHttpServerMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(3000)
    val spark = graft.GraftSession.get("graft-kmz-http")
    val srv = new KmzHttpServer(spark, Fixtures.tables(spark), port)
    val bound = srv.start()
    println(s"[kmz-http] serving on port $bound (GET /:lang/:areaId.kmz)")
    Thread.currentThread().join()
  }
}
