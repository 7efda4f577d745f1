package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.Tables

/** Seeded synthetic ATES corpus in the engine's seven-table schema
  * (`Tables.atesSchemas`), written as parquet and read back with
  * `spark.read.parquet`.
  *
  * Each area holds about 80 features: points of interest of every style
  * type plus one type with no style of its own, access roads, avalanche
  * paths, decision points with 2-6 warnings of both types (about a third of
  * the points reuse another point's geometry, so warnify grouping merges
  * rows), and zones with class_code 1-3, some of them MultiPolygons. Text
  * fields carry XML-special characters, quotes, accents and nulls. Areas sit
  * on disjoint coordinate tiles, so no geometry is shared across areas.
  *
  * The same (areas, seed) always yields the same tables and ground truth.
  */
object AtesCorpus {

  /** Expected content of one area: the placemark count of each KML folder
    * in folder order (area, POIs, roads, paths, distinct decision-point
    * geometries, zones) and the area's name. */
  final case class Area(id: Long, name: String, folderCounts: Seq[Int])

  final case class Corpus(areas: IndexedSeq[Area], tableRows: Map[String, Long]) {
    /** Rows the GeoJSON-LD export writes per `table=` partition. */
    def featureCounts: Map[String, Long] =
      FolderTables.zipWithIndex.map { case (t, i) =>
        t -> areas.map(_.folderCounts(i).toLong).sum }.toMap
  }

  /** KML folder order, the same as `AtesPipeline.kmlPlacemarks`. */
  val FolderTables: Seq[String] = Seq("areas_vw", "points_of_interest",
    "access_roads", "avalanche_paths", "decision_points", "zones")

  private val PoiTypes = Seq("Other", "Parking", "Rescue Cache", "Cabin",
    "Destination", "Lake", "Mountain", "Hut")
  private val Words = Seq("north", "ridge", "bowl", "col", "glade", "couloir",
    "saddle", "creek", "knoll", "lake", "basin", "spur", "face", "gully")
  private val Specials = Seq(" & co", " <steep>", " > 30°", " \"the notch\"",
    " l'Aiguille", " café", " a&b<c>", " Don\\'t stop")

  private final class Gen(seed: Long) {
    val r = new SplittableRandom(seed)
    def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def text(nullable: Boolean): String =
      if (nullable && r.nextInt(100) < 15) null
      else {
        val base = Seq.fill(between(1, 3))(Words(r.nextInt(Words.size))).mkString(" ")
        if (r.nextInt(100) < 40) base + Specials(r.nextInt(Specials.size)) else base
      }
    def coord(origin: Double): Double =
      math.round((origin + 0.01 + r.nextDouble() * 0.16) * 1e6) / 1e6
  }

  private def point(x: Double, y: Double): Row =
    Row("Point", Seq(Seq(Seq(Seq(x, y)))))
  private def rect(x: Double, y: Double, w: Double, h: Double): Seq[Seq[Double]] =
    Seq(Seq(x, y), Seq(x + w, y), Seq(x + w, y + h), Seq(x, y + h), Seq(x, y))

  /** Generates the corpus, writes each table under `dir/<table>` and
    * returns the tables read back plus the ground truth. */
  def write(spark: SparkSession, dir: String, nAreas: Int, seed: Long,
      partitions: Int): (Map[String, DataFrame], Corpus) = {
    val g = new Gen(seed)
    val rows = Tables.atesSchemas.keys.map(_ -> ArrayBuffer.empty[Row]).toMap
    val ids = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    def nextId(t: String): Long = { ids(t) += 1; ids(t) }
    def line(x0: Double, y0: Double): Row = {
      val pts = Seq.fill(g.between(3, 8))(Seq(g.coord(x0), g.coord(y0)))
      Row("LineString", Seq(Seq(pts)))
    }

    val areas = (0 until nAreas).map { i =>
      val areaId = 100L + i
      val x0 = -125.0 + (i % 100) * 0.2
      val y0 = 45.0 + (i / 100) * 0.2
      val name = s"Area $areaId " + g.text(nullable = false)
      rows("areas_vw") += Row(areaId, name, Row("Polygon", Seq(Seq(rect(x0, y0, 0.18, 0.18)))))

      val nPoi = g.between(10, 22)
      (0 until nPoi).foreach { k =>
        // every style type appears in every area; the rest are random
        val typ = if (k < PoiTypes.size) PoiTypes(k) else PoiTypes(g.r.nextInt(PoiTypes.size))
        rows("points_of_interest") += Row(nextId("points_of_interest"), areaId,
          g.text(nullable = true), typ, g.text(nullable = true),
          point(g.coord(x0), g.coord(y0)))
      }
      val nRoads = g.between(5, 11)
      (0 until nRoads).foreach { _ =>
        rows("access_roads") += Row(nextId("access_roads"), areaId,
          g.text(nullable = true), line(x0, y0))
      }
      val nPaths = g.between(24, 40)
      (0 until nPaths).foreach { _ =>
        rows("avalanche_paths") += Row(nextId("avalanche_paths"), areaId,
          g.text(nullable = true), line(x0, y0))
      }
      val nDp = g.between(8, 16)
      val dpGeoms = ArrayBuffer.empty[(Double, Double)]
      (0 until nDp).foreach { k =>
        val xy =
          if (k > 0 && g.r.nextInt(100) < 33) dpGeoms(g.r.nextInt(dpGeoms.size))
          else (g.coord(x0), g.coord(y0))
        dpGeoms += xy
        val dpId = nextId("decision_points")
        rows("decision_points") += Row(dpId, areaId, g.text(nullable = true),
          g.text(nullable = true), point(xy._1, xy._2))
        (0 until g.between(2, 6)).foreach { w =>
          // the first two warnings cover both types
          val typ = if (w == 0 || (w > 1 && g.r.nextBoolean())) "Concern" else "Managing risk"
          rows("decision_points_warnings") += Row(dpId, g.text(nullable = false), typ)
        }
      }
      val nZones = g.between(6, 14)
      (0 until nZones).foreach { k =>
        val (x, y) = (g.coord(x0) - 0.01, g.coord(y0) - 0.01)
        val geom =
          if (g.r.nextInt(100) < 20)
            Row("MultiPolygon", Seq(Seq(rect(x, y, 0.004, 0.004)),
              Seq(rect(x + 0.005, y + 0.005, 0.003, 0.003))))
          else Row("Polygon", Seq(Seq(rect(x, y, 0.006, 0.004))))
        rows("zones") += Row(nextId("zones"), areaId, 1 + k % 3,
          g.text(nullable = true), geom)
      }
      Area(areaId, name,
        Seq(1, nPoi, nRoads, nPaths, dpGeoms.distinct.size, nZones))
    }

    // the seven writes are independent jobs: submit them together
    val pool = java.util.concurrent.Executors.newFixedThreadPool(rows.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val tables = try Await.result(Future.sequence(rows.toSeq.map { case (t, rs) =>
      Future {
        val path = s"$dir/$t"
        spark.createDataFrame(spark.sparkContext.parallelize(rs.toSeq, partitions),
          Tables.atesSchemas(t)).write.parquet(path)
        t -> spark.read.parquet(path)
      }
    }), Duration.Inf).toMap finally pool.shutdown()
    (tables, Corpus(areas, rows.map { case (t, rs) => t -> rs.size.toLong }))
  }
}
