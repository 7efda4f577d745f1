package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, desc, lit}
import graft.ates.{AtesPipeline, Fixtures, Styles}
import graft.sinks.Sinks

/** End-to-end slice (SURVEY §7 step 6): fixtures → the reference's three
  * entry points → validity + golden assertions. */
class AtesPipelineSpec extends SparkSpec {

  private lazy val tables = Fixtures.tables(spark)
  private val mapper = new ObjectMapper()

  /** Runs `body` and counts the Spark jobs and SQL executions it started,
    * by a job tag unique to this call. */
  private def countWork[T](body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val tag = s"count-work-${java.util.UUID.randomUUID()}"
    def tagged(tags: String) = Option(tags).exists(_.split(",").contains(tag))
    val jobs = new AtomicInteger
    val executions = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagged(e.properties.getProperty("spark.job.tags"))) jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) =>
          executions.incrementAndGet()
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val out = body
      org.apache.spark.graft.ListenerBus.drain(sc)
      (out, jobs.get, executions.get)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

  test("EP2: FeatureCollection for area 357 is valid GeoJSON with all branches") {
    val doc = AtesPipeline.featureCollection(tables, 357L)
    val root = mapper.readTree(doc) // throws on malformed JSON
    assert(root.get("type").asText() == "FeatureCollection")
    val feats = root.get("features")
    // 1 area + 4 poi + 2 roads + 3 paths + 2 warnified dps + 3 zones = 15
    assert(feats.size() == 15)

    val tablesSeen = (0 until feats.size())
      .map(i => feats.get(i).get("properties").get("table").asText()).toSet
    assert(tablesSeen == Set("areas_vw", "points_of_interest", "access_roads",
      "avalanche_paths", "decision_points", "zones"))

    // bbox hoisted to feature level on areas_vw/zones (FGU:196-199)
    val area = feats.get(0)
    assert(area.has("bounding_box"))
    assert(area.get("bounding_box").get("type").asText() == "Polygon")

    // type normalization (FGU:202): "Rescue Cache"-style values lowercased
    val poi = feats.get(1)
    val t = poi.get("properties").get("type").asText()
    assert(t == t.toLowerCase && !t.contains(" "))

    // warnified decision point carries the JSON warnings string
    val dp = (0 until feats.size()).map(feats.get)
      .find(_.get("properties").get("table").asText() == "decision_points").get
    val warnings = mapper.readTree(dp.get("properties").get("warnings").asText())
    assert(warnings.has("managing-risk") && warnings.has("concern"))
  }

  test("EP1: KML document has styles, ordered folders, doc name, placemarks") {
    val kml = AtesPipeline.kmlDocument(tables, 357L, "en")
    assert(kml.startsWith("""<?xml version="1.0""""))
    assert(kml.contains("<Document><name>Test Area</name>"))
    // every style block present
    Styles.all().foreach(s => assert(kml.contains(s)))
    // folders in query order (FGU:865-922)
    val folderOrder = Seq("Area", "Points of Interest", "Access Roads",
      "Avalanche Paths", "Decision Points", "Zones")
    val idxs = folderOrder.map(n => kml.indexOf(s"<name>$n</name>"))
    assert(idxs.forall(_ >= 0) && idxs == idxs.sorted)
    // zone placemark carries class_code ExtendedData + class style
    assert(kml.contains("<ExtendedData><class_code>3</class_code></ExtendedData>"))
    assert(kml.contains("<styleUrl>#zone_black_style</styleUrl>"))
    // POI style resolved per type (FGU:846)
    assert(kml.contains("<styleUrl>#point_of_interest_parking_styles</styleUrl>"))
    // decision point description is the warnings popup
    assert(kml.contains("orange-table"))
    // xml escaping of user text
    assert(kml.contains("complex &lt;steep&gt;"))
    assert(kml.contains("Spur &amp; branch"))
    // French display names
    val fr = AtesPipeline.kmlDocument(tables, 357L, "fr")
    assert(fr.contains("<name>Routes d'accès</name>"))
  }

  test("EP1: kmlDocument runs one SQL execution of at most 3 jobs") {
    AtesPipeline.kmlDocument(tables, 357L) // first call pays for code generation
    val (kml, jobs, executions) = countWork(AtesPipeline.kmlDocument(tables, 357L))
    assert(kml.contains("<Document><name>Test Area</name>"))
    assert(executions == 1, s"SQL executions: $executions")
    assert(jobs >= 1 && jobs <= 3, s"Spark jobs: $jobs")
  }

  test("EP1: placemarks ascend by id inside every folder whatever the scan order") {
    // every table scanned in descending id, so scan order is not the answer
    val reversed = tables.map { case (t, df) =>
      t -> df.orderBy(desc(if (t == "decision_points_warnings") "decision_point_id" else "id"))
    }
    val kml = AtesPipeline.kmlDocument(reversed, 357L, "en")
    val folders = AtesPipeline.kmlPlacemarks(tables, 357L).map { case (t, df) =>
      val pms = df.orderBy(col("id")).select(col("pm")).collect().map(_.getString(0))
      s"<Folder><name>${AtesPipeline.displayName(t, "en")}</name>${pms.mkString}</Folder>"
    }
    assert(kml.contains(folders.mkString + "</Document>"))
    assert(kml == AtesPipeline.kmlDocument(tables, 357L, "en"))
  }

  test("EP1: the Document name is XML-escaped and the KML parses") {
    val named = tables.updated("areas_vw",
      tables("areas_vw").withColumn("name", lit("a&b<c>")))
    val kml = AtesPipeline.kmlDocument(named, 357L)
    assert(kml.contains("<Document><name>a&amp;b&lt;c&gt;</name>"))
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(kml.getBytes("UTF-8")))
    assert(doc.getElementsByTagName("name").item(0).getTextContent == "a&b<c>")
  }

  test("EP1: KMZ sink produces a readable zip with doc.kml (FGU:933-974)") {
    val kml = AtesPipeline.kmlDocument(tables, 357L)
    val tmp = Files.createTempFile("graft", ".kmz").toFile
    Sinks.writeKmzFile(kml, tmp.getAbsolutePath)
    val zf = new java.util.zip.ZipFile(tmp)
    try {
      val entry = zf.getEntry("doc.kml")
      assert(entry != null)
      val bytes = zf.getInputStream(entry).readAllBytes()
      assert(new String(bytes, "UTF-8") == kml)
    } finally { zf.close(); tmp.delete() }
  }

  test("KML/KMZ source closes the EP1 loop: writeKmz → readKmz recovers the features") {
    val kml = AtesPipeline.kmlDocument(tables, 357L, "en")
    val dir = Files.createTempDirectory("graft_kmz").toFile
    val kmz = new java.io.File(dir, "area.kmz")
    Sinks.writeKmzFile(kml, kmz.getAbsolutePath)

    val feats = graft.sources.Tables.readKmz(spark, kmz.getAbsolutePath)
    val rows = feats.collect()
    // every placemark of every folder surfaces as one row
    val expectedPms = "<Placemark>".r.findAllIn(kml).size
    assert(rows.length == expectedPms && expectedPms > 0)
    assert(rows.forall(_.getAs[String]("doc_name") == "Test Area"))
    // folder provenance preserved, in the emitter's display names
    val folders = rows.map(_.getAs[String]("folder")).toSet
    assert(folders.contains("Points of Interest") && folders.contains("Zones"))
    // xml escapes round-trip back to the source text
    val allDescriptions = rows.flatMap(_.getSeq[String](
      rows.head.fieldIndex("descriptions")))
    assert(allDescriptions.exists(_.contains("Spur & branch")))
    assert(allDescriptions.exists(_.contains("complex <steep>")))
    // zone class_code + style id recovered
    assert(rows.exists(r => r.getAs[String]("class_code") == "3" &&
      r.getAs[String]("style") == "zone_black_style"))
    // geometry parses for every placemark and matches the sink's own KML
    // rendering when re-emitted
    val reKml = feats
      .select(graft.functions.GeoFunctions.st_askml(
        org.apache.spark.sql.functions.col("geom")).as("k"))
      .collect().map(_.getString(0))
    assert(reKml.forall(s => s != null && s.nonEmpty))
    reKml.foreach(s => assert(kml.contains(s), s"re-rendered geometry not in doc: $s"))

    // and the plain-KML reader sees the identical rows
    val kmlFile = new java.io.File(dir, "doc.kml")
    Files.writeString(kmlFile.toPath, kml)
    val viaKml = graft.sources.Tables.readKml(spark, kmlFile.getAbsolutePath)
    assert(viaKml.exceptAll(feats).isEmpty && feats.exceptAll(viaKml).isEmpty)
  }

  test("EP3: GeoJSON-LD sink writes one JSON-lines dir per table (MBX:312-333)") {
    val out = Files.createTempDirectory("graft_ld").toFile
    Sinks.writeGeoJsonLd(AtesPipeline.geoJsonLdFeatures(tables),
      out.getAbsolutePath)
    val dirs = out.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("areas_vw", "points_of_interest", "access_roads",
      "avalanche_paths", "decision_points", "zones").map(t => s"table=$t"))
    // every line parses as a Feature
    def linesOf(table: String) =
      Files.list(new java.io.File(out, s"table=$table").toPath)
        .toArray.map(_.toString).filter(_.endsWith(".txt"))
        .flatMap(p => scala.io.Source.fromFile(p).getLines())
    val lines = linesOf("zones")
    assert(lines.length == 3)
    lines.foreach { l =>
      assert(mapper.readTree(l).get("type").asText() == "Feature")
    }
    // full scan: area 358's decision point included (MBX full-scan variant)
    assert(linesOf("decision_points").length == 3)
  }

  test("S8: recipe JSON matches make-recipe.js shape (MR:12-55)") {
    val r = Sinks.recipeJson(Seq("zones", "areas_vw"), "someuser")
    val root = mapper.readTree(r)
    assert(root.get("version").asInt() == 1)
    val z = root.get("layers").get("zones")
    assert(z.get("source").asText() == "mapbox://tileset-source/someuser/zones")
    assert(z.get("minzoom").asInt() == 0 && z.get("maxzoom").asInt() == 22)
    val wrapped = mapper.readTree(
      Sinks.recipeJson(Seq("zones"), "u", "mytiles", wrap = true))
    assert(wrapped.get("name").asText() == "mytiles")
    assert(wrapped.get("recipe").get("version").asInt() == 1)
  }
}
