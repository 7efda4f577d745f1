package graft.ates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions._
import graft.operators.Warnify

/** The reference's three entry points (SURVEY §3 EP1-EP3), rebuilt as Spark
  * plans over the 7 ATES relations:
  *
  *  - [[featureCollection]] — EP2, `get_geojson`
  *    (`/root/reference/src/from-ground-up.js:302-369`)
  *  - [[kmlDocument]]/[[graft.sinks.KmzSink]] — EP1, `getKML`/`makeKMZStream`
  *    (`:635-925`, `:933-974`)
  *  - [[geoJsonLdFeatures]] — EP3, `getGeoJSONLD`
  *    (`src/mapboxing.js:171-334`; full scans, no WHERE, `:172-226`)
  *
  * Execution shape: the reference runs 6 SQL queries concurrently
  * (`Promise.all`, FGU:285) then post-processes rows one at a time in JS;
  * here each table is one declarative branch (scan → filter → project →
  * feature/placemark string column), the decision-points branch inserts the
  * warnify aggregation, and a single-document request tags every branch and
  * runs their union as one query: one collect, so Catalyst plans the
  * request once, schedules the branches together and pushes `area_id = k`
  * into every scan. The driver then orders the rows by (branch, id) and
  * assembles the document (single-doc sinks are inherently driver-sized:
  * one KML/GeoJSON document per request, O(10²-10³) rows in the reference's
  * own envelope, where a Spark sort would cost a sampling job and a shuffle).
  */
object AtesPipeline {

  /** Bilingual display names (FGU:40-57, duplicated MBX:18-35). */
  def displayName(table: String, lang: String): String = {
    val m = graft.sources.Tables.tableDisplayNames
      .map(t => t._1 -> (if (lang == "fr") t._3 else t._2)).toMap
    m.getOrElse(table, table)
  }

  /** XML text-node escape for KML fields. */
  private def xmlEscape(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c, "&", "&amp;"), "<", "&lt;"),
      ">", "&gt;")

  // -------------------------------------------------------------------------
  // GeoJSON side (EP2/EP3)
  // -------------------------------------------------------------------------

  /** Feature JSON column (FGU:185-207): geometry embedded unescaped,
    * optional hoisted bounding_box (FGU:196-199), `properties.type`
    * normalized (FGU:201-202), provenance `table` tag (FGU:206). Nulls kept
    * in properties like `JSON.stringify` does. */
  private def featureJson(table: String, propCols: Seq[Column],
      withBbox: Boolean): Column = {
    val props = to_json(
      struct(propCols :+ lit(table).as("table"): _*),
      Map("ignoreNullFields" -> "false"))
    val bbox =
      if (withBbox)
        concat(lit(""""bounding_box":"""),
          st_asgeojson(st_envelope_polygon(col("geom"))), lit(","))
      else lit("")
    concat(lit("""{"type":"Feature","geometry":"""), st_asgeojson(col("geom")),
      lit(","), bbox, lit(""""properties":"""), props, lit("}"))
  }

  private def normType(c: Column): Column = lower(regexp_replace(c, " ", "-"))

  /** The 6-branch GeoJSON feature set (query list FGU:303-357). Pass
    * `areaId = None` for the mapboxing full-scan variant (MBX:172-226).
    * Returns (qidx, table, id, feature-JSON string). */
  def geoJsonFeatures(tables: Map[String, DataFrame],
      areaId: Option[Long]): DataFrame = {

    def scoped(df: DataFrame, key: String = "area_id") =
      areaId.map(a => df.filter(col(key) === a)).getOrElse(df)

    val areas = scoped(tables("areas_vw"), "id")
      .select(lit(0).as("qidx"), lit("areas_vw").as("table"), col("id"),
        featureJson("areas_vw",
          Seq(col("id"), col("name")), withBbox = true).as("feature"))

    val poi = scoped(tables("points_of_interest"))
      .select(lit(1).as("qidx"), lit("points_of_interest").as("table"), col("id"),
        featureJson("points_of_interest",
          Seq(col("id"), col("area_id"), col("name"),
            normType(col("type")).as("type"), col("comments")),
          withBbox = false).as("feature"))

    val roads = scoped(tables("access_roads"))
      .select(lit(2).as("qidx"), lit("access_roads").as("table"), col("id"),
        featureJson("access_roads",
          Seq(col("id"), col("area_id"), col("description")),
          withBbox = false).as("feature"))

    val paths = scoped(tables("avalanche_paths"))
      .select(lit(3).as("qidx"), lit("avalanche_paths").as("table"), col("id"),
        featureJson("avalanche_paths",
          Seq(col("id"), col("area_id"), col("name")),
          withBbox = false).as("feature"))

    // decision_points ⋈ warnings (FGU:327-347) → warnify (FGU:287-289).
    // The warnings side is a per-point detail table: broadcast the smaller
    // side; at 100 TB this is the one branch that shuffles (by geometry).
    val dp = scoped(tables("decision_points")).alias("dp")
    val dpw = tables("decision_points_warnings").alias("dpw")
    val joined = dp.join(dpw,
      col("dpw.decision_point_id") === col("dp.id"), "inner")
    val warnified = Warnify.geoJson(joined,
        geom = col("dp.geom"),
        typeCol = normType(col("dpw.type")),
        warning = col("dpw.warning"),
        carry = Seq("id", "name", "area_id", "comments"))
      .withColumnRenamed("geometry", "geom")
    val dpFeatures = warnified
      .select(lit(4).as("qidx"), lit("decision_points").as("table"), col("id"),
        featureJson("decision_points",
          Seq(col("id"), col("name"), col("area_id"), col("comments"),
            col("warnings")),
          withBbox = false).as("feature"))

    val zones = scoped(tables("zones"))
      .select(lit(5).as("qidx"), lit("zones").as("table"), col("id"),
        featureJson("zones",
          Seq(col("id"), col("area_id"), col("class_code"), col("comments")),
          withBbox = true).as("feature"))

    Seq(areas, poi, roads, paths, dpFeatures, zones)
      .reduce(_.unionByName(_))
  }

  /** Runs a union of tagged branches as one query and returns its `payload`
    * strings in (`tag`, `id`) order. The sort runs on the driver and is
    * stable, so rows that tie keep the order the query returned them in. */
  private def collectOrdered(union: DataFrame, tag: String,
      payload: String): Array[(Int, String)] =
    union.select(col(tag), col("id"), col(payload)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
      .sortBy(r => (r._1, r._2))
      .map(r => (r._1, r._3))

  /** EP2: the single FeatureCollection document (FGU:212-215, :291-294,
    * :362-368). Driver-side assembly in deterministic (qidx, id) order —
    * the engine form of the reference's query-array-then-row order. */
  def featureCollection(tables: Map[String, DataFrame], areaId: Long): String = {
    val feats = collectOrdered(geoJsonFeatures(tables, Some(areaId)), "qidx",
      "feature").map(_._2)
    s"""{"type":"FeatureCollection","features":[${feats.mkString(",")}]}"""
  }

  /** EP3 data plane: full-scan per-table feature sets for the GeoJSON-LD
    * sink (MBX:171-334). */
  def geoJsonLdFeatures(tables: Map[String, DataFrame]): DataFrame =
    geoJsonFeatures(tables, None)

  // -------------------------------------------------------------------------
  // KML side (EP1)
  // -------------------------------------------------------------------------

  /** Placemark fragment column (FGU:791-861): ordered children —
    * geometry, name?, description(comments)?, description(description)?,
    * description(type)?, ExtendedData(warnings | class_code)?, styleUrl —
    * with the style id resolved per table/type/class_code (FGU:844-858). */
  private def placemark(table: String, styleExpr: Column,
      name: Column = lit(null).cast("string"),
      comments: Column = lit(null).cast("string"),
      description: Column = lit(null).cast("string"),
      typ: Column = lit(null).cast("string"),
      warnings: Column = lit(null).cast("string"),
      classCode: Column = lit(null).cast("string")): Column = {

    def opt(c: Column, render: Column): Column =
      when(c.isNotNull, render).otherwise(lit(""))

    concat(
      lit("<Placemark>"),
      st_askml(col("geom")),
      opt(name, concat(lit("<name>"), xmlEscape(name), lit("</name>"))),
      opt(comments,
        concat(lit("<description>"), xmlEscape(comments), lit("</description>"))),
      opt(description,
        // HTML popups (warnify) are entity-escaped text in the XML, like the
        // reference's xml() pickling does to {description} (FGU:816-818).
        concat(lit("<description>"), xmlEscape(description), lit("</description>"))),
      opt(typ, concat(lit("<description>"), xmlEscape(typ), lit("</description>"))),
      opt(warnings,
        concat(lit("<ExtendedData><warnings>"), xmlEscape(warnings),
          lit("</warnings></ExtendedData>"))),
      opt(classCode,
        concat(lit("<ExtendedData><class_code>"), classCode,
          lit("</class_code></ExtendedData>"))),
      lit("""<styleUrl>#"""), styleExpr, lit("</styleUrl>"),
      lit("</Placemark>"))
  }

  /** Map a type/class column to its style id with table-default fallback —
    * the literal-dimension lookup join of SURVEY §2.3 J4. Tables with only
    * per-type/per-class ids get a defined catalog default (the reference's
    * fallback would emit an unresolvable styleUrl for an unknown type). */
  private def styleFor(table: String, typ: Option[Column],
      classCode: Option[Column]): Column = {
    val default = lit(Styles.tableStyle.getOrElse(table, table match {
      case "points_of_interest" => "point_of_interest_other_styles"
      case "zones" => "area_styles"
      case other => other
    }))
    (typ, classCode) match {
      case (Some(t), _) =>
        val m = Styles.poiStyleByType
        coalesce(
          m.foldLeft(lit(null).cast("string")) { case (acc, (k, v)) =>
            when(t === k, lit(v)).otherwise(acc) },
          default)
      case (_, Some(c)) =>
        val m = Styles.zoneStyleByClass
        coalesce(
          m.foldLeft(lit(null).cast("string")) { case (acc, (k, v)) =>
            when(c === k, lit(v)).otherwise(acc) },
          default)
      case _ => default
    }
  }

  /** Per-table placemark DataFrames in folder order (KML query set
    * FGU:865-922), each (id, placemark-string). */
  def kmlPlacemarks(tables: Map[String, DataFrame], areaId: Long)
      : Seq[(String, DataFrame)] = {

    def scoped(df: DataFrame, key: String = "area_id") =
      df.filter(col(key) === areaId)

    val areas = scoped(tables("areas_vw"), "id").select(col("id"),
      placemark("areas_vw", styleFor("areas_vw", None, None),
        name = col("name")).as("pm"))

    val poi = scoped(tables("points_of_interest")).select(col("id"),
      placemark("points_of_interest",
        styleFor("points_of_interest", Some(col("type")), None),
        name = col("name"), comments = col("comments"),
        typ = col("type")).as("pm"))

    val roads = scoped(tables("access_roads")).select(col("id"),
      placemark("access_roads", styleFor("access_roads", None, None),
        comments = col("description")).as("pm"))

    val paths = scoped(tables("avalanche_paths")).select(col("id"),
      placemark("avalanche_paths", styleFor("avalanche_paths", None, None),
        name = col("name")).as("pm"))

    val dp = scoped(tables("decision_points")).alias("dp")
    val dpw = tables("decision_points_warnings").alias("dpw")
    val joined = dp.join(dpw,
      col("dpw.decision_point_id") === col("dp.id"), "inner")
    val warnified = Warnify.kml(joined,
      geom = col("dp.geom"),
      typeCol = col("dpw.type"),
      warning = col("dpw.warning"),
      idCol = col("dp.id"))
    val dpPm = warnified
      .withColumnRenamed("geometry", "geom")
      .select(col("id"),
        placemark("decision_points", styleFor("decision_points", None, None),
          name = col("name"), description = col("description")).as("pm"))

    val zones = scoped(tables("zones")).select(col("id"),
      placemark("zones", styleFor("zones", None, Some(col("class_code"))),
        comments = col("comments"),
        classCode = col("class_code").cast("string")).as("pm"))

    Seq(
      "areas_vw" -> areas, "points_of_interest" -> poi,
      "access_roads" -> roads, "avalanche_paths" -> paths,
      "decision_points" -> dpPm, "zones" -> zones)
  }

  /** EP1: assemble the full KML document string (newDocument/newFolder
    * FGU:579-600; doc name = areas_vw first row name, FGU:610-612). The
    * reference appends Document `<name>` after folders and styles — we emit
    * name first (valid-KML order; content identical) and XML-escaped.
    *
    * One query per call: the doc-name lookup is tag 0 and folder `i` is tag
    * `i + 1` of a single union, so each folder keeps its placemarks in
    * ascending id and the folders keep their query order. */
  def kmlDocument(tables: Map[String, DataFrame], areaId: Long,
      lang: String = "en", iconNumber: Int = 11,
      iconDir: String = "files"): String = {

    val branches = kmlPlacemarks(tables, areaId)
    val nameRow = tables("areas_vw").filter(col("id") === areaId)
      .select(col("id"), xmlEscape(col("name")).as("pm"))
    val union = (nameRow +: branches.map(_._2)).zipWithIndex
      .map { case (df, i) => df.select(lit(i).as("tag"), col("id"), col("pm")) }
      .reduce(_.unionByName(_))
    val byTag = collectOrdered(union, "tag", "pm").groupMap(_._1)(_._2)

    val docName = byTag.get(0).map(_.head).getOrElse("")
    val folders = branches.zipWithIndex.map { case ((table, _), i) =>
      val pms = byTag.getOrElse(i + 1, Array.empty[String]).mkString
      s"<Folder><name>${displayName(table, lang)}</name>$pms</Folder>"
    }.mkString

    val styles = Styles.all(iconDir, iconNumber).mkString

    s"""<?xml version="1.0" encoding="UTF-8"?>""" +
      """<kml xmlns="http://www.opengis.net/kml/2.2"""" +
      """ xmlns:gx="http://www.google.com/kml/ext/2.2">""" +
      s"<Document><name>${docName}</name>$styles$folders</Document></kml>"
  }
}
