package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.expressions.NativeKernels
import graft.functions.GeoFns
import graft.lakehouse.Consultations
import graft.sources.GeoJsonIngest

/** GeoJSON → WKT ingest: the reference's geodata leg (API
  * GeoDataFrame → to_wkt → plain frame) as a Spark source.
  */
class GeoJsonIngestSpec extends SparkSpec {
  import spark.implicits._

  private val scratch = TestScratch("geojson")
  Files.createDirectories(Paths.get(scratch))

  private def wkt(geomType: String, coords: String): Option[String] =
    Seq((geomType, coords)).toDF("t", "c")
      .select(NativeKernels.geoJsonToWktCol($"t", $"c"))
      .as[Option[String]].head()

  describe("geoJsonToWkt kernel") {
    it("converts every GeoJSON geometry type") {
      wkt("Point", "[30.5, -10]") shouldBe Some("POINT (30.5 -10)")
      wkt("LineString", "[[0,0],[1,1],[2,0]]") shouldBe
        Some("LINESTRING (0 0, 1 1, 2 0)")
      wkt("Polygon", "[[[0,0],[4,0],[4,4],[0,0]]]") shouldBe
        Some("POLYGON ((0 0, 4 0, 4 4, 0 0))")
      wkt("Polygon", "[[[0,0],[9,0],[9,9],[0,0]],[[1,1],[2,1],[2,2],[1,1]]]") shouldBe
        Some("POLYGON ((0 0, 9 0, 9 9, 0 0), (1 1, 2 1, 2 2, 1 1))")
      wkt("MultiPoint", "[[1,2],[3,4]]") shouldBe
        Some("MULTIPOINT ((1 2), (3 4))")
      wkt("MultiLineString", "[[[0,0],[1,1]],[[2,2],[3,3]]]") shouldBe
        Some("MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))")
      wkt("MultiPolygon",
        "[[[[0,0],[1,0],[1,1],[0,0]]],[[[5,5],[6,5],[6,6],[5,5]]]]") shouldBe
        Some("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))")
    }
    it("keeps the source's exact decimal text and altitude, case-insensitive") {
      wkt("point", "[2.170006, 41.387900]") shouldBe
        Some("POINT (2.170006 41.387900)")
      wkt("POINT", "[1, 2, 350.5]") shouldBe Some("POINT (1 2 350.5)")
    }
    it("returns null for malformed or unsupported geometry, never throws") {
      wkt("Polygon", "[[[0,0],[4,0]") shouldBe None // truncated
      wkt("Polygon", "[[[0,junk],[4,0],[4,4],[0,0]]]") shouldBe None
      wkt("Point", "[1,2,3,4]") shouldBe None // not a position
      wkt("GeometryCollection", "[]") shouldBe None // unsupported
      wkt("Polygon", "[]") shouldBe None // empty
      wkt("Point", "[1,2] trailing") shouldBe None
    }
  }

  describe("GeoJsonIngest.read") {
    it("ingests a FeatureCollection: properties as raw JSON, geometry as WKT") {
      val p = Paths.get(scratch, "zones.geojson")
      Files.write(p,
        """{"type":"FeatureCollection","features":[
          |{"type":"Feature","id":"z1",
          | "properties":{"code":7,"name":"centre"},
          | "geometry":{"type":"Polygon",
          |   "coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]}},
          |{"type":"Feature","id":"z2",
          | "properties":{"code":8,"name":"junk geom"},
          | "geometry":{"type":"Polygon","coordinates":[[[0,"x"]]]}}
          |]}""".stripMargin.getBytes("UTF-8"))
      val df = GeoJsonIngest.read(spark, p.toString)
      df.columns.toSeq shouldBe
        Seq("feature_id", "properties_json", "geom_type", "wkt")
      val rows = df.orderBy($"feature_id")
        .select($"feature_id",
          get_json_object($"properties_json", "$.name").as("name"),
          $"wkt")
        .as[(String, String, Option[String])].collect()
      rows(0) shouldBe (("z1", "centre",
        Some("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")))
      // junk geometry surfaces as a null-wkt row for quarantine
      rows(1)._1 shouldBe "z2"
      rows(1)._3 shouldBe None
      // the produced WKT is consumable by the repo's own parser
      df.filter($"feature_id" === "z1")
        .select(GeoFns.parseWktPolygon($"wkt"))
        .head().isNullAt(0) shouldBe false
    }
  }

  describe("GeoJsonIngest.zones → Consultations") {
    it("an ingested GeoJSON zones dim drives polygonClusterDemand identically") {
      // rebuild the sandbox zone squares as a GeoJSON file: same
      // vertices, zone key in a feature property
      val zs = Consultations.zonePolygons(spark, sf)
        .select($"zone_id", $"polygon_wkt").as[(Long, String)]
        .collect().sortBy(_._1)
      val features = zs.map { case (id, w) =>
        val body = "(?s)POLYGON\\s*\\(\\(\\s*(.*?)\\s*\\)\\)".r
          .findFirstMatchIn(w).get.group(1)
        val coords = body.split(",\\s*").map { v =>
          val Array(x, y) = v.trim.split("\\s+")
          s"[$x,$y]"
        }.mkString("[[", ",", "]]")
        s"""{"type":"Feature","properties":{"code":$id},
           | "geometry":{"type":"Polygon","coordinates":$coords}}"""
          .stripMargin
      }
      val p = Paths.get(scratch, "grid_zones.geojson")
      Files.write(p, features.mkString(
        """{"type":"FeatureCollection","features":[""", ",", "]}")
        .getBytes("UTF-8"))
      val geo = GeoJsonIngest.zones(spark, p.toString, "code")
      geo.columns.toSeq shouldBe Seq("zone_id", "polygon_wkt", "ring")
      // rings parse to the same vertices as the built-in dim
      val a = geo.select($"zone_id", $"ring").as[(Long, Seq[(Double, Double)])]
        .collect().sortBy(_._1)
      val b = Consultations.zonePolygons(spark, sf)
        .select($"zone_id", $"ring").as[(Long, Seq[(Double, Double)])]
        .collect().sortBy(_._1)
      a shouldBe b
      // the consultation runs unchanged on the ingested dim
      val wkt = "POLYGON((-5 -5, -5 155, 155 155, 155 -5, -5 -5))"
      val viaGeo = Consultations.polygonClusterDemand(spark, sf,
        wkt, "2024-01-01", "2024-01-30", geo)
        .orderBy($"cluster_id", $"hour")
        .as[(Long, Int, Double, Long)].collect()
      val builtin = Consultations.polygonClusterDemand(spark, sf,
        wkt, "2024-01-01", "2024-01-30")
        .orderBy($"cluster_id", $"hour")
        .as[(Long, Int, Double, Long)].collect()
      viaGeo shouldBe builtin
      viaGeo.length should be > 0
    }
  }
}
