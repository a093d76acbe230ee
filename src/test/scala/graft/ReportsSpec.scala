package graft

import java.nio.file.{Files, Paths}

import graft.lakehouse.Reports

/** Consultation SVG artifact rendering (reference parity:
  * mobility_consultations.py saves a per-polygon profile chart).
  */
class ReportsSpec extends SparkSpec {
  import spark.implicits._

  private val profile = Seq(
    (0L, 0, 10.0), (0L, 6, 40.0), (0L, 12, 80.0), (0L, 23, 20.0),
    (1L, 0, 5.0), (1L, 6, 15.0), (1L, 12, 25.0), (1L, 23, 10.0))
    .toDF("cluster_id", "hour", "avg_trips")

  describe("Reports.clusterProfileSvg") {
    val svg = Reports.clusterProfileSvg(profile, "zone A & friends")

    it("renders well-formed standalone SVG") {
      svg should startWith("<svg xmlns=\"http://www.w3.org/2000/svg\"")
      svg.trim should endWith("</svg>")
      // parses as XML (well-formedness, escaping of the '&' in title)
      noException should be thrownBy scala.xml.XML.loadString(svg)
      svg should include("zone A &amp; friends")
    }
    it("draws one polyline and one legend entry per cluster") {
      "<polyline ".r.findAllIn(svg).length shouldBe 2
      svg should include("cluster 0")
      svg should include("cluster 1")
    }
    it("scales y to the max value (peak touches the top margin)") {
      // cluster 0's hour-12 point (value 80 = max) sits at y = MT = 40
      svg should include(",40.00")
      svg should include("80.00</text>") // y-axis max label
    }
    it("is deterministic") {
      Reports.clusterProfileSvg(profile, "zone A & friends") shouldBe svg
    }
    it("fails loudly on an empty profile") {
      an[IllegalArgumentException] should be thrownBy
        Reports.clusterProfileSvg(profile.limit(0), "t")
    }
  }

  describe("Reports.clusterProfilePng") {
    val png = Reports.clusterProfilePng(profile)

    it("is a real PNG that decodes to the chart dimensions") {
      png.take(8).toSeq shouldBe
        Seq(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png))
      img.getWidth shouldBe 640
      img.getHeight shouldBe 360
      // background white, axis gray where the axes cross
      (img.getRGB(5, 5) & 0xffffff) shouldBe 0xffffff
      (img.getRGB(56, 324) & 0xffffff) shouldBe 0x888888
    }
    it("paints every series in its palette color") {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png))
      val pixels = (for (x <- 0 until img.getWidth;
                         y <- 0 until img.getHeight)
        yield img.getRGB(x, y) & 0xffffff).toSet
      pixels should contain(0x4269d0) // series 0
      pixels should contain(0xefb118) // series 1
    }
    it("is byte-deterministic") {
      Reports.clusterProfilePng(profile).toSeq shouldBe png.toSeq
    }
    it("fails loudly on an empty profile") {
      an[IllegalArgumentException] should be thrownBy
        Reports.clusterProfilePng(profile.limit(0))
    }
    it("writes through the Hadoop FS and reads back identical") {
      val dir = TestScratch("reports_png")
      val p = Reports.writeClusterProfilePng(profile, dir, "consult")
      p should endWith("consult.png")
      Files.readAllBytes(Paths.get(
        p.stripPrefix("file:"))).toSeq shouldBe png.toSeq
    }
  }

  describe("end-to-end with the real consultation") {
    it("renders polygonClusterDemand output directly") {
      val out = graft.lakehouse.Consultations.polygonClusterDemand(
        spark, sf, graft.queries.GeoQueries.consultationWkt,
        "2024-01-01", "2024-12-31")
      val svg = Reports.clusterProfileSvg(out, "consultation")
      svg should include("<polyline")
      // one legend entry per cluster the consultation produced
      val k = out.select("cluster_id").distinct().count()
      "cluster \\d".r.findAllIn(svg).size shouldBe k
    }
  }

  describe("Reports.writeClusterProfile") {
    it("writes the artifact through the Hadoop FS, overwriting") {
      val dir = Files.createTempDirectory("graft_reports").toString
      val p1 = Reports.writeClusterProfile(profile, dir, "zoneA", "t1")
      val p2 = Reports.writeClusterProfile(profile, dir, "zoneA", "t2")
      p1 shouldBe p2
      val body = new String(Files.readAllBytes(
        Paths.get(p1.stripPrefix("file:"))), "UTF-8")
      body should include("t2") // second write replaced the first
      body should startWith("<svg")
    }
  }
}
