package graft

import org.apache.spark.sql.functions._
import graft.functions.GeoFns

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  private val square = "POLYGON((10 20, 30 20, 30 40, 10 40, 10 20))"

  describe("PolygonBBoxPruning") {
    it("conjoins pushable bbox bounds for a literal-ring filter") {
      val dir = TestScratch("geo_parquet_opt")
      Seq((5.0, 5.0), (20.0, 30.0), (50.0, 50.0)).toDF("x", "y")
        .write.mode("overwrite").parquet(dir)
      val q = spark.read.parquet(dir)
        .filter(GeoFns.pointInPolygon($"x", $"y",
          GeoFns.parseWktPolygon(lit(square))))
      val opt = q.queryExecution.optimizedPlan.toString
      opt should include(">= 10.0")
      opt should include("<= 30.0")
      opt should include(">= 20.0")
      opt should include("<= 40.0")
      // rule is idempotent: bounds appear exactly once each
      "(?<![0-9.])>= 10\\.0".r.findAllIn(opt).size shouldBe 1
      q.as[(Double, Double)].collect() shouldBe Array((20.0, 30.0))
    }

    it("pushes the derived bounds down to the parquet scan") {
      val dir = TestScratch("geo_parquet")
      Seq((5.0, 5.0), (20.0, 30.0), (50.0, 50.0)).toDF("x", "y")
        .write.mode("overwrite").parquet(dir)
      val q = spark.read.parquet(dir)
        .filter(GeoFns.pointInPolygon($"x", $"y",
          GeoFns.parseWktPolygon(lit(square))))
      val scan = q.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.get
      val pushed = scan.metadata("PushedFilters")
      pushed should include("GreaterThanOrEqual(x,10.0)")
      pushed should include("LessThanOrEqual(x,30.0)")
      pushed should include("GreaterThanOrEqual(y,20.0)")
      pushed should include("LessThanOrEqual(y,40.0)")
      q.count() shouldBe 1
    }

    it("registers the reference's spatial SQL surface") {
      spark.sql("SELECT haversine_km(0.0, 0.0, 0.0, 1.0) AS d")
        .collect()(0).getDouble(0) shouldBe 111.19 +- 0.1
      val r = spark.sql(
        s"""SELECT st_contains_point(st_geomfromtext('$square'), 20.0, 30.0) AS inside,
           |       st_centroid(st_geomfromtext('$square')).x AS cx""".stripMargin)
        .collect()(0)
      r.getBoolean(0) shouldBe true
      r.getDouble(1) shouldBe 20.0 +- 1e-9
      // polygon×polygon predicate under its reference SQL name
      spark.sql(
        s"""SELECT st_intersects(st_geomfromtext('$square'),
           |  st_geomfromtext('POLYGON((25 35, 60 35, 60 60, 25 60, 25 35))'))
           |  AS hit""".stripMargin)
        .collect()(0).getBoolean(0) shouldBe true
      // the optimizer rule fires on SQL-path filters too
      val dir = TestScratch("geo_parquet")
      spark.read.parquet(dir).createOrReplaceTempView("pts")
      val opt = spark.sql(
        s"SELECT * FROM pts WHERE st_contains_point(st_geomfromtext('$square'), x, y)")
        .queryExecution.optimizedPlan.toString
      opt should include(">= 10.0")
    }

    it("registers the text-pipeline SQL surface over the native kernels") {
      val r = spark.sql(
        """SELECT graft_lang_id('the the le quick') AS lang,
          |  graft_word_count(' a  b c ') AS n,
          |  graft_pii_scrub('mail bob@x.co now') AS scrubbed,
          |  graft_fingerprint('abc') AS fp,
          |  graft_quality_score('') AS q0""".stripMargin).collect()(0)
      r.getString(0) shouldBe "en"
      r.getInt(1) shouldBe 3
      r.getString(2) shouldBe "mail <EMAIL> now"
      // (('a'*131 + 'b')*131 + 'c') mod 1e9+7
      r.getLong(3) shouldBe ((97L * 131 + 98) * 131 + 99) % 1000000007L
      // empty text: len 0, stop 0, punct 0 -> (0 + 0 + 1)/3
      r.getDouble(4) shouldBe 1.0 / 3.0 +- 1e-12
    }

    it("registers the curation SQL surface (url parse + segments)") {
      val r = spark.sql(
        """SELECT graft_url_host('https://a.b.co/x?y=1') AS host,
          |  graft_url_path('https://a.b.co/x?y=1') AS path,
          |  graft_registered_domain('a.b.co') AS dom,
          |  graft_segments('a b c d e', 2) AS segs""".stripMargin)
        .collect()(0)
      r.getString(0) shouldBe "a.b.co"
      r.getString(1) shouldBe "/x"
      r.getString(2) shouldBe "b.co"
      r.getSeq[String](3) shouldBe Seq("a b", "c d", "e")
    }

    it("refuses a non-literal k for graft_segments") {
      an[Exception] should be thrownBy
        spark.sql("SELECT graft_segments('a b', graft_word_count('x y'))")
          .collect()
    }

    it("matches the declarative reference on real zone data") {
      val ring = GeoFns.parseWktPolygon(
        lit(graft.queries.GeoQueries.consultationWkt))
      val zones = graft.sources.Tables.nation(spark, sf)
        .select(col("n_nationkey").cast("long").as("zone_id"),
          graft.operators.Gravity.zoneXKm(col("n_nationkey")).as("x"),
          graft.operators.Gravity.zoneYKm(col("n_nationkey")).as("y"))
      val native = zones.filter(
        GeoFns.pointInPolygon($"x", $"y", ring))
        .select("zone_id").as[Long].collect().sorted
      val ref = zones.filter(
        GeoFns.pointInPolygonReference($"x", $"y", ring))
        .select("zone_id").as[Long].collect().sorted
      native shouldBe ref
      native.length should be > 0
    }
  }
}
