package graft

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** The bench harness's row table, subset parsing and JSON blocks —
  * Spark-free: nothing here runs a row.
  */
class BenchSpec extends AnyFunSpec with Matchers {
  import Bench._

  private val all = tiers("/data/sf0.1", Map.empty)

  describe("Bench row table") {
    it("lists the main tier, then sf1, sf10, ov and vec") {
      all.map(_.tag) shouldBe Seq("main", "sf1", "sf10", "ov", "vec")
      all.head.rows.map(_.name).toSet shouldBe SparkEntry.queries.keySet
    }

    it("names only catalog queries in the sf1 and sf10 subsets") {
      SparkEntry.queries.keySet should contain allElementsOf sf1Subset
      SparkEntry.queries.keySet should contain allElementsOf sf10Subset
    }

    it("keeps row names unique within each tier") {
      all.foreach { t =>
        withClue(t.tag) {
          t.rows.map(_.name).distinct.size shouldBe t.rows.size
        }
      }
    }

    it("times catalog rows warm, ov rows min-of-runs, vec builds once") {
      all.take(3).foreach(_.rows.map(_.timing).toSet shouldBe Set(Warm))
      all(3).rows.map(_.timing).toSet shouldBe Set(Setup, Min)
      all(4).rows.map(r => r.name -> r.timing) shouldBe Seq(
        "vec_ivf_build" -> Once, "vec_ivf_probe" -> Min,
        "vec_sq_build" -> Once, "vec_sq_probe" -> Min,
        "vec_ivf_append10k" -> Once)
    }

    it("takes tier dirs from the environment, defaults under testdata/") {
      val t = tiers("/data/sf0.1",
        Map("SPARK_GRAFT_SF1_DIR" -> "/data/sf1", "SPARK_GRAFT_OV_DIR" -> "/ov"))
      t.map(_.dir).take(4) shouldBe Seq("/data/sf0.1", "/data/sf1",
        Scratch.path("testdata", "sf10"), "/ov")
      t(4).dir shouldBe Scratch.path("testdata", "vec100k")
    }
  }

  describe("SPARK_GRAFT_ONLY") {
    it("selects exactly the named main and tier:row rows") {
      parseOnly(" q1_agg,ov:ov_dedup_index_probe, vec:vec_sq_probe,sf1:q3_topn,",
        all) shouldBe Map(
        "main" -> Set("q1_agg"), "ov" -> Set("ov_dedup_index_probe"),
        "vec" -> Set("vec_sq_probe"), "sf1" -> Set("q3_topn"))
      parseOnly("", all) shouldBe Map.empty
    }

    it("refuses a name no tier times instead of skipping it") {
      Seq("ov:ov_dedup_nope", "sf2:q1_agg", "sf10:dedup_jaccard",
          "ov:ov_index_build", "no_such_query", "vec:q1_agg")
        .foreach { n =>
          val e = the[IllegalArgumentException] thrownBy parseOnly(n, all)
          e.getMessage should include(n)
        }
    }
  }

  describe("render") {
    val sf1 = all(1)
    val ov = all(3)

    it("writes a catalog tier's total, floor and per-row seconds") {
      render(Ran(sf1, None, 0.3, Seq("q1_agg" -> 1.234, "q3_topn" -> -1.0))) shouldBe (
        s""","sf1":{"dir":"${sf1.dir}","total":1.234,"floor":0.3,""" +
          """"queries":{"q1_agg":1.234,"q3_topn":-1.0}}""",
        """"sf1_total":1.234,"sf1_n":1,"sf1_floor":0.3,""" +
          """"sf1_q":{"q1_agg":1.23,"q3_topn":-1.0},""")
    }

    it("writes no total for the ov and vec tiers") {
      render(Ran(ov, None, 0.25, Seq("ov_dedup_exact" -> 2.0)))._1 shouldBe
        s""","ov":{"dir":"${ov.dir}","floor":0.25,"queries":{"ov_dedup_exact":2.0}}"""
    }

    it("marks a skipped tier and leaves it off the compact line") {
      render(Ran(ov, Some("only-subset run"), -1.0, Nil)) shouldBe (
        s""","ov":{"dir":"${ov.dir}","skipped":"only-subset run"}""", "")
    }
  }
}
