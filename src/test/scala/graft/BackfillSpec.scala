package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.jdk.CollectionConverters._

import graft.lakehouse.Backfill
import graft.sources.AtomicLake

/** Backfill semantics: per-date failure isolation, idempotent replay,
  * and the batch audit trail.
  */
class BackfillSpec extends SparkSpec {
  import spark.implicits._

  private val scratch = TestScratch("backfill")

  private def freshRoot(name: String): String = {
    val p = Paths.get(scratch, name)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    p.toString
  }

  private val d1 = LocalDate.parse("2024-03-01")
  private val d2 = LocalDate.parse("2024-03-02")
  private val d3 = LocalDate.parse("2024-03-03")

  private def goodBatch(d: LocalDate) =
    Seq((d.getDayOfMonth, d.toString)).toDF("id", "day")

  describe("Backfill.run") {
    it("a poisoned date fails alone; other dates commit; audit records both") {
      val root = freshRoot("poison")
      val audit = freshRoot("poison_audit")
      val report = Backfill.run(spark, root, Seq(d1, d2, d3), Seq("day"),
        d => if (d == d2) throw new IllegalStateException("source 500")
             else goodBatch(d),
        auditRoot = Some(audit))
      report.succeeded.map(_.date) shouldBe Seq(d1, d3)
      report.failed.map(_.date) shouldBe Seq(d2)
      report.failed.head.error.get should include("source 500")
      // the two healthy dates are committed and readable
      AtomicLake.read(spark, root).select("day").as[String]
        .collect().toSet shouldBe Set(d1.toString, d3.toString)
      // audit: one row per date + one batch summary, atomically logged
      val log = AtomicLake.read(spark, audit)
      log.filter($"date" === d2.toString).select("status").as[String]
        .head() shouldBe "failed"
      log.filter($"date" === "BATCH").select("status", "error")
        .as[(String, String)].head() shouldBe (("partial", "2 ok / 1 failed"))
      log.filter($"status" === "ok").count() shouldBe 2
    }
    it("re-running the range fills the hole and is idempotent for the rest") {
      val root = freshRoot("replay")
      var poisoned = true
      def batchFor(d: LocalDate) =
        if (poisoned && d == d2) throw new IllegalStateException("flaky")
        else goodBatch(d)
      Backfill.run(spark, root, Seq(d1, d2, d3), Seq("day"), batchFor)
        .failed.map(_.date) shouldBe Seq(d2)
      poisoned = false
      val second = Backfill.run(spark, root, Seq(d1, d2, d3), Seq("day"),
        batchFor)
      second.failed shouldBe empty
      val back = AtomicLake.read(spark, root)
      back.count() shouldBe 3 // per-date upserts replaced, not duplicated
      back.select("day").as[String].collect().toSet shouldBe
        Set(d1.toString, d2.toString, d3.toString)
    }
    it("a flaky date retries with backoff and lands; budget exhaustion fails it") {
      val root = freshRoot("flaky")
      var calls = 0
      val report = Backfill.run(spark, root, Seq(d1), Seq("day"),
        d => {
          calls += 1
          if (calls < 3) throw new IllegalStateException("transient 503")
          goodBatch(d)
        },
        retries = 3, retryDelayMs = 50L)
      report.failed shouldBe empty
      report.outcomes.head.attempts shouldBe 3
      AtomicLake.read(spark, root).count() shouldBe 1
      // budget exhausted: the date fails with the LAST error, attempts
      // recorded, and (failure isolation unchanged) other dates land
      val root2 = freshRoot("flaky_exhaust")
      val r2 = Backfill.run(spark, root2, Seq(d1, d2), Seq("day"),
        d => if (d == d1) throw new IllegalStateException("hard down")
             else goodBatch(d),
        retries = 2, retryDelayMs = 10L)
      r2.failed.map(_.date) shouldBe Seq(d1)
      r2.failed.head.attempts shouldBe 3 // 1 try + 2 re-attempts
      r2.succeeded.map(_.date) shouldBe Seq(d2)
    }
    it("dateRange is inclusive and ordered") {
      Backfill.dateRange(d1, d3) shouldBe Seq(d1, d2, d3)
      Backfill.dateRange(d1, d1) shouldBe Seq(d1)
      an[IllegalArgumentException] should be thrownBy
        Backfill.dateRange(d3, d1)
    }
  }
}
