package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.lakehouse.Pipeline
import graft.sources.AtomicLake

/** Code-first DAG orchestration (Airflow-parity semantics: topo
  * order, retries with backoff, downstream skip on failure, ACID
  * audit log).
  */
class DagPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val p = Paths.get(TestScratch(s"dag_$name"))
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    p.toString
  }

  describe("Pipeline.run") {
    it("executes in dependency order, declaration order among ready tasks") {
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      val r = new Pipeline("order")
        .task("gold", deps = Seq("silver"))(_ => seen += "gold")
        .task("bronze_b")(_ => seen += "bronze_b")
        .task("bronze_a")(_ => seen += "bronze_a")
        .task("silver", deps = Seq("bronze_a", "bronze_b"))(_ =>
          seen += "silver")
        .run(spark)
      // gold declared first but waits for silver; ready tasks keep
      // declaration order (bronze_b before bronze_a)
      seen.toSeq shouldBe Seq("bronze_b", "bronze_a", "silver", "gold")
      r.map(_.status).distinct shouldBe Seq("success")
    }

    it("a failure skips ONLY its downstream; independent branches run") {
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      val r = new Pipeline("skip")
        .task("a")(_ => seen += "a")
        .task("bad", deps = Seq("a"))(_ => sys.error("boom"))
        .task("after_bad", deps = Seq("bad"))(_ => seen += "after_bad")
        .task("other", deps = Seq("a"))(_ => seen += "other")
        .run(spark)
      seen.toSeq shouldBe Seq("a", "other")
      r.map(t => t.task -> t.status).toMap shouldBe Map(
        "a" -> "success", "bad" -> "failed",
        "after_bad" -> "skipped", "other" -> "success")
    }

    it("retries with the declared budget; flaky tasks recover") {
      var calls = 0
      val r = new Pipeline("retry")
        .task("flaky", retries = 3, retryDelayMs = 1L) { _ =>
          calls += 1
          if (calls < 3) sys.error(s"transient $calls")
        }
        .run(spark)
      calls shouldBe 3
      r.head.status shouldBe "success"
      r.head.attempts shouldBe 3
    }

    it("exhausted retries mark failed and carry the last error") {
      val r = new Pipeline("fail")
        .task("dead", retries = 2, retryDelayMs = 1L)(_ =>
          sys.error("always"))
        .run(spark)
      r.head.status shouldBe "failed"
      r.head.attempts shouldBe 3
      r.head.error.get should include("always")
    }

    it("refuses cycles, unknown deps, and duplicate ids before running") {
      intercept[IllegalArgumentException] {
        new Pipeline("cycle")
          .task("a", deps = Seq("b"))(_ => ())
          .task("b", deps = Seq("a"))(_ => ())
          .run(spark)
      }.getMessage should include("cycle")
      intercept[IllegalArgumentException] {
        new Pipeline("dep")
          .task("a", deps = Seq("ghost"))(_ => ())
          .run(spark)
      }.getMessage should include("unknown")
      intercept[IllegalArgumentException] {
        new Pipeline("dup").task("a")(_ => ()).task("a")(_ => ())
      }.getMessage should include("duplicate")
    }
  }

  describe("Pipeline.runLogged") {
    it("appends one ACID audit row per task, queryable across runs") {
      val audit = freshRoot("audit")
      val p = new Pipeline("etl")
        .task("ingest")(_ => ())
        .task("broken", deps = Seq("ingest"))(_ => sys.error("nope"))
        .task("report", deps = Seq("broken"))(_ => ())
      p.runLogged(spark, audit)
      p.runLogged(spark, audit)
      val log = AtomicLake.read(spark, audit)
      log.count() shouldBe 6 // 3 tasks x 2 runs
      log.select("run_id").distinct().count() shouldBe 2
      log.filter($"task" === "broken" && $"status" === "failed")
        .count() shouldBe 2
      log.filter($"task" === "report" && $"status" === "skipped")
        .count() shouldBe 2
      log.select("pipeline").distinct().as[String].head() shouldBe "etl"
    }

    it("resumeLogged re-runs only failed/skipped tasks; successes are cached") {
      val audit = freshRoot("resume_audit")
      val ran = scala.collection.mutable.ArrayBuffer.empty[String]
      var healthy = false
      def build() = new Pipeline("resumable")
        .task("a")(_ => ran += "a")
        .task("flaky", deps = Seq("a")) { _ =>
          ran += "flaky"
          if (!healthy) sys.error("transient outage")
        }
        .task("b", deps = Seq("flaky"))(_ => ran += "b")
        .task("side", deps = Seq("a"))(_ => ran += "side")
      // first run: flaky fails, b skips, a+side succeed
      build().runLogged(spark, audit)
      ran.toSeq shouldBe Seq("a", "flaky", "side")
      // the outage clears; resume executes ONLY flaky and b
      healthy = true
      ran.clear()
      val r2 = build().resumeLogged(spark, audit)
      ran.toSeq shouldBe Seq("flaky", "b")
      r2.map(t => t.task -> t.status).toMap shouldBe Map(
        "a" -> "cached", "flaky" -> "success",
        "b" -> "success", "side" -> "cached")
      // both runs audited; a fully-green resume caches everything
      AtomicLake.read(spark, audit).select("run_id").distinct()
        .count() shouldBe 2
      ran.clear()
      build().resumeLogged(spark, audit).map(_.status)
        .distinct shouldBe Seq("cached")
      ran shouldBe empty
    }

    it("drives a bronze->silver->gold lake chain end-to-end") {
      val lake = freshRoot("chain_lake")
      val gold = freshRoot("chain_gold")
      val audit = freshRoot("chain_audit")
      val results = new Pipeline("mini_etl")
        .task("bronze", retries = 3, retryDelayMs = 1L) { s =>
          AtomicLake.upsertPartitions(
            (1 to 100).map(i => (i, i % 5, s"d${i % 3}"))
              .toDF("id", "m", "day"),
            lake, Seq("day"))
        }
        .task("silver", deps = Seq("bronze")) { s =>
          AtomicLake.deleteWhereDV(s, lake)($"m" === 0)
        }
        .task("gold", deps = Seq("silver")) { s =>
          AtomicLake.overwrite(
            AtomicLake.read(s, lake).groupBy("day")
              .agg(org.apache.spark.sql.functions.count(
                org.apache.spark.sql.functions.lit(1)).as("n")),
            gold)
        }
        .runLogged(spark, audit)
      results.map(_.status).distinct shouldBe Seq("success")
      AtomicLake.read(spark, gold)
        .agg(org.apache.spark.sql.functions.sum("n")).as[Long]
        .head() shouldBe 80 // 100 minus the 20 dv-deleted rows
      AtomicLake.read(spark, audit).count() shouldBe 3
    }
  }
}
