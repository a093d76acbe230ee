package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.operators.{AsOfJoin, Dedup, Sampling}

/** Extended training-data-pipeline operators (SURVEY.md §2 G1-G5). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  describe("AsOfJoin.asOf") {
    val right = Seq((1, 10, "a"), (1, 20, "b"), (2, 15, "c"))
      .toDF("k", "ts", "v")
    val left = Seq((101, 1, 5), (102, 1, 10), (103, 1, 25), (104, 2, 14),
      (105, 3, 99)).toDF("id", "k", "ts")

    it("matches the greatest right ts at-or-before (inclusive)") {
      val r = AsOfJoin.asOf(left, right, "k", "k", "ts", "ts",
          payload = Seq("v"), inclusive = true)
        .select($"id", $"v").as[(Int, Option[String])]
        .collect().toMap
      r shouldBe Map(101 -> None, 102 -> Some("a"), 103 -> Some("b"),
        104 -> None, 105 -> None)
    }
    it("excludes equal timestamps under strict semantics") {
      val r = AsOfJoin.asOf(left, right, "k", "k", "ts", "ts",
          payload = Seq("v"), inclusive = false)
        .select($"id", $"v").as[(Int, Option[String])]
        .collect().toMap
      r(102) shouldBe None // ts=10 equals right ts=10: not visible
      r(103) shouldBe Some("b")
    }
    it("returns every left row exactly once with the matched ts") {
      val r = AsOfJoin.asOf(left, right, "k", "k", "ts", "ts",
        payload = Seq("v"), matchedTsName = "mts")
      r.count() shouldBe left.count()
      r.filter($"id" === 103).select($"mts").as[Int].head() shouldBe 20
    }
    it("asOfForward matches the SMALLEST right ts at-or-after") {
      val r = AsOfJoin.asOfForward(left, right, "k", "k", "ts", "ts",
          payload = Seq("v"), inclusive = true)
        .select($"id", $"v").as[(Int, Option[String])]
        .collect().toMap
      r shouldBe Map(101 -> Some("a"), 102 -> Some("a"),
        103 -> None, 104 -> Some("c"), 105 -> None)
      // strict: the equal-ts right row (102 at ts=10) is not visible
      val strict = AsOfJoin.asOfForward(left, right, "k", "k",
          "ts", "ts", payload = Seq("v"), inclusive = false)
        .select($"id", $"v").as[(Int, Option[String])]
        .collect().toMap
      strict(102) shouldBe Some("b")
    }
  }

  describe("Sampling") {
    it("is deterministic and respects the bucket bound") {
      val df = spark.range(0, 10000).toDF("id")
      val a = Sampling.sampleByHash(df, "id", 20).select("id")
        .as[Long].collect().sorted
      val b = Sampling.sampleByHash(df.repartition(13), "id", 20)
        .select("id").as[Long].collect().sorted
      a shouldBe b // partitioning-independent
      // ~20% within a loose tolerance
      a.length.toDouble / 10000 shouldBe 0.2 +- 0.05
    }
    it("applies per-stratum rates with a default") {
      val df = Seq((1L, "en"), (2L, "fr")).toDF("id", "s")
        .crossJoin(spark.range(0, 500).toDF("n"))
        .select(($"id" * 1000 + $"n").as("id"), $"s")
      val kept = Sampling.stratifiedSample(df, "id", "s",
        rates = Map("en" -> 0), defaultPct = 100)
      kept.filter($"s" === "en").count() shouldBe 0
      kept.filter($"s" === "fr").count() shouldBe 500
    }
    it("temperature sampling keeps small domains whole and flattens " +
        "big ones toward sqrt-proportional counts") {
      // big: 10000 ids, small: 80 ids (n <= k^2 = 100 passes whole)
      val df = spark.range(0, 10000).toDF("id")
        .withColumn("dom", lit("big"))
        .union(spark.range(20000, 20080).toDF("id")
          .withColumn("dom", lit("small")))
      val kept = Sampling.temperatureSample(df, "id", "dom", k = 10.0)
        .groupBy("dom").count().as[(String, Long)].collect().toMap
      kept("small") shouldBe 80 // rate min(1, 10/sqrt(80)) = 1
      // big: rate 10/sqrt(10000) = 0.1 → ~1000 of 10000
      kept("big").toDouble shouldBe 1000.0 +- 150.0
      // deterministic under repartitioning
      val again = Sampling
        .temperatureSample(df.repartition(13), "id", "dom", k = 10.0)
        .select("id").as[Long].collect().sorted
      again shouldBe Sampling.temperatureSample(df, "id", "dom", 10.0)
        .select("id").as[Long].collect().sorted
    }
    it("leakage-safe split never lets a near-dup pair straddle splits") {
      val docs = spark.range(0, 500).toDF("doc_id")
      // chains + a cycle: components {1,2,3,4}, {10,11,12}, rest single
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
        (11L, 12L), (12L, 10L)).toDF("id1", "id2")
      val s = Sampling.leakageSafeSplit(docs, "doc_id", pairs)
        .as[(Long, Long, Long, String)].collect()
      s.length shouldBe 500
      val byDoc = s.map(r => r._1 -> r._4).toMap
      // every clustered doc shares its cluster's split
      Seq(2L, 3L, 4L).foreach(d => byDoc(d) shouldBe byDoc(1L))
      Seq(11L, 12L).foreach(d => byDoc(d) shouldBe byDoc(10L))
      // splits partition the corpus roughly 80/10/10
      val frac = s.groupBy(_._4).view.mapValues(_.length / 500.0).toMap
      frac("train") shouldBe 0.8 +- 0.1
      (frac.getOrElse("val", 0.0) + frac.getOrElse("test", 0.0)) shouldBe
        0.2 +- 0.1
      // singletons hash their own id: stable under cluster additions
      val s2 = Sampling.leakageSafeSplit(docs, "doc_id",
          pairs.union(Seq((100L, 101L)).toDF("id1", "id2")))
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> r._4).toMap
      // untouched docs keep their split; only the new cluster may move
      s.map(r => r._1 -> r._4).filterNot(kv => kv._1 == 100L || kv._1 == 101L)
        .foreach { case (d, sp) => s2(d) shouldBe sp }
    }
  }

  describe("Dedup.connectedComponents") {
    it("collapses chains that pairwise dedup would miss") {
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
        .toDF("a", "b")
      val cc = Dedup.connectedComponents(pairs, "a", "b")
        .as[(Long, Long)].collect().toMap
      cc shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L)
    }
    it("handles cycles and singleton edges") {
      val pairs = Seq((5L, 6L), (6L, 7L), (7L, 5L)).toDF("a", "b")
      Dedup.connectedComponents(pairs, "a", "b")
        .select(countDistinct($"component")).as[Long].head() shouldBe 1L
    }
    it("driver union-find and distributed fixpoint label identically") {
      // a mixed graph: chain, triangle-cycle, two singleton edges
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 5L), (5L, 6L),
        (6L, 7L), (10L, 11L), (20L, 21L), (21L, 12L), (12L, 2L))
        .toDF("a", "b")
      val fast = Dedup.connectedComponents(pairs, "a", "b")
        .as[(Long, Long)].collect().toMap
      val dist = Dedup.connectedComponents(pairs, "a", "b",
          driverMaxEdges = 0L) // force the distributed loop
        .as[(Long, Long)].collect().toMap
      fast shouldBe dist
      fast(12L) shouldBe 1L // 20-21-12-2 chain merges into the 1-group
    }
  }

  describe("Dedup.fuzzyMatches") {
    it("matches within the edit-distance bound inside blocks only") {
      val df = Seq(
        (1L, "Acme Corp"), (2L, "Acme Corp."), (3L, "Acme Group"),
        (4L, "Bcme Corp")) // one edit from Acme Corp but different block
        .toDF("id", "name")
      val m = Dedup.fuzzyMatches(df, "id", "name",
          nm => substring(nm, 1, 1), maxDist = 2)
        .select($"id1", $"id2", $"dist").as[(Long, Long, Int)]
        .collect().toSet
      m shouldBe Set((1L, 2L, 1)) // Acme Corp ~ Acme Corp. (1 edit)
      // 1~3 is 4 edits (out of bound); 1~4 blocked apart despite dist 1
    }
  }

  describe("Quality.validate") {
    import graft.operators.Quality
    import graft.operators.Quality.Constraint
    it("evaluates the whole suite in one scan with exact rates") {
      val df = Seq((1, Some(5)), (2, Some(-1)), (3, None), (4, Some(2)))
        .toDF("id", "v")
      val r = Quality.validate(df, "t", Seq(
          Constraint("v_not_null", $"v".isNotNull, 0.5),
          Constraint("v_nonneg", $"v" >= 0, 0.9),
          Constraint("id_pos", $"id" > 0)))
        .select($"constraint_name", $"n_ok", $"passed")
        .as[(String, Long, Boolean)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      r("v_not_null") shouldBe ((3L, true))
      r("v_nonneg") shouldBe ((2L, false))
      r("id_pos") shouldBe ((4L, true))
    }
    it("plans a single aggregation over the input") {
      val df = Seq((1, 2)).toDF("a", "b")
      val plan = Quality.validate(df, "t", Seq(
          Constraint("a", $"a" > 0), Constraint("b", $"b" > 0)))
        .queryExecution.executedPlan.toString
      // one scan feeding one (partial, final) agg pair — no union of
      // per-constraint subplans
      "LocalTableScan".r.findAllIn(plan).size shouldBe 1
    }
    it("an empty table fails loudly instead of reporting null") {
      val empty = Seq.empty[(Int, Int)].toDF("a", "b")
      val r = Quality.validate(empty, "t",
          Seq(Constraint("a_pos", $"a" > 0, 0.9)))
        .select($"pass_rate", $"passed").as[(Double, Boolean)].head()
      r shouldBe ((0.0, false))
    }
    it("logTo appends runs to a persistent, partitioned audit table") {
      val root = TestScratch("dq_log")
      val p = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
      val df = Seq((1, 5), (2, -1)).toDF("id", "v")
      val suite = Seq(Constraint("v_nonneg", $"v" >= 0, 1.0))
      Quality.logTo(Quality.validate(df, "t", suite), root, runId = "run-1")
      Quality.logTo(Quality.validate(df, "t", suite), root, runId = "run-2")
      val back = Quality.readLog(spark, root)
      back.count() shouldBe 2
      back.select("run_id").as[String].collect().toSet shouldBe
        Set("run-1", "run-2")
      back.columns should contain allOf ("run_ts", "run_date",
        "constraint_name", "pass_rate", "passed")
      // each run was one atomic commit
      graft.sources.AtomicLake.currentVersion(root) shouldBe Some(2L)
    }
  }

  describe("Silver.scd2FromChangeLog") {
    import graft.lakehouse.Silver
    it("collapses unchanged runs and closes versions with the next change") {
      val log = Seq(
        (1, 10, 100, "A"), (1, 20, 101, "A"), (1, 30, 102, "B"),
        (1, 40, 103, "A"), (2, 10, 104, "X"))
        .toDF("k", "ts", "chg_id", "status")
      val r = Silver.scd2FromChangeLog(log, "k", "ts",
          Seq("chg_id"), Seq("status"))
        .select($"k", $"status", $"valid_from", $"valid_to", $"is_current")
        .as[(Int, String, Int, Option[Int], Boolean)].collect().toSet
      r shouldBe Set(
        (1, "A", 10, Some(30), false),
        (1, "B", 30, Some(40), false),
        (1, "A", 40, None, true),
        (2, "X", 10, None, true))
    }
  }

  describe("Incremental additive maintenance") {
    import graft.operators.Incremental
    it("merged partials equal the full recompute bit-for-bit") {
      val ev = graft.sources.Tables.events(spark, sf)
        .filter($"value".isNotNull)
        .withColumn("date", to_date($"ts"))
      val keys = Seq("date")
      val ms = Map("v" -> col("value"))
      val parts = (0 until 3).map(i =>
        Incremental.partialSums(
          ev.filter(pmod($"user_id", lit(3)) === i), keys, ms))
      val merged = Incremental.finalize(
        Incremental.merge(parts, keys, Seq("v")), Seq("v"))
      val full = Incremental.finalize(
        Incremental.partialSums(ev, keys, ms), Seq("v"))
      merged.exceptAll(full).unionAll(full.exceptAll(merged))
        .count() shouldBe 0
    }
    it("merge is associative: merge(merge(A,B),C) == merge(A,B,C)") {
      val ev = graft.sources.Tables.events(spark, sf)
        .withColumn("date", to_date($"ts"))
      val ms = Map("v" -> col("value"))
      val parts = (0 until 3).map(i =>
        Incremental.partialSums(
          ev.filter(pmod($"event_id", lit(3)) === i), Seq("date"), ms))
      val stepwise = Incremental.merge(
        Seq(Incremental.merge(parts.take(2), Seq("date"), Seq("v")),
          parts(2)), Seq("date"), Seq("v"))
      val flat = Incremental.merge(parts, Seq("date"), Seq("v"))
      stepwise.exceptAll(flat).unionAll(flat.exceptAll(stepwise))
        .count() shouldBe 0
    }
  }

  describe("SessionMemo per-session cap") {
    it("evicts oldest entries past the cap, handing them to onEvict") {
      val evicted = scala.collection.mutable.ArrayBuffer.empty[String]
      val memo = new graft.sources.SessionMemo[Int, String](
        maxPerSession = 2, onEvict = evicted += _)
      memo.getOrElseUpdate(spark, 1)("one")
      memo.getOrElseUpdate(spark, 2)("two")
      memo.getOrElseUpdate(spark, 3)("three")
      memo.size shouldBe 2
      evicted.toSeq shouldBe Seq("one")
      // the evicted key rebuilds; the freshest survivors are served
      memo.getOrElseUpdate(spark, 3)("WRONG") shouldBe "three"
      memo.getOrElseUpdate(spark, 1)("one again") shouldBe "one again"
      evicted.toSeq shouldBe Seq("one", "two")
    }
  }

  describe("TextFns PII scrub") {
    it("redacts emails and phone runs, leaves clean text alone") {
      val r = Seq(
        "mail me at a.b-c%d@ex-1.co today",
        "call +34 600 123 456 now",
        "digits 12 34 stay short",
        "clean prose only")
        .toDF("t")
        .select(TextFns.piiScrub($"t").as("s"), TextFns.piiCount($"t").as("n"))
        .as[(String, Int)].collect()
      r(0) shouldBe (("mail me at <EMAIL> today", 1))
      r(1) shouldBe (("call <PHONE> now", 1))
      r(2) shouldBe (("digits 12 34 stay short", 0))
      r(3) shouldBe (("clean prose only", 0))
    }
  }
}
