package graft

import org.apache.spark.sql.functions._
// (distributed-harvest case below exercises the >threshold path)
import graft.sources.{AtomicLake, LakeStats}

/** Manifest zone-maps + stats-pruned scan (SURVEY.md §2 G24): stats
  * are harvested from footers at commit time, survive manifest merges
  * and compaction, and [[AtomicLake.scan]] skips exactly the files a
  * predicate provably cannot match — with results always identical to
  * read().filter(). The pruning evaluator is conservative: anything
  * it can't prove keeps the file.
  */
class LakeScanSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = TestScratch(s"lakescan_$name")
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    root
  }

  /** Three appends with disjoint id ranges -> three files with
    * disjoint zone maps.
    */
  private def threeChunks(root: String): Unit = {
    AtomicLake.append(Seq((1L, "a", 1.5), (9L, "b", 2.5))
      .toDF("id", "s", "v"), root)
    AtomicLake.append(Seq((10L, "c", 3.5), (19L, "d", 4.5))
      .toDF("id", "s", "v"), root)
    AtomicLake.append(Seq((20L, "e", 5.5), (29L, "f", 6.5))
      .toDF("id", "s", "v"), root)
  }

  describe("stats collection") {
    it("commit harvests per-file min/max/nulls for atomic columns") {
      val root = freshRoot("collect")
      AtomicLake.append(Seq((1L, "b", Some(1.5)), (9L, "a", None))
        .toDF("id", "s", "v"), root)
      val snap = AtomicLake.currentSnapshot(root).get
      snap.stats should have size 1
      val st = snap.stats.values.head
      st.rows shouldBe 2L
      st.cols("id") shouldBe LakeStats.ColStats("long",
        Some(LakeStats.NumBound(BigDecimal(1))),
        Some(LakeStats.NumBound(BigDecimal(9))), Some(0L))
      st.cols("s") shouldBe LakeStats.ColStats("string",
        Some(LakeStats.StrBound("a")), Some(LakeStats.StrBound("b")),
        Some(0L))
      st.cols("v").nulls shouldBe Some(1L)
    }
    it("a large commit harvests through the distributed path — every " +
        "file still gets stats") {
      val root = freshRoot("collect_big")
      // 80 staged files crosses the distributed-harvest threshold
      AtomicLake.append((1 to 400).toDF("id"), root,
        filesPerPartition = 80)
      val snap = AtomicLake.currentSnapshot(root).get
      val files = snap.files.values.flatten.toSeq
      files.size should be > 64
      files.foreach { f =>
        snap.stats.keySet should contain(f)
        snap.stats(f).cols.keySet should contain("id")
      }
      snap.stats.values.map(_.rows).sum shouldBe 400L
      // and the maps prune as usual
      AtomicLake.scan(spark, root)($"id" === 1).count() shouldBe 1
    }
    it("stats survive the manifest merge of later commits") {
      val root = freshRoot("merge")
      threeChunks(root)
      val snap = AtomicLake.currentSnapshot(root).get
      snap.stats should have size 3 // every commit's file kept its map
    }
    it("partition columns are excluded from file stats (dir prunes them)") {
      val root = freshRoot("partcols")
      AtomicLake.upsertPartitions(
        Seq((1L, "x", "p1"), (2L, "y", "p2")).toDF("id", "s", "part"),
        root, Seq("part"))
      val snap = AtomicLake.currentSnapshot(root).get
      all(snap.stats.values.map(_.cols.keySet)) should not contain "part"
    }
  }

  describe("scan pruning") {
    it("skips files whose range can't match; result == read+filter") {
      val root = freshRoot("prune")
      threeChunks(root)
      val full = AtomicLake.read(spark, root)
      full.inputFiles.length shouldBe 3
      val pruned = AtomicLake.scan(spark, root)($"id" >= 10L && $"id" < 20L)
      pruned.inputFiles.length shouldBe 1
      pruned.select("id").as[Long].collect().sorted shouldBe
        Array(10L, 19L)
      // equality + IN + string range
      AtomicLake.scan(spark, root)($"id" === 25L)
        .inputFiles.length shouldBe 1
      AtomicLake.scan(spark, root)($"id".isin(3L, 27L))
        .inputFiles.length shouldBe 2
      AtomicLake.scan(spark, root)($"s" >= "e")
        .inputFiles.length shouldBe 1
    }
    it("an impossible predicate plans zero files, schema intact") {
      val root = freshRoot("empty")
      threeChunks(root)
      val none = AtomicLake.scan(spark, root)($"id" > 1000L)
      none.inputFiles.length shouldBe 0
      none.count() shouldBe 0L
      none.columns.toSeq shouldBe Seq("id", "s", "v")
    }
    it("OR keeps a file either side may match; AND needs both") {
      val root = freshRoot("bool")
      threeChunks(root)
      AtomicLake.scan(spark, root)($"id" < 5L || $"id" > 25L)
        .inputFiles.length shouldBe 2
      AtomicLake.scan(spark, root)($"id" > 5L && $"id" < 15L)
        .inputFiles.length shouldBe 2
    }
    it("unknown shapes and mismatched literal domains never prune") {
      val root = freshRoot("conservative")
      threeChunks(root)
      // arithmetic over the column: evaluator bails, keeps all files
      AtomicLake.scan(spark, root)($"id" + 1L > 1000L)
        .inputFiles.length shouldBe 3
      // string literal vs long column: Catalyst would cast — we don't
      // model it, so no pruning (and the filter still applies)
      val df = AtomicLake.scan(spark, root)($"id" === "19")
      df.inputFiles.length shouldBe 3
      df.select("id").as[Long].collect().toSeq shouldBe Seq(19L)
    }
    it("timestamp ranges prune through cast literals (µs zone maps)") {
      val root = freshRoot("ts")
      val mk = (d: String) => java.sql.Timestamp.valueOf(d)
      AtomicLake.append(Seq((1L, mk("2024-01-03 10:00:00")),
        (2L, mk("2024-01-28 10:00:00"))).toDF("id", "ts"), root)
      AtomicLake.append(Seq((3L, mk("2024-02-03 10:00:00")),
        (4L, mk("2024-02-27 10:00:00"))).toDF("id", "ts"), root)
      val feb = AtomicLake.scan(spark, root)(
        $"ts" >= lit("2024-02-01 00:00:00").cast("timestamp"))
      feb.inputFiles.length shouldBe 1
      feb.select("id").as[Long].collect().sorted shouldBe Array(3L, 4L)
    }
    it("partition-directory values prune by equality AND range") {
      val root = freshRoot("partprune")
      AtomicLake.upsertPartitions(
        Seq((1L, "2024-01"), (2L, "2024-02"), (3L, "2024-03"))
          .toDF("id", "month"), root, Seq("month"))
      AtomicLake.read(spark, root).inputFiles.length shouldBe 3
      AtomicLake.scan(spark, root)($"month" === "2024-02")
        .inputFiles.length shouldBe 1
      val r = AtomicLake.scan(spark, root)($"month" >= "2024-02")
      r.inputFiles.length shouldBe 2
      r.select("id").as[Long].collect().sorted shouldBe Array(2L, 3L)
    }
    it("nulls: IsNull prunes null-free files, comparisons skip all-null") {
      val root = freshRoot("nulls")
      AtomicLake.append(Seq[(Long, Option[Double])]((1L, Some(1.0)),
        (2L, Some(2.0))).toDF("id", "v"), root)
      AtomicLake.append(Seq[(Long, Option[Double])]((3L, None),
        (4L, None)).toDF("id", "v"), root)
      AtomicLake.scan(spark, root)($"v".isNull)
        .inputFiles.length shouldBe 1
      AtomicLake.scan(spark, root)($"v" > 0.5)
        .inputFiles.length shouldBe 1
    }
    it("compaction recomputes zone maps over the rewritten files") {
      val root = freshRoot("compact")
      threeChunks(root)
      AtomicLake.compact(spark, root, filesPerPartition = 1)
      val snap = AtomicLake.currentSnapshot(root).get
      snap.files.values.flatten should have size 1
      val st = snap.stats(snap.files.values.flatten.head)
      st.cols("id") shouldBe LakeStats.ColStats("long",
        Some(LakeStats.NumBound(BigDecimal(1))),
        Some(LakeStats.NumBound(BigDecimal(29))), Some(0L))
      // post-compaction the single file spans everything: no pruning,
      // correct results
      AtomicLake.scan(spark, root)($"id" >= 10L && $"id" < 20L)
        .select("id").as[Long].collect().sorted shouldBe Array(10L, 19L)
    }
    it("a stats-free manifest (pre-zone-map lake) never prunes, reads fine") {
      val root = freshRoot("legacy")
      threeChunks(root)
      // strip every stats field, simulating a manifest written before
      // zone maps existed
      val v = AtomicLake.currentVersion(root).get
      val mdir = java.nio.file.Paths.get(root, "_manifests")
      val mpath = mdir.resolve(f"v$v%012d")
      val stripped = new String(java.nio.file.Files.readAllBytes(mpath),
        java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.map { l =>
          val parts = l.split("\t", 3)
          if (parts.length == 3) parts(0) + "\t" + parts(1) else l
        }.mkString("\n")
      java.nio.file.Files.write(mpath, stripped.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      val snap = AtomicLake.currentSnapshot(root).get
      snap.stats shouldBe empty
      val df = AtomicLake.scan(spark, root)($"id" >= 10L && $"id" < 20L)
      df.inputFiles.length shouldBe 3 // nothing prunable
      df.select("id").as[Long].collect().sorted shouldBe Array(10L, 19L)
    }
  }

  describe("gate query pruning") {
    it("lake_scan_prune plans only the in-range months' files") {
      val q = SparkEntry.queries("lake_scan_prune")(spark, sf)
      val lakeRoot = graft.queries.BronzeQueries.ordersLakeRoot(sf)
      val total = AtomicLake.read(spark, lakeRoot).inputFiles.length
      // 10 calendar months in [1995-03, 1996-01) — every other month
      // partition is pruned driver-side before Spark plans a file
      q.inputFiles.length should be <= 10
      q.inputFiles.length should be < total
    }
  }

  describe("stats JSON codec") {
    it("round-trips every domain including escapes") {
      val fs = LakeStats.FileStats(7L, Map(
        "a" -> LakeStats.ColStats("long",
          Some(LakeStats.NumBound(BigDecimal(-3))),
          Some(LakeStats.NumBound(BigDecimal(Long.MaxValue))), Some(0L)),
        "b" -> LakeStats.ColStats("double",
          Some(LakeStats.NumBound(BigDecimal(-1.5))),
          Some(LakeStats.NumBound(BigDecimal(2.25))), None),
        "c" -> LakeStats.ColStats("string",
          Some(LakeStats.StrBound("x\ty\nz")),
          Some(LakeStats.StrBound("émoji ✓")), Some(2L))))
      val json = LakeStats.toJson(fs)
      // the manifest format is tab-separated: encoded stats must
      // never contain a raw tab or newline
      json should not include "\t"
      json should not include "\n"
      LakeStats.fromJson(json) shouldBe Some(fs)
    }
    it("garbage stats fields degrade to no stats, not a crash") {
      LakeStats.fromJson("{not json") shouldBe None
      LakeStats.fromJson("""{"r":"x","c":{}}""") shouldBe None
    }
  }
}
