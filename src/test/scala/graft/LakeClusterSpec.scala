package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.functions._
import graft.sources.{AtomicLake, LakeStats}
import org.apache.spark.sql.classic.GraftExprBridge

/** Clustered compaction (OPTIMIZE … ZORDER BY): the data-layout half
  * of zone-map skipping — after clustering, a key-range scan plans a
  * fraction of the files that the ingest-ordered layout forced it to
  * read.
  */
class LakeClusterSpec extends SparkSpec {
  import spark.implicits._

  private val scratch = TestScratch("lake_cluster")

  private def freshRoot(name: String): String = {
    val p = Paths.get(scratch, name)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    p.toString
  }

  private def planned(root: String,
      filters: org.apache.spark.sql.Column*): Int =
    LakeStats.survivors(AtomicLake.currentSnapshot(root).get,
      filters.map(GraftExprBridge.expression)).size

  describe("cluster") {
    it("turns a no-skip layout into a pruned one; data is unchanged") {
      val root = freshRoot("basic")
      // 4 ingest commits, each spanning the FULL key range → every
      // file overlaps every range query, nothing prunes
      val rnd = new Random(7)
      val shuffled = rnd.shuffle((1 to 4000).toVector)
      shuffled.grouped(1000).foreach(g =>
        AtomicLake.append(g.toDF("k"), root))
      planned(root, $"k" >= 100 && $"k" < 300) shouldBe 4
      val before = AtomicLake.read(spark, root)
        .select("k").as[Int].collect().toSet
      val v = AtomicLake.cluster(spark, root, Seq("k"),
        filesPerPartition = 4)
      // same total file count, now range-disjoint: the query plans 1
      AtomicLake.currentSnapshot(root).get
        .files.values.flatten.size shouldBe 4
      planned(root, $"k" >= 100 && $"k" < 300) shouldBe 1
      AtomicLake.read(spark, root)
        .select("k").as[Int].collect().toSet shouldBe before
      AtomicLake.snapshotAt(root, v).kind shouldBe "compact"
    }
    it("clusters within partition dirs (partition cols lead the range)") {
      val root = freshRoot("partitioned")
      val rnd = new Random(11)
      val rows = rnd.shuffle(
        for { i <- 1 to 2000 } yield (i, s"p${i % 2}"))
      rows.grouped(500).foreach(g =>
        AtomicLake.append(g.toDF("k", "part"), root,
          Seq("part"), filesPerPartition = 2))
      AtomicLake.cluster(spark, root, Seq("k"), filesPerPartition = 2)
      val snap = AtomicLake.currentSnapshot(root).get
      // a key-range + partition filter plans at most one file per dir
      planned(root, $"part" === "p0",
        $"k" >= 1 && $"k" < 400) should be <= 1
      AtomicLake.read(spark, root).count() shouldBe 2000
      snap.partitionCols shouldBe Seq("part")
    }
    it("zorder gives BOTH columns tight per-file ranges") {
      val root = freshRoot("zorder")
      // a 64×64 grid in row-major ingest order: linear order on x
      // leaves y spanning the full range in every file
      val grid = for { x <- 0 until 64; y <- 0 until 64 } yield (x, y)
      AtomicLake.append(grid.toDF("x", "y"), root)
      AtomicLake.cluster(spark, root, Seq("x", "y"),
        filesPerPartition = 16, zorder = true)
      // a small 2-D box touches a small fraction of the 16 files
      val box = planned(root,
        $"x" >= 8 && $"x" < 16, $"y" >= 8 && $"y" < 16)
      box should be <= 4
      // correctness: the box content is exact
      AtomicLake.scan(spark, root)(
          $"x" >= 8 && $"x" < 16, $"y" >= 8 && $"y" < 16)
        .count() shouldBe 64
    }
    it("hilbert layout packs 2-D boxes at least as tightly as morton " +
        "and stays exact (SQL OPTIMIZE HILBERT BY)") {
      // kernel properties first: bijective on a 32x32 grid, and every
      // consecutive curve step moves to a Manhattan-ADJACENT cell —
      // the locality Morton lacks at quadrant seams
      val K = graft.expressions.NativeKernels
      val n = 32
      val idx = for { x <- 0 until n; y <- 0 until n }
        yield K.hilbertValue(x.toLong, y.toLong)
      idx.toSet.size shouldBe n * n
      val byIdx = (for { x <- 0 until n; y <- 0 until n }
        yield K.hilbertValue(x.toLong, y.toLong) -> (x, y)).toMap
      // within one 32x32 tile the curve visits 0..n*n-1 contiguously
      val visited = (0 until n * n).map(d => byIdx(d.toLong))
      visited.sliding(2).foreach { case Seq((x1, y1), (x2, y2)) =>
        (math.abs(x1 - x2) + math.abs(y1 - y2)) shouldBe 1
      }
      // layout proof, same fixture as the zorder case
      val root = freshRoot("hilbert")
      val grid = for { x <- 0 until 64; y <- 0 until 64 } yield (x, y)
      AtomicLake.append(grid.toDF("x", "y"), root)
      spark.sql(s"OPTIMIZE '$root' HILBERT BY (x, y)").collect()
      // re-cluster at 16 files via the API for file-count parity
      AtomicLake.cluster(spark, root, Seq("x", "y"),
        filesPerPartition = 16, hilbert = true)
      val box = planned(root,
        $"x" >= 8 && $"x" < 16, $"y" >= 8 && $"y" < 16)
      box should be <= 4
      AtomicLake.scan(spark, root)(
          $"x" >= 8 && $"x" < 16, $"y" >= 8 && $"y" < 16)
        .count() shouldBe 64
    }
    it("compactSmall folds ONLY the small-file backlog; large files " +
        "keep their bytes") {
      val root = freshRoot("binpack")
      // one "large" file and a trickle of small ones
      AtomicLake.append((1 to 5000).map(i => (i, s"body $i")).toDF("id", "t"),
        root)
      (5001 to 5004).foreach(i =>
        AtomicLake.append(Seq((i, s"body $i")).toDF("id", "t"), root))
      val snap0 = AtomicLake.currentSnapshot(root).get
      val large = snap0.files.values.flatten
        .maxBy(f => snap0.stats(f).bytes)
      // small = anything under 16 KiB here; the 5000-row file is not
      val v = AtomicLake.compactSmall(spark, root,
        smallBytes = 16L << 10, targetBytes = 1L << 20)
      val snap1 = AtomicLake.currentSnapshot(root).get
      snap1.kind shouldBe "compact"
      // the large file survived AS the same file; 4 smalls became 1
      snap1.files.values.flatten.toSet should contain(large)
      snap1.files.values.flatten.size shouldBe 2
      AtomicLake.read(spark, root).count() shouldBe 5004
      AtomicLake.rowCount(root) shouldBe Some(5004L)
      // nothing left to pack: no empty commit
      AtomicLake.compactSmall(spark, root,
        smallBytes = 16L << 10) shouldBe v
    }
    it("compactSmall packs per partition, leaving clean partitions " +
        "untouched") {
      val root = freshRoot("binpack_part")
      AtomicLake.append(
        Seq((1, "a"), (2, "b")).toDF("id", "part"), root, Seq("part"))
      // partition a accumulates a backlog; b stays clean
      (3 to 5).foreach(i =>
        AtomicLake.append(Seq((i, "a")).toDF("id", "part"), root,
          Seq("part")))
      val before = AtomicLake.currentSnapshot(root).get
        .files("part=b").toSet
      AtomicLake.compactSmall(spark, root, smallBytes = 1L << 20)
      val snap = AtomicLake.currentSnapshot(root).get
      snap.files("part=b").toSet shouldBe before
      snap.files("part=a").size shouldBe 1
      AtomicLake.read(spark, root).count() shouldBe 5
    }
    it("AUTO file sizing: big batches split near the target, tiny " +
        "batches land as one file, partitioned writes refuse AUTO") {
      val root = freshRoot("autosize")
      // tiny: one file
      AtomicLake.append(Seq((1, "x")).toDF("id", "t"), root,
        filesPerPartition = 0)
      AtomicLake.currentSnapshot(root).get
        .files.values.flatten.size shouldBe 1
      // big: a wide frame whose PLAN ESTIMATE crosses several targets
      // (the sizing input is the optimizer's estimate, which prices
      // numeric columns by width — 2M rows x 50 longs ≈ 800MB
      // in-memory → ~266MB parquet-guess → 3 files)
      val big = spark.range(0, 2000000).select(
        (col("id") +: (1 to 49).map(i => (col("id") * i).as(s"c$i"))): _*)
      val root2 = freshRoot("autosize_big")
      AtomicLake.append(big, root2, filesPerPartition = 0)
      val n = AtomicLake.currentSnapshot(root2).get
        .files.values.flatten.size
      n should be > 1
      n should be <= 256
      AtomicLake.read(spark, root2).count() shouldBe 2000000L
      // partitioned AUTO refuses loudly
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.append(Seq((1, "a")).toDF("id", "part"), root,
          Seq("part"), filesPerPartition = 0)
    }
    it("OPTIMIZE WHERE scopes the sweep to matching partitions only") {
      val root = freshRoot("binpack_where")
      // both partitions accumulate a backlog
      (1 to 4).foreach { i =>
        AtomicLake.append(Seq((i, "a")).toDF("id", "part"), root,
          Seq("part"))
        AtomicLake.append(Seq((i, "b")).toDF("id", "part"), root,
          Seq("part"))
      }
      val beforeB = AtomicLake.currentSnapshot(root).get
        .files("part=b").toSet
      spark.sql(s"OPTIMIZE '$root' WHERE part = 'a'").collect()
      val snap = AtomicLake.currentSnapshot(root).get
      snap.files("part=a").size shouldBe 1 // packed
      snap.files("part=b").toSet shouldBe beforeB // out of scope
      AtomicLake.read(spark, root).count() shouldBe 8
      // the scoped sweep still commits as compact (streams skip it)
      snap.kind shouldBe "compact"
    }
    it("a concurrent upsert aborts the clustering commit") {
      val root = freshRoot("conflict")
      AtomicLake.upsertPartitions(
        Seq((1, "a"), (2, "b")).toDF("k", "part"), root, Seq("part"))
      val snap = AtomicLake.currentSnapshot(root).get
      val staged = AtomicLake.stageFiles(
        AtomicLake.read(spark, root), root, Seq("part"), 1)
      AtomicLake.upsertPartitions(
        Seq((9, "a")).toDF("k", "part"), root, Seq("part"))
      a[java.util.ConcurrentModificationException] should be thrownBy
        AtomicLake.commit(root, Seq("part"), "compact",
          expectedBase = Some(snap),
          touched = snap.files.keySet ++ staged.keySet)(
          _.swap(staged, snap.files.keySet ++ staged.keySet))
      AtomicLake.read(spark, root).select("k").as[Int]
        .collect().toSet shouldBe Set(9, 2)
    }
    it("the lake stream skips a clustering commit (no re-emission)") {
      val root = freshRoot("stream_skip")
      AtomicLake.append(Seq((1, "a"), (2, "b")).toDF("k", "t"), root)
      AtomicLake.append(Seq((3, "c")).toDF("k", "t"), root)
      val vc = AtomicLake.cluster(spark, root, Seq("k"))
      // fileDiff across the cluster commit sees a rewrite, but the
      // commit kind marks it skippable — the same contract compact()
      // carries, asserted here for the cluster path
      AtomicLake.snapshotAt(root, vc).kind shouldBe "compact"
      AtomicLake.read(spark, root).count() shouldBe 3
    }
  }
}
