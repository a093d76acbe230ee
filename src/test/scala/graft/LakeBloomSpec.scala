package graft

import org.apache.spark.sql.functions._
import graft.sources.{AtomicLake, BloomIndex}

/** Per-file bloom indexes (SURVEY.md §2 G39): point lookups on
  * high-cardinality columns prune files zone maps cannot — with the
  * result always identical to read().filter(), no false negatives
  * ever, and index state carried/shed/rolled back with the file list.
  */
class LakeBloomSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = TestScratch(s"lakebloom_$name")
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    root
  }

  /** Four appends of INTERLEAVED keys: every file's [min,max] spans
    * the whole domain, so zone maps prune nothing — the bloom's
    * home turf. Key k lives in file (k mod 4).
    */
  private def interleaved(root: String, n: Int = 400): Unit =
    (0 until 4).foreach { chunk =>
      AtomicLake.append(
        (0 until n).filter(_ % 4 == chunk)
          .map(k => (k.toLong, s"key_$k", s"payload_$k"))
          .toDF("id", "sk", "payload"), root)
    }

  describe("indexBloom build + scan pruning") {
    it("prunes point lookups on a long key where zone maps cannot") {
      val root = freshRoot("long")
      interleaved(root)
      // zone maps alone: all 4 files overlap the probe
      AtomicLake.scanInfo(root)(col("id") === 37L) shouldBe (4, 4)
      AtomicLake.indexBloom(spark, root, Seq("id"), fpp = 0.001)
      val (planned, total) =
        AtomicLake.scanInfo(spark, root,
          graft.sources.HardlinkCommitStore)(col("id") === 37L)
      total shouldBe 4
      planned should be < 4 // 3 true prunes at fpp 1e-3
      // SQL reads plan through the same planner, blooms included
      new graft.sources.LakeRelation(spark.sqlContext, root, None)
        .plannedFiles(Seq(org.apache.spark.sql.sources.EqualTo("id", 37L)))
        .size shouldBe planned
      // and the scan result is exactly read().filter()
      val got = AtomicLake.scan(spark, root)(col("id") === 37L)
        .select("id", "sk").as[(Long, String)].collect().toSeq
      got shouldBe Seq((37L, "key_37"))
    }

    it("never produces a false negative across every key") {
      val root = freshRoot("allkeys")
      interleaved(root, n = 200)
      AtomicLake.indexBloom(spark, root, Seq("id", "sk"))
      val expected = AtomicLake.read(spark, root)
        .select("id").as[Long].collect().toSet
      expected should have size 200
      // probe every key through the pruned scan — bloom negatives
      // must be PROOF of absence, so nothing may go missing
      val missing = (0L until 200L by 8).filterNot { k =>
        AtomicLake.scan(spark, root)(col("id") === k)
          .count() == 1L
      }
      missing shouldBe empty
    }

    it("prunes string keys via the xxhash64 normalization") {
      val root = freshRoot("string")
      interleaved(root)
      AtomicLake.indexBloom(spark, root, Seq("sk"), fpp = 0.001)
      val (planned, _) = AtomicLake.scanInfo(spark, root,
        graft.sources.HardlinkCommitStore)(col("sk") === "key_123")
      planned should be < 4
      AtomicLake.scan(spark, root)(col("sk") === "key_123")
        .select("id").as[Long].collect().toSeq shouldBe Seq(123L)
      // absent key: with 4 files at fpp 1e-3, virtually always 0
      AtomicLake.scan(spark, root)(col("sk") === "no_such_key")
        .count() shouldBe 0L
    }

    it("handles IN-lists (any member might be present keeps the file)") {
      val root = freshRoot("inlist")
      interleaved(root)
      AtomicLake.indexBloom(spark, root, Seq("id"), fpp = 0.001)
      val got = AtomicLake.scan(spark, root)(
          col("id").isin(5L, 6L, 999999L))
        .select("id").as[Long].collect().toSeq.sorted
      got shouldBe Seq(5L, 6L)
    }

    it("is incremental: a second build indexes only new files and a " +
        "fresh append stays unpruned but readable") {
      val root = freshRoot("incr")
      interleaved(root)
      val v1 = AtomicLake.indexBloom(spark, root, Seq("id"))
      // nothing new: no extra commit
      AtomicLake.indexBloom(spark, root, Seq("id")) shouldBe v1
      // new file, un-indexed: scan must still find its rows
      AtomicLake.append(Seq((1000L, "key_1000", "p"))
        .toDF("id", "sk", "payload"), root)
      AtomicLake.scan(spark, root)(col("id") === 1000L)
        .count() shouldBe 1L
      // second build picks up ONLY the new file (entries differ)
      val snapBefore = AtomicLake.currentSnapshot(root).get
      AtomicLake.indexBloom(spark, root, Seq("id"))
      val snapAfter = AtomicLake.currentSnapshot(root).get
      val newlyIndexed = snapAfter.blooms.keySet -- snapBefore.blooms.keySet
      newlyIndexed should have size 1
      // and now it prunes like the rest
      val (planned, total) = AtomicLake.scanInfo(spark, root,
        graft.sources.HardlinkCommitStore)(col("id") === 1000L)
      total shouldBe 5
      planned should be < 5
    }

    it("commits as kind=index (streams/CDC see an empty file diff)") {
      val root = freshRoot("kind")
      interleaved(root)
      val v = AtomicLake.indexBloom(spark, root, Seq("id"))
      AtomicLake.snapshotAt(root, v).kind shouldBe "index"
      val (added, removed, _, _) = AtomicLake.fileDiff(root, v - 1, v)
      added shouldBe empty
      removed shouldBe empty
    }
  }

  describe("index lifecycle with the lake protocol") {
    it("a COW rewrite sheds the file's bloom entry and stays correct") {
      val root = freshRoot("cow")
      interleaved(root)
      AtomicLake.indexBloom(spark, root, Seq("id"))
      val before = AtomicLake.currentSnapshot(root).get
      before.blooms should have size 4
      // delete key 0 -> a vector on file (0 mod 4); the purge
      // rewrites that file, so its entry must shed
      AtomicLake.deleteWhereDV(spark, root)(col("id") === 0L)
      AtomicLake.currentSnapshot(root).get.blooms should have size 4
      AtomicLake.purgeDeletes(spark, root).filesRewritten shouldBe 1
      val after = AtomicLake.currentSnapshot(root).get
      after.blooms.size shouldBe 3
      after.blooms.keySet.subsetOf(
        after.files.values.flatten.toSet) shouldBe true
      // rewritten file's keys still readable (just unpruned)
      AtomicLake.scan(spark, root)(col("id") === 4L)
        .count() shouldBe 1L
      AtomicLake.scan(spark, root)(col("id") === 0L)
        .count() shouldBe 0L
    }

    it("restore rolls index state back with the file list") {
      val root = freshRoot("restore")
      interleaved(root) // v1..v4
      val preIndex = AtomicLake.currentVersion(root).get
      val vi = AtomicLake.indexBloom(spark, root, Seq("id"))
      AtomicLake.currentSnapshot(root).get.blooms should not be empty
      AtomicLake.restore(root, preIndex)
      AtomicLake.currentSnapshot(root).get.blooms shouldBe empty
      // back to the future: restore to the indexed version re-arms it
      AtomicLake.restore(root, vi)
      AtomicLake.currentSnapshot(root).get.blooms should have size 4
      AtomicLake.scan(spark, root)(col("id") === 37L)
        .count() shouldBe 1L
    }

    it("a shallow clone carries the index zero-copy and prunes") {
      val src = freshRoot("clonesrc")
      val dst = freshRoot("clonedst")
      interleaved(src)
      AtomicLake.indexBloom(spark, src, Seq("id"), fpp = 0.001)
      AtomicLake.clone(src, dst)
      val snap = AtomicLake.currentSnapshot(dst).get
      snap.blooms should have size 4
      all(snap.blooms.values.flatMap(_.values.map(_.path)).toSeq) should
        startWith("/")
      val (planned, total) = AtomicLake.scanInfo(spark, dst,
        graft.sources.HardlinkCommitStore)(col("id") === 37L)
      total shouldBe 4
      planned should be < 4
      AtomicLake.scan(spark, dst)(col("id") === 37L)
        .select("sk").as[String].collect().toSeq shouldBe Seq("key_37")
    }

    it("vacuum retains referenced sidecars and reclaims orphaned ones") {
      val root = freshRoot("vacuum")
      interleaved(root)
      AtomicLake.indexBloom(spark, root, Seq("id"))
      val refd = AtomicLake.currentSnapshot(root).get
        .blooms.values.head.values.head.path
      // an orphan index dir (simulated dead build) — mtime pinned in
      // the past so the age guard can never race the same-millisecond
      // creation (minAgeMs = 0 means cutoff == now; a fresh mtime ==
      // now is NOT < now)
      val orphan = java.nio.file.Paths.get(root, "index", "deadbeef")
      java.nio.file.Files.createDirectories(orphan)
      java.nio.file.Files.writeString(orphan.resolve("junk"), "x")
      java.nio.file.Files.setLastModifiedTime(orphan,
        java.nio.file.attribute.FileTime.fromMillis(1000L))
      AtomicLake.vacuum(root, keepVersions = 10, minAgeMs = 0L)
      java.nio.file.Files.exists(orphan) shouldBe false
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(root).resolve(refd)) shouldBe true
      AtomicLake.scan(spark, root)(col("id") === 37L)
        .count() shouldBe 1L
    }

    it("a dv delete AFTER the build keeps the superset contract") {
      val root = freshRoot("dv")
      interleaved(root)
      AtomicLake.indexBloom(spark, root, Seq("id"))
      AtomicLake.deleteWhereDV(spark, root)(col("id") === 37L)
      // bloom entries survive (no file rewritten)...
      AtomicLake.currentSnapshot(root).get.blooms should have size 4
      // ...and remain a superset: the deleted key just reads 0 rows
      AtomicLake.scan(spark, root)(col("id") === 37L)
        .count() shouldBe 0L
      AtomicLake.scan(spark, root)(col("id") === 41L)
        .count() shouldBe 1L
    }

    it("refuses non-indexable key domains and unknown columns") {
      val root = freshRoot("refuse")
      AtomicLake.append(Seq((1L, 1.5)).toDF("id", "v"), root)
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.indexBloom(spark, root, Seq("v"))
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.indexBloom(spark, root, Seq("nope"))
    }
  }
}
