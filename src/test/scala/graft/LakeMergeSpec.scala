package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.sources.AtomicLake

/** Row-level DELETE/UPDATE as copy-on-write file rewrites and keyed
  * MERGE as merge-on-read (a deletion vector plus staged source rows):
  * correctness of the row semantics, and the scale contract that only
  * files actually CONTAINING affected rows are rewritten or gain a
  * deletion vector — everything else keeps its manifest line (and its
  * bytes) untouched.
  */
class LakeMergeSpec extends SparkSpec {
  import spark.implicits._

  private val scratch = TestScratch("lake_merge")

  private def freshRoot(name: String): String = {
    val p = Paths.get(scratch, name)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    p.toString
  }

  private def allFiles(root: String): Set[String] =
    AtomicLake.currentSnapshot(root).get.files.values.flatten.toSet

  private def dvFiles(root: String): Set[String] =
    AtomicLake.currentSnapshot(root).get.dvs.keySet

  /** `body` with data file `f` moved out of the lake: any read of it
    * fails, so a `body` that succeeds never opened it.
    */
  private def hidden[A](root: String, f: String)(body: => A): A = {
    val at = Paths.get(root).resolve(f)
    val away = Paths.get(scratch, "hidden.parquet")
    Files.move(at, away)
    try body finally Files.move(away, at)
  }

  describe("updateWhere") {
    import org.apache.spark.sql.functions.{col, lit}

    it("updates exactly the matching rows in place") {
      val root = freshRoot("upd_rows")
      AtomicLake.upsertPartitions(
        (1 to 20).map(i => (i, i * 10)).toDF("id", "v"), root, Nil)
      val r = AtomicLake.updateWhere(spark, root,
        Seq("v" -> (col("v") + 1)))(col("id") <= 5)
      r.rowsChanged shouldBe 5
      AtomicLake.read(spark, root).select("id", "v").as[(Int, Int)]
        .collect().toMap shouldBe
        (1 to 20).map(i => i -> (if (i <= 5) i * 10 + 1 else i * 10))
          .toMap
    }

    it("null-predicate rows stay untouched; values cast to the column type") {
      val root = freshRoot("upd_null")
      AtomicLake.upsertPartitions(
        Seq((1, Some(10)), (2, None), (3, Some(30))).toDF("id", "v"),
        root, Nil)
      // 2.5 casts back to the int column (SQL UPDATE never evolves)
      AtomicLake.updateWhere(spark, root,
        Seq("v" -> lit(2.5)))(col("v") > 20).rowsChanged shouldBe 1
      AtomicLake.read(spark, root).select("id", "v")
        .as[(Int, Option[Int])].collect().toSet shouldBe
        Set((1, Some(10)), (2, None), (3, Some(2)))
    }

    it("rewrites ONLY files containing matches") {
      val root = freshRoot("upd_cow")
      AtomicLake.upsertPartitions(
        (1 to 30).map(i => (i, s"p${i % 3}")).toDF("id", "part"),
        root, Seq("part"))
      val before = allFiles(root)
      val r = AtomicLake.updateWhere(spark, root,
        Seq("id" -> (col("id") + 100)))(
        col("part") === "p1" && col("id") <= 10)
      r.filesRewritten shouldBe 1
      (before & allFiles(root)).size shouldBe before.size - 1
    }

    it("updating a partition column moves rows between partitions") {
      val root = freshRoot("upd_move")
      AtomicLake.upsertPartitions(
        (1 to 10).map(i => (i, if (i <= 5) "a" else "b"))
          .toDF("id", "part"), root, Seq("part"))
      AtomicLake.updateWhere(spark, root,
        Seq("part" -> lit("c")))(col("id") === 1)
      AtomicLake.read(spark, root).filter(col("part") === "c")
        .select("id").as[Int].collect() shouldBe Array(1)
      AtomicLake.read(spark, root).count() shouldBe 10
    }

    it("never resurrects dv-deleted rows and refuses unknown columns") {
      val root = freshRoot("upd_dv")
      AtomicLake.upsertPartitions(
        (1 to 20).map(i => (i, i)).toDF("id", "v"), root, Nil)
      AtomicLake.deleteWhereDV(spark, root)(col("id") <= 5)
      AtomicLake.updateWhere(spark, root,
        Seq("v" -> lit(0)))(col("id") <= 10).rowsChanged shouldBe 5
      AtomicLake.read(spark, root).count() shouldBe 15
      AtomicLake.read(spark, root).filter(col("v") === 0)
        .count() shouldBe 5
      intercept[IllegalArgumentException] {
        AtomicLake.updateWhere(spark, root,
          Seq("ghost" -> lit(1)))(col("id") === 1)
      }.getMessage should include("unknown")
    }

    it("zero matches commit nothing") {
      val root = freshRoot("upd_noop")
      AtomicLake.upsertPartitions(
        (1 to 5).map(i => (i, i)).toDF("id", "v"), root, Nil)
      val v = AtomicLake.currentVersion(root).get
      AtomicLake.updateWhere(spark, root,
        Seq("v" -> lit(0)))(col("id") > 99).rowsChanged shouldBe 0
      AtomicLake.currentVersion(root).get shouldBe v
    }
  }

  describe("deleteWhere") {
    it("removes exactly the matching rows; result equals filter") {
      val root = freshRoot("del_rows")
      val base = (1 to 100).map(i => (i, i % 4, s"p${i % 3}"))
        .toDF("id", "m", "part")
      AtomicLake.upsertPartitions(base, root, Seq("part"))
      val r = AtomicLake.deleteWhere(spark, root)($"m" === 2)
      r.rowsChanged shouldBe 25
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe
        (1 to 100).filterNot(_ % 4 == 2).toSet
    }
    it("null predicate rows survive (SQL DELETE semantics)") {
      val root = freshRoot("del_null")
      AtomicLake.upsertPartitions(
        Seq((1, Some(10)), (2, None), (3, Some(30)))
          .toDF("id", "v"), root, Nil)
      val r = AtomicLake.deleteWhere(spark, root)($"v" > 20)
      r.rowsChanged shouldBe 1
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe Set(1, 2)
    }
    it("rewrites ONLY files containing matches; clean files keep " +
        "their manifest lines byte-identical") {
      val root = freshRoot("del_cow")
      // one file per partition; matches live only in part p1
      AtomicLake.upsertPartitions(
        (1 to 30).map(i => (i, s"p${i % 3}")).toDF("id", "part"),
        root, Seq("part"))
      val before = allFiles(root)
      val r = AtomicLake.deleteWhere(spark, root)(
        $"part" === "p1" && $"id" <= 10)
      r.filesRewritten shouldBe 1
      val after = allFiles(root)
      // the two clean partitions' files survive AS THE SAME files
      (before & after).size shouldBe 2
      AtomicLake.read(spark, root).count() shouldBe 30 - r.rowsChanged
    }
    it("zone-maps prune candidates driver-side: a range predicate " +
        "outside a file's bounds never touches it") {
      val root = freshRoot("del_zm")
      // unpartitioned, one file per commit → id ranges 1-10, 11-20
      AtomicLake.append((1 to 10).toDF("id"), root)
      AtomicLake.append((11 to 20).toDF("id"), root)
      val before = allFiles(root)
      val r = AtomicLake.deleteWhere(spark, root)($"id" >= 15)
      r.filesRewritten shouldBe 1
      // the 1-10 file was pruned by stats and survives untouched
      (before & allFiles(root)).size shouldBe 1
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe (1 to 14).toSet
    }
    it("no matches → NO commit, same version") {
      val root = freshRoot("del_noop")
      AtomicLake.upsertPartitions(
        Seq((1, "a")).toDF("id", "part"), root, Seq("part"))
      val v0 = AtomicLake.currentVersion(root).get
      val r = AtomicLake.deleteWhere(spark, root)($"id" > 100)
      r shouldBe AtomicLake.Rewrite(v0, 0L, 0)
      AtomicLake.currentVersion(root).get shouldBe v0
    }
    it("time travel still reads the pre-delete snapshot") {
      val root = freshRoot("del_tt")
      val v0 = AtomicLake.upsertPartitions(
        (1 to 10).map(i => (i, "a")).toDF("id", "part"),
        root, Seq("part"))
      AtomicLake.deleteWhere(spark, root)($"id" <= 5)
      AtomicLake.readVersion(spark, root, v0).count() shouldBe 10
      AtomicLake.read(spark, root).count() shouldBe 5
    }
    it("deleting EVERY row leaves a readable empty table") {
      val root = freshRoot("del_everything")
      AtomicLake.append((1 to 10).toDF("id"), root)
      val r = AtomicLake.deleteWhere(spark, root)($"id" > 0)
      r.rowsChanged shouldBe 10
      val back = AtomicLake.read(spark, root)
      back.count() shouldBe 0
      back.columns.toSeq shouldBe Seq("id")
      // and the table accepts new data afterwards
      AtomicLake.append(Seq(99).toDF("id"), root)
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe Set(99)
    }
    it("a delete emptying a whole file drops it without replacement") {
      val root = freshRoot("del_all")
      AtomicLake.append((1 to 10).toDF("id"), root)
      AtomicLake.append((11 to 20).toDF("id"), root)
      val r = AtomicLake.deleteWhere(spark, root)($"id" <= 10)
      r.rowsChanged shouldBe 10
      allFiles(root).size shouldBe 1
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe (11 to 20).toSet
    }
  }

  describe("merge") {
    it("updates matched keys, inserts new keys, leaves the rest") {
      val root = freshRoot("mrg_basic")
      AtomicLake.upsertPartitions(
        Seq((1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "b"))
          .toDF("k", "v", "part"), root, Seq("part"))
      val src = Seq((2, 99.0, "a"), (4, 40.0, "b"))
        .toDF("k", "v", "part")
      val r = AtomicLake.merge(spark, root, src, Seq("k"))
      r.rowsChanged shouldBe 1 // one matched target row replaced
      AtomicLake.read(spark, root).select("k", "v")
        .as[(Int, Double)].collect().toSet shouldBe
        Set((1, 10.0), (2, 99.0), (3, 30.0), (4, 40.0))
    }
    it("deletion-vectors only files holding a matched key") {
      val root = freshRoot("mrg_cow")
      AtomicLake.upsertPartitions(
        (1 to 30).map(i => (i, 1.0, s"p${i % 3}"))
          .toDF("k", "v", "part"), root, Seq("part"))
      val before = allFiles(root)
      val p0 = AtomicLake.currentSnapshot(root).get.files("part=p0").toSet
      // keys 3 and 6 both live in partition p0's single file
      val src = Seq((3, 9.0, "p0"), (6, 9.0, "p0"), (100, 9.0, "p1"))
        .toDF("k", "v", "part")
      val r = AtomicLake.merge(spark, root, src, Seq("k"))
      r.rowsChanged shouldBe 2
      r.filesRewritten shouldBe 0
      // no data file removed; exactly p0's file gains a vector (p1
      // gains the insert's file but no vector, p2 is untouched)
      before.subsetOf(allFiles(root)) shouldBe true
      dvFiles(root) shouldBe p0
      AtomicLake.currentSnapshot(root).get.dvs(p0.head).n shouldBe 2
      AtomicLake.read(spark, root).count() shouldBe 31
      AtomicLake.read(spark, root).filter($"v" === 9.0)
        .count() shouldBe 3
    }
    it("zone-map key bounds prune files outside the source's range") {
      val root = freshRoot("mrg_zm")
      AtomicLake.append((1 to 10).map(i => (i, 0.0)).toDF("k", "v"), root)
      val low = allFiles(root)
      AtomicLake.append((11 to 20).map(i => (i, 0.0)).toDF("k", "v"), root)
      val before = allFiles(root)
      // the 1-10 file is out of the bounds [12, 12]: the merge must
      // neither read it (it is moved away meanwhile) nor mark it
      val r = hidden(root, low.head)(AtomicLake.merge(spark, root,
        Seq((12, 5.0)).toDF("k", "v"), Seq("k")))
      r.rowsChanged shouldBe 1
      r.filesRewritten shouldBe 0
      before.subsetOf(allFiles(root)) shouldBe true
      dvFiles(root) shouldBe (before -- low)
      AtomicLake.read(spark, root).filter($"v" === 5.0)
        .count() shouldBe 1
      AtomicLake.read(spark, root).select("k").as[Int].collect()
        .sorted shouldBe (1 to 20).toArray
    }
    it("a matched key moving partitions lands in its new partition") {
      val root = freshRoot("mrg_move")
      AtomicLake.upsertPartitions(
        Seq((1, 1.0, "a"), (2, 2.0, "b")).toDF("k", "v", "part"),
        root, Seq("part"))
      val before = AtomicLake.currentSnapshot(root).get.files
      AtomicLake.merge(spark, root,
        Seq((1, 9.0, "b")).toDF("k", "v", "part"), Seq("k"))
      AtomicLake.read(spark, root).select("k", "v", "part")
        .as[(Int, Double, String)].collect().toSet shouldBe
        Set((1, 9.0, "b"), (2, 2.0, "b"))
      // the old row is deleted in place in partition a; the new one is
      // a staged file of partition b
      val after = AtomicLake.currentSnapshot(root).get
      after.files("part=a") shouldBe before("part=a")
      after.dvs.keySet shouldBe before("part=a").toSet
      after.files("part=b").size shouldBe 2
    }
    it("refuses duplicate source keys loudly") {
      val root = freshRoot("mrg_dup")
      AtomicLake.upsertPartitions(
        Seq((1, 1.0)).toDF("k", "v"), root, Nil)
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.merge(spark, root,
          Seq((2, 1.0), (2, 2.0)).toDF("k", "v"), Seq("k"))
    }
    it("null source keys never match — they insert as new rows") {
      val root = freshRoot("mrg_null")
      AtomicLake.upsertPartitions(
        Seq((Some(1), 1.0)).toDF("k", "v"), root, Nil)
      // two null-key rows are two inserts, not a duplicate key
      val src = Seq((None: Option[Int], 7.0), (None, 8.0), (Some(1), 9.0))
        .toDF("k", "v")
      val r = AtomicLake.merge(spark, root, src, Seq("k"))
      r.rowsChanged shouldBe 1
      AtomicLake.read(spark, root).select("v").as[Double]
        .collect().toSet shouldBe Set(7.0, 8.0, 9.0)
    }
    it("an empty source is a no-op without a commit") {
      val root = freshRoot("mrg_empty")
      val v0 = AtomicLake.upsertPartitions(
        Seq((1, 1.0)).toDF("k", "v"), root, Nil)
      val r = AtomicLake.merge(spark, root,
        Seq.empty[(Int, Double)].toDF("k", "v"), Seq("k"))
      r shouldBe AtomicLake.Rewrite(v0, 0L, 0)
    }
    it("schema evolution: a source column the table lacks appends; " +
        "survivor rows read null for it") {
      val root = freshRoot("mrg_evolve")
      AtomicLake.upsertPartitions(
        Seq((1, 1.0), (2, 2.0)).toDF("k", "v"), root, Nil)
      AtomicLake.merge(spark, root,
        Seq((2, 9.0, "tagged")).toDF("k", "v", "note"), Seq("k"))
      AtomicLake.read(spark, root).select("k", "note")
        .as[(Int, Option[String])].collect().toSet shouldBe
        Set((1, None), (2, Some("tagged")))
    }
    it("merge keys all matching in ONE of many files: exactly one " +
        "dirty file detected through the semi-join") {
      val root = freshRoot("mrg_semi")
      // same key range in both files — zone maps alone can't split
      // them; the semi-join must find the actually-dirty file
      AtomicLake.append(Seq((1, "x1"), (2, "x2")).toDF("k", "t"), root)
      val first = allFiles(root)
      AtomicLake.append(Seq((3, "y1"), (4, "y2")).toDF("k", "t"), root)
      val before = allFiles(root)
      // wide bounds [1,4] keep both files as candidates, but only
      // keys 3,4 match → one dirty file
      val r = AtomicLake.merge(spark, root,
        Seq((3, "z"), (4, "z")).toDF("k", "t"), Seq("k"))
      r.rowsChanged shouldBe 2
      r.filesRewritten shouldBe 0
      before.subsetOf(allFiles(root)) shouldBe true
      dvFiles(root) shouldBe (before -- first)
      AtomicLake.read(spark, root).select("k", "t").as[(Int, String)]
        .collect().toSet shouldBe
        Set((1, "x1"), (2, "x2"), (3, "z"), (4, "z"))
    }
  }

  describe("merge on deletion vectors") {
    def seeded(name: String): String = {
      val root = freshRoot(name)
      AtomicLake.upsertPartitions(
        (1 to 12).map(i => (i, i * 1.0, s"p${i % 2}"))
          .toDF("k", "v", "part"), root, Seq("part"))
      root
    }
    def rows(root: String): Map[Int, Double] =
      AtomicLake.read(spark, root).select("k", "v").as[(Int, Double)]
        .collect().toMap

    it("merge, then deleteWhereDV on overlapping keys") {
      val root = seeded("mrg_then_dv")
      val p0 = AtomicLake.currentSnapshot(root).get.files("part=p0")
      AtomicLake.merge(spark, root,
        Seq((2, 20.0, "p0"), (3, 30.0, "p1"), (101, 1.0, "p1"))
          .toDF("k", "v", "part"), Seq("k")).rowsChanged shouldBe 2
      // 2 and 101 now live in staged files, 4 in an original one
      AtomicLake.deleteWhereDV(spark, root)($"k".isin(2, 4, 101))
        .rowsChanged shouldBe 3
      rows(root) shouldBe
        ((1 to 12).map(i => i -> i * 1.0).toMap - 2 - 4 + (3 -> 30.0))
      // p0's original file chains both vectors: key 2 (merge), key 4
      val dv = AtomicLake.currentSnapshot(root).get.dvs(p0.head)
      (dv.paths.size, dv.n) shouldBe ((2, 2L))
      AtomicLake.rowCount(root) shouldBe Some(10L)
    }

    it("deleteWhereDV, then merge re-inserting a deleted key") {
      val root = seeded("dv_then_mrg")
      AtomicLake.deleteWhereDV(spark, root)($"k" === 5).rowsChanged shouldBe 1
      val dvBefore = AtomicLake.currentSnapshot(root).get.dvs
      // the deleted row is gone: the merge matches nothing, inserts
      val r = AtomicLake.merge(spark, root,
        Seq((5, 55.0, "p1")).toDF("k", "v", "part"), Seq("k"))
      r.rowsChanged shouldBe 0
      AtomicLake.currentSnapshot(root).get.dvs shouldBe dvBefore
      rows(root) shouldBe (1 to 12).map(i => i -> i * 1.0).toMap +
        (5 -> 55.0)
      AtomicLake.read(spark, root).filter($"k" === 5).count() shouldBe 1
    }

    it("a key moving partitions is deleted where it was") {
      val root = seeded("mrg_move_dv")
      AtomicLake.merge(spark, root,
        Seq((3, 33.0, "p0")).toDF("k", "v", "part"), Seq("k"))
      AtomicLake.read(spark, root).filter($"k" === 3)
        .select("v", "part").as[(Double, String)].collect() shouldBe
        Array((33.0, "p0"))
      val snap = AtomicLake.currentSnapshot(root).get
      snap.dvs.keySet shouldBe snap.files("part=p1").toSet
      AtomicLake.read(spark, root).count() shouldBe 12
    }

    it("merge on a shallow clone leaves the source lake untouched") {
      val src = seeded("mrg_clone_src")
      val dst = freshRoot("mrg_clone_dst")
      AtomicLake.clone(src, dst)
      val srcVersion = AtomicLake.currentVersion(src)
      val srcManifest = AtomicLake.currentSnapshot(src).get
      AtomicLake.merge(spark, dst,
        Seq((1, 10.0, "p1"), (50, 5.0, "p0")).toDF("k", "v", "part"),
        Seq("k")).rowsChanged shouldBe 1
      rows(dst) shouldBe (1 to 12).map(i => i -> i * 1.0).toMap +
        (1 -> 10.0) + (50 -> 5.0)
      // the vector and the staged rows live under the clone
      Files.isDirectory(Paths.get(dst, "dv")) shouldBe true
      Files.exists(Paths.get(src, "dv")) shouldBe false
      AtomicLake.currentVersion(src) shouldBe srcVersion
      AtomicLake.currentSnapshot(src).get shouldBe srcManifest
      rows(src) shouldBe (1 to 12).map(i => i -> i * 1.0).toMap
    }

    it("CDC over a merge commit: delete images of exactly the matched " +
        "rows, insert images of the source") {
      val root = seeded("mrg_cdc")
      val v0 = AtomicLake.currentVersion(root).get
      val src = Seq((2, 20.0, "p0"), (7, 70.0, "p1"), (99, 9.0, "p1"))
      val r = AtomicLake.merge(spark, root, src.toDF("k", "v", "part"),
        Seq("k"))
      val ch = AtomicLake.readChanges(spark, root, v0, r.version)
      def side(t: String) = ch.filter($"_change_type" === t)
        .select("k", "v", "part").as[(Int, Double, String)].collect()
      side("delete").toSet shouldBe Set((2, 2.0, "p0"), (7, 7.0, "p1"))
      side("delete").length shouldBe 2
      side("insert").toSet shouldBe src.toSet
      side("insert").length shouldBe 3
    }
  }

  describe("rewrite concurrency") {
    it("4 concurrent merges on overlapping files all land (OCC " +
        "retry); every update applied exactly once") {
      val root = freshRoot("rw_race")
      // one shared file → every merge's dirty set collides with
      // every other's commit, forcing the re-derive-and-retry path
      AtomicLake.append(
        (1 to 40).map(i => (i, 0.0)).toDF("k", "v"), root)
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val writers = (0 until 4).map { w =>
        Future {
          val keys = (1 + w * 10) to (10 + w * 10)
          AtomicLake.merge(spark, root,
            keys.map(k => (k, (w + 1).toDouble)).toDF("k", "v"),
            Seq("k"))
        }
      }
      Await.result(Future.sequence(writers), Duration.Inf)
      val back = AtomicLake.read(spark, root)
        .select("k", "v").as[(Int, Double)].collect().toMap
      back.size shouldBe 40
      (0 until 4).foreach { w =>
        ((1 + w * 10) to (10 + w * 10)).foreach { k =>
          back(k) shouldBe (w + 1).toDouble
        }
      }
    }
    it("a rewrite whose file was compacted away aborts instead of " +
        "resurrecting rows") {
      val root = freshRoot("rw_conflict")
      AtomicLake.append(Seq((1, "a")).toDF("id", "part"), root,
        Seq("part"))
      AtomicLake.append(Seq((2, "a")).toDF("id", "part"), root,
        Seq("part"))
      val victim = allFiles(root).head
      // concurrent maintenance rewrites both files into one
      AtomicLake.compact(spark, root)
      a[java.util.ConcurrentModificationException] should be thrownBy
        AtomicLake.commit(root, Seq("part"), removeFiles = Set(victim))(
          _.swap(AtomicLake.Staged(Map.empty, Map.empty),
            removed = Set(victim)))
      AtomicLake.read(spark, root).count() shouldBe 2
    }
    it("CDC across a delete commit: old images delete, survivors " +
        "re-insert — net effect is the deletion") {
      val root = freshRoot("rw_cdc")
      val v0 = AtomicLake.append((1 to 10).toDF("id"), root)
      val r = AtomicLake.deleteWhere(spark, root)($"id" <= 3)
      val ch = AtomicLake.readChanges(spark, root, v0, r.version)
      ch.filter($"_change_type" === "delete").count() shouldBe 10
      ch.filter($"_change_type" === "insert").select("id").as[Int]
        .collect().toSet shouldBe (4 to 10).toSet
    }
  }
}
