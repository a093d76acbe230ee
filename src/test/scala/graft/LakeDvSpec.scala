package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.sources.AtomicLake

/** Deletion vectors (merge-on-read DELETE): `deleteWhereDV` marks row
  * positions in a sidecar instead of rewriting files, every read path
  * drops them, and `purgeDeletes` materializes the vectors when the
  * rewrite cost should actually be paid. The suite pins the contract
  * edges: no data file changes on delete, chains stay disjoint,
  * rewrites never resurrect, CDC/time travel/clone/vacuum see the
  * right rows.
  */
class LakeDvSpec extends SparkSpec {
  import spark.implicits._

  private val scratch = TestScratch("lake_dv")

  private def freshRoot(name: String): String = {
    val p = Paths.get(scratch, name)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    p.toString
  }

  private def allFiles(root: String): Set[String] =
    AtomicLake.currentSnapshot(root).get.files.values.flatten.toSet

  private def dvMap(root: String) =
    AtomicLake.currentSnapshot(root).get.dvs

  private def seed(root: String, n: Int = 100): Unit =
    AtomicLake.upsertPartitions(
      (1 to n).map(i => (i, i % 4, s"p${i % 3}")).toDF("id", "m", "part"),
      root, Seq("part"))

  describe("deleteWhereDV") {
    it("deletes rows logically without touching any data file") {
      val root = freshRoot("dv_basic")
      seed(root)
      val before = allFiles(root)
      val bytesBefore = before.map(f =>
        f -> Files.size(Paths.get(root).resolve(f))).toMap
      val r = AtomicLake.deleteWhereDV(spark, root)($"m" === 2)
      r.rowsChanged shouldBe 25
      r.filesRewritten shouldBe 0
      allFiles(root) shouldBe before // same files...
      before.foreach(f => // ...same bytes
        Files.size(Paths.get(root).resolve(f)) shouldBe bytesBefore(f))
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe (1 to 100).filterNot(_ % 4 == 2).toSet
      AtomicLake.history(root).head._2 shouldBe "dv"
      AtomicLake.history(root).head._4 shouldBe Some(75L)
      AtomicLake.history(root).head._4 shouldBe AtomicLake.rowCount(root)
    }

    it("null-predicate rows survive (SQL DELETE semantics)") {
      val root = freshRoot("dv_null")
      AtomicLake.upsertPartitions(
        Seq((1, Some(10)), (2, None), (3, Some(30))).toDF("id", "v"),
        root, Nil)
      val r = AtomicLake.deleteWhereDV(spark, root)($"v" > 20)
      r.rowsChanged shouldBe 1
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe Set(1, 2)
    }

    it("a second overlapping delete counts only NEWLY deleted rows and chains the vector") {
      val root = freshRoot("dv_chain")
      seed(root)
      AtomicLake.deleteWhereDV(spark, root)($"m" === 2)
        .rowsChanged shouldBe 25
      // m==2 rows are already gone; only the m==0 half is new
      val r2 = AtomicLake.deleteWhereDV(spark, root)($"m" % 2 === 0)
      r2.rowsChanged shouldBe 25
      dvMap(root).values.map(_.n).sum shouldBe 50
      dvMap(root).values.exists(_.paths.size == 2) shouldBe true
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe (1 to 100).filter(_ % 2 == 1).toSet
    }

    it("vectors apply where the root and partition dirs URI-encode") {
      // `_metadata.file_path` percent-encodes: "a b" -> a%20b, and a
      // partition dir Spark escaped to "c%25d" -> c%2525d
      val root = freshRoot("dv odd %20 root")
      AtomicLake.upsertPartitions(Seq((1, "a b"), (2, "a b"), (3, "c%d"),
        (4, "c%d")).toDF("id", "part"), root, Seq("part"))
      AtomicLake.deleteWhereDV(spark, root)($"id".isin(1, 3))
        .rowsChanged shouldBe 2
      AtomicLake.read(spark, root).select("id").as[Int].collect()
        .sorted shouldBe Array(2, 4)
      AtomicLake.merge(spark, root,
        Seq((2, "a b"), (4, "c%d")).toDF("id", "part"), Seq("id"))
        .rowsChanged shouldBe 2
      AtomicLake.read(spark, root).select("id").as[Int].collect()
        .sorted shouldBe Array(2, 4)
    }

    it("zero matches commit nothing") {
      val root = freshRoot("dv_noop")
      seed(root)
      val v = AtomicLake.currentVersion(root).get
      val r = AtomicLake.deleteWhereDV(spark, root)($"m" === 99)
      r.rowsChanged shouldBe 0L
      AtomicLake.currentVersion(root).get shouldBe v
    }

    it("rowCount subtracts deleted positions without a job") {
      val root = freshRoot("dv_count")
      seed(root)
      AtomicLake.deleteWhereDV(spark, root)($"m" === 1)
      AtomicLake.rowCount(root) shouldBe Some(75L)
    }

    it("stats-pruned scan stays exact over a dv'd table") {
      val root = freshRoot("dv_scan")
      seed(root)
      AtomicLake.deleteWhereDV(spark, root)($"id" <= 10)
      AtomicLake.scan(spark, root)($"id" <= 20)
        .select("id").as[Int].collect().toSet shouldBe (11 to 20).toSet
    }

    it("time travel sees each version's own dv state; restore rolls vectors back") {
      val root = freshRoot("dv_tt")
      seed(root)
      val v1 = AtomicLake.currentVersion(root).get
      AtomicLake.deleteWhereDV(spark, root)($"m" === 2)
      val v2 = AtomicLake.currentVersion(root).get
      AtomicLake.readVersion(spark, root, v1).count() shouldBe 100
      AtomicLake.readVersion(spark, root, v2).count() shouldBe 75
      val v3 = AtomicLake.restore(root, v1)
      AtomicLake.read(spark, root).count() shouldBe 100
      // CDC sees the rollback as re-inserts of the dv'd rows
      val ch = AtomicLake.readChanges(spark, root, v2, v3)
      ch.filter($"_change_type" === "insert").select("id").as[Int]
        .collect().toSet shouldBe (1 to 100).filter(_ % 4 == 2).toSet
    }
  }

  describe("CDC over dv commits") {
    it("readChanges emits delete images of exactly the dv'd rows") {
      val root = freshRoot("dv_cdc")
      seed(root)
      val v1 = AtomicLake.currentVersion(root).get
      AtomicLake.deleteWhereDV(spark, root)($"m" === 3)
      val v2 = AtomicLake.currentVersion(root).get
      val ch = AtomicLake.readChanges(spark, root, v1, v2)
      ch.filter($"_change_type" === "insert").count() shouldBe 0
      ch.filter($"_change_type" === "delete").select("id").as[Int]
        .collect().toSet shouldBe (1 to 100).filter(_ % 4 == 3).toSet
    }
  }

  describe("purgeDeletes") {
    it("materializes the vectors: same rows, dv map empty, only dv'd files rewritten") {
      val root = freshRoot("dv_purge")
      seed(root)
      // matches live only in partition p1's file
      AtomicLake.deleteWhereDV(spark, root)(
        $"part" === "p1" && $"id" <= 10)
      val before = allFiles(root)
      val expect = AtomicLake.read(spark, root).select("id")
        .as[Int].collect().toSet
      val r = AtomicLake.purgeDeletes(spark, root)
      r.filesRewritten shouldBe 1
      dvMap(root) shouldBe empty
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe expect
      // untouched files keep their manifest lines
      (before -- allFiles(root)).size shouldBe 1
      AtomicLake.history(root).head._2 shouldBe "compact"
      // no vectors -> no commit
      val v = AtomicLake.currentVersion(root).get
      AtomicLake.purgeDeletes(spark, root).version shouldBe v
    }

    it("a file emptied by its vector drops without a placeholder") {
      val root = freshRoot("dv_purge_empty")
      seed(root, 30)
      AtomicLake.deleteWhereDV(spark, root)($"part" === "p1")
      AtomicLake.purgeDeletes(spark, root)
      AtomicLake.read(spark, root).select("part").distinct()
        .as[String].collect().toSet shouldBe Set("p0", "p2")
    }
  }

  describe("rewrites over dv'd files never resurrect") {
    it("compact keeps dv'd rows deleted and sheds the vector") {
      val root = freshRoot("dv_compact")
      // two files in one partition so compact has something to fold
      AtomicLake.upsertPartitions(
        (1 to 25).map(i => (i, "a")).toDF("id", "part"), root,
        Seq("part"))
      AtomicLake.append(
        (26 to 50).map(i => (i, "a")).toDF("id", "part"), root,
        Seq("part"))
      AtomicLake.deleteWhereDV(spark, root)($"id" <= 5)
      AtomicLake.compact(spark, root)
      dvMap(root) shouldBe empty
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe (6 to 50).toSet
    }

    it("two chained vectors over one file keep both deletions") {
      val root = freshRoot("dv_chain_twice")
      seed(root)
      AtomicLake.deleteWhereDV(spark, root)($"m" === 2)
      AtomicLake.deleteWhereDV(spark, root)($"m" === 1)
        .rowsChanged shouldBe 25
      // every partition's file chains both sidecars, disjointly
      dvMap(root).values.map(_.paths.size).toSet shouldBe Set(2)
      dvMap(root).values.map(_.n).sum shouldBe 50
      val expect =
        (1 to 100).filterNot(i => i % 4 == 2 || i % 4 == 1).toSet
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe expect
      // and materializing the chain keeps both
      AtomicLake.purgeDeletes(spark, root)
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe expect
    }

    it("merge over a dv'd file updates matches without resurrecting") {
      val root = freshRoot("dv_merge")
      seed(root)
      AtomicLake.deleteWhereDV(spark, root)($"m" === 2) // ids 2,6,10,...
      val src = Seq((1, 100, "p1"), (101, 100, "p101"))
        .toDF("id", "m", "part")
      AtomicLake.merge(spark, root, src, Seq("id"))
      val out = AtomicLake.read(spark, root)
      out.count() shouldBe 76 // 75 survivors w/ id 1 updated + 1 insert
      out.filter($"id" === 1).select("m").as[Int].head() shouldBe 100
      out.filter($"id" === 2).count() shouldBe 0 // not resurrected
    }
  }

  describe("clone and vacuum with deletion vectors") {
    it("a shallow clone reads the source's vectors; its own DV deletes leave the source untouched") {
      val root = freshRoot("dv_clone_src")
      val cl = freshRoot("dv_clone_dst")
      seed(root)
      AtomicLake.deleteWhereDV(spark, root)($"m" === 2)
      AtomicLake.clone(root, cl)
      AtomicLake.read(spark, cl).count() shouldBe 75
      AtomicLake.deleteWhereDV(spark, cl)($"m" === 1)
      AtomicLake.read(spark, cl).count() shouldBe 50
      AtomicLake.read(spark, root).count() shouldBe 75 // source intact
      // the clone's sidecar lives under ITS root, not the source's
      Files.isDirectory(Paths.get(cl, "dv")) shouldBe true
    }

    it("vacuum keeps referenced sidecars and reclaims them after purge") {
      val root = freshRoot("dv_vacuum")
      seed(root)
      AtomicLake.deleteWhereDV(spark, root)($"m" === 2)
      AtomicLake.vacuum(root, keepVersions = 1, minAgeMs = 0L)
      // still referenced by the current manifest -> still readable
      AtomicLake.read(spark, root).count() shouldBe 75
      AtomicLake.purgeDeletes(spark, root)
      AtomicLake.vacuum(root, keepVersions = 1, minAgeMs = 0L)
      val dvDirs = {
        val d = Paths.get(root, "dv")
        if (!Files.isDirectory(d)) Nil
        else { val l = Files.list(d)
          try l.iterator().asScala.toSeq finally l.close() }
      }
      dvDirs shouldBe empty
      AtomicLake.read(spark, root).count() shouldBe 75
    }

    it("memoized sidecars: reads, purge, restore, vacuum and a clone agree with the memo warm") {
      val root = freshRoot("dv_memo_src")
      val cl = freshRoot("dv_memo_dst")
      seed(root)
      AtomicLake.deleteWhereDV(spark, root)($"m" === 2)
      AtomicLake.deleteWhereDV(spark, root)($"id" < 10) // chains a sidecar
      val expect = (1 to 100).filterNot(i => i % 4 == 2 || i < 10).toSet
      def ids(r: String) =
        AtomicLake.read(spark, r).select("id").as[Int].collect().toSet
      ids(root) shouldBe expect // parses and memoizes the chain
      val dvVersion = AtomicLake.currentVersion(root).get
      AtomicLake.clone(root, cl)
      // with the sidecars moved away only the memo can serve them: the
      // source's relative refs and the clone's absolute refs resolve to
      // the same entries
      val dv = Paths.get(root, "dv")
      val away = Paths.get(root, "dv-away")
      Files.move(dv, away)
      try {
        ids(root) shouldBe expect
        ids(cl) shouldBe expect
      } finally Files.move(away, dv)
      AtomicLake.purgeDeletes(spark, root)
      dvMap(root) shouldBe empty
      ids(root) shouldBe expect
      AtomicLake.restore(root, dvVersion)
      dvMap(root) should not be empty
      ids(root) shouldBe expect
      AtomicLake.vacuum(root, keepVersions = 1, minAgeMs = 0L)
      ids(root) shouldBe expect
      ids(cl) shouldBe expect
    }
  }
}
