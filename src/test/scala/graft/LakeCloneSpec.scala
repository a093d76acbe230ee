package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.sources.AtomicLake

/** Zero-copy table management: RESTORE (rollback as a new metadata
  * commit) and SHALLOW CLONE (a manifest referencing the source's
  * files absolutely; all mutations copy-on-write into the clone).
  */
class LakeCloneSpec extends SparkSpec {
  import spark.implicits._

  private val scratch = TestScratch("lake_clone")

  private def freshRoot(name: String): String = {
    val p = Paths.get(scratch, name)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    p.toString
  }

  private def dataFiles(root: String): Seq[String] = {
    val d = Paths.get(root, "data")
    if (!Files.isDirectory(d)) Nil
    else {
      val w = Files.walk(d)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.toString).toSeq
      finally w.close()
    }
  }

  describe("restore") {
    it("rolls back to an old version as a new commit; history intact") {
      val root = freshRoot("restore_basic")
      val v1 = AtomicLake.upsertPartitions(
        Seq((1, "a"), (2, "b")).toDF("id", "part"), root, Seq("part"))
      AtomicLake.upsertPartitions(
        Seq((99, "a")).toDF("id", "part"), root, Seq("part"))
      AtomicLake.deleteWhere(spark, root)($"id" === 2)
      val vr = AtomicLake.restore(root, v1)
      vr should be > v1
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe Set(1, 2)
      // the undone middle state is still time-travelable
      AtomicLake.readVersion(spark, root, v1 + 1)
        .select("id").as[Int].collect().toSet shouldBe Set(99, 2)
    }
    it("is metadata-only: no data files are written by a restore") {
      val root = freshRoot("restore_meta")
      val v1 = AtomicLake.append((1 to 10).toDF("id"), root)
      AtomicLake.append((11 to 20).toDF("id"), root)
      val before = dataFiles(root).toSet
      AtomicLake.restore(root, v1)
      dataFiles(root).toSet shouldBe before
      AtomicLake.read(spark, root).count() shouldBe 10
    }
    it("restore sheds a column added after the target version") {
      val root = freshRoot("restore_schema")
      val v1 = AtomicLake.append(Seq((1, "a")).toDF("id", "t"), root)
      AtomicLake.append(
        Seq((2, "b", 9.0)).toDF("id", "t", "score"), root)
      AtomicLake.read(spark, root).columns should contain("score")
      AtomicLake.restore(root, v1)
      // exactly v1's state: the evolved column is gone, not nulled
      AtomicLake.read(spark, root).columns.toSeq shouldBe Seq("id", "t")
      AtomicLake.read(spark, root).count() shouldBe 1
    }
    it("CDC across a restore reports the rollback's file diff") {
      val root = freshRoot("restore_cdc")
      val v1 = AtomicLake.append((1 to 5).toDF("id"), root)
      val v2 = AtomicLake.append((6 to 9).toDF("id"), root)
      val vr = AtomicLake.restore(root, v1)
      val ch = AtomicLake.readChanges(spark, root, v2, vr)
      ch.filter($"_change_type" === "delete").select("id").as[Int]
        .collect().toSet shouldBe (6 to 9).toSet
      ch.filter($"_change_type" === "insert").count() shouldBe 0
    }
  }

  describe("shallow clone") {
    it("is zero-copy, reads the source's data, keeps pruning stats") {
      val src = freshRoot("clone_src")
      val dst = freshRoot("clone_dst")
      AtomicLake.upsertPartitions(
        (1 to 20).map(i => (i, s"p${i % 2}")).toDF("id", "part"),
        src, Seq("part"))
      AtomicLake.clone(src, dst)
      // no data under the clone at all
      dataFiles(dst) shouldBe empty
      AtomicLake.read(spark, dst).select("id").as[Int]
        .collect().toSet shouldBe (1 to 20).toSet
      // partition columns still parse from the source's dirs
      AtomicLake.read(spark, dst).filter($"part" === "p1")
        .count() shouldBe 10
      // zone-map stats carried: a pruned scan plans ZERO files
      AtomicLake.scan(spark, dst)($"id" > 1000).count() shouldBe 0
      val snap = AtomicLake.currentSnapshot(dst).get
      snap.stats should not be empty
    }
    it("mutations are copy-on-write into the clone; source untouched") {
      val src = freshRoot("cow_src")
      val dst = freshRoot("cow_dst")
      AtomicLake.append((1 to 10).toDF("id"), src)
      AtomicLake.append((11 to 20).toDF("id"), src)
      AtomicLake.clone(src, dst)
      val srcBefore = dataFiles(src).toSet
      val r = AtomicLake.deleteWhere(spark, dst)($"id" <= 5)
      r.rowsChanged shouldBe 5
      r.filesRewritten shouldBe 1 // zone maps kept the 11-20 file clean
      // rewrite landed in the CLONE's data dir; source bytes untouched
      dataFiles(dst) should not be empty
      dataFiles(src).toSet shouldBe srcBefore
      AtomicLake.read(spark, dst).select("id").as[Int]
        .collect().toSet shouldBe (6 to 20).toSet
      AtomicLake.read(spark, src).count() shouldBe 20
      // merge through the clone as well
      AtomicLake.merge(spark, dst, Seq(6, 99).toDF("id"), Seq("id"))
      AtomicLake.read(spark, dst).count() shouldBe 16
      AtomicLake.read(spark, src).count() shouldBe 20
    }
    it("appends land locally and read mixed with source files") {
      val src = freshRoot("mix_src")
      val dst = freshRoot("mix_dst")
      AtomicLake.upsertPartitions(
        Seq((1, "a")).toDF("id", "part"), src, Seq("part"))
      AtomicLake.clone(src, dst)
      AtomicLake.upsertPartitions(
        Seq((2, "b")).toDF("id", "part"), dst, Seq("part"))
      AtomicLake.read(spark, dst).select("id", "part")
        .as[(Int, String)].collect().toSet shouldBe
        Set((1, "a"), (2, "b"))
      AtomicLake.read(spark, src).count() shouldBe 1
    }
    it("vacuum on the clone never deletes source files") {
      val src = freshRoot("vac_src")
      val dst = freshRoot("vac_dst")
      AtomicLake.append((1 to 10).toDF("id"), src)
      AtomicLake.clone(src, dst)
      // churn versions on the clone so vacuum has something to expire
      AtomicLake.append(Seq(11).toDF("id"), dst)
      AtomicLake.overwrite((20 to 25).toDF("id"), dst)
      val srcBefore = dataFiles(src).toSet
      AtomicLake.vacuum(dst, keepVersions = 1, minAgeMs = 0L)
      dataFiles(src).toSet shouldBe srcBefore
      AtomicLake.read(spark, src).count() shouldBe 10
      AtomicLake.read(spark, dst).count() shouldBe 6
    }
    it("history lists versions newest-first with kind and row counts") {
      val root = freshRoot("hist")
      AtomicLake.append((1 to 10).toDF("id"), root)
      AtomicLake.append((11 to 15).toDF("id"), root)
      AtomicLake.cluster(spark, root, Seq("id"))
      val h = AtomicLake.history(root)
      h.map(_._1) shouldBe Seq(3L, 2L, 1L)
      h.head._2 shouldBe "compact"
      h.head._4 shouldBe Some(15L)
      h.last._4 shouldBe Some(10L)
    }
    it("timestampAsOf resolves versions through the ts= headers") {
      val root = freshRoot("ts_asof")
      AtomicLake.append(Seq(1).toDF("id"), root)
      val t1 = AtomicLake.currentSnapshot(root).get.ts.get
      Thread.sleep(5)
      AtomicLake.append(Seq(2).toDF("id"), root)
      AtomicLake.versionAt(root, t1) shouldBe 1L
      AtomicLake.versionAt(root, System.currentTimeMillis()) shouldBe 2L
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.versionAt(root, t1 - 1000)
      spark.read.format("graft-lake").option("path", root)
        .option("timestampAsOf", t1.toString).load()
        .count() shouldBe 1L
    }
    it("partitions/detail/scanInfo answer from the manifest alone") {
      val root = freshRoot("meta_utils")
      AtomicLake.upsertPartitions(
        (1 to 20).map(i => (i, s"p${i % 2}")).toDF("id", "part"),
        root, Seq("part"))
      AtomicLake.addConstraint(spark, root, "id_pos", "id > 0")
      val parts = AtomicLake.partitions(root)
      parts.map(p => (p._1, p._2, p._3)) shouldBe Seq(
        ("part=p0", 1, 10L), ("part=p1", 1, 10L))
      parts.foreach(_._4 should be > 0L)
      val (v, nFiles, bytes, pCols, cons) = AtomicLake.detail(root)
      v shouldBe AtomicLake.currentVersion(root).get
      nFiles shouldBe 2
      bytes should be > 0L
      pCols shouldBe Seq("part")
      cons shouldBe Seq("id_pos")
      AtomicLake.scanInfo(root)($"id" > 100) shouldBe (0, 2)
      AtomicLake.scanInfo(root)($"part" === "p0") shouldBe (1, 2)
    }
    it("rowCount answers count(*) from the manifest, task-free") {
      val root = freshRoot("rowcount")
      AtomicLake.append((1 to 10).toDF("id"), root)
      AtomicLake.append((11 to 25).toDF("id"), root)
      AtomicLake.rowCount(root) shouldBe Some(25L)
      AtomicLake.deleteWhere(spark, root)($"id" <= 5)
      AtomicLake.rowCount(root) shouldBe Some(20L)
    }
    it("a clone of a clone references the ORIGINAL files and stays " +
        "zero-copy") {
      val a = freshRoot("chain_a")
      val b = freshRoot("chain_b")
      val c = freshRoot("chain_c")
      AtomicLake.append((1 to 10).toDF("id"), a)
      AtomicLake.clone(a, b)
      // b mutates (one local file joins the absolute reference)
      AtomicLake.append(Seq(11).toDF("id"), b)
      AtomicLake.clone(b, c)
      dataFiles(c) shouldBe empty
      AtomicLake.read(spark, c).select("id").as[Int]
        .collect().toSet shouldBe (1 to 11).toSet
      // c's references resolve to a's and b's data planes directly
      val refs = AtomicLake.currentSnapshot(c).get
        .files.values.flatten.toSeq
      refs.foreach(f =>
        java.nio.file.Paths.get(f).isAbsolute shouldBe true)
      AtomicLake.scan(spark, c)($"id" > 10).count() shouldBe 1
    }
    it("a clone carries the source's CHECK constraints") {
      val src = freshRoot("cons_src")
      val dst = freshRoot("cons_dst")
      AtomicLake.append(Seq((1, 1.0)).toDF("id", "v"), src)
      AtomicLake.addConstraint(spark, src, "v_pos", "v > 0")
      AtomicLake.clone(src, dst)
      AtomicLake.currentSnapshot(dst).get
        .constraints shouldBe Map("v_pos" -> "v > 0")
      an[IllegalStateException] should be thrownBy
        AtomicLake.append(Seq((2, -1.0)).toDF("id", "v"), dst)
    }
    it("refuses to clone onto an existing lake") {
      val src = freshRoot("ref_src")
      val dst = freshRoot("ref_dst")
      AtomicLake.append(Seq(1).toDF("id"), src)
      AtomicLake.append(Seq(2).toDF("id"), dst)
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.clone(src, dst)
    }
  }
}
