package graft

import org.apache.spark.sql.functions._
import graft.sources.AtomicLake

/** Column mapping (SURVEY.md §2 G40 — Delta's columnMapping.mode=name):
  * RENAME/DROP COLUMN as metadata-only commits, physical pages
  * untouched, per-snapshot mapping for time travel/restore/clone,
  * zone-map pruning translated, resurrection refused.
  */
class LakeColumnMapSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = TestScratch(s"lakecolmap_$name")
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    root
  }

  describe("RENAME COLUMN") {
    it("renames metadata-only: same files, old data under the new name") {
      val root = freshRoot("rename")
      AtomicLake.append(Seq((1L, "x"), (2L, "y")).toDF("id", "val"),
        root)
      val filesBefore = AtomicLake.currentSnapshot(root).get
        .files.values.flatten.toSet
      AtomicLake.renameColumn(root, "val", "label")
      val snap = AtomicLake.currentSnapshot(root).get
      snap.files.values.flatten.toSet shouldBe filesBefore // no moves
      snap.kind shouldBe "schema"
      snap.colMap shouldBe Map("label" -> "val")
      val cur = AtomicLake.read(spark, root)
      cur.columns.toSeq shouldBe Seq("id", "label")
      cur.select("id", "label").as[(Long, String)].collect().toSet shouldBe
        Set((1L, "x"), (2L, "y"))
    }

    it("writes after the rename land under the ORIGINAL physical name " +
        "and read back merged") {
      val root = freshRoot("rename_write")
      AtomicLake.append(Seq((1L, "x")).toDF("id", "val"), root)
      AtomicLake.renameColumn(root, "val", "label")
      AtomicLake.append(Seq((2L, "y")).toDF("id", "label"), root)
      // both files physically store 'val' — direct parquet proves it
      val snap = AtomicLake.currentSnapshot(root).get
      val paths = snap.files.values.flatten.map(f =>
        java.nio.file.Paths.get(root).resolve(f).toString).toSeq
      val raw = spark.read.parquet(paths: _*)
      raw.columns should contain("val")
      raw.columns should not contain "label"
      // logical read merges both
      AtomicLake.read(spark, root).select("id", "label")
        .as[(Long, String)].collect().toSet shouldBe
        Set((1L, "x"), (2L, "y"))
    }

    it("time travel and restore see each version's own names") {
      val root = freshRoot("rename_tt")
      AtomicLake.append(Seq((1L, "x")).toDF("id", "val"), root) // v1
      val v2 = AtomicLake.renameColumn(root, "val", "label")
      AtomicLake.readVersion(spark, root, 1).columns.toSeq shouldBe
        Seq("id", "val")
      AtomicLake.readVersion(spark, root, v2).columns.toSeq shouldBe
        Seq("id", "label")
      AtomicLake.restore(root, 1)
      AtomicLake.read(spark, root).columns.toSeq shouldBe Seq("id", "val")
      AtomicLake.currentSnapshot(root).get.colMap shouldBe empty
    }

    it("zone maps keep pruning through the rename") {
      val root = freshRoot("rename_prune")
      AtomicLake.append(Seq((1L, "a")).toDF("k", "s"), root)
      AtomicLake.append(Seq((100L, "b")).toDF("k", "s"), root)
      AtomicLake.renameColumn(root, "k", "key")
      AtomicLake.scanInfo(root)(col("key") === 100L) shouldBe (1, 2)
      AtomicLake.scan(spark, root)(col("key") === 100L)
        .select("s").as[String].collect().toSeq shouldBe Seq("b")
    }

    it("COW rewrites and compaction stage under physical names") {
      val root = freshRoot("rename_cow")
      AtomicLake.append(Seq((1L, "x"), (2L, "y")).toDF("id", "val"),
        root)
      AtomicLake.renameColumn(root, "val", "label")
      AtomicLake.deleteWhere(spark, root)(col("label") === "x")
      AtomicLake.read(spark, root).select("id", "label")
        .as[(Long, String)].collect().toSet shouldBe Set((2L, "y"))
      // the rewritten file again stores physical 'val'
      val snap = AtomicLake.currentSnapshot(root).get
      val raw = spark.read.parquet(snap.files.values.flatten.map(f =>
        java.nio.file.Paths.get(root).resolve(f).toString).toSeq: _*)
      raw.columns should contain("val")
      AtomicLake.compact(spark, root)
      AtomicLake.read(spark, root).select("id", "label")
        .as[(Long, String)].collect().toSet shouldBe Set((2L, "y"))
    }

    it("a clone carries the mapping") {
      val src = freshRoot("rename_clone_src")
      val dst = freshRoot("rename_clone_dst")
      AtomicLake.append(Seq((1L, "x")).toDF("id", "val"), src)
      AtomicLake.renameColumn(src, "val", "label")
      AtomicLake.clone(src, dst)
      AtomicLake.read(spark, dst).select("id", "label")
        .as[(Long, String)].collect().toSet shouldBe Set((1L, "x"))
    }

    it("refuses: existing target, partition column, constraint or " +
        "bloom references, re-adding the stolen physical slot") {
      val root = freshRoot("rename_refuse")
      AtomicLake.upsertPartitions(
        Seq((1L, "x", "p1")).toDF("id", "val", "part"), root,
        Seq("part"))
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.renameColumn(root, "val", "id")
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.renameColumn(root, "part", "division")
      AtomicLake.addConstraint(spark, root, "v_nonnull",
        "val IS NOT NULL")
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.renameColumn(root, "val", "label")
      AtomicLake.dropConstraint(root, "v_nonnull")
      AtomicLake.renameColumn(root, "val", "label")
      // re-adding 'val' would collide with label's physical storage
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.append(
          Seq((2L, "z", "new", "p1")).toDF("id", "label", "val", "part"),
          root, Seq("part"))
    }

    it("refuses renaming a bloom-indexed column") {
      val root = freshRoot("rename_bloom")
      AtomicLake.append(Seq((1L, "x")).toDF("id", "val"), root)
      AtomicLake.indexBloom(spark, root, Seq("val"))
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.renameColumn(root, "val", "label")
    }
  }

  describe("DROP COLUMN") {
    it("drops metadata-only and tombstones the physical name") {
      val root = freshRoot("drop")
      AtomicLake.append(Seq((1L, "x", 10)).toDF("id", "val", "n"), root)
      val filesBefore = AtomicLake.currentSnapshot(root).get
        .files.values.flatten.toSet
      AtomicLake.dropColumn(root, "val")
      val snap = AtomicLake.currentSnapshot(root).get
      snap.files.values.flatten.toSet shouldBe filesBefore
      snap.dropped shouldBe Set("val")
      AtomicLake.read(spark, root).columns.toSeq shouldBe Seq("id", "n")
      // time travel before the drop still reads it
      AtomicLake.readVersion(spark, root, 1).columns.toSeq shouldBe
        Seq("id", "val", "n")
      // resurrection refused loudly
      val e = intercept[IllegalArgumentException] {
        AtomicLake.append(Seq((2L, "ghost", 20))
          .toDF("id", "val", "n"), root)
      }
      e.getMessage should include("resurrect")
    }

    it("dropping a RENAMED column tombstones its physical slot") {
      val root = freshRoot("drop_renamed")
      AtomicLake.append(Seq((1L, "x", 10)).toDF("id", "val", "n"), root)
      AtomicLake.renameColumn(root, "val", "label")
      AtomicLake.dropColumn(root, "label")
      val snap = AtomicLake.currentSnapshot(root).get
      snap.dropped shouldBe Set("val") // the PHYSICAL name
      snap.colMap shouldBe empty
      // the PHYSICAL name may not come back (old bytes would read)
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.append(Seq((2L, "a", 20)).toDF("id", "val", "n"), root)
      // the renamed-away LOGICAL name is free: its fresh physical
      // slot ('label') never existed in old files — no resurrection,
      // old rows read null
      AtomicLake.append(Seq((2L, "a", 20)).toDF("id", "label", "n"),
        root)
      AtomicLake.read(spark, root).select("id", "label")
        .as[(Long, Option[String])].collect().toSet shouldBe
        Set((1L, None), (2L, Some("a")))
    }

    it("sheds bloom entries on the dropped column, keeps others") {
      val root = freshRoot("drop_bloom")
      AtomicLake.append(Seq((1L, "x")).toDF("id", "val"), root)
      AtomicLake.indexBloom(spark, root, Seq("id", "val"))
      AtomicLake.dropColumn(root, "val")
      val snap = AtomicLake.currentSnapshot(root).get
      snap.blooms.values.flatMap(_.keys).toSet shouldBe Set("id")
      AtomicLake.scan(spark, root)(col("id") === 1L).count() shouldBe 1L
    }
  }

  describe("SQL surface") {
    it("ALTER LAKE RENAME COLUMN / DROP COLUMN drive the same paths") {
      val root = freshRoot("sql")
      AtomicLake.append(Seq((1L, "x", 10)).toDF("id", "val", "n"), root)
      spark.sql(s"ALTER LAKE '$root' RENAME COLUMN val TO label")
        .collect()
      AtomicLake.read(spark, root).columns.toSeq shouldBe
        Seq("id", "label", "n")
      spark.sql(s"ALTER LAKE '$root' DROP COLUMN n").collect()
      AtomicLake.read(spark, root).columns.toSeq shouldBe
        Seq("id", "label")
      AtomicLake.read(spark, root).select("label").as[String]
        .collect().toSeq shouldBe Seq("x")
    }
  }
}
