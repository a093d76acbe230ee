package graft

import org.apache.spark.sql.functions._
import graft.sources.AtomicLake

/** Generated columns (SURVEY.md §2 G41 — Delta's GENERATED ALWAYS
  * AS): absent columns materialize at write from the table-owned
  * expression, provided values validate cell-by-cell, and the
  * generated-PARTITION-column workflow (writers never compute the
  * month) works end to end.
  */
class LakeGeneratedSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = TestScratch(s"lakegen_$name")
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    root
  }

  describe("setGeneratedColumn") {
    it("materializes the column on writes that omit it — including a " +
        "generated PARTITION column") {
      val root = freshRoot("partition")
      AtomicLake.upsertPartitions(
        Seq((1L, "2024-03-15", "2024-03")).toDF("id", "d", "month"),
        root, Seq("month"))
      AtomicLake.setGeneratedColumn(spark, root, "month",
        "substr(d, 1, 7)")
      // writer no longer computes the month
      AtomicLake.upsertPartitions(
        Seq((2L, "2024-04-02")).toDF("id", "d"), root, Seq("month"))
      val cur = AtomicLake.read(spark, root)
      cur.select("id", "month").as[(Long, String)].collect().toSet shouldBe
        Set((1L, "2024-03"), (2L, "2024-04"))
      // and the generated value landed as a REAL partition dir
      AtomicLake.currentSnapshot(root).get.files.keySet shouldBe
        Set("month=2024-03", "month=2024-04")
    }

    it("validates PROVIDED values and refuses contradictions loudly") {
      val root = freshRoot("validate")
      AtomicLake.append(Seq((1L, "2024-03-15")).toDF("id", "d"), root)
      AtomicLake.setGeneratedColumn(spark, root, "month",
        "substr(d, 1, 7)")
      // correct provided value passes
      AtomicLake.append(
        Seq((2L, "2024-05-01", "2024-05")).toDF("id", "d", "month"),
        root)
      val e = intercept[IllegalStateException] {
        AtomicLake.append(
          Seq((3L, "2024-06-01", "1999-01")).toDF("id", "d", "month"),
          root)
      }
      e.getMessage should include("generated column 'month'")
      AtomicLake.read(spark, root).count() shouldBe 2L // nothing landed
    }

    it("refuses declaring over existing contradicting data; accepts " +
        "conforming data") {
      val root = freshRoot("declare")
      AtomicLake.append(
        Seq((1L, "2024-03-15", "wrong")).toDF("id", "d", "month"), root)
      an[IllegalStateException] should be thrownBy
        AtomicLake.setGeneratedColumn(spark, root, "month",
          "substr(d, 1, 7)")
      val root2 = freshRoot("declare2")
      AtomicLake.append(
        Seq((1L, "2024-03-15", "2024-03")).toDF("id", "d", "month"),
        root2)
      AtomicLake.setGeneratedColumn(spark, root2, "month",
        "substr(d, 1, 7)") // conforming: accepted
      AtomicLake.currentSnapshot(root2).get.generated shouldBe
        Map("month" -> "substr(d, 1, 7)")
    }

    it("merge and expectation ingest honor the declaration") {
      val root = freshRoot("merge")
      AtomicLake.append(Seq((1L, "2024-03-15")).toDF("id", "d"), root)
      AtomicLake.setGeneratedColumn(spark, root, "month",
        "substr(d, 1, 7)")
      AtomicLake.merge(spark, root,
        Seq((1L, "2024-07-09"), (9L, "2024-08-01")).toDF("id", "d"),
        Seq("id"))
      AtomicLake.read(spark, root).select("id", "month")
        .as[(Long, Option[String])].collect().toSet shouldBe
        Set((1L, Some("2024-07")), (9L, Some("2024-08")))
      // expectation ingest: a provided contradiction QUARANTINES
      val quarantine = freshRoot("merge_quarantine")
      val (_, nGood, nBad) = AtomicLake.appendExpect(
        Seq((10L, "2024-09-01", "2024-09"),
          (11L, "2024-10-01", "bogus")).toDF("id", "d", "month"),
        root, quarantine)
      nGood shouldBe 1L
      nBad shouldBe 1L
      AtomicLake.read(spark, quarantine)
        .select(explode(col("_violated"))).as[String]
        .collect().toSeq shouldBe Seq("generated:month")
    }

    it("rename/drop interplay: generated and derived-from columns " +
        "are protected; dropGenerated frees them") {
      val root = freshRoot("interplay")
      AtomicLake.append(Seq((1L, "2024-03-15")).toDF("id", "d"), root)
      AtomicLake.setGeneratedColumn(spark, root, "month",
        "substr(d, 1, 7)")
      AtomicLake.append(Seq((2L, "2024-04-01")).toDF("id", "d"), root)
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.renameColumn(root, "month", "m") // generated
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.renameColumn(root, "d", "dt") // derived-from
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.dropColumn(root, "d") // derived-from
      AtomicLake.dropGeneratedColumn(root, "month")
      AtomicLake.renameColumn(root, "d", "dt")
      AtomicLake.read(spark, root).columns.toSet shouldBe
        Set("id", "dt", "month")
      // re-declaring with an expression the data contradicts refuses
      val root2 = freshRoot("interplay2")
      AtomicLake.append(Seq((1L, "x", "X")).toDF("id", "a", "b"), root2)
      AtomicLake.setGeneratedColumn(spark, root2, "b", "upper(a)")
      an[IllegalStateException] should be thrownBy
        AtomicLake.setGeneratedColumn(spark, root2, "b", "lower(a)")
    }

    it("restores and clones carry the declaration; SQL drives it") {
      val root = freshRoot("sql")
      AtomicLake.append(Seq((1L, "2024-03-15")).toDF("id", "d"), root)
      val pre = AtomicLake.currentVersion(root).get
      spark.sql(s"ALTER LAKE '$root' ADD COLUMN month " +
        "GENERATED ALWAYS AS (substr(d, 1, 7))").collect()
      AtomicLake.currentSnapshot(root).get.generated.keySet shouldBe
        Set("month")
      val dst = freshRoot("sql_clone")
      AtomicLake.clone(root, dst)
      AtomicLake.currentSnapshot(dst).get.generated.keySet shouldBe
        Set("month")
      AtomicLake.restore(root, pre)
      AtomicLake.currentSnapshot(root).get.generated shouldBe empty
      spark.sql(s"ALTER LAKE '$dst' DROP GENERATED COLUMN month")
        .collect()
      AtomicLake.currentSnapshot(dst).get.generated shouldBe empty
    }
  }
}
