package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.sources.{AtomicLake, CommitStore, HardlinkCommitStore}

/** CHECK constraints on the lake (Delta's ADD CONSTRAINT … CHECK):
  * metadata commits carry them, every write commit enforces them, SQL
  * null semantics apply, and a violating batch leaves the table
  * byte-identical.
  */
class LakeConstraintSpec extends SparkSpec {
  import spark.implicits._

  private val scratch = TestScratch("lake_constraint")

  private def freshRoot(name: String): String = {
    val p = Paths.get(scratch, name)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    p.toString
  }

  describe("CHECK constraints") {
    it("a violating batch is refused before anything commits") {
      val root = freshRoot("refuse")
      AtomicLake.append(Seq((1, 10.0)).toDF("id", "v"), root)
      val vc = AtomicLake.addConstraint(spark, root, "v_pos", "v > 0")
      val ex = the[IllegalStateException] thrownBy
        AtomicLake.append(Seq((2, -5.0)).toDF("id", "v"), root)
      ex.getMessage should include("v_pos")
      // table unchanged: same version, same rows
      AtomicLake.currentVersion(root).get shouldBe vc
      AtomicLake.read(spark, root).count() shouldBe 1
      // a clean batch still lands
      AtomicLake.append(Seq((3, 3.0)).toDF("id", "v"), root)
      AtomicLake.read(spark, root).count() shouldBe 2
    }
    it("null predicate values PASS (SQL CHECK semantics)") {
      val root = freshRoot("null_pass")
      AtomicLake.append(Seq((1, Some(1.0))).toDF("id", "v"), root)
      AtomicLake.addConstraint(spark, root, "v_pos", "v > 0")
      AtomicLake.append(
        Seq((2, None: Option[Double])).toDF("id", "v"), root)
      AtomicLake.read(spark, root).count() shouldBe 2
    }
    it("adding a constraint existing data violates is refused") {
      val root = freshRoot("add_refuse")
      AtomicLake.append(Seq((1, -1.0)).toDF("id", "v"), root)
      val v0 = AtomicLake.currentVersion(root).get
      an[IllegalStateException] should be thrownBy
        AtomicLake.addConstraint(spark, root, "v_pos", "v > 0")
      AtomicLake.currentVersion(root).get shouldBe v0
    }
    it("constraints survive unrelated commits and drop cleanly") {
      val root = freshRoot("carry")
      AtomicLake.upsertPartitions(
        Seq((1, 1.0, "a")).toDF("id", "v", "part"), root, Seq("part"))
      AtomicLake.addConstraint(spark, root, "v_pos", "v > 0")
      AtomicLake.upsertPartitions(
        Seq((2, 2.0, "b")).toDF("id", "v", "part"), root, Seq("part"))
      AtomicLake.currentSnapshot(root).get
        .constraints shouldBe Map("v_pos" -> "v > 0")
      an[IllegalStateException] should be thrownBy
        AtomicLake.upsertPartitions(
          Seq((3, -3.0, "c")).toDF("id", "v", "part"), root, Seq("part"))
      AtomicLake.dropConstraint(root, "v_pos")
      AtomicLake.upsertPartitions(
        Seq((3, -3.0, "c")).toDF("id", "v", "part"), root, Seq("part"))
      AtomicLake.read(spark, root).count() shouldBe 3
      // dropping an unknown name is refused, not silently ignored
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.dropConstraint(root, "nope")
    }
    it("merge validates its source rows") {
      val root = freshRoot("merge_check")
      AtomicLake.append(Seq((1, 1.0)).toDF("k", "v"), root)
      AtomicLake.addConstraint(spark, root, "v_pos", "v > 0")
      an[IllegalStateException] should be thrownBy
        AtomicLake.merge(spark, root,
          Seq((1, -9.0)).toDF("k", "v"), Seq("k"))
      AtomicLake.read(spark, root).select("v").as[Double]
        .head() shouldBe 1.0
      AtomicLake.merge(spark, root,
        Seq((1, 9.0)).toDF("k", "v"), Seq("k"))
      AtomicLake.read(spark, root).select("v").as[Double]
        .head() shouldBe 9.0
    }
    it("update validates its row images") {
      val root = freshRoot("update_check")
      AtomicLake.append(Seq((1, 1.0), (2, 2.0)).toDF("k", "v"), root)
      val vc = AtomicLake.addConstraint(spark, root, "v_pos", "v >= 0")
      val ex = the[IllegalStateException] thrownBy
        AtomicLake.updateWhere(spark, root,
          Seq("v" -> lit(-1.0)))(col("k") === 1)
      ex.getMessage should include("v_pos")
      // table unchanged: same version, same rows
      AtomicLake.currentVersion(root).get shouldBe vc
      AtomicLake.read(spark, root).select("k", "v").as[(Int, Double)]
        .collect().toSet shouldBe Set((1, 1.0), (2, 2.0))
      AtomicLake.updateWhere(spark, root,
        Seq("v" -> lit(9.0)))(col("k") === 1).rowsChanged shouldBe 1
      AtomicLake.read(spark, root).select("k", "v").as[(Int, Double)]
        .collect().toSet shouldBe Set((1, 9.0), (2, 2.0))
    }
    it("appendExpect splits a mixed batch: good rows commit, bad " +
        "rows quarantine with their violation names") {
      val root = freshRoot("expect")
      val quarantine = freshRoot("expect_q")
      AtomicLake.append(Seq((1, 1.0, "x")).toDF("id", "v", "t"), root)
      AtomicLake.addConstraint(spark, root, "v_pos", "v > 0")
      AtomicLake.addConstraint(spark, root, "t_nonempty",
        "length(t) > 0")
      val (v, good, bad) = AtomicLake.appendExpect(
        Seq((2, 2.0, "ok"), (3, -3.0, "neg"), (4, 4.0, ""),
          (5, -5.0, "")).toDF("id", "v", "t"),
        root, quarantine)
      (good, bad) shouldBe (1L, 3L)
      v shouldBe AtomicLake.currentVersion(root).get
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe Set(1, 2)
      val q = AtomicLake.read(spark, quarantine)
        .select($"id", $"_violated")
        .as[(Int, Seq[String])].collect().toMap
      q(3) shouldBe Seq("v_pos")
      q(4) shouldBe Seq("t_nonempty")
      q(5).toSet shouldBe Set("v_pos", "t_nonempty")
    }
    it("appendExpect with every row bad leaves the table version " +
        "unchanged; with no constraints it is a plain append") {
      val root = freshRoot("expect_all_bad")
      val quarantine = freshRoot("expect_all_bad_q")
      AtomicLake.append(Seq((1, 1.0)).toDF("id", "v"), root)
      val v0 = AtomicLake.addConstraint(spark, root, "v_pos", "v > 0")
      val (v, good, bad) = AtomicLake.appendExpect(
        Seq((2, -2.0)).toDF("id", "v"), root, quarantine)
      (v, good, bad) shouldBe (v0, 0L, 1L)
      AtomicLake.read(spark, root).count() shouldBe 1
      // constraint-free table: straight append, quarantine untouched
      val root2 = freshRoot("expect_plain")
      val q2 = freshRoot("expect_plain_q")
      AtomicLake.appendExpect(
        Seq((1, 1.0)).toDF("id", "v"), root2, q2)
      AtomicLake.read(spark, root2).count() shouldBe 1
      AtomicLake.currentVersion(q2) shouldBe None
    }
    it("multiple constraints check in one pass; each reports by name") {
      val root = freshRoot("multi")
      AtomicLake.append(Seq((1, 1.0, "x")).toDF("id", "v", "t"), root)
      AtomicLake.addConstraint(spark, root, "v_pos", "v > 0")
      AtomicLake.addConstraint(spark, root, "t_nonempty",
        "length(t) > 0")
      val ex = the[IllegalStateException] thrownBy
        AtomicLake.append(
          Seq((2, 2.0, "")).toDF("id", "v", "t"), root)
      ex.getMessage should include("t_nonempty")
      AtomicLake.currentSnapshot(root).get.constraints.keySet shouldBe
        Set("v_pos", "t_nonempty")
    }
    it("a metadata commit that loses the version race re-applies " +
        "its change to the winner's snapshot") {
      /** Lands `racer` through the plain store on the first claim
        * attempt, then delegates — so that attempt loses its version.
        */
      final class RacingStore(racer: () => Unit) extends CommitStore {
        private val raced = new java.util.concurrent.atomic.AtomicBoolean
        override def listVersions(root: String): Seq[Long] =
          HardlinkCommitStore.listVersions(root)
        override def readBody(root: String, version: Long): String =
          HardlinkCommitStore.readBody(root, version)
        override def tryCommit(root: String, version: Long,
            body: String): Boolean = {
          if (raced.compareAndSet(false, true)) racer()
          HardlinkCommitStore.tryCommit(root, version, body)
        }
        override def delete(root: String, version: Long): Unit =
          HardlinkCommitStore.delete(root, version)
      }
      // a constraint the winner added survives
      val root = freshRoot("race_constraint")
      AtomicLake.append(Seq((1, 1.0)).toDF("id", "v"), root)
      AtomicLake.addConstraint(spark, root, "c1", "id > 0")
      AtomicLake.addConstraint(spark, root, "c2", "v > 0",
        store = new RacingStore(() =>
          AtomicLake.addConstraint(spark, root, "c3", "id < 100")))
      AtomicLake.currentSnapshot(root).get.constraints.keySet shouldBe
        Set("c1", "c2", "c3")
      // a column a concurrent append added still reads back
      val root2 = freshRoot("race_rename")
      AtomicLake.append(Seq((1, 1.0)).toDF("id", "v"), root2)
      AtomicLake.renameColumn(root2, "v", "w",
        store = new RacingStore(() => AtomicLake.append(
          Seq((2, 2.0, "x")).toDF("id", "v", "extra"), root2)))
      val back = AtomicLake.read(spark, root2)
      back.columns.toSeq shouldBe Seq("id", "w", "extra")
      back.as[(Int, Double, Option[String])].collect().sortBy(_._1)
        .toSeq shouldBe Seq((1, 1.0, None), (2, 2.0, Some("x")))
    }
  }
}
