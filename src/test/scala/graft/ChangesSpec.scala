package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.AtomicLake

/** Incremental (CDC) snapshot-diff reads — AtomicLake.readChanges. */
class ChangesSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_changes").toString

  describe("AtomicLake.readChanges") {
    val root = freshRoot()
    // v1: two partitions
    val v1 = AtomicLake.upsertPartitions(
      Seq((1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2"))
        .toDF("id", "v", "day"),
      root, Seq("day"))
    // v2: append one row to d2 (no partition replaced)
    val v2 = AtomicLake.append(
      Seq((4, "d", "d2")).toDF("id", "v", "day"), root, Seq("day"))
    // v3: replace partition d1 with a new image
    val v3 = AtomicLake.upsertPartitions(
      Seq((1, "a2", "d1"), (5, "e", "d1")).toDF("id", "v", "day"),
      root, Seq("day"))

    it("reads an append commit as pure inserts") {
      val ch = AtomicLake.readChanges(spark, root, v1, v2)
        .select($"id", $"_change_type").as[(Int, String)]
        .collect().toSet
      ch shouldBe Set((4, "insert"))
    }

    it("reads a partition upsert as old image deleted, new inserted") {
      val ch = AtomicLake.readChanges(spark, root, v2, v3)
        .select($"id", $"v", $"_change_type")
        .as[(Int, String, String)].collect().toSet
      ch shouldBe Set(
        (1, "a", "delete"), (2, "b", "delete"),
        (1, "a2", "insert"), (5, "e", "insert"))
    }

    it("spans multiple commits as one diff (intermediate states skip)") {
      val ch = AtomicLake.readChanges(spark, root, v1, v3)
        .select($"id", $"_change_type").as[(Int, String)]
        .collect().toSet
      // d1's v1 image out, v3 image + d2's append in
      ch shouldBe Set((1, "delete"), (2, "delete"),
        (1, "insert"), (5, "insert"), (4, "insert"))
    }

    it("returns an empty typed frame when nothing changed") {
      val ch = AtomicLake.readChanges(spark, root, v3, v3)
      ch.count() shouldBe 0
      ch.columns should contain("_change_type")
    }

    it("only opens the changed files, not the table") {
      val ch = AtomicLake.readChanges(spark, root, v1, v2)
      // the only file in the scan is v2's appended file — d1's two
      // untouched partition files never enter the plan
      val scanned = ch.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.toString.linesIterator.toSeq.headOption).mkString
      withClue(scanned) {
        ch.inputFiles.length shouldBe 1
      }
    }

    it("applies each side's own schema across evolution") {
      val root2 = freshRoot()
      val a = AtomicLake.upsertPartitions(
        Seq((1, "d1")).toDF("id", "day"), root2, Seq("day"))
      val b = AtomicLake.upsertPartitions(
        Seq((2, "x", "d2")).toDF("id", "extra", "day"), root2, Seq("day"))
      val ch = AtomicLake.readChanges(spark, root2, a, b)
      ch.columns.toSet shouldBe Set("id", "extra", "day", "_change_type")
      ch.filter($"_change_type" === "insert").select($"extra")
        .as[String].collect().toSeq shouldBe Seq("x")
    }

    it("refuses a reversed version range") {
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.readChanges(spark, root, v3, v1)
    }
  }

  describe("CDC -> incremental gold maintenance (G20 ∘ G9)") {
    import graft.operators.Incremental

    it("applying deltas equals full recompute across a partition replace") {
      val root = freshRoot()
      val keys = Seq("day")
      val ms = Map("total" -> col("value"))
      // v1: two days
      val v1 = AtomicLake.upsertPartitions(
        Seq((1, 10.5, "d1"), (2, 2.25, "d1"), (3, 7.0, "d2"))
          .toDF("id", "value", "day"), root, keys)
      val state1 = Incremental.partialSums(
        AtomicLake.readVersion(spark, root, v1), keys, ms)
      // v2: append to d2; v3: REPLACE d1 (delete + insert in the diff)
      val v2 = AtomicLake.append(
        Seq((4, 1.75, "d2")).toDF("id", "value", "day"), root, keys)
      val v3 = AtomicLake.upsertPartitions(
        Seq((5, 100.0, "d1")).toDF("id", "value", "day"), root, keys)
      val delta = AtomicLake.readChanges(spark, root, v1, v3)
      val maintained = Incremental.finalize(
        Incremental.applyChanges(state1, delta, keys, ms), Seq("total"))
      val recomputed = Incremental.finalize(
        Incremental.partialSums(
          AtomicLake.readVersion(spark, root, v3), keys, ms),
        Seq("total"))
      maintained.except(recomputed).count() shouldBe 0
      recomputed.except(maintained).count() shouldBe 0
      maintained.filter($"day" === "d1").select($"total")
        .as[Double].head() shouldBe 100.0
    }

    it("maintenance stays exact across a ROW-LEVEL delete commit " +
        "(G25 composes with the retraction path)") {
      val root = freshRoot()
      val keys = Seq("day")
      val ms = Map("total" -> col("value"))
      val v1 = AtomicLake.upsertPartitions(
        Seq((1, 10.5, "d1"), (2, 2.25, "d1"), (3, 7.0, "d2"),
          (4, 1.75, "d2")).toDF("id", "value", "day"), root, keys)
      val state1 = Incremental.partialSums(
        AtomicLake.readVersion(spark, root, v1), keys, ms)
      // deletion-vector delete: the deleted row's image retracts and
      // nothing else moves — additive consumers converge exactly
      val r = AtomicLake.deleteWhereDV(spark, root)($"id" === 2)
      AtomicLake.snapshotAt(root, r.version).dvs should have size 1
      val delta = AtomicLake.readChanges(spark, root, v1, r.version)
      val maintained = Incremental.finalize(
        Incremental.applyChanges(state1, delta, keys, ms), Seq("total"))
      val recomputed = Incremental.finalize(
        Incremental.partialSums(
          AtomicLake.readVersion(spark, root, r.version), keys, ms),
        Seq("total"))
      maintained.except(recomputed).count() shouldBe 0
      recomputed.except(maintained).count() shouldBe 0
      maintained.filter($"day" === "d1").select($"total")
        .as[Double].head() shouldBe 10.5
    }

    it("Materialized.refresh maintains a downstream aggregate lake incrementally") {
      import graft.lakehouse.Materialized
      val src = freshRoot(); val tgt = freshRoot()
      val keys = Seq("day")
      val ms = Map("total" -> col("value"))
      AtomicLake.upsertPartitions(
        Seq((1, 10.0, "d1"), (2, 2.5, "d2")).toDF("id", "value", "day"),
        src, keys)
      val v1 = Materialized.refresh(spark, src, tgt, keys, ms)
      Materialized.watermark(spark, tgt) shouldBe Some(v1)
      Materialized.read(spark, tgt, Seq("total"))
        .select($"day", $"total").as[(String, Double)].collect()
        .toMap shouldBe Map("d1" -> 10.0, "d2" -> 2.5)
      // source moves: append + replace d1; refresh consumes the delta
      AtomicLake.append(
        Seq((3, 1.5, "d2")).toDF("id", "value", "day"), src, keys)
      AtomicLake.upsertPartitions(
        Seq((4, 7.0, "d1")).toDF("id", "value", "day"), src, keys)
      val v2 = Materialized.refresh(spark, src, tgt, keys, ms)
      v2 should be > v1
      Materialized.read(spark, tgt, Seq("total"))
        .select($"day", $"total").as[(String, Double)].collect()
        .toMap shouldBe Map("d1" -> 7.0, "d2" -> 4.0)
      // no source movement -> no-op, same watermark, no new commit
      val tv = AtomicLake.currentVersion(tgt).get
      Materialized.refresh(spark, src, tgt, keys, ms) shouldBe v2
      AtomicLake.currentVersion(tgt).get shouldBe tv
    }

    it("Materialized runs end-to-end on the object-store commit path") {
      import graft.lakehouse.Materialized
      import graft.sources.{CatalogCommitStore, CommitCatalog}
      val store = new CatalogCommitStore(new CommitCatalog)
      val src = freshRoot(); val tgt = freshRoot()
      val keys = Seq("day")
      val ms = Map("total" -> col("value"))
      AtomicLake.upsertPartitions(
        Seq((1, 2.0, "d1")).toDF("id", "value", "day"), src, keys,
        store = store)
      Materialized.refresh(spark, src, tgt, keys, ms, store = store)
      AtomicLake.append(
        Seq((2, 3.0, "d1")).toDF("id", "value", "day"), src, keys,
        store = store)
      Materialized.refresh(spark, src, tgt, keys, ms, store = store)
      Materialized.read(spark, tgt, Seq("total"), store = store)
        .select($"total").as[Double].head() shouldBe 5.0
    }

    it("drops a group whose partition was replaced away entirely") {
      val root = freshRoot()
      val keys = Seq("day")
      val ms = Map("total" -> col("value"))
      val v1 = AtomicLake.upsertPartitions(
        Seq((1, 5.0, "d1"), (2, 3.0, "d2"))
          .toDF("id", "value", "day"), root, keys)
      val state1 = Incremental.partialSums(
        AtomicLake.readVersion(spark, root, v1), keys, ms)
      // overwrite the WHOLE table with d2 only: d1's group must vanish
      val v2 = AtomicLake.overwrite(
        Seq((3, 4.0, "d2")).toDF("id", "value", "day"), root, keys)
      val delta = AtomicLake.readChanges(spark, root, v1, v2)
      val maintained = Incremental.applyChanges(state1, delta, keys, ms)
      maintained.filter($"day" === "d1").count() shouldBe 0
      Incremental.finalize(maintained, Seq("total"))
        .select($"total").as[Double].head() shouldBe 4.0
    }
  }
}
