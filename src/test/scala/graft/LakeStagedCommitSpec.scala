package graft

import org.apache.spark.sql.functions._
import graft.sources.AtomicLake

/** The staged-write / ordered-commit split (r17, verdict #5):
  * [[AtomicLake.overwriteStaged]] runs the staging job eagerly and
  * returns the commit as a thunk, so multi-table builders
  * (NearDupIndex.build) can overlap their staging Spark jobs while
  * keeping commits in crash order. Contract under test: staged files
  * are INVISIBLE until the thunk runs (readers see the old snapshot,
  * or no table), the thunk publishes exactly an overwrite, and two
  * concurrently-staged tables commit independently in the caller's
  * order.
  */
class LakeStagedCommitSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val r = TestScratch(s"test_staged_$tag")
    val p = new org.apache.hadoop.fs.Path(r)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    r
  }

  describe("overwriteStaged") {
    it("stages invisibly, then the thunk publishes the overwrite") {
      val root = freshRoot("a")
      AtomicLake.overwrite(Seq((1L, "old")).toDF("id", "v"), root)
      val commit =
        AtomicLake.overwriteStaged(Seq((2L, "new"), (3L, "new"))
          .toDF("id", "v"), root)
      // staged but uncommitted: readers still see the old snapshot
      AtomicLake.read(spark, root).select("v").as[String]
        .collect().toSeq shouldBe Seq("old")
      val v = commit()
      v shouldBe 2L
      AtomicLake.read(spark, root).orderBy("id").as[(Long, String)]
        .collect().toSeq shouldBe Seq((2L, "new"), (3L, "new"))
    }

    it("stages on a table with NO commits without publishing it") {
      val root = freshRoot("b")
      val commit = AtomicLake.overwriteStaged(
        Seq((7L, "x")).toDF("id", "v"), root)
      // nothing committed yet — the table must not exist for readers
      intercept[IllegalStateException] {
        AtomicLake.read(spark, root).collect()
      }
      commit()
      AtomicLake.read(spark, root).count() shouldBe 1L
    }

    it("two concurrently staged tables commit in caller order") {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val (rootA, rootB) = (freshRoot("c1"), freshRoot("c2"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutor(pool)
      val thunks =
        try Await.result(Future.sequence(Seq(
          Future(AtomicLake.overwriteStaged(
            spark.range(10).select($"id", lit("a").as("v")), rootA)),
          Future(AtomicLake.overwriteStaged(
            spark.range(20).select($"id", lit("b").as("v")), rootB)))),
          Duration.Inf)
        finally pool.shutdown()
      // neither visible before its commit
      intercept[IllegalStateException] {
        AtomicLake.read(spark, rootA).collect()
      }
      thunks.foreach(_.apply())
      AtomicLake.read(spark, rootA).count() shouldBe 10L
      AtomicLake.read(spark, rootB).count() shouldBe 20L
    }
  }
}
