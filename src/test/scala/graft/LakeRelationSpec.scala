package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import graft.sources.{AtomicLake, LakeRelation}

/** The `graft-lake` BATCH data source: plain SQL over a registered
  * lake view gets manifest zone-map pruning through Spark's own
  * filter pushdown, and DataFrameWriter save modes commit through the
  * lake's atomic protocol.
  */
class LakeRelationSpec extends SparkSpec {

  import spark.implicits._

  describe("readChangeFeed option (CDC on the read surface)") {
    it("serves the version-range diff with _change_type, dv diffs included") {
      import graft.sources.AtomicLake
      import org.apache.spark.sql.functions.col
      val root = TestScratch("relation_cdf")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      AtomicLake.append(
        (1 to 10).map(i => (i, i)).toDF("id", "v"), root)
      val v1 = AtomicLake.currentVersion(root).get
      AtomicLake.append(
        (11 to 12).map(i => (i, i)).toDF("id", "v"), root)
      AtomicLake.deleteWhereDV(spark, root)(col("id") <= 2)
      val feed = spark.read.format("graft-lake")
        .option("path", root)
        .option("readChangeFeed", "true")
        .option("startingVersion", v1.toString)
        .load()
      feed.filter(col("_change_type") === "insert")
        .select("id").as[Int].collect().toSet shouldBe Set(11, 12)
      feed.filter(col("_change_type") === "delete")
        .select("id").as[Int].collect().toSet shouldBe Set(1, 2)
      // endingVersion bounds the range BEFORE the dv delete
      spark.read.format("graft-lake").option("path", root)
        .option("readChangeFeed", "true")
        .option("startingVersion", v1.toString)
        .option("endingVersion", (v1 + 1).toString)
        .load().filter(col("_change_type") === "delete")
        .count() shouldBe 0
    }
  }
  import spark.implicits._

  private val scratch = TestScratch("lake_relation")

  private def freshRoot(name: String): String = {
    val p = Paths.get(scratch, name)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    p.toString
  }

  describe("batch read") {
    it("round-trips a lake through format(\"graft-lake\")") {
      val root = freshRoot("roundtrip")
      AtomicLake.upsertPartitions(
        Seq((1, "a"), (2, "b")).toDF("id", "part"), root, Seq("part"))
      spark.read.format("graft-lake").option("path", root).load()
        .select("id", "part").as[(Int, String)]
        .collect().toSet shouldBe Set((1, "a"), (2, "b"))
    }
    it("SQL WHERE over a view equals read().filter — incl. filter " +
        "shapes the pushdown can't translate") {
      val root = freshRoot("sql_where")
      AtomicLake.append(
        (1 to 40).map(i => (i, s"t$i")).toDF("id", "t"), root)
      spark.read.format("graft-lake").option("path", root).load()
        .createOrReplaceTempView("lake_sql_where")
      spark.sql(
        "SELECT sum(id) AS s FROM lake_sql_where WHERE id BETWEEN 10 AND 20")
        .as[Long].head() shouldBe (10 to 20).sum.toLong
      // LIKE arrives as StringStartsWith (translated); a modulo does
      // not translate at all — Spark's re-application must cover it
      spark.sql(
        "SELECT count(*) AS n FROM lake_sql_where WHERE id % 2 = 0")
        .as[Long].head() shouldBe 20L
      spark.sql(
        "SELECT count(*) AS n FROM lake_sql_where WHERE t LIKE 't1%'")
        .as[Long].head() shouldBe 11L // t1, t10..t19
    }
    it("count(*) works (zero required columns)") {
      val root = freshRoot("count_star")
      AtomicLake.append((1 to 7).toDF("id"), root)
      spark.read.format("graft-lake").option("path", root).load()
        .createOrReplaceTempView("lake_count_star")
      spark.sql("SELECT count(*) AS n FROM lake_count_star")
        .as[Long].head() shouldBe 7L
    }
    it("pushed filters prune files through the zone maps") {
      val root = freshRoot("prune")
      AtomicLake.append((1 to 10).toDF("id"), root)
      AtomicLake.append((11 to 20).toDF("id"), root)
      AtomicLake.append((21 to 30).toDF("id"), root)
      val rel = new LakeRelation(spark.sqlContext, root, None)
      rel.plannedFiles(Nil).size shouldBe 3
      rel.plannedFiles(Seq(GreaterThanOrEqual("id", 25))).size shouldBe 1
      rel.plannedFiles(Seq(In("id", Array(5, 15)))).size shouldBe 2
      rel.plannedFiles(Seq(LessThan("id", 1))).size shouldBe 0
      // an untranslatable filter prunes nothing (conservative)
      rel.plannedFiles(
        Seq(AlwaysTrue)).size shouldBe 3
      // every file pruned still answers correctly (empty relation)
      spark.read.format("graft-lake").option("path", root).load()
        .filter($"id" < 1).count() shouldBe 0L
    }
    it("timestamp filters from SQL prune files (µs zone maps through " +
        "the pushdown path)") {
      val root = freshRoot("ts_prune")
      def day(d: String) = java.sql.Timestamp.valueOf(s"$d 12:00:00")
      AtomicLake.append(
        Seq((1, day("2024-01-01")), (2, day("2024-01-02")))
          .toDF("id", "ts"), root)
      AtomicLake.append(
        Seq((3, day("2024-02-01")), (4, day("2024-02-02")))
          .toDF("id", "ts"), root)
      val rel = new LakeRelation(spark.sqlContext, root, None)
      rel.plannedFiles(Seq(GreaterThanOrEqual("ts",
        day("2024-02-01")))).size shouldBe 1
      spark.read.format("graft-lake").option("path", root).load()
        .createOrReplaceTempView("lake_ts_prune")
      spark.sql("SELECT count(*) AS n FROM lake_ts_prune " +
          "WHERE ts >= TIMESTAMP '2024-02-01 00:00:00'")
        .as[Long].head() shouldBe 2L
    }
    it("partition-column filters prune through the directory values") {
      val root = freshRoot("part_prune")
      AtomicLake.upsertPartitions(
        (1 to 20).map(i => (i, s"p${i % 2}")).toDF("id", "part"),
        root, Seq("part"))
      val rel = new LakeRelation(spark.sqlContext, root, None)
      rel.plannedFiles(Seq(EqualTo("part", "p0"))).size shouldBe 1
      spark.read.format("graft-lake").option("path", root).load()
        .filter($"part" === "p0").count() shouldBe 10L
    }
    it("versionAsOf time-travels the relation") {
      val root = freshRoot("as_of")
      val v1 = AtomicLake.append(Seq((1, "x")).toDF("id", "t"), root)
      AtomicLake.append(Seq((2, "y")).toDF("id", "t"), root)
      spark.read.format("graft-lake").option("path", root)
        .option("versionAsOf", v1.toString).load()
        .count() shouldBe 1L
      spark.read.format("graft-lake").option("path", root).load()
        .count() shouldBe 2L
    }
  }

  describe("catalog table") {
    it("CREATE TABLE ... USING graft-lake serves catalog SQL with " +
        "pushdown intact") {
      val root = freshRoot("catalog")
      AtomicLake.append((1 to 30).toDF("id"), root)
      spark.sql("DROP TABLE IF EXISTS graft_lake_cat")
      spark.sql(
        s"CREATE TABLE graft_lake_cat USING `graft-lake` " +
          s"OPTIONS (path '$root')")
      try {
        spark.sql(
          "SELECT sum(id) AS s FROM graft_lake_cat WHERE id <= 10")
          .as[Long].head() shouldBe 55L
        // the catalog caches the resolved relation (exactly as it
        // does for parquet tables): a later commit is visible after
        // REFRESH TABLE pins the new snapshot
        AtomicLake.append(Seq(100).toDF("id"), root)
        spark.sql("REFRESH TABLE graft_lake_cat")
        spark.sql("SELECT count(*) AS n FROM graft_lake_cat")
          .as[Long].head() shouldBe 31L
      } finally spark.sql("DROP TABLE graft_lake_cat")
    }
  }

  describe("batch write") {
    it("append and overwrite commit through the lake protocol") {
      val root = freshRoot("write_modes")
      Seq((1, "a")).toDF("id", "part").write.format("graft-lake")
        .option("path", root).option("partitionCols", "part")
        .mode("append").save()
      Seq((2, "b")).toDF("id", "part").write.format("graft-lake")
        .option("path", root).mode("append").save()
      AtomicLake.read(spark, root).count() shouldBe 2L
      // partitioning stuck from the first commit
      AtomicLake.currentSnapshot(root).get
        .partitionCols shouldBe Seq("part")
      Seq((9, "c")).toDF("id", "part").write.format("graft-lake")
        .option("path", root).mode("overwrite").save()
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe Set(9)
    }
    it("errorIfExists refuses an existing lake; ignore leaves it") {
      val root = freshRoot("write_guard")
      Seq((1, "a")).toDF("id", "t").write.format("graft-lake")
        .option("path", root).mode("append").save()
      an[Exception] should be thrownBy
        Seq((2, "b")).toDF("id", "t").write.format("graft-lake")
          .option("path", root).mode("errorifexists").save()
      Seq((3, "c")).toDF("id", "t").write.format("graft-lake")
        .option("path", root).mode("ignore").save()
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe Set(1)
    }
    it("a written lake reads back through SQL with pruning intact") {
      val root = freshRoot("write_read")
      (1 to 10).map(i => (i, s"p${i % 2}")).toDF("id", "part")
        .write.format("graft-lake").option("path", root)
        .option("partitionCols", "part").mode("append").save()
      spark.read.format("graft-lake").option("path", root).load()
        .createOrReplaceTempView("lake_wr")
      spark.sql("SELECT count(*) AS n FROM lake_wr WHERE part = 'p1'")
        .as[Long].head() shouldBe 5L
    }
  }
}
