package graft

import org.apache.spark.sql.functions._
import graft.sources.AtomicLake

/** The lake-maintenance SQL DDL surface (plans/LakeSql.scala): every
  * statement drives the AtomicLake Scala API through `spark.sql`, so
  * a SQL-first user (the reference operates entirely from SQL) can
  * maintain the lake without Scala.
  */
class LakeSqlSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = TestScratch(s"lakesql_$name")
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    root
  }

  describe("OPTIMIZE") {
    it("bin-packs small files and returns the committed version") {
      val root = freshRoot("optimize")
      AtomicLake.append((1 to 10).toDF("id"), root)
      AtomicLake.append((11 to 20).toDF("id"), root)
      val before = AtomicLake.read(spark, root).inputFiles.length
      before should be >= 2
      val v = spark.sql(s"OPTIMIZE '$root'").as[Long].head()
      v should be > 0L
      AtomicLake.read(spark, root).inputFiles.length should be < before
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().sorted shouldBe (1 to 20).toArray
    }
    it("ZORDER BY rewrites clustered without changing the data") {
      val root = freshRoot("zorder")
      AtomicLake.append(
        (1 to 100).map(i => (i, i % 10)).toDF("a", "b"), root)
      AtomicLake.append(
        (101 to 200).map(i => (i, i % 10)).toDF("a", "b"), root)
      val v = spark.sql(s"OPTIMIZE '$root' ZORDER BY (a, b)")
        .as[Long].head()
      v should be > 0L
      AtomicLake.read(spark, root).count() shouldBe 200
    }
    it("ZORDER BY one column is a plain clustered sort (Delta parity), " +
        "not an error") {
      val root = freshRoot("zorder1")
      AtomicLake.append(
        (1 to 100).map(i => (i, i % 10)).toDF("a", "b"), root)
      AtomicLake.append(
        (101 to 200).map(i => (i, i % 10)).toDF("a", "b"), root)
      spark.sql(s"OPTIMIZE '$root' ZORDER BY (a)").as[Long].head() should
        be > 0L
      AtomicLake.read(spark, root).count() shouldBe 200
    }
  }

  describe("DELETE FROM LAKE / REORG APPLY PURGE") {
    it("copy-on-write DELETE removes matching rows and reports the rewrite") {
      val root = freshRoot("delete_cow")
      AtomicLake.append((1 to 20).map(i => (i, i % 2)).toDF("id", "m"),
        root)
      val r = spark.sql(s"DELETE FROM LAKE '$root' WHERE m = 1")
        .as[(Long, Long, Int)].head()
      r._2 shouldBe 10L // rows_deleted
      r._3 should be >= 1 // files_rewritten
      AtomicLake.read(spark, root).count() shouldBe 10
    }
    it("USING VECTORS deletes merge-on-read; REORG APPLY PURGE materializes") {
      val root = freshRoot("delete_dv")
      AtomicLake.append((1 to 20).map(i => (i, i % 2)).toDF("id", "m"),
        root)
      val r = spark.sql(
        s"DELETE FROM LAKE '$root' USING VECTORS WHERE m = 0")
        .as[(Long, Long, Int)].head()
      r._2 shouldBe 10L
      r._3 shouldBe 0 // nothing rewritten — positions went to a sidecar
      AtomicLake.currentSnapshot(root).get.dvs should not be empty
      AtomicLake.read(spark, root).count() shouldBe 10
      val p = spark.sql(s"REORG LAKE '$root' APPLY PURGE")
        .as[(Long, Long, Int)].head()
      p._2 shouldBe 10L // rows purged
      AtomicLake.currentSnapshot(root).get.dvs shouldBe empty
      AtomicLake.read(spark, root).count() shouldBe 10
    }
    it("UPDATE LAKE SET ... WHERE updates in place, commas in calls intact") {
      val root = freshRoot("update_sql")
      AtomicLake.append(
        (1 to 10).map(i => (i, i * 1.0)).toDF("id", "v"), root)
      val r = spark.sql(
        s"UPDATE LAKE '$root' SET v = round(v * 2, 1), id = id + 100 " +
          "WHERE id <= 3")
        .as[(Long, Long, Int)].head()
      r._2 shouldBe 3L
      AtomicLake.read(spark, root)
        .filter($"id" > 100).select("id", "v").as[(Int, Double)]
        .collect().toSet shouldBe
        Set((101, 2.0), (102, 4.0), (103, 6.0))
    }

    it("MERGE INTO LAKE upserts through a temp view and equals the " +
        "Scala API result (r16, G26's SQL spelling)") {
      val rows = (1 to 10).map(i => (i.toLong, s"v$i"))
      val rootSql = freshRoot("merge_sql")
      val rootApi = freshRoot("merge_api")
      AtomicLake.append(rows.toDF("k", "v"), rootSql)
      AtomicLake.append(rows.toDF("k", "v"), rootApi)
      // 3 updates + 2 inserts
      val src = Seq((1L, "u1"), (2L, "u2"), (3L, "u3"),
        (11L, "n11"), (12L, "n12")).toDF("k", "v")
      src.createOrReplaceTempView("merge_sql_src")
      val r = spark.sql(s"MERGE INTO LAKE '$rootSql' " +
          "USING merge_sql_src ON (k) " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
        .as[(Long, Long, Int)].head()
      r._2 shouldBe 3L // rows_matched
      AtomicLake.merge(spark, rootApi, src, Seq("k"))
      val got = AtomicLake.read(spark, rootSql)
        .as[(Long, String)].collect().toSet
      got shouldBe AtomicLake.read(spark, rootApi)
        .as[(Long, String)].collect().toSet
      got should contain allOf ((1L, "u1"), (11L, "n11"), (10L, "v10"))
    }
    it("MERGE INTO LAKE takes a subquery source and a Delta-style ON " +
        "equality chain; unsupported clause shapes are refused") {
      val root = freshRoot("merge_sql2")
      AtomicLake.append(
        (1 to 6).map(i => (i.toLong, i * 10.0)).toDF("k", "v"), root)
      spark.range(4, 9)
        .selectExpr("id AS k", "CAST(id * 100.0 AS DOUBLE) AS v")
        .createOrReplaceTempView("merge_sql2_src")
      spark.sql(s"MERGE INTO LAKE '$root' " +
        "USING (SELECT k, v FROM merge_sql2_src WHERE k <= 7) " +
        "ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *").collect()
      AtomicLake.read(spark, root).as[(Long, Double)].collect()
        .toSet shouldBe Set((1L, 10.0), (2L, 20.0), (3L, 30.0),
        (4L, 400.0), (5L, 500.0), (6L, 600.0), (7L, 700.0))
      // a clause shape the keyed upsert does not implement → loud
      val e = intercept[IllegalArgumentException] {
        spark.sql(s"MERGE INTO LAKE '$root' USING merge_sql2_src " +
          "ON (k) WHEN MATCHED THEN DELETE")
      }
      e.getMessage should include("UPDATE SET *")
      // ON equating DIFFERENT column names → refused with the
      // constraint named (merge keys on shared names)
      val e2 = intercept[IllegalArgumentException] {
        spark.sql(s"MERGE INTO LAKE '$root' USING merge_sql2_src " +
          "ON t.k = s.kk WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
      }
      e2.getMessage should include("shared column names")
    }

    it("plain DELETE FROM (no LAKE keyword) delegates to Spark") {
      // parses as normal Spark SQL and fails on the unknown table —
      // NOT on the lake surface
      val ex = intercept[Exception] {
        spark.sql("DELETE FROM some_missing_table WHERE x = 1").collect()
      }
      ex.getMessage should not include "graft-lake"
    }
  }

  describe("RESTORE / DESCRIBE HISTORY") {
    it("rolls back metadata-only and shows the commit log") {
      val root = freshRoot("restore")
      val v1 = AtomicLake.append((1 to 5).toDF("id"), root)
      AtomicLake.append((6 to 9).toDF("id"), root)
      val vr = spark.sql(s"RESTORE '$root' TO VERSION $v1")
        .as[Long].head()
      vr should be > v1
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().sorted shouldBe (1 to 5).toArray
      val hist = spark.sql(s"DESCRIBE HISTORY '$root'")
        .select("version", "kind", "n_files", "n_rows")
        .as[(Long, String, Int, Option[Long])].collect()
      hist.map(_._1).toSeq shouldBe hist.map(_._1).sorted.reverse.toSeq
      hist.length shouldBe 3
      hist.head._4 shouldBe Some(5L) // restored snapshot's stats rows
    }
  }

  describe("DESCRIBE LAKE DETAIL / SHOW LAKE PARTITIONS") {
    it("summarizes the current snapshot from the manifest only") {
      val root = freshRoot("detail")
      AtomicLake.upsertPartitions(
        Seq((1, "a"), (2, "b"), (3, "b")).toDF("id", "part"),
        root, Seq("part"))
      val d = spark.sql(s"DESCRIBE LAKE DETAIL '$root'")
      d.columns.toSeq shouldBe Seq("version", "n_files", "n_bytes",
        "partition_cols", "constraints")
      val row = d.head()
      row.getAs[Int]("n_files") shouldBe 2
      row.getAs[Seq[String]]("partition_cols") shouldBe Seq("part")
      val parts = spark.sql(s"SHOW LAKE PARTITIONS '$root'")
        .select("partition", "n_files", "n_rows")
        .as[(String, Int, Long)].collect().sortBy(_._1)
      parts.map(_._1).toSeq shouldBe Seq("part=a", "part=b")
      parts.map(_._3).toSeq shouldBe Seq(1L, 2L)
    }
  }

  describe("ALTER LAKE ADD CONSTRAINT") {
    it("validates current data, then gates future commits") {
      val root = freshRoot("constraint")
      AtomicLake.append(Seq(1, 2, 3).toDF("id"), root)
      val v = spark.sql(
        s"ALTER LAKE '$root' ADD CONSTRAINT pos CHECK (id > 0)")
        .as[Long].head()
      v should be > 0L
      // future commits violating the constraint abort
      an[Exception] should be thrownBy
        AtomicLake.append(Seq(-1).toDF("id"), root)
      // a constraint the CURRENT data violates is refused
      an[Exception] should be thrownBy
        spark.sql(s"ALTER LAKE '$root' ADD CONSTRAINT big CHECK (id > 2)")
          .collect()
    }
    it("DROP CONSTRAINT lifts the gate; unknown names are refused") {
      val root = freshRoot("drop_constraint")
      AtomicLake.append(Seq(1, 2).toDF("id"), root)
      spark.sql(s"ALTER LAKE '$root' ADD CONSTRAINT pos CHECK (id > 0)")
        .collect()
      an[Exception] should be thrownBy
        AtomicLake.append(Seq(-1).toDF("id"), root)
      // typo: refused loudly, constraint stays enforced
      an[Exception] should be thrownBy
        spark.sql(s"ALTER LAKE '$root' DROP CONSTRAINT poss").collect()
      val v = spark.sql(s"ALTER LAKE '$root' DROP CONSTRAINT pos")
        .as[Long].head()
      v should be > 0L
      // the drop is a 'constraint'-kind commit and the gate is gone
      AtomicLake.snapshotAt(root, v).kind shouldBe "constraint"
      AtomicLake.append(Seq(-1).toDF("id"), root)
      AtomicLake.read(spark, root).as[Int].collect().toSet shouldBe
        Set(1, 2, -1)
    }
  }

  describe("VACUUM") {
    it("runs age-guarded GC and reports deletions") {
      val root = freshRoot("vacuum")
      AtomicLake.append((1 to 10).toDF("id"), root)
      AtomicLake.append((11 to 20).toDF("id"), root)
      spark.sql(s"OPTIMIZE '$root'").collect()
      // files orphaned by the compaction are younger than the 1h
      // min-age guard, so nothing is deleted yet — the command wires
      // through and reports honestly
      val n = spark.sql(s"VACUUM '$root' RETAIN 1 VERSIONS")
        .as[Int].head()
      n shouldBe 0
    }
  }

  describe("DESCRIBE LAKE SCHEMA") {
    it("shows logical/physical names, partitioning and generation") {
      val root = freshRoot("schema_desc")
      AtomicLake.upsertPartitions(
        Seq((1L, "2024-03-01", "p1")).toDF("id", "d", "part"),
        root, Seq("part"))
      AtomicLake.renameColumn(root, "d", "day")
      AtomicLake.setGeneratedColumn(spark, root, "month",
        "substr(day, 1, 7)")
      val rows = spark.sql(s"DESCRIBE LAKE SCHEMA '$root'")
        .as[(String, String, Boolean, String, Boolean, Option[String])]
        .collect().map(r => r._1 -> r).toMap
      rows("day")._4 shouldBe "d" // physical name survives the rename
      rows("id")._4 shouldBe "id"
      rows("part")._5 shouldBe true // partition flag
      rows("id")._5 shouldBe false
      // generated declaration surfaces once the column exists
      AtomicLake.append(Seq((2L, "2024-04-02", "p1"))
        .toDF("id", "day", "part"), root, Seq("part"))
      val rows2 = spark.sql(s"DESCRIBE LAKE SCHEMA '$root'")
        .as[(String, String, Boolean, String, Boolean, Option[String])]
        .collect().map(r => r._1 -> r).toMap
      rows2("month")._6 shouldBe Some("substr(day, 1, 7)")
      rows2("day")._6 shouldBe None
    }
  }

  describe("SHOW LAKE INDEXES") {
    it("reports per-column bloom coverage out of the current files") {
      val root = freshRoot("show_idx")
      (0 until 3).foreach { c =>
        AtomicLake.append((0 until 90).filter(_ % 3 == c)
          .map(k => (k.toLong, s"s$k")).toDF("id", "s"), root)
      }
      spark.sql(s"CREATE BLOOM INDEX ON '$root' (id)").collect()
      // a fresh un-indexed file drops coverage below total
      AtomicLake.append(Seq((1000L, "x")).toDF("id", "s"), root)
      val rows = spark.sql(s"SHOW LAKE INDEXES '$root'")
        .as[(String, Int, Int, Int)].collect()
      rows.length shouldBe 1
      rows.head shouldBe (("id", 3, 4, 1))
    }
  }

  describe("VACUUM DRY RUN") {
    it("reports what would be reclaimed and touches nothing") {
      val root = freshRoot("vacuum_dry")
      AtomicLake.append(Seq((1, "a")).toDF("id", "s"), root)
      AtomicLake.overwrite(Seq((2, "b")).toDF("id", "s"), root)
      AtomicLake.overwrite(Seq((3, "c")).toDF("id", "s"), root)
      val filesBefore = java.nio.file.Files
        .walk(java.nio.file.Paths.get(root)).count()
      val would = spark.sql(s"VACUUM '$root' RETAIN 1 VERSIONS DRY RUN")
        .as[Int].head()
      would should be > 0
      // nothing moved: same file tree, every version still readable
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .count() shouldBe filesBefore
      AtomicLake.readVersion(spark, root, 1).count() shouldBe 1
      // the real vacuum then trims history (the data-file count is
      // age-guarded and races fresh mtimes — assert the EFFECT)
      AtomicLake.vacuum(root, keepVersions = 1, minAgeMs = 0L)
      an[Exception] should be thrownBy
        AtomicLake.readVersion(spark, root, 1).collect()
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSeq shouldBe Seq(3)
    }
  }

  describe("CREATE BLOOM INDEX") {
    it("builds the per-file index and point lookups prune") {
      val root = freshRoot("bloom")
      // interleaved keys: zone maps can't prune the point lookup
      (0 until 3).foreach { c =>
        AtomicLake.append((0 until 300).filter(_ % 3 == c)
          .map(k => (k.toLong, s"s$k")).toDF("id", "s"), root)
      }
      val v = spark.sql(
        s"CREATE BLOOM INDEX ON '$root' (id, s) WITH FPP 0.001")
        .as[Long].head()
      AtomicLake.snapshotAt(root, v).kind shouldBe "index"
      val (planned, total) = AtomicLake.scanInfo(spark, root,
        graft.sources.HardlinkCommitStore)(col("id") === 17L)
      total shouldBe 3
      planned should be < 3
      AtomicLake.scan(spark, root)(col("id") === 17L)
        .select("s").as[String].collect().toSeq shouldBe Seq("s17")
    }
  }

  describe("parser delegation") {
    it("leaves normal Spark SQL untouched") {
      spark.sql("SELECT 1 AS one").as[Int].head() shouldBe 1
      spark.sql("SELECT upper('x') AS u").as[String].head() shouldBe "X"
    }
    it("never intercepts statements that merely CONTAIN the keywords") {
      import graft.plans.LakeSql
      // keyword inside a string literal, a column alias, a subquery —
      // all must fall through to the normal parser (parse() is
      // anchored full-match)
      Seq(
        "SELECT 'OPTIMIZE /tmp/x' AS s",
        "SELECT 1 AS optimize",
        "SELECT * FROM (SELECT 2) t WHERE 'VACUUM' = 'VACUUM'",
        "SELECT 'DESCRIBE HISTORY ''/a''' AS s",
        "WITH restore AS (SELECT 3 AS v) SELECT v FROM restore"
      ).foreach { sql =>
        LakeSql.parse(sql) shouldBe None
        spark.sql(sql).collect().length shouldBe 1
      }
      // and the whole-statement forms DO parse
      LakeSql.parse("OPTIMIZE '/tmp/x'") should not be None
      LakeSql.parse("  vacuum '/tmp/x' retain 3 versions ; ") should
        not be None
      LakeSql.parse("RESTORE '/tmp/x' TO VERSION 2;") should not be None
    }
    it("errors loudly on a lake command against a missing root") {
      an[Exception] should be thrownBy
        spark.sql(s"DESCRIBE HISTORY '${TestScratch("no_such_lake")}'")
          .collect()
    }
  }
}
