package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.Charset
import org.apache.spark.sql.functions._
import graft.sources.{CsvIngest, PartitionedLake}
import graft.operators.Salt
import graft.sources.Tables

class BronzeSpec extends SparkSpec {
  import spark.implicits._

  private val scratch = TestScratch.root

  private def writeFile(name: String, content: String,
      cs: String = "UTF-8"): String = {
    val p = Paths.get(scratch, name)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes(Charset.forName(cs)))
    p.toString
  }

  describe("CsvIngest") {
    it("reads all columns as varchar with a custom separator") {
      val f = writeFile("sep.csv", "id;name;val\n1;ana;2.5\n2;bo;3.5\n")
      val df = CsvIngest.read(spark, f, sep = ";")
      df.schema.fields.foreach(_.dataType.typeName shouldBe "string")
      CsvIngest.cleanRows(df).count() shouldBe 2
      df.columns should contain allOf ("id", "name", "val")
    }
    it("reads headerless files with assigned column names") {
      val f = writeFile("nohead.csv", "1,x\n2,y\n")
      val df = CsvIngest.read(spark, f, header = false,
        columns = Seq("code", "label"))
      CsvIngest.cleanRows(df).select("code", "label")
        .as[(String, String)].collect().sorted shouldBe
        Array(("1", "x"), ("2", "y"))
    }
    it("captures malformed rows instead of failing") {
      // declared 3 columns; second data row has 5 fields
      val f = writeFile("bad.csv", "a,b,c\n1,2,3\n1,2,3,4,5\n7,8,9\n")
      val df = CsvIngest.read(spark, f,
        columns = Seq("a", "b", "c"), header = true)
      CsvIngest.corruptRows(df).count() shouldBe 1
      CsvIngest.cleanRows(df).count() shouldBe 2
    }
    it("honors non-UTF8 encodings") {
      val f = writeFile("latin.csv", "name\nmuñón\n", cs = "ISO-8859-1")
      val df = CsvIngest.read(spark, f, encoding = "ISO-8859-1")
      CsvIngest.cleanRows(df).select("name").as[String]
        .head() shouldBe "muñón"
    }
    it("dialect cascade lands a latin-1 semicolon file on the right rung") {
      // rung 1 (tab/UTF-8): one column -> rejected; rung 2 (;/UTF-8):
      // splits but the 0xF1 bytes decode to U+FFFD -> rejected;
      // rung 3 (;/ISO-8859-1): clean -> accepted
      val f = writeFile("ladder.csv", "name;city\nmuñón;coruña\n",
        cs = "ISO-8859-1")
      val (df, d) = CsvIngest.readAuto(spark, f)
      d shouldBe CsvIngest.Dialect(sep = ";", encoding = "ISO-8859-1")
      CsvIngest.cleanRows(df).select("name", "city")
        .as[(String, String)].head() shouldBe (("muñón", "coruña"))
    }
    it("strips a UTF-8 BOM and header whitespace from column names") {
      // BOM bytes EF BB BF glued to the first header cell + padded
      // header names — the artifact the reference's ingestion strips
      val p = Paths.get(scratch, "bom.csv")
      Files.createDirectories(p.getParent)
      Files.write(p, ("\uFEFFid; name \n1;ana\n").getBytes("UTF-8"))
      val (df, d) = CsvIngest.readAuto(spark, p.toString)
      d shouldBe CsvIngest.Dialect(sep = ";")
      df.columns should contain allOf ("id", "name")
      CsvIngest.cleanRows(df).select("id", "name")
        .as[(String, String)].head() shouldBe (("1", "ana"))
    }
    it("dialect cascade accepts a clean tab file on the first rung") {
      val f = writeFile("ladder_tab.tsv", "a\tb\n1\t2\n")
      val (df, d) = CsvIngest.readAuto(spark, f)
      d shouldBe CsvIngest.Dialect(sep = "\t")
      CsvIngest.cleanRows(df).count() shouldBe 1
    }
    it("ingests from a URL end-to-end: fetch, stage, parse, audit") {
      val f = writeFile("urlsrc.csv", "id;city\n1;madrid\n2;sevilla\n")
      val url = Paths.get(f).toUri.toString // file:// — container has no egress
      val df = CsvIngest.fromUrl(spark, url, sep = ";",
        stagingDir = s"$scratch/staging")
      CsvIngest.cleanRows(df).select("id", "city")
        .as[(String, String)].collect().sorted shouldBe
        Array(("1", "madrid"), ("2", "sevilla"))
      // audit: source_url is the ORIGINAL url, filename the staged file
      val a = df.select("source_url", "filename")
        .distinct().as[(String, String)].head()
      a._1 shouldBe url
      a._2 shouldBe "urlsrc.csv"
      // re-ingest overwrites the same staging slot (idempotent)
      CsvIngest.cleanRows(CsvIngest.fromUrl(spark, url, sep = ";",
        stagingDir = s"$scratch/staging")).count() shouldBe 2
      // the default staging slot lies under the working directory
      val staged = CsvIngest.fromUrl(spark, url, sep = ";").inputFiles
      staged should not be empty
      staged.foreach { f =>
        Paths.get(new java.net.URI(f)).startsWith(
          Paths.get("target", "staging").toAbsolutePath) shouldBe true
      }
    }
    it("rejects unsupported URL schemes") {
      an[IllegalArgumentException] should be thrownBy
        CsvIngest.fromUrl(spark, "ftp://host/x.csv")
    }
    it("retries a flaky fetch with backoff and succeeds (reference retries=3)") {
      // flaky-then-succeeding source: the file appears only after the
      // first attempt has already failed
      val missing = Paths.get(scratch, "late.csv")
      Files.deleteIfExists(missing)
      val writer = new Thread(() => {
        Thread.sleep(300)
        Files.write(missing, "id;city\n7;bilbao\n".getBytes("UTF-8"))
      })
      writer.start()
      val df = CsvIngest.fromUrl(spark, missing.toUri.toString, sep = ";",
        stagingDir = s"$scratch/staging", retries = 5, retryDelayMs = 150L)
      writer.join()
      CsvIngest.cleanRows(df).select("id", "city")
        .as[(String, String)].head() shouldBe (("7", "bilbao"))
    }
    it("gives up after the retry budget; bad requests never retry") {
      val t0 = System.nanoTime()
      a[Throwable] should be thrownBy
        CsvIngest.fromUrl(spark, s"file://$scratch/never_exists.csv",
          retries = 2, retryDelayMs = 100L,
          stagingDir = s"$scratch/staging")
      // 2 re-attempts = backoff waits of 100 + 200 ms at minimum
      (System.nanoTime() - t0) / 1e6 should be >= 300.0
      // non-retryable: unsupported scheme fails fast, no backoff loop
      val t1 = System.nanoTime()
      an[IllegalArgumentException] should be thrownBy
        CsvIngest.fromUrl(spark, "ftp://host/x.csv", retries = 5,
          retryDelayMs = 500L)
      (System.nanoTime() - t1) / 1e6 should be < 400.0
    }
    it("stamps audit lineage columns") {
      val f = writeFile("audit.csv", "x\n1\n")
      val df = CsvIngest.withAudit(CsvIngest.read(spark, f), "http://src")
      val r = df.select("source_url", "filename").as[(String, String)].head()
      r shouldBe (("http://src", "audit.csv"))
      df.schema.fieldNames should contain("ingestion_timestamp")
    }
  }

  describe("JsonlIngest") {
    import graft.sources.JsonlIngest

    it("round-trips the export losslessly and quarantines exactly the " +
        "planted garbage with per-line reasons") {
      val out = TestScratch("jsonl_rt")
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      val docs = Tables.documents(spark, sf)
      graft.operators.Export.writeJsonlShards(docs, "doc_id", 2, out)
      val w = fs.create(new org.apache.hadoop.fs.Path(p, "bad.jsonl"), true)
      w.write(("{\"doc_id\": broken\n" +
        "{\"text\":\"no id\"}\n" +
        "not json either\n").getBytes("UTF-8"))
      w.close()
      val split = JsonlIngest.readWithQuarantine(spark, out, docs.schema,
        requiredCols = Seq("doc_id"))
      split.clean.count() shouldBe docs.count()
      // content equality, not just counts
      split.clean.exceptAll(docs).count() shouldBe 0
      docs.exceptAll(split.clean).count() shouldBe 0
      val q = split.quarantine
        .select("raw_line", "src_file", "reason")
        .as[(String, String, String)].collect().sortBy(_._1)
      q.length shouldBe 3
      q.map(_._2).toSet shouldBe Set("bad.jsonl")
      q.map(r => r._1 -> r._3).toMap shouldBe Map(
        "{\"doc_id\": broken" -> "malformed_json",
        "not json either" -> "malformed_json",
        "{\"text\":\"no id\"}" -> "null_required_field")
    }

    it("round-trips hostile text losslessly: newlines, quotes, " +
        "backslashes, unicode, tabs") {
      val out = TestScratch("jsonl_hostile")
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      val nasty = Seq(
        (1L, "line\nbreak and \"quotes\""),
        (2L, "back\\slash and\ttab"),
        (3L, "unicode: é中文 😀"),
        (4L, ""),
        (5L, "{\"looks\":\"like json\"}"))
      val docs = nasty.toDF("doc_id", "text")
      graft.operators.Export.writeJsonlShards(docs, "doc_id", 2, out)
      val split = JsonlIngest.readWithQuarantine(spark, out, docs.schema,
        requiredCols = Seq("doc_id"))
      split.quarantine.count() shouldBe 0
      split.clean.as[(Long, String)].collect().sortBy(_._1) shouldBe
        nasty.sortBy(_._1)
    }

    it("a type-mismatched field routes to quarantine, never a null row") {
      val out = TestScratch("jsonl_types")
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      val w = fs.create(new org.apache.hadoop.fs.Path(p, "a.jsonl"), true)
      w.write(("{\"doc_id\":1,\"text\":\"ok\",\"lang\":\"en\",\"source\":\"s\",\"n_chars\":2}\n" +
        "{\"doc_id\":\"abc\",\"text\":\"bad id type\",\"lang\":\"en\",\"source\":\"s\",\"n_chars\":2}\n")
        .getBytes("UTF-8"))
      w.close()
      val split = JsonlIngest.readWithQuarantine(spark, out,
        Tables.documents(spark, sf).schema, requiredCols = Seq("doc_id"))
      split.clean.count() shouldBe 1
      split.quarantine.count() shouldBe 1
    }
  }

  describe("PartitionedLake") {
    it("re-upserting a partition is idempotent and leaves others alone") {
      val lake = s"$scratch/lake"
      val day1 = Seq((1, "2024-01-01"), (2, "2024-01-01"))
        .toDF("id", "day")
      val day2 = Seq((3, "2024-01-02")).toDF("id", "day")
      PartitionedLake.upsertPartitions(day1.unionAll(day2), lake, "day")
      // re-ingest day1 twice over
      PartitionedLake.upsertPartitions(day1, lake, "day")
      PartitionedLake.upsertPartitions(day1, lake, "day")
      val back = PartitionedLake.read(spark, lake)
      back.count() shouldBe 3
      back.filter($"day" === "2024-01-02").count() shouldBe 1
    }
    it("upsert replaces only the partitions present in the batch") {
      val lake = s"$scratch/lake2"
      PartitionedLake.upsertPartitions(
        Seq((1, "a"), (2, "b")).toDF("id", "part"), lake, "part")
      PartitionedLake.upsertPartitions(
        Seq((99, "a")).toDF("id", "part"), lake, "part")
      val back = PartitionedLake.read(spark, lake)
        .select("id", "part").as[(Int, String)].collect().toSet
      back shouldBe Set((99, "a"), (2, "b"))
    }
    it("z-ordered layout prunes files for filters on EITHER dimension") {
      // high-cardinality 2-D data: x, y in [0, 1024)
      val grid = spark.range(0, 60000).select(
        (($"id" * 7919L) % 1024L).as("x"),
        (($"id" * 104729L) % 1024L).as("y"))
      val zPath = s"$scratch/zorder"
      val sPath = s"$scratch/singlesort"
      PartitionedLake.writeZOrdered(grid.toDF(), zPath, "x", "y",
        files = 16)
      grid.repartitionByRange(16, $"x").sortWithinPartitions("x")
        .write.mode("overwrite").parquet(sPath)
      // files whose footer min-max range intersects a filter — the
      // exact skipping decision parquet makes from file statistics
      def touched(path: String, c: String, lo: Long, hi: Long): Long =
        spark.read.parquet(path)
          .groupBy(input_file_name())
          .agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
          .filter($"mn" <= hi && $"mx" >= lo)
          .count()
      // x-only sort: perfect on x-filters but CANNOT skip for y-filters
      touched(sPath, "x", 0, 63) should be <= 2L
      touched(sPath, "y", 0, 63) shouldBe 16L
      // z-order: a 16-file split tiles the plane in ~4x4 quadrants, so
      // BOTH single-dimension filters skip ~3/4 of the files
      touched(zPath, "x", 0, 63) should be <= 8L
      touched(zPath, "y", 0, 63) should be <= 8L
      spark.read.parquet(zPath).count() shouldBe 60000
    }
    it("write distribution bounds files per partition") {
      def parquetFiles(dir: String): Map[String, Int] = {
        val root = new java.io.File(dir)
        root.listFiles().filter(_.isDirectory).map(d =>
          d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
        ).toMap
      }
      // 16 input partitions x 3 dates would emit up to 48 files raw;
      // the distributed write emits exactly 1 per partition...
      val df = spark.range(0, 300, 1, 16)
        .selectExpr("id", "concat('d', id % 3) AS day")
      val one = s"$scratch/lake_files1"
      PartitionedLake.upsertPartitions(df.toDF(), one, "day")
      parquetFiles(one).values.toSet shouldBe Set(1)
      // ...and at most filesPerPartition with the skew knob.
      val three = s"$scratch/lake_files3"
      PartitionedLake.upsertPartitionsSized(df.toDF(), three, Seq("day"),
        filesPerPartition = 3)
      all(parquetFiles(three).values) should be <= 3
      PartitionedLake.read(spark, three).count() shouldBe 300
    }
  }

  describe("Bronze.ingestCsv") {
    it("lands clean rows partitioned, quarantines corrupt, re-ingest idempotent") {
      val src = writeFile("bronze.csv",
        "id,day,v\n1,2024-01-01,10\n2,2024-01-01,20\nbad,row,has,too,many\n3,2024-01-02,30\n")
      val lake = s"$scratch/bronze_lake"
      val (clean, corrupt) = graft.lakehouse.Bronze.ingestCsv(
        spark, src, lake, "http://src/bronze.csv",
        columns = Seq("id", "day", "v"), partitionCols = Seq("day"))
      clean.count() shouldBe 3
      corrupt.count() shouldBe 1
      // second ingest of the same file: same lake state, no duplicates
      graft.lakehouse.Bronze.ingestCsv(
        spark, src, lake, "http://src/bronze.csv",
        columns = Seq("id", "day", "v"), partitionCols = Seq("day"))
      val back = PartitionedLake.read(spark, lake)
      back.count() shouldBe 3
      back.columns should contain allOf ("source_url", "filename",
        "ingestion_timestamp")
    }
  }

  describe("PartitionedLake.writeBucketed") {
    it("same-bucketed tables join without a shuffle") {
      val ord = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      PartitionedLake.writeBucketed(ord, "b_orders", "o_orderkey", 4)
      PartitionedLake.writeBucketed(li, "b_lineitem", "l_orderkey", 4)
      // disable auto-broadcast so the tiny test tables take the same
      // join strategy fact-fact data would at scale
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val joined = spark.table("b_lineitem")
          .join(spark.table("b_orders"),
            col("l_orderkey") === col("o_orderkey"))
        val plan = joined.queryExecution.executedPlan.toString
        // co-located: sort-merge join with NO Exchange on either side
        plan should include("SortMergeJoin")
        plan should not include "Exchange hashpartitioning"
        joined.count() shouldBe li.count()
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  describe("Salt") {
    it("salted aggregation equals the plain plan exactly") {
      val ev = Tables.events(spark, sf)
      val salted = Salt.saltedSumCount(ev, Seq("event_type"), "value",
        saltOn = Seq("event_id"), buckets = 8)
        .orderBy("event_type").as[(String, Double, Long)].collect()
      val plain = Salt.plainSumCount(ev, Seq("event_type"), "value")
        .orderBy("event_type").as[(String, Double, Long)].collect()
      salted shouldBe plain
    }
  }

  describe("approx sketches") {
    it("approx_count_distinct is within 5% of exact") {
      val ev = Tables.events(spark, sf)
      val approx = ev.agg(approx_count_distinct($"user_id"))
        .as[Long].head().toDouble
      val exact = ev.agg(countDistinct($"user_id")).as[Long].head().toDouble
      math.abs(approx - exact) / exact should be <= 0.05
    }
    it("approx median is within the value range and near exact") {
      val ev = Tables.events(spark, sf)
      val p50 = ev.agg(percentile_approx($"value", lit(0.5), lit(10000)))
        .as[Double].head()
      val exact = ev.agg(expr("percentile(value, 0.5)")).as[Double].head()
      p50 shouldBe exact +- (exact * 0.05)
    }
  }
}
