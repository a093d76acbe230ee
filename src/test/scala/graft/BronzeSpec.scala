package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.Charset
import org.apache.spark.sql.functions._
import graft.sources.{AtomicLake, CsvIngest}
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

  describe("AtomicLake.upsertPartitions") {
    it("write distribution bounds files per partition") {
      def fresh(name: String): String = {
        val p = s"$scratch/$name"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
        p
      }
      // file count per partition, from the manifest the commit landed
      def filesPer(root: String): Map[String, Int] =
        AtomicLake.partitions(root).map(p => p._1 -> p._2).toMap
      // 16 input partitions x 3 dates would emit up to 48 files raw;
      // the distributed write emits exactly 1 per partition...
      val df = spark.range(0, 300, 1, 16)
        .selectExpr("id", "concat('d', id % 3) AS day")
      val one = fresh("lake_files1")
      AtomicLake.upsertPartitions(df.toDF(), one, Seq("day"))
      filesPer(one).keySet shouldBe Set("day=d0", "day=d1", "day=d2")
      filesPer(one).values.toSet shouldBe Set(1)
      // ...and at most filesPerPartition with the skew knob.
      val three = fresh("lake_files3")
      AtomicLake.upsertPartitions(df.toDF(), three, Seq("day"),
        filesPerPartition = 3)
      filesPer(three) should have size 3
      all(filesPer(three).values) should be <= 3
      AtomicLake.read(spark, three).count() shouldBe 300
    }
  }

  describe("Bronze.ingestCsv") {
    it("lands clean rows partitioned, quarantines corrupt, re-ingest idempotent") {
      val src = writeFile("bronze.csv",
        "id,day,v\n1,2024-01-01,10\n2,2024-01-01,20\nbad,row,has,too,many\n3,2024-01-02,30\n")
      val lake = s"$scratch/bronze_lake"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lake))
      val (clean, corrupt) = graft.lakehouse.Bronze.ingestCsv(
        spark, src, lake, "http://src/bronze.csv",
        columns = Seq("id", "day", "v"), partitionCols = Seq("day"))
      clean.count() shouldBe 3
      corrupt.count() shouldBe 1
      // second ingest of the same file: same lake state, no duplicates
      graft.lakehouse.Bronze.ingestCsv(
        spark, src, lake, "http://src/bronze.csv",
        columns = Seq("id", "day", "v"), partitionCols = Seq("day"))
      val back = AtomicLake.read(spark, lake)
      back.count() shouldBe 3
      back.columns should contain allOf ("source_url", "filename",
        "ingestion_timestamp")
      // each ingest is one atomic, versioned lake commit
      AtomicLake.history(lake).map(_._1) shouldBe Seq(2L, 1L)
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
