package graft

import java.io.ByteArrayOutputStream

import graft.sources.WarcIngest

/** WARC crawl-archive ingest: streaming record parse, HTTP split,
  * gzip path, and the quarantine contract for corrupt archives.
  */
class WarcIngestSpec extends SparkSpec {
  import spark.implicits._

  private val scratch = TestScratch("warc_spec")

  private def rawRecord(headers: Seq[(String, String)],
      payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write("WARC/1.0\r\n".getBytes("UTF-8"))
    headers.foreach { case (k, v) =>
      out.write(s"$k: $v\r\n".getBytes("UTF-8")) }
    out.write(s"Content-Length: ${payload.length}\r\n\r\n"
      .getBytes("UTF-8"))
    out.write(payload)
    out.write("\r\n\r\n".getBytes("UTF-8"))
    out.toByteArray
  }

  describe("records") {
    it("parses mixed record types with full field fidelity, " +
        "plain and gzipped") {
      val info = rawRecord(Seq("WARC-Type" -> "warcinfo",
        "WARC-Record-ID" -> "<urn:x:info>",
        "WARC-Date" -> "2024-02-03T04:05:06Z",
        "Content-Type" -> "application/warc-fields"),
        "software: graft\r\n".getBytes("UTF-8"))
      val resp = WarcIngest.responseRecordBytes(
        "https://example.test/a?x=1", "2024-02-03T04:05:07Z",
        "héllo wörld".getBytes("UTF-8"),
        httpContentType = "text/plain; charset=utf-8",
        recordId = "<urn:x:resp>")
      val req = rawRecord(Seq("WARC-Type" -> "request",
        "WARC-Target-URI" -> "https://example.test/a?x=1",
        "Content-Type" -> "application/http; msgtype=request"),
        "GET /a?x=1 HTTP/1.1\r\nHost: example.test\r\n\r\n"
          .getBytes("UTF-8"))
      for (ext <- Seq("warc", "warc.gz")) {
        val path = s"$scratch/mixed.$ext"
        WarcIngest.writeWarcFile(spark, path, Seq(info, resp, req))
        val rows = WarcIngest.records(spark, path).collect()
          .sortBy(_.record_index)
        rows.length shouldBe 3
        rows.foreach(_.error shouldBe null)
        rows.map(_.warc_type).toSeq shouldBe
          Seq("warcinfo", "response", "request")
        val r = rows(1)
        r.record_id shouldBe "<urn:x:resp>"
        r.target_uri shouldBe "https://example.test/a?x=1"
        r.warc_date shouldBe "2024-02-03T04:05:07Z"
        r.http_status shouldBe 200
        r.http_content_type shouldBe "text/plain; charset=utf-8"
        new String(r.body, "UTF-8") shouldBe "héllo wörld"
        rows(0).http_status shouldBe null // non-response: raw payload
        new String(rows(0).body, "UTF-8") should include("graft")
      }
    }
    it("a truncated payload quarantines the file with a loud reason") {
      val good = WarcIngest.responseRecordBytes("https://t/1",
        "2024-01-01T00:00:00Z", "ok".getBytes)
      val cut = rawRecord(Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "https://t/2"),
        "0123456789".getBytes).dropRight(12) // rip into the payload
      val path = s"$scratch/trunc.warc"
      WarcIngest.writeWarcFile(spark, path, Seq(good, cut))
      val rows = WarcIngest.records(spark, path).collect()
        .sortBy(_.record_index)
      rows.head.error shouldBe null // the intact record still lands
      rows.last.error should include("truncated")
      rows.length shouldBe 2
    }
    it("garbage bytes produce one error row, not an exception") {
      val path = s"$scratch/garbage.warc"
      WarcIngest.writeWarcFile(spark, path,
        Seq("this is not a warc file at all\r\n".getBytes))
      val rows = WarcIngest.records(spark, path).collect()
      rows.length shouldBe 1
      rows.head.error should include("expected WARC/ version")
    }
    it("a corrupt gzip header quarantines the file (open-time failure)") {
      // gzip magic bytes, then an invalid compression method byte —
      // GZIPInputStream's CONSTRUCTOR throws ZipException here
      val bogus = Array[Byte](0x1f, 0x8b.toByte, 0x07, 0, 0, 0, 0, 0,
        0, 0, 1, 2, 3)
      val path = s"$scratch/badheader.warc.gz"
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(bogus) finally out.close()
      val rows = WarcIngest.records(spark, path).collect()
      rows.length shouldBe 1
      rows.head.error should include("unreadable file")
      // the in-memory (streaming) path honors the same contract
      val viaBytes = WarcIngest.parseBytes(path, bogus).toSeq
      viaBytes.length shouldBe 1
      viaBytes.head.error should include("unreadable file")
    }
    it("a truncated .warc.gz quarantines mid-stream instead of " +
        "killing the task") {
      // gzip a two-record archive, then rip the compressed stream in
      // half: the inflater throws EOFException/ZipException from a
      // READ call (not the constructor) — previously uncaught
      val full = s"$scratch/full.warc.gz"
      WarcIngest.writeWarcFile(spark, full, Seq(
        WarcIngest.responseRecordBytes("https://t/1",
          "2024-01-01T00:00:00Z",
          ("x" * 4096).getBytes("UTF-8")),
        WarcIngest.responseRecordBytes("https://t/2",
          "2024-01-01T00:00:01Z", ("y" * 4096).getBytes("UTF-8"))))
      val fp = new org.apache.hadoop.fs.Path(full)
      val fs = fp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val len = fs.getFileStatus(fp).getLen.toInt
      val bytes = new Array[Byte](len / 2)
      val in = fs.open(fp)
      try in.readFully(0L, bytes) finally in.close()
      val cut = s"$scratch/cut.warc.gz"
      val out = fs.create(new org.apache.hadoop.fs.Path(cut), true)
      try out.write(bytes) finally out.close()
      val rows = WarcIngest.records(spark, cut).collect()
      rows should not be empty
      // no exception escaped; the walk ends in exactly one error row
      rows.count(_.error != null) shouldBe 1
      rows.find(_.error != null).get.error should (
        include("unreadable stream") or include("truncated"))
    }
    it("a non-HTTP response payload degrades to a raw body") {
      val odd = rawRecord(Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "https://t/odd"),
        "just bytes, no status line".getBytes)
      val path = s"$scratch/odd.warc"
      WarcIngest.writeWarcFile(spark, path, Seq(odd))
      val r = WarcIngest.records(spark, path).collect().head
      r.error shouldBe null
      r.http_status shouldBe null
      new String(r.body, "UTF-8") shouldBe "just bytes, no status line"
    }
  }

  describe("responses") {
    it("globs across plain+gz files and decodes text bodies") {
      val a = WarcIngest.responseRecordBytes("https://t/10",
        "2024-01-01T00:00:00Z", "alpha".getBytes("UTF-8"))
      val b = WarcIngest.responseRecordBytes("https://t/11",
        "2024-01-01T00:00:00Z", "beta".getBytes("UTF-8"))
      WarcIngest.writeWarcFile(spark, s"$scratch/resp1.warc", Seq(a))
      WarcIngest.writeWarcFile(spark, s"$scratch/resp2.warc.gz", Seq(b))
      val texts = WarcIngest.responses(spark, s"$scratch/resp*")
        .select("text").as[String].collect().toSet
      texts shouldBe Set("alpha", "beta")
    }
  }

  describe("stream (crawl-drop tailing)") {
    it("tails a landing dir across micro-batches, quarantine included") {
      val landing = s"$scratch/landing"
      val lp = new org.apache.hadoop.fs.Path(landing)
      lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(lp, true)
      lp.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(lp)
      val q = WarcIngest.stream(spark, landing)
        .writeStream.format("memory").queryName("warc_stream")
        .outputMode("append").start()
      try {
        WarcIngest.writeWarcFile(spark, s"$landing/d1.warc", Seq(
          WarcIngest.responseRecordBytes("https://t/1",
            "2024-01-01T00:00:00Z", "one".getBytes("UTF-8"))))
        q.processAllAvailable()
        spark.table("warc_stream").count() shouldBe 1
        // second drop: a gzipped good file AND a corrupt one
        WarcIngest.writeWarcFile(spark, s"$landing/d2.warc.gz", Seq(
          WarcIngest.responseRecordBytes("https://t/2",
            "2024-01-01T00:00:01Z", "two".getBytes("UTF-8"))))
        WarcIngest.writeWarcFile(spark, s"$landing/bad.warc",
          Seq("not a warc\r\n".getBytes))
        q.processAllAvailable()
        val rows = spark.table("warc_stream").collect()
        rows.length shouldBe 3
        val texts = spark.table("warc_stream")
          .filter($"error".isNull)
          .select($"body".cast("string")).as[String].collect().toSet
        texts shouldBe Set("one", "two")
        spark.table("warc_stream").filter($"error".isNotNull)
          .count() shouldBe 1
      } finally q.stop()
    }
  }

  describe("ingestSink") {
    it("appends clean responses to the lake, quarantines poison files") {
      val landing = s"$scratch/sink_landing"
      val table = s"$scratch/sink_table"
      val quarantine = s"$scratch/sink_quarantine"
      val ck = s"$scratch/sink_ck"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq(landing, table, quarantine, ck).foreach(d =>
        fs.delete(new org.apache.hadoop.fs.Path(d), true))
      fs.mkdirs(new org.apache.hadoop.fs.Path(landing))
      val q = WarcIngest.ingestSink(WarcIngest.stream(spark, landing),
        table, quarantine, ck).start()
      try {
        WarcIngest.writeWarcFile(spark, s"$landing/a.warc", Seq(
          WarcIngest.responseRecordBytes("https://t/1",
            "2024-01-01T00:00:00Z", "alpha".getBytes("UTF-8")),
          WarcIngest.responseRecordBytes("https://t/2",
            "2024-01-01T00:00:01Z", "beta".getBytes("UTF-8"))))
        WarcIngest.writeWarcFile(spark, s"$landing/poison.warc",
          Seq("corrupt bytes\r\n".getBytes))
        q.processAllAvailable()
        val tbl = graft.sources.AtomicLake.read(spark, table)
        tbl.count() shouldBe 2
        tbl.select($"text").as[String].collect().toSet shouldBe
          Set("alpha", "beta")
        val bad = graft.sources.AtomicLake.read(spark, quarantine)
        bad.count() shouldBe 1
        bad.select($"error").as[String].head() should
          include("expected WARC/ version")
      } finally q.stop()
    }
  }

  describe("parseHttp") {
    it("is header-case-insensitive and handles a missing separator") {
      val msg = ("HTTP/1.1 404 Not Found\r\ncOnTeNt-TyPe: text/html\r\n" +
        "\r\n<x>").getBytes("UTF-8")
      val (st, ct, body) = WarcIngest.parseHttp(msg)
      st shouldBe 404
      ct shouldBe "text/html"
      new String(body, "UTF-8") shouldBe "<x>"
      val headless = "HTTP/1.1 200 OK\r\nX: y".getBytes("UTF-8")
      val (st2, _, body2) = WarcIngest.parseHttp(headless)
      st2 shouldBe 200
      body2.length shouldBe 0 // no separator → no entity body
    }
  }
}
