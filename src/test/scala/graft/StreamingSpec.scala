package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{EventsStream, SessionEvent, StatefulSessions}
import graft.operators.Sessionize

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  describe("EventsStream.hourlyCounts") {
    it("aggregates a stream into the same shape as the batch twin") {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
      val events = in.toDF().toDF(
        "event_id", "ts", "user_id", "event_type", "value", "props")
      val q = EventsStream.hourlyCounts(events)
        .writeStream.format("memory").queryName("hourly")
        .outputMode("complete").start()
      try {
        in.addData(
          (1L, t("2024-01-01 10:05:00"), 1L, "view", 1.5, "{}"),
          (2L, t("2024-01-01 10:55:00"), 1L, "view", 2.5, "{}"),
          (3L, t("2024-01-01 11:00:00"), 2L, "click", 4.0, "{}"))
        q.processAllAvailable()
        val rows = spark.table("hourly")
          .orderBy("window_start", "event_type")
          .select("event_type", "n_events", "total_value")
          .as[(String, Long, Double)].collect()
        rows shouldBe Array(("view", 2L, 4.0), ("click", 1L, 4.0))
      } finally q.stop()
    }
  }

  describe("EventsStream.intervalJoin") {
    it("joins two streams on key within the time bound, not outside it") {
      implicit val sqlCtx = spark.sqlContext
      val imps = MemoryStream[(Long, Timestamp, Long)]
      val clicks = MemoryStream[(Long, Timestamp, Long)]
      val l = imps.toDF().toDF("imp_id", "ts", "user_id")
      val r = clicks.toDF().toDF("click_id", "ts", "user_id")
      val q = EventsStream.intervalJoin(l, r, "user_id",
          before = "0 seconds", after = "30 minutes")
        .select(col("imp_id"), col("click_id"))
        .writeStream.format("memory").queryName("ssjoin")
        .outputMode("append").start()
      try {
        imps.addData(
          (10L, t("2024-01-01 10:00:00"), 1L),
          (11L, t("2024-01-01 10:00:00"), 2L))
        clicks.addData(
          (20L, t("2024-01-01 10:10:00"), 1L), // in window for imp 10
          (21L, t("2024-01-01 11:10:00"), 2L), // > 30min after imp 11
          (22L, t("2024-01-01 10:20:00"), 3L)) // no impression
        q.processAllAvailable()
        val got = spark.table("ssjoin")
          .as[(Long, Long)].collect().toSet
        got shouldBe Set((10L, 20L))
      } finally q.stop()
    }
  }

  describe("EventsStream.dedupWithinWatermark") {
    it("drops redelivered keys across micro-batches, keeps distinct ones") {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
      val events = in.toDF().toDF(
        "event_id", "ts", "user_id", "event_type", "value", "props")
      val q = EventsStream.dedupWithinWatermark(events, Seq("event_id"))
        .writeStream.format("memory").queryName("deduped")
        .outputMode("append").start()
      try {
        in.addData(
          (1L, t("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
          (2L, t("2024-01-01 10:01:00"), 1L, "view", 2.0, "{}"),
          (1L, t("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}")) // same batch dup
        q.processAllAvailable()
        // redelivery in a LATER micro-batch (at-least-once upstream)
        in.addData(
          (2L, t("2024-01-01 10:01:00"), 1L, "view", 2.0, "{}"),
          (3L, t("2024-01-01 10:02:00"), 2L, "click", 3.0, "{}"))
        q.processAllAvailable()
        val ids = spark.table("deduped").select("event_id")
          .as[Long].collect().sorted
        ids shouldBe Array(1L, 2L, 3L)
      } finally q.stop()
    }
  }

  describe("EventsStream.read (file source)") {
    it("tails a parquet directory end-to-end into the hourly aggregation") {
      val dir = TestScratch("stream_in")
      val ck = TestScratch("stream_ck")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      // first file lands before the stream starts
      Seq((1L, t("2024-01-01 10:05:00"), 1L, "view", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(dir)
      val q = EventsStream.hourlyCounts(EventsStream.read(spark, dir))
        .writeStream.format("memory").queryName("file_hourly")
        .option("checkpointLocation", ck)
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        // a second file arrives while the stream is live
        Seq((2L, t("2024-01-01 10:35:00"), 2L, "view", 2.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.mode("append").parquet(dir)
        q.processAllAvailable()
        val rows = spark.table("file_hourly")
          .select("event_type", "n_events", "total_value")
          .as[(String, Long, Double)].collect()
        rows shouldBe Array(("view", 2L, 3.0))
      } finally q.stop()
    }
  }

  describe("StreamingLake") {
    it("upserts partitions per micro-batch; replayed data does not duplicate") {
      implicit val sqlCtx = spark.sqlContext
      val lake = TestScratch("stream_lake")
      val ck = TestScratch("stream_lake_ck")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lake))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      val in = MemoryStream[(Long, String, Double)]
      val stream = in.toDF().toDF("id", "day", "trips")
      val q = graft.streaming.StreamingLake
        .upsertSink(stream, lake, ck, Seq("day")).start()
      try {
        in.addData((1L, "2024-01-01", 1.0), (2L, "2024-01-01", 2.0))
        q.processAllAvailable()
        // the same day's full data arrives again (replay/backfill)
        in.addData((1L, "2024-01-01", 1.0), (2L, "2024-01-01", 2.0),
          (3L, "2024-01-02", 4.0))
        q.processAllAvailable()
        val back = graft.sources.AtomicLake.read(spark, lake)
        back.count() shouldBe 3
        back.filter($"day" === "2024-01-01").count() shouldBe 2
      } finally q.stop()
    }
  }

  describe("StreamingLake atomic sink") {
    it("each micro-batch is one snapshot commit; replay stays exact") {
      implicit val sqlCtx = spark.sqlContext
      val lake = TestScratch("stream_lake_atomic")
      val ck = TestScratch("stream_lake_atomic_ck")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lake))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      val in = MemoryStream[(Long, String, Double)]
      val stream = in.toDF().toDF("id", "day", "trips")
      val q = graft.streaming.StreamingLake
        .upsertSink(stream, lake, ck, Seq("day")).start()
      try {
        in.addData((1L, "2024-01-01", 1.0), (2L, "2024-01-01", 2.0))
        q.processAllAvailable()
        graft.sources.AtomicLake.currentVersion(lake) shouldBe Some(1L)
        // replay/backfill of the same day + a new day: a new atomic
        // version, same effectively-once content
        in.addData((1L, "2024-01-01", 1.0), (2L, "2024-01-01", 2.0),
          (3L, "2024-01-02", 4.0))
        q.processAllAvailable()
        val back = graft.sources.AtomicLake.read(spark, lake)
        back.count() shouldBe 3
        back.filter($"day" === "2024-01-01").count() shouldBe 2
        // the pre-replay snapshot is still readable (per-batch history)
        graft.sources.AtomicLake.readVersion(spark, lake, 1)
          .count() shouldBe 2
      } finally q.stop()
    }
    it("mergeSink upserts by key per micro-batch; last change per " +
        "key wins within a batch") {
      implicit val sqlCtx = spark.sqlContext
      val lake = TestScratch("stream_lake_merge")
      val ck = TestScratch("stream_lake_merge_ck")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lake))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      val in = MemoryStream[(Long, Long, Double)]
      val stream = in.toDF().toDF("k", "seq", "v")
      val q = graft.streaming.StreamingLake
        .mergeSink(stream, lake, ck, Seq("k"), latestBy = Some("seq"))
        .start()
      try {
        // bootstrap batch
        in.addData((1L, 1L, 10.0), (2L, 1L, 20.0))
        q.processAllAvailable()
        // update k=2, insert k=3; two changes of k=3 in ONE batch —
        // the later seq must win
        in.addData((2L, 2L, 99.0), (3L, 2L, 7.0), (3L, 3L, 8.0))
        q.processAllAvailable()
        val back = graft.sources.AtomicLake.read(spark, lake)
          .select("k", "v").as[(Long, Double)].collect().toMap
        back shouldBe Map(1L -> 10.0, 2L -> 99.0, 3L -> 8.0)
        // replayed change: same key, same row → state converges
        in.addData((2L, 2L, 99.0))
        q.processAllAvailable()
        graft.sources.AtomicLake.read(spark, lake)
          .select("k", "v").as[(Long, Double)].collect().toMap shouldBe
          Map(1L -> 10.0, 2L -> 99.0, 3L -> 8.0)
      } finally q.stop()
    }
    it("expectSink quarantines violating rows per micro-batch and " +
        "keeps the stream flowing") {
      implicit val sqlCtx = spark.sqlContext
      import graft.sources.AtomicLake
      val lake = TestScratch("stream_lake_expect")
      val q0 = TestScratch("stream_lake_expect_q")
      val ck = TestScratch("stream_lake_expect_ck")
      Seq(lake, q0, ck).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      AtomicLake.append(Seq((0L, 1.0)).toDF("id", "v"), lake)
      AtomicLake.addConstraint(spark, lake, "v_pos", "v > 0")
      val in = MemoryStream[(Long, Double)]
      val q = graft.streaming.StreamingLake
        .expectSink(in.toDF().toDF("id", "v"), lake, q0, ck).start()
      try {
        in.addData((1L, 1.0), (2L, -2.0), (3L, 3.0))
        q.processAllAvailable()
        in.addData((4L, -4.0))
        q.processAllAvailable()
        AtomicLake.read(spark, lake).select("id").as[Long]
          .collect().toSet shouldBe Set(0L, 1L, 3L)
        AtomicLake.read(spark, q0).select("id").as[Long]
          .collect().toSet shouldBe Set(2L, 4L)
      } finally q.stop()
    }
    it("JSONL crawl ingest streams clean rows to the lake and garbage " +
        "to quarantine, across drops") {
      import graft.sources.{AtomicLake, JsonlIngest}
      val base = TestScratch("jsonl_stream")
      val (landing, lake, quar, ck) = (s"$base/in", s"$base/lake",
        s"$base/quar", s"$base/ck")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      new java.io.File(landing).mkdirs()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      def drop(name: String, lines: String*): Unit =
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(landing, name),
          lines.mkString("", "\n", "\n"))
      drop("a.jsonl", """{"doc_id":1,"text":"one"}""",
        """{"doc_id":2,"text":"two"}""")
      val q = JsonlIngest.ingestSink(
        JsonlIngest.stream(spark, landing, schema,
          requiredCols = Seq("doc_id")),
        schema, lake, quar, ck).start()
      try {
        q.processAllAvailable()
        AtomicLake.read(spark, lake).count() shouldBe 2
        // second drop: one clean, one malformed, one null key
        drop("b.jsonl", """{"doc_id":3,"text":"three"}""",
          "{broken", """{"text":"no id"}""")
        q.processAllAvailable()
        AtomicLake.read(spark, lake).select("doc_id").as[Long]
          .collect().toSet shouldBe Set(1L, 2L, 3L)
        AtomicLake.read(spark, quar)
          .select("raw_line", "reason").as[(String, String)]
          .collect().toMap shouldBe Map(
            "{broken" -> "malformed_json",
            """{"text":"no id"}""" -> "null_required_field")
      } finally q.stop()
    }
    it("streams commit through a catalog store like batch writers") {
      implicit val sqlCtx = spark.sqlContext
      import graft.sources.{AtomicLake, CatalogCommitStore, CommitCatalog}
      val store = new CatalogCommitStore(new CommitCatalog)
      val lake = TestScratch("stream_lake_catalog")
      val ck = TestScratch("stream_lake_catalog_ck")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lake))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      val in = MemoryStream[(Long, String, Double)]
      val stream = in.toDF().toDF("id", "day", "trips")
      val q = graft.streaming.StreamingLake
        .upsertSink(stream, lake, ck, Seq("day"), store).start()
      try {
        in.addData((1L, "2024-01-01", 1.0))
        q.processAllAvailable()
        in.addData((2L, "2024-01-02", 2.0))
        q.processAllAvailable()
        AtomicLake.currentVersion(lake, store) shouldBe Some(2L)
        AtomicLake.read(spark, lake, store).count() shouldBe 2
      } finally q.stop()
    }
    it("crawl ingest maintains the near-dup index; a probe sees every batch") {
      implicit val sqlCtx = spark.sqlContext
      import graft.operators.NearDupIndex
      import graft.sources.AtomicLake
      val docsRoot = TestScratch("stream_crawl_docs")
      val idxRoot = TestScratch("stream_crawl_idx")
      val ck = TestScratch("stream_crawl_ck")
      Seq(docsRoot, idxRoot, ck).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
      def doc(i: Long) = s"stream document number $i carrying distinct " +
        s"words alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"
      val in = MemoryStream[(Long, String)]
      val stream = in.toDF().toDF("doc_id", "text")
      val q = graft.streaming.StreamingLake.ingestWithIndexSink(stream,
        "doc_id", "text", docsRoot, idxRoot, ck, threshold = 0.5).start()
      try {
        in.addData((1L, doc(1)), (2L, doc(2)))
        q.processAllAvailable()
        in.addData((3L, doc(3)), (4L, doc(4)))
        q.processAllAvailable()
        in.addData((5L, doc(5)))
        q.processAllAvailable()
        // after 3 micro-batches, a probe through the INDEX (no corpus
        // text read) matches a shifted redelivery of every batch's
        // docs — and nothing else at this threshold
        val redelivery = Seq.tabulate(5)(i =>
          (101L + i, doc(1L + i))).toDF("doc_id", "text")
        val pairs = NearDupIndex.pairsAgainstIndex(spark, redelivery,
          "doc_id", "text", idxRoot, threshold = 0.5)
        pairs.filter($"id2" === $"id1" + 100L).count() shouldBe 5L
        pairs.count() shouldBe 5L
        AtomicLake.read(spark, docsRoot).count() shouldBe 5L
        // a redelivered micro-batch duplicates nothing in either table
        in.addData((3L, doc(3)), (4L, doc(4)))
        q.processAllAvailable()
        AtomicLake.read(spark, docsRoot).count() shouldBe 5L
        AtomicLake.read(spark, s"$idxRoot/sh")
          .groupBy($"doc_id").count().filter($"count" > 1)
          .count() shouldBe 0L
        NearDupIndex.missingBandDocs(spark, idxRoot).count() shouldBe 0L
        val vp = NearDupIndex.versionPair(idxRoot)
        vp._1 shouldBe vp._2
      } finally q.stop()
    }
  }

  describe("StatefulSessions") {
    it("closes sessions on gap within a batch and matches batch semantics") {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[SessionEvent]
      val q = StatefulSessions.sessionize(in.toDS(), gapMinutes = 30)
        .writeStream.format("memory").queryName("sessions")
        .outputMode("append").start()
      try {
        in.addData(
          SessionEvent(1L, t("2024-01-01 10:00:00"), 1L, 1.0),
          SessionEvent(1L, t("2024-01-01 10:10:00"), 2L, 2.0),
          // 40-minute gap: closes the first session immediately
          SessionEvent(1L, t("2024-01-01 10:50:00"), 3L, 4.0))
        q.processAllAvailable()
        val closed = spark.table("sessions")
          .select("user_id", "n_events", "total_value")
          .as[(Long, Long, Double)].collect()
        closed shouldBe Array((1L, 2L, 3.0))
        // advancing the watermark far past the gap flushes the open session
        in.addData(SessionEvent(99L, t("2024-01-01 15:00:00"), 9L, 0.5))
        q.processAllAvailable()
        in.addData(SessionEvent(99L, t("2024-01-01 18:00:00"), 10L, 0.5))
        q.processAllAvailable()
        val all = spark.table("sessions")
          .select("user_id", "n_events", "total_value")
          .as[(Long, Long, Double)].collect().toSet
        all should contain((1L, 1L, 4.0)) // the flushed open session
      } finally q.stop()
    }

    it("the transformWithState twin matches the flatMapGroupsWithState " +
        "semantics (gap close, watermark flush) on RocksDB state") {
      implicit val sqlCtx = spark.sqlContext
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      val in = MemoryStream[SessionEvent]
      val q = StatefulSessions.sessionizeTWS(in.toDS(), gapMinutes = 30)
        .writeStream.format("memory").queryName("sessions_tws")
        .outputMode("append").start()
      try {
        in.addData(
          SessionEvent(1L, t("2024-01-01 10:00:00"), 1L, 1.0),
          SessionEvent(1L, t("2024-01-01 10:10:00"), 2L, 2.0),
          SessionEvent(1L, t("2024-01-01 10:50:00"), 3L, 4.0))
        q.processAllAvailable()
        spark.table("sessions_tws")
          .select("user_id", "n_events", "total_value")
          .as[(Long, Long, Double)].collect() shouldBe
          Array((1L, 2L, 3.0)) // the 40-min gap closed in-batch
        // advancing the watermark past lastEvent+gap fires the timer
        in.addData(SessionEvent(99L, t("2024-01-01 15:00:00"), 9L, 0.5))
        q.processAllAvailable()
        in.addData(SessionEvent(99L, t("2024-01-01 18:00:00"), 10L, 0.5))
        q.processAllAvailable()
        spark.table("sessions_tws")
          .select("user_id", "n_events", "total_value")
          .as[(Long, Long, Double)].collect()
          .toSet should contain((1L, 1L, 4.0))
      } finally {
        q.stop()
        prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      }
    }

    it("agrees with the batch operator on closed sessions") {
      implicit val sqlCtx = spark.sqlContext
      val evs = Seq(
        SessionEvent(1L, t("2024-01-01 08:00:00"), 1L, 1.25),
        SessionEvent(1L, t("2024-01-01 08:20:00"), 2L, 2.25),
        SessionEvent(1L, t("2024-01-01 09:30:00"), 3L, 1.0),
        SessionEvent(2L, t("2024-01-01 08:00:00"), 4L, 7.5))
      val in = MemoryStream[SessionEvent]
      val q = StatefulSessions.sessionize(in.toDS(), gapMinutes = 30)
        .writeStream.format("memory").queryName("sess_parity")
        .outputMode("append").start()
      try {
        in.addData(evs: _*)
        q.processAllAvailable()
        // push watermark forward to flush everything
        in.addData(SessionEvent(50L, t("2024-01-02 00:00:00"), 99L, 0.0))
        q.processAllAvailable()
        in.addData(SessionEvent(50L, t("2024-01-03 00:00:00"), 100L, 0.0))
        q.processAllAvailable()
        val streamed = spark.table("sess_parity")
          .filter($"user_id" < 50)
          .select("user_id", "session_start", "session_end", "n_events",
            "total_value")
          .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
        val batch = Sessionize.batchGapSessions(
          evs.toDF(), Sessionize.GapConfig())
          .select(col("user_id"), col("session_start"), col("session_end"),
            col("n_events"), col("total_value"))
          .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
        streamed shouldBe batch
      } finally q.stop()
    }
  }
}
