package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{NearDupIndex, VectorIndex}
import graft.sources.{AtomicLake, CommitStore, HardlinkCommitStore}

/** Crash-point injection for the multi-commit STREAMING sinks (r14
  * verdict #6): [[graft.streaming.StreamingLake.ingestWithIndexSink]]
  * coordinates three lake commits per micro-batch (index sh, index
  * bands, docs) and [[graft.streaming.StreamingLake.vectorIndexSink]]
  * one — G19 claims a crash between ANY of them converges on replay
  * with no cross-table torn state, previously proven only on clean
  * replays. Here a wrapping [[CommitStore]] kills the writer at an
  * armed commit point (after the batch's data files are staged,
  * before the version claim — the same window
  * LakeConcurrencyFuzzSpec injects for batch writers), the streaming
  * query dies mid-batch, and a restarted query must replay the batch
  * to convergence. Torn-state detection is asserted from the COMMIT
  * LOGS ALONE (versionPair / missingBandDocs / table reads — never
  * sink-internal state), and injection non-vacuity is counted.
  */
class StreamingSinkCrashSpec extends SparkSpec {
  import spark.implicits._

  /** [[CommitStore]] decorator that throws (once) at the next commit
    * whose table root matches the armed predicate — the staged-files-
    * without-version-claim crash window.
    */
  private final class CrashingStore(inner: CommitStore)
      extends CommitStore {
    private val armed = new java.util.concurrent.atomic
      .AtomicReference[String => Boolean](null)
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    def arm(pred: String => Boolean): Unit = armed.set(pred)
    override def listVersions(root: String): Seq[Long] =
      inner.listVersions(root)
    override def readBody(root: String, version: Long): String =
      inner.readBody(root, version)
    override def tryCommit(root: String, version: Long,
        body: String): Boolean = {
      val p = armed.get()
      if (p != null && p(root) && armed.compareAndSet(p, null)) {
        fired.incrementAndGet()
        throw new RuntimeException(
          s"injected crash: dying before claiming $root v$version")
      }
      inner.tryCommit(root, version, body)
    }
    override def delete(root: String, version: Long): Unit =
      inner.delete(root, version)
  }

  private def wipe(dirs: String*): Unit = dirs.foreach(d =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))

  describe("ingestWithIndexSink under crash-point injection") {
    it("a kill at any of the three per-batch commits is detectable " +
        "from the logs and converges on restart with no torn state") {
      implicit val sqlCtx = spark.sqlContext
      val docsRoot = TestScratch("crash_crawl_docs")
      val idxRoot = TestScratch("crash_crawl_idx")
      val ck = TestScratch("crash_crawl_ck")
      wipe(docsRoot, idxRoot, ck)
      val store = new CrashingStore(HardlinkCommitStore)
      def doc(i: Long) = s"crash stream doc $i with private words " +
        s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"
      val in = MemoryStream[(Long, String)]
      val stream = in.toDF().toDF("doc_id", "text")
      def startQ() = graft.streaming.StreamingLake.ingestWithIndexSink(
        stream, "doc_id", "text", docsRoot, idxRoot, ck,
        threshold = 0.5, store = store).start()
      def stopQuietly(q: org.apache.spark.sql.streaming.StreamingQuery)
          : Unit = try q.stop() catch { case _: Throwable => () }

      def crashBatch(data: Seq[(Long, String)],
          pred: String => Boolean): Unit = {
        store.arm(pred)
        val q = startQ()
        in.addData(data: _*)
        intercept[Exception] { q.processAllAvailable() }
        stopQuietly(q)
      }
      def restartAndDrain(): Unit = {
        val q = startQ()
        q.processAllAvailable()
        stopQuietly(q)
      }
      def assertConverged(ids: Seq[Long]): Unit = {
        // commit-log-only convergence: no torn append, docs exact
        val vp = NearDupIndex.versionPair(idxRoot, store)
        vp._1 shouldBe vp._2
        NearDupIndex.missingBandDocs(spark, idxRoot, store)
          .count() shouldBe 0L
        val docsT = AtomicLake.read(spark, docsRoot, store)
        docsT.count() shouldBe ids.size.toLong
        docsT.groupBy($"doc_id").count().filter($"count" > 1)
          .count() shouldBe 0L
        AtomicLake.read(spark, s"$idxRoot/sh", store)
          .groupBy($"doc_id").count().filter($"count" > 1)
          .count() shouldBe 0L
        // ...and the index SERVES everything ingested so far: a
        // shifted redelivery of every doc matches through the index
        val redelivery = ids.map(i => (1000L + i, doc(i)))
          .toDF("doc_id", "text")
        NearDupIndex.pairsAgainstIndex(spark, redelivery, "doc_id",
            "text", idxRoot, threshold = 0.5, store = store)
          .filter($"id2" === $"id1" + 1000L)
          .count() shouldBe ids.size.toLong
      }

      // batch 0: clean build
      val q0 = startQ()
      in.addData((1L, doc(1)), (2L, doc(2)))
      q0.processAllAvailable()
      stopQuietly(q0)
      NearDupIndex.versionPair(idxRoot, store) shouldBe ((1L, 1L))

      // CRASH 1: between the index sh commit and the bands commit —
      // the documented torn-append window, hit mid-stream. The tear
      // must be mechanically visible from the logs before repair.
      crashBatch(Seq((3L, doc(3)), (4L, doc(4))),
        r => r == s"$idxRoot/bands")
      val (shV, bandV) = NearDupIndex.versionPair(idxRoot, store)
      shV shouldBe (bandV + 1) // exactly the documented window
      NearDupIndex.missingBandDocs(spark, idxRoot, store)
        .as[Long].collect().toSet shouldBe Set(3L, 4L)
      // the docs commit never ran: the batch is invisible there
      AtomicLake.read(spark, docsRoot, store).count() shouldBe 2L
      restartAndDrain()
      assertConverged(1L to 4L)

      // CRASH 2: index fully committed, die before the DOCS commit —
      // the cross-table window. The index must stay internally
      // consistent while the docs table lags, and replay must land
      // the docs exactly once without re-indexing anything.
      crashBatch(Seq((5L, doc(5)), (6L, doc(6))), r => r == docsRoot)
      val vp2 = NearDupIndex.versionPair(idxRoot, store)
      vp2._1 shouldBe vp2._2 // the index side is NOT torn
      AtomicLake.read(spark, s"$idxRoot/sh", store)
        .filter($"doc_id".isin(5L, 6L)).count() shouldBe 2L
      AtomicLake.read(spark, docsRoot, store).count() shouldBe 4L
      restartAndDrain()
      assertConverged(1L to 6L)

      // CRASH 3: die at the very first commit of the batch (index
      // sh) — nothing landed anywhere; replay is a clean ingest.
      crashBatch(Seq((7L, doc(7)), (8L, doc(8))),
        r => r == s"$idxRoot/sh")
      restartAndDrain()
      assertConverged(1L to 8L)

      // non-vacuity: every armed kill actually fired
      store.fired.get() shouldBe 3
    }
  }

  describe("vectorIndexSink under crash-point injection") {
    it("a kill before the cells commit leaves staged orphans only; " +
        "the replayed batch lands exactly once") {
      implicit val sqlCtx = spark.sqlContext
      val root = TestScratch("crash_vec_idx")
      val ck = TestScratch("crash_vec_ck")
      wipe(root, ck)
      val store = new CrashingStore(HardlinkCommitStore)
      val emb = graft.sources.Tables.embeddings(spark, sf)
      VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 8,
        store = store)
      val seedCount = AtomicLake.read(spark, s"$root/cells", store)
        .count()
      val batch = emb.orderBy($"vec_id").limit(6)
        .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
        .as[(Long, Seq[Float])].collect().toSeq
      val in = MemoryStream[(Long, Seq[Float])]
      val stream = in.toDF().toDF("vec_id", "embedding")
      def startQ() = graft.streaming.StreamingLake.vectorIndexSink(
        stream, "vec_id", "embedding", root, ck, store).start()
      def stopQuietly(q: org.apache.spark.sql.streaming.StreamingQuery)
          : Unit = try q.stop() catch { case _: Throwable => () }

      store.arm(r => r == s"$root/cells")
      val q1 = startQ()
      in.addData(batch: _*)
      intercept[Exception] { q1.processAllAvailable() }
      stopQuietly(q1)
      // nothing claimed: the index serves the seed corpus unchanged
      AtomicLake.read(spark, s"$root/cells", store)
        .count() shouldBe seedCount

      val q2 = startQ()
      q2.processAllAvailable()
      // a redelivered batch after recovery is a no-op (idempotent)
      in.addData(batch: _*)
      q2.processAllAvailable()
      stopQuietly(q2)
      val cells = AtomicLake.read(spark, s"$root/cells", store)
      cells.count() shouldBe (seedCount + 6L)
      cells.groupBy($"vec_id").count().filter($"count" > 1)
        .count() shouldBe 0L
      // the recovered index serves the streamed vectors: each one's
      // nearest neighbor is its own seed twin (cosine 1)
      val queries = batch.toDF("vec_id", "embedding")
      val top = VectorIndex.topK(spark, queries, "vec_id",
        "embedding", root, k = 1, store = store)
      top.filter($"cand_id" === $"query_id" - 100000L)
        .count() shouldBe 6L
      store.fired.get() shouldBe 1
    }
  }
}
