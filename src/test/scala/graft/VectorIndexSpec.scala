package graft

import org.apache.spark.sql.functions._
import graft.operators.{Codec, Similarity, VectorIndex}
import graft.sources.Tables

/** Persistent IVF vector index (SURVEY.md §2 E14): build/probe parity
  * with the in-memory operator, partition-pruned probes, idempotent
  * incremental append, geometry pinning.
  */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = TestScratch(s"vecidx_$name")
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    root
  }

  private def emb = Tables.embeddings(spark, sf)

  private def pq(root: String): Codec.Pq =
    VectorIndex.readParams(root).codec.asInstanceOf[Codec.Pq]

  describe("VectorIndex") {
    it("probe equals the in-memory IVF operator on the same corpus " +
        "and geometry") {
      val root = freshRoot("parity")
      VectorIndex.build(emb, "vec_id", "embedding", root,
        nlist = 8, seed = 42L)
      val queries = emb.filter(col("vec_id") < 5)
      val got = VectorIndex.topK(spark, queries, "vec_id", "embedding",
          root, k = 10, nprobe = 3)
        .select("query_id", "cand_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      val want = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
          k = 10, nlist = 8, nprobe = 3, seed = 42L)
        .select("query_id", "cand_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      got shouldBe want
      want should not be empty
    }

    it("tag-memoized quantizer sharing is bit-identical to fresh " +
        "fits across build/buildSq/buildPq") {
      // r17 (verdict #8 / §5.3 finding 2): sibling index builds over
      // the same corpus tag share ONE coarse-quantizer fit. The memo
      // hit must be indistinguishable from retraining — same
      // centroids, same SQ bounds, same PQ books — or the bit-gated
      // pinned oracles would silently drift.
      val tag = "memo-parity"
      val (rI, rS, rP) = (freshRoot("memo_ivf"), freshRoot("memo_sq"),
        freshRoot("memo_pq"))
      val (rS0, rP0) = (freshRoot("memo_sq0"), freshRoot("memo_pq0"))
      // tagged chain: ivf pays the fit, sq/pq reuse it
      val pI = VectorIndex.build(emb, "vec_id", "embedding", rI,
        nlist = 8, corpusTag = tag)
      val pS = VectorIndex.build(emb, "vec_id", "embedding", rS,
        nlist = 8, corpusTag = tag, codec = Codec.Sq8())
      val pP = VectorIndex.build(emb, "vec_id", "embedding", rP,
        nlist = 8, corpusTag = tag,
        codec = Codec.Pq(m = 8, ks = 16, residual = true))
      // untagged = always-fresh fits
      val pS0 = VectorIndex.build(emb, "vec_id", "embedding", rS0,
        nlist = 8, codec = Codec.Sq8())
      val pP0 = VectorIndex.build(emb, "vec_id", "embedding", rP0,
        nlist = 8, codec = Codec.Pq(m = 8, ks = 16, residual = true))
      pS.centroids shouldBe pI.centroids
      pP.centroids shouldBe pI.centroids
      pS0 shouldBe pS
      pP0 shouldBe pP
    }

    it("probes are partition-pruned: nprobe cells plan a strict " +
        "subset of the files") {
      val root = freshRoot("prune")
      VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 8)
      val (planned, total) = VectorIndex.probeScanInfo(root, Seq(0, 1))
      total should be >= 8 // one file per non-empty cell partition
      planned should be <= (total / 2)
      planned should be >= 1
    }

    it("append assigns with the PERSISTED centroids, idempotently") {
      val root = freshRoot("append")
      val base = emb.filter(col("vec_id") < 400)
      val batch = emb.filter(col("vec_id") >= 400)
      VectorIndex.build(base, "vec_id", "embedding", root, nlist = 8)
      val v1 = VectorIndex.append(spark, batch, "vec_id", "embedding",
        root)
      // re-delivery: nothing new, no new version
      VectorIndex.append(spark, batch, "vec_id", "embedding",
        root) shouldBe v1
      // the full index now equals a fresh build's assignment set
      // (same centroids: build reuses the claimed params)
      val all = graft.sources.AtomicLake
        .read(spark, s"$root/cells").select("vec_id", "cell")
        .as[(Long, Int)].collect().toSet
      val fullRoot = freshRoot("append_full")
      // same geometry + same TRAINING corpus => same quantizer: train
      // on `base` again, then assign everything
      VectorIndex.build(base, "vec_id", "embedding", fullRoot,
        nlist = 8)
      VectorIndex.append(spark, emb, "vec_id", "embedding", fullRoot)
      val full = graft.sources.AtomicLake
        .read(spark, s"$fullRoot/cells").select("vec_id", "cell")
        .as[(Long, Int)].collect().toSet
      all shouldBe full
      // and probing finds appended vectors
      val probe = VectorIndex.topK(spark,
        emb.filter(col("vec_id") === 0), "vec_id", "embedding", root,
        k = 500, nprobe = 8)
      probe.filter(col("cand_id") >= 400).count() should be > 0L
    }

    it("pins geometry: a rebuild with different nlist refuses loudly") {
      val root = freshRoot("pin")
      VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 8)
      an[IllegalArgumentException] should be thrownBy
        VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 16)
      // same geometry: rebuild is fine and reuses the quantizer
      VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 8)
      VectorIndex.readParams(root).nlist shouldBe 8
    }

    it("refuses to serve or extend a pre-metric (l2) index: mixed " +
        "bucketing geometry must never silently degrade recall") {
      val root = freshRoot("premetric")
      // a params file from before the metric field existed: no
      // "metric" key, raw-magnitude centroids — parses back as "l2"
      val centroids = (0 until 4).map(c =>
        (0 until 8).map(d => (c + d).toDouble)
          .mkString("[", ",", "]")).mkString("[", ",", "]")
      graft.sources.HardlinkCommitStore.tryCommit(s"$root/params", 1L,
        s"""{"nlist":4,"seed":42,"dim":8,"centroids":$centroids}"""
      ) shouldBe true
      VectorIndex.readParams(root).metric shouldBe "l2"
      val qs = emb.filter(col("vec_id") < 2)
      val probe = the[IllegalArgumentException] thrownBy
        VectorIndex.topK(spark, qs, "vec_id", "embedding", root, k = 3)
      probe.getMessage should include("metric=l2")
      an[IllegalArgumentException] should be thrownBy
        VectorIndex.append(spark, qs, "vec_id", "embedding", root)
      // build() claims the metric THIS code implements (unit-l2), so
      // a geometry flip refuses instead of adopting stored params
      an[IllegalArgumentException] should be thrownBy
        VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 4)
    }

    it("a params body that is truncated or missing a field refuses " +
        "to read with an IllegalStateException naming root and field") {
      val store = graft.sources.HardlinkCommitStore
      val root = freshRoot("no_centroids")
      store.tryCommit(s"$root/params", 1L,
        """{"nlist":4,"seed":42,"dim":8,"metric":"unit-l2"}"""
      ) shouldBe true
      val e = the[IllegalStateException] thrownBy
        VectorIndex.readParams(root)
      e.getMessage should (include(root) and include("centroids"))
      val probe = the[IllegalStateException] thrownBy
        VectorIndex.topK(spark, emb.filter(col("vec_id") < 2), "vec_id",
          "embedding", root, k = 3)
      probe.getMessage shouldBe e.getMessage
      val pqRoot = freshRoot("no_books")
      store.tryCommit(s"$pqRoot/pq_params", 1L,
        """{"nlist":1,"seed":42,"dim":2,"metric":"unit-l2","m":1,""" +
          """"ks":2,"centroids":[[1,0]]}""") shouldBe true
      val ePq = the[IllegalStateException] thrownBy
        VectorIndex.readParams(pqRoot)
      ePq.getMessage should (include(pqRoot) and include("books"))
      val cut = freshRoot("truncated")
      store.tryCommit(s"$cut/sq_params", 1L,
        """{"nlist":4,"seed":42,"di""") shouldBe true
      val eCut = the[IllegalStateException] thrownBy
        VectorIndex.readParams(cut)
      eCut.getMessage should include(cut)
    }

    it("streams micro-batches into the live index, replay-safe") {
      implicit val sqlCtx = spark.sqlContext
      val root = freshRoot("stream")
      val ckpt = freshRoot("stream_ckpt")
      VectorIndex.build(emb.filter(col("vec_id") < 300), "vec_id",
        "embedding", root, nlist = 8)
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Float])]
      val stream = in.toDF().toDF("vec_id", "embedding")
      val q = graft.streaming.StreamingLake.vectorIndexSink(stream,
        "vec_id", "embedding", root, ckpt).start()
      try {
        val tail = emb.filter(col("vec_id") >= 300)
          .select("vec_id", "embedding")
          .as[(Long, Seq[Float])].collect()
        val (b1, b2) = tail.splitAt(tail.length / 2)
        in.addData(b1.toIndexedSeq)
        q.processAllAvailable()
        in.addData(b2.toIndexedSeq)
        // overlap re-delivers some of b1: append must dedup
        in.addData(b1.take(5).toIndexedSeq)
        q.processAllAvailable()
        val ids = graft.sources.AtomicLake
          .read(spark, s"$root/cells").select("vec_id")
          .as[Long].collect()
        ids.length shouldBe 500 // no duplicates
        ids.toSet shouldBe (0L until 500L).toSet
      } finally q.stop()
    }

    it("the streaming sink refuses an unbuilt index loudly") {
      implicit val sqlCtx = spark.sqlContext
      val root = freshRoot("stream_refuse")
      val ckpt = freshRoot("stream_refuse_ckpt")
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Float])]
      val q = graft.streaming.StreamingLake.vectorIndexSink(
        in.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", root, ckpt).start()
      try {
        in.addData((1L, Seq(1.0f, 2.0f)))
        val e = intercept[org.apache.spark.sql.streaming
          .StreamingQueryException] {
          q.processAllAvailable()
        }
        e.getMessage should include("build() one from a seed corpus")
      } finally q.stop()
    }

    it("recall@10 vs brute force stays high at nprobe 5/8") {
      // uniform-random corpus = the IVF recall worst case (see
      // SimilaritySpec's ivfTopK note); measured after the r11
      // canonical training feed: 0.76 at nprobe=4, 0.88 at 5 —
      // 5 probes keep honest margin over the 0.8 bar
      val root = freshRoot("recall")
      VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 8)
      val queries = emb.filter(col("vec_id") < 20)
      val approx = VectorIndex.topK(spark, queries, "vec_id",
          "embedding", root, k = 10, nprobe = 5)
        .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
          "embedding", k = 10)
        .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
      val recall = (approx & exact).size.toDouble / exact.size
      recall should be >= 0.8
    }
  }

  describe("SQ8 tier (persisted IVF-SQ8)") {
    it("lake-served topKSq equals the in-memory sqTopK EXACTLY " +
        "(ids, ranks, and cosines)") {
      val root = freshRoot("sq_parity")
      VectorIndex.build(emb, "vec_id", "embedding", root,
        nlist = 8, seed = 42L, codec = Codec.Sq8())
      val queries = emb.filter(col("vec_id") < 5)
      val got = VectorIndex.topK(spark, queries, "vec_id", "embedding",
          root, k = 10, nprobe = 3, refine = 4, corpus = Some(emb))
        .select("query_id", "cand_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      val want = Similarity.sqTopK(emb, queries, "vec_id", "embedding",
          k = 10, nlist = 8, nprobe = 3, refine = 4, seed = 42L)
        .select("query_id", "cand_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      got shouldBe want // bit-equal cosines included
      want should not be empty
    }

    it("SQ probes are partition-pruned on the byte-codes lake, and " +
        "the geometry pins") {
      val root = freshRoot("sq_prune")
      VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 8,
        codec = Codec.Sq8())
      val (planned, total) = VectorIndex.probeScanInfo(root,
        Seq(0, 1))
      total should be >= 8
      planned should be <= (total / 2)
      planned should be >= 1
      an[IllegalArgumentException] should be thrownBy
        VectorIndex.build(emb, "vec_id", "embedding", root,
          nlist = 16, codec = Codec.Sq8())
    }

    it("appendSq encodes with the PERSISTED bounds, idempotently; " +
        "appended vectors surface through a full probe") {
      val root = freshRoot("sq_append")
      val base = emb.filter(col("vec_id") < 400)
      val batch = emb.filter(col("vec_id") >= 400)
      VectorIndex.build(base, "vec_id", "embedding", root, nlist = 8,
        codec = Codec.Sq8())
      val v1 = VectorIndex.append(spark, batch, "vec_id",
        "embedding", root)
      VectorIndex.append(spark, batch, "vec_id", "embedding",
        root) shouldBe v1 // re-delivery: no new version
      val queries = emb.filter(col("vec_id") < 3)
      val got = VectorIndex.topK(spark, queries, "vec_id", "embedding",
          root, k = 10, nprobe = 8, refine = 50, corpus = Some(emb))
        .select("query_id", "cand_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
          "embedding", k = 10)
        .select("query_id", "cand_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      got shouldBe exact
    }
  }

  describe("SQ8 streaming sink") {
    it("streams micro-batches into the live SQ index, replay-safe; " +
        "refuses an unbuilt index loudly") {
      implicit val sqlCtx = spark.sqlContext
      val root = freshRoot("sq_stream")
      val ckpt = freshRoot("sq_stream_ckpt")
      VectorIndex.build(emb.filter(col("vec_id") < 300), "vec_id",
        "embedding", root, nlist = 8, codec = Codec.Sq8())
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Float])]
      val stream = in.toDF().toDF("vec_id", "embedding")
      val q = graft.streaming.StreamingLake.vectorIndexSink(stream,
        "vec_id", "embedding", root, ckpt).start()
      try {
        val tail = emb.filter(col("vec_id") >= 300)
          .select("vec_id", "embedding")
          .as[(Long, Seq[Float])].collect()
        val (b1, b2) = tail.splitAt(tail.length / 2)
        in.addData(b1.toIndexedSeq)
        q.processAllAvailable()
        in.addData(b2.toIndexedSeq)
        // overlap re-delivers some of b1: append must dedup
        in.addData(b1.take(5).toIndexedSeq)
        q.processAllAvailable()
        val ids = graft.sources.AtomicLake
          .read(spark, s"$root/sq_codes").select("vec_id")
          .as[Long].collect()
        ids.length shouldBe 500 // no duplicates
        ids.toSet shouldBe (0L until 500L).toSet
      } finally q.stop()
      val bare = freshRoot("sq_stream_refuse")
      val q2 = graft.streaming.StreamingLake.vectorIndexSink(
        in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        bare, freshRoot("sq_stream_refuse_ckpt")).start()
      try {
        in.addData((9999L, Seq.fill(64)(0.1f)))
        val e = intercept[org.apache.spark.sql.streaming
          .StreamingQueryException] { q2.processAllAvailable() }
        e.getMessage should include("build() one from a seed corpus")
      } finally q2.stop()
    }
  }

  describe("PQ tier (persisted IVF-PQ)") {
    it("lake-served topKPq equals the in-memory pqTopK EXACTLY " +
        "(ids, ranks, and cosines)") {
      val root = freshRoot("pq_parity")
      VectorIndex.build(emb, "vec_id", "embedding", root,
        nlist = 8, seed = 42L, codec = Codec.Pq(m = 8, ks = 16))
      val queries = emb.filter(col("vec_id") < 5)
      val got = VectorIndex.topK(spark, queries, "vec_id", "embedding",
          root, k = 10, nprobe = 3, refine = 4, corpus = Some(emb))
        .select("query_id", "cand_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      val want = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
          k = 10, nlist = 8, nprobe = 3, m = 8, ks = 16, refine = 4,
          seed = 42L)
        .select("query_id", "cand_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      got shouldBe want // bit-equal cosines included
      want should not be empty
    }

    it("PQ probes are partition-pruned on the CODES lake") {
      val root = freshRoot("pq_prune")
      VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 8,
        codec = Codec.Pq())
      val (planned, total) = VectorIndex.probeScanInfo(root, Seq(0, 1))
      total should be >= 8
      planned should be <= (total / 2)
      planned should be >= 1
    }

    it("appendPq encodes with the PERSISTED codebooks, idempotently") {
      val root = freshRoot("pq_append")
      val base = emb.filter(col("vec_id") < 400)
      val batch = emb.filter(col("vec_id") >= 400)
      VectorIndex.build(base, "vec_id", "embedding", root, nlist = 8,
        codec = Codec.Pq())
      val v1 = VectorIndex.append(spark, batch, "vec_id",
        "embedding", root)
      // re-delivery: nothing new, no new version
      VectorIndex.append(spark, batch, "vec_id", "embedding",
        root) shouldBe v1
      // the appended rows carry codes from the SAME codebooks a
      // fresh same-training-corpus build would produce
      val all = graft.sources.AtomicLake
        .read(spark, s"$root/codes").select("vec_id", "codes")
        .as[(Long, Seq[Int])].collect().toMap
      all.size shouldBe 500
      val fullRoot = freshRoot("pq_append_full")
      VectorIndex.build(base, "vec_id", "embedding", fullRoot,
        nlist = 8, codec = Codec.Pq())
      VectorIndex.append(spark, emb, "vec_id", "embedding", fullRoot)
      val full = graft.sources.AtomicLake
        .read(spark, s"$fullRoot/codes").select("vec_id", "codes")
        .as[(Long, Seq[Int])].collect().toMap
      all shouldBe full
    }

    it("streams micro-batches into the live PQ index, replay-safe; " +
        "refuses an unbuilt index loudly") {
      implicit val sqlCtx = spark.sqlContext
      val root = freshRoot("pq_stream")
      val ckpt = freshRoot("pq_stream_ckpt")
      VectorIndex.build(emb.filter(col("vec_id") < 300), "vec_id",
        "embedding", root, nlist = 8, codec = Codec.Pq())
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Float])]
      val stream = in.toDF().toDF("vec_id", "embedding")
      val q = graft.streaming.StreamingLake.vectorIndexSink(stream,
        "vec_id", "embedding", root, ckpt).start()
      try {
        val tail = emb.filter(col("vec_id") >= 300)
          .select("vec_id", "embedding")
          .as[(Long, Seq[Float])].collect()
        val (b1, b2) = tail.splitAt(tail.length / 2)
        in.addData(b1.toIndexedSeq)
        q.processAllAvailable()
        in.addData(b2.toIndexedSeq)
        // overlap re-delivers some of b1: append must dedup
        in.addData(b1.take(5).toIndexedSeq)
        q.processAllAvailable()
        val ids = graft.sources.AtomicLake
          .read(spark, s"$root/codes").select("vec_id")
          .as[Long].collect()
        ids.length shouldBe 500 // no duplicates
        ids.toSet shouldBe (0L until 500L).toSet
      } finally q.stop()
      // unbuilt refusal
      val bare = freshRoot("pq_stream_refuse")
      val q2 = graft.streaming.StreamingLake.vectorIndexSink(
        in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        bare, freshRoot("pq_stream_refuse_ckpt")).start()
      try {
        in.addData((9999L, Seq.fill(64)(0.1f)))
        val e = intercept[org.apache.spark.sql.streaming
          .StreamingQueryException] { q2.processAllAvailable() }
        e.getMessage should include("build() one from a seed corpus")
      } finally q2.stop()
    }

    it("pins PQ geometry: a rebuild with different m refuses loudly") {
      val root = freshRoot("pq_pin")
      VectorIndex.build(emb, "vec_id", "embedding", root,
        nlist = 8, codec = Codec.Pq(m = 8))
      an[IllegalArgumentException] should be thrownBy
        VectorIndex.build(emb, "vec_id", "embedding", root,
          nlist = 8, codec = Codec.Pq(m = 16))
      // same geometry: rebuild reuses the claimed codebooks
      VectorIndex.build(emb, "vec_id", "embedding", root,
        nlist = 8, codec = Codec.Pq(m = 8))
      pq(root).m shouldBe 8
    }

    it("lake-served RESIDUAL topKPq equals the in-memory rpqTopK " +
        "EXACTLY (ids, ranks, and cosines)") {
      val root = freshRoot("rpq_parity")
      VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 8,
        seed = 42L, codec = Codec.Pq(m = 8, ks = 16, residual = true))
      pq(root).residual shouldBe true
      val queries = emb.filter(col("vec_id") < 5)
      val got = VectorIndex.topK(spark, queries, "vec_id", "embedding",
          root, k = 10, nprobe = 3, refine = 4, corpus = Some(emb))
        .select("query_id", "cand_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      val want = Similarity.rpqTopK(emb, queries, "vec_id",
          "embedding", k = 10, nlist = 8, nprobe = 3, m = 8, ks = 16,
          refine = 4, seed = 42L)
        .select("query_id", "cand_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      got shouldBe want // bit-equal cosines included
      want should not be empty
    }

    it("lake-served OPQ topKPq equals the in-memory opqTopK EXACTLY " +
        "(ids, ranks, and cosines)") {
      val root = freshRoot("opq_parity")
      VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 8,
        seed = 42L, codec = Codec.Pq(m = 8, ks = 16, residual = true,
          opq = true))
      val p = pq(root)
      p.rotation should have length (64 * 64)
      val queries = emb.filter(col("vec_id") < 5)
      val got = VectorIndex.topK(spark, queries, "vec_id", "embedding",
          root, k = 10, nprobe = 3, refine = 4, corpus = Some(emb))
        .select("query_id", "cand_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      val want = Similarity.opqTopK(emb, queries, "vec_id",
          "embedding", k = 10, nlist = 8, nprobe = 3, m = 8, ks = 16,
          refine = 4, seed = 42L)
        .select("query_id", "cand_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      got shouldBe want // bit-equal cosines included
      want should not be empty
    }

    it("the opq flag is pinned geometry: flipping it either way " +
        "refuses, and appends rotate with the persisted matrix") {
      val root = freshRoot("opq_pin")
      VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 8,
        codec = Codec.Pq(m = 8, residual = true, opq = true))
      an[IllegalArgumentException] should be thrownBy
        VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 8,
          codec = Codec.Pq(m = 8, residual = true, opq = false))
      val root2 = freshRoot("opq_pin2")
      VectorIndex.build(emb, "vec_id", "embedding", root2, nlist = 8,
        codec = Codec.Pq(m = 8, residual = true, opq = false))
      an[IllegalArgumentException] should be thrownBy
        VectorIndex.build(emb, "vec_id", "embedding", root2, nlist = 8,
          codec = Codec.Pq(m = 8, residual = true, opq = true))
      // opq requires the residual coding tier
      an[IllegalArgumentException] should be thrownBy
        VectorIndex.build(emb, "vec_id", "embedding",
          freshRoot("opq_nores"), nlist = 8,
          codec = Codec.Pq(m = 8, residual = false, opq = true))
      // append encodes through the persisted rotation: with all
      // cells probed and a corpus-wide refine, the probe must equal
      // brute force over the full union — mis-rotated appended codes
      // would never surface through the shortlist
      val base = emb.filter(col("vec_id") < 400)
      val batch = emb.filter(col("vec_id") >= 400)
      val root3 = freshRoot("opq_append")
      VectorIndex.build(base, "vec_id", "embedding", root3, nlist = 8,
        codec = Codec.Pq(m = 8, residual = true, opq = true))
      VectorIndex.append(spark, batch, "vec_id", "embedding", root3)
      val queries = emb.filter(col("vec_id") < 3)
      val got = VectorIndex.topK(spark, queries, "vec_id", "embedding",
          root3, k = 10, nprobe = 8, refine = 50, corpus = Some(emb))
        .select("query_id", "cand_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
          "embedding", k = 10)
        .select("query_id", "cand_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      got shouldBe exact
    }

    it("the residual flag is pinned geometry: flipping it refuses") {
      val root = freshRoot("rpq_pin")
      VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 8,
        codec = Codec.Pq(m = 8, residual = true))
      an[IllegalArgumentException] should be thrownBy
        VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 8,
          codec = Codec.Pq(m = 8, residual = false))
      // append reads the persisted flag: appended codes join the
      // residual tier, so a probe covering only appended ids still
      // equals the in-memory operator on the full corpus
      val base = emb.filter(col("vec_id") < 400)
      val batch = emb.filter(col("vec_id") >= 400)
      val root2 = freshRoot("rpq_append")
      VectorIndex.build(base, "vec_id", "embedding", root2, nlist = 8,
        codec = Codec.Pq(m = 8, residual = true))
      VectorIndex.append(spark, batch, "vec_id", "embedding", root2)
      val queries = emb.filter(col("vec_id") < 3)
      // all cells probed + corpus-wide refine ⇒ the probe MUST equal
      // brute force over the FULL union corpus exactly — which fails
      // if the appended codes are missing or mis-encoded (they would
      // never surface through the shortlist)
      val got = VectorIndex.topK(spark, queries, "vec_id", "embedding",
          root2, k = 10, nprobe = 8, refine = 50, corpus = Some(emb))
        .select("query_id", "cand_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
          "embedding", k = 10)
        .select("query_id", "cand_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      got shouldBe exact
    }
  }
}
