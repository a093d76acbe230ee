package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.StreamingLake

/** Streaming throughput tier (r14, VERDICT r13 item 6): prices the
  * exactly-once lake sinks per micro-batch at the bench SF — the
  * sinks are spec-CORRECT (StreamingSpec, VectorIndexSpec,
  * LakeStreamSpec); this block makes their sustained cost visible in
  * every round's bench artifact.
  *
  * Four sink tiers (MemoryStream-fed, N micro-batches each, timed
  * from query start to last processAllAvailable):
  *   atomic_upsert — one atomic snapshot commit per batch, date parts
  *   merge         — keyed MERGE per batch (latest-by-ts dedup)
  *   ingest_index  — docs lake append + persistent LSH index append
  *   vector_index  — IVF cell-encode + cell-partitioned lake append
  * plus backlog_catchup: a 20-version lake drained through the
  * graft-lake SOURCE at maxVersionsPerTrigger=5 — the pacing contract
  * (expected ceil(20/5)=4 data batches) and its drain rate.
  *
  * Rates are rows/sec of SINK WALL TIME including the per-batch
  * commit protocol (stage → CAS) — the number a capacity plan needs.
  */
object StreamBench {
  final case class Tier(name: String, sec: Double, rows: Long,
      batches: Int) {
    def rate: Double = if (sec > 0) rows / sec else 0.0
  }

  def run(spark: SparkSession, sfDir: String): Seq[Tier] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val scratch = Scratch.path("target", "bench_stream")
    val fs = new org.apache.hadoop.fs.Path(scratch)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(scratch), true)

    val tiers = Seq.newBuilder[Tier]

    def drive[T](name: String, slices: Seq[Seq[T]],
        sink: MemoryStream[T] => org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row])
        (implicit enc: org.apache.spark.sql.Encoder[T]): Unit = {
      val ms = MemoryStream[T]
      val q = sink(ms).start()
      val t0 = System.nanoTime()
      slices.foreach { s => ms.addData(s); q.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      q.stop()
      tiers += Tier(name, sec, slices.map(_.size.toLong).sum, slices.size)
    }

    // ---- events feed: 10 micro-batches, date-partitioned ----
    val evRows = Tables.events(spark, sfDir)
      .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("value"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .as[(Long, String, Double, String)].collect().toSeq
    val evSlices = evRows.grouped(
      math.max(1, evRows.size / 10)).toSeq.take(10)

    drive[(Long, String, Double, String)]("atomic_upsert", evSlices, ms =>
      StreamingLake.upsertSink(
        ms.toDF().toDF("user_id", "ts", "value", "day"),
        s"$scratch/upsert_lake", s"$scratch/upsert_ckpt", Seq("day")))

    drive[(Long, String, Double, String)]("merge", evSlices, ms =>
      StreamingLake.mergeSink(
        ms.toDF().toDF("user_id", "ts", "value", "day"),
        s"$scratch/merge_lake", s"$scratch/merge_ckpt",
        keyCols = Seq("user_id"), latestBy = Some("ts")))

    // ---- documents feed: lake append + persistent near-dup index ----
    val docRows = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val docSlices = docRows.grouped(
      math.max(1, docRows.size / 5)).toSeq.take(5)
    drive[(Long, String)]("ingest_index", docSlices, ms =>
      StreamingLake.ingestWithIndexSink(
        ms.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$scratch/docs_lake", s"$scratch/docs_index",
        s"$scratch/docs_ckpt"))

    // ---- embeddings feed: seed-built IVF index, streamed appends ----
    val embRows = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    val (seed, streamed) = embRows.splitAt(embRows.size / 2)
    graft.operators.VectorIndex.build(
      seed.toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$scratch/vec_index", nlist = 16)
    val embSlices = streamed.grouped(
      math.max(1, streamed.size / 4)).toSeq.take(4)
    drive[(Long, Seq[Float])]("vector_index", embSlices, ms =>
      StreamingLake.vectorIndexSink(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        s"$scratch/vec_index", s"$scratch/vec_ckpt"))

    // ---- backlog catch-up through the graft-lake source ----
    // The pacing scenario is a RESTART against a deep history (a
    // brand-new stream's first batch is the full snapshot by design —
    // LakeStream scaladoc): process version 1, stop, let writers land
    // a 20-version backlog, restart from the same checkpoint — the
    // source must drain it in ceil(20/5)=4 paced micro-batches, and
    // the timed phase is that catch-up.
    val backlog = s"$scratch/backlog_lake"
    val slice = evRows.take(5000).toDF("user_id", "ts", "value", "day")
    graft.sources.AtomicLake.append(slice, backlog)
    val nBatches = new java.util.concurrent.atomic.AtomicInteger
    val nRows = new java.util.concurrent.atomic.AtomicLong
    def startBacklog() = spark.readStream.format("graft-lake")
      .option("path", backlog)
      .option("maxVersionsPerTrigger", "5").load()
      .writeStream
      .option("checkpointLocation", s"$scratch/backlog_ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val n = b.count()
        if (n > 0) { nBatches.incrementAndGet(); nRows.addAndGet(n) }
        ()
      }.start()
    val q0 = startBacklog()
    q0.processAllAvailable() // initial snapshot batch (v1), untimed
    q0.stop()
    nBatches.set(0); nRows.set(0)
    (1 to 20).foreach { _ =>
      graft.sources.AtomicLake.append(slice, backlog)
    }
    val q = startBacklog()
    val t0 = System.nanoTime()
    q.processAllAvailable()
    val sec = (System.nanoTime() - t0) / 1e9
    q.stop()
    tiers += Tier("backlog_catchup", sec, nRows.get(), nBatches.get())

    tiers.result()
  }
}
