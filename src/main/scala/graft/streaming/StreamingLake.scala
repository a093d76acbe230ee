package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.sources.{AtomicLake, CommitStore, HardlinkCommitStore}

/** Streaming ingestion into the lake (SURVEY.md §2 F6 + A4 composed):
  * each micro-batch of each sink is one atomic [[AtomicLake]] commit —
  * the streaming form of the reference's per-day DELETE+INSERT worker
  * (/root/reference/airflow/dags/mobility_ingestion_pipeline.py:485-566).
  *
  * Idempotence under replay: a re-delivered micro-batch rewrites the
  * same partitions to the same content instead of appending
  * duplicates, so at-least-once delivery upgrades to effectively-once
  * lake state as long as batches are partition-aligned (the reference
  * makes the same assumption per day-file). State: none beyond the
  * sink checkpoint.
  */
object StreamingLake {

  /** The wrapper every sink shares: checkpoint at `checkpoint`, and
    * run `write` on each non-empty micro-batch.
    */
  private def sink(stream: DataFrame, checkpoint: String)(
      write: DataFrame => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) write(batch)
      }

  /** Partition-upsert sink: each micro-batch replaces the partitions
    * it carries in ONE atomic snapshot commit
    * ([[AtomicLake.upsertPartitions]]), so a lake reader concurrent
    * with the stream sees whole batches only — never a half-written
    * partition mid-batch. Replayed batches re-commit the same
    * partitions to the same content (a new version, same data), with
    * per-batch time travel. `store` is the commit claim: through a
    * catalog store, micro-batches commit exactly like batch writers
    * (the object-store deployment shape). Caller starts/stops the
    * returned writer.
    */
  def upsertSink(stream: DataFrame, path: String, checkpoint: String,
      partitionCols: Seq[String],
      store: CommitStore = HardlinkCommitStore): DataStreamWriter[Row] =
    sink(stream, checkpoint) { batch =>
      AtomicLake.upsertPartitions(batch, path, partitionCols, store = store)
    }

  /** Crawl-ingest sink: the composition of the ACID lake (G11) and
    * the persistent near-dup index (G18). Every micro-batch of
    * (id, text) documents (1) builds-or-appends the LSH index at
    * `indexRoot` — so the NEXT batch, or any concurrent dedup job,
    * can near-dedup against everything ingested so far without ever
    * re-reading corpus text — and (2) lands the documents themselves
    * in an AtomicLake table at `docsRoot`, one snapshot commit per
    * batch.
    *
    * Replay-safe without coupling the two tables: the index append is
    * idempotent by doc id internally, and the docs append anti-joins
    * the docs table's OWN ids (keys-only, column-pruned scan) — so a
    * redelivered micro-batch, or a crash between the index and docs
    * commits, converges on retry with no duplicates in either table.
    * The index is updated FIRST: its torn-append window is
    * mechanically detectable and self-healing
    * ([[graft.operators.NearDupIndex.repair]]), whereas a docs-first
    * ordering would leave silently-unindexed documents on a crash.
    */
  def ingestWithIndexSink(stream: DataFrame, idCol: String,
      textCol: String, docsRoot: String, indexRoot: String,
      checkpoint: String, threshold: Double = 0.7,
      store: CommitStore = HardlinkCommitStore): DataStreamWriter[Row] =
    sink(stream, checkpoint) { batch =>
      import graft.operators.NearDupIndex
      if (NearDupIndex.exists(indexRoot, store))
        NearDupIndex.append(batch, idCol, textCol, indexRoot, store)
      else
        NearDupIndex.build(batch, idCol, textCol, indexRoot,
          threshold, store = store)
      val fresh =
        if (AtomicLake.currentVersion(docsRoot, store).isEmpty) batch
        else {
          val landed = AtomicLake.read(batch.sparkSession, docsRoot,
            store).select(idCol)
          batch.join(landed, batch(idCol) === landed(idCol), "left_anti")
        }
      if (!fresh.isEmpty) AtomicLake.append(fresh, docsRoot, store = store)
    }

  /** Streaming vector ingest ∘ live ANN index (the embedding twin of
    * [[ingestWithIndexSink]]): each micro-batch of (id, vector) rows
    * is encoded MAP-SIDE with the index's persisted params — whatever
    * its codec — and appended into the cell-partitioned index lake
    * ([[graft.operators.VectorIndex.append]] — idempotent by id, so a
    * redelivered micro-batch converges with no duplicate rows). The
    * index must exist (built from a seed corpus — a quantizer or
    * codebook trained on a drip of early micro-batches would pin
    * unrepresentative geometry); the build-first contract is checked
    * per batch and fails the query loudly instead of training
    * silently.
    */
  def vectorIndexSink(stream: DataFrame, idCol: String,
      vecCol: String, indexRoot: String, checkpoint: String,
      store: CommitStore = HardlinkCommitStore): DataStreamWriter[Row] =
    sink(stream, checkpoint) { batch =>
      import graft.operators.VectorIndex
      require(VectorIndex.exists(indexRoot, store),
        s"no vector index at $indexRoot: build() one from a seed " +
          "corpus before streaming into it")
      VectorIndex.append(batch.sparkSession, batch, idCol, vecCol,
        indexRoot, store = store)
    }

  /** Streaming CDC upsert: each micro-batch MERGEs into the lake by
    * key ([[AtomicLake.merge]]) — matched keys get the
    * batch's row, new keys insert, untouched rows (and untouched
    * FILES, via the merge's zone-map + semi-join scoping) stay as
    * they are. The streaming half of the Delta
    * `foreachBatch + MERGE INTO` idiom.
    *
    * `latestBy` names an ordering column (event time / LSN): the
    * batch is first collapsed to the LAST change per key, so a batch
    * carrying several updates of one key lands its final image (and
    * satisfies merge's unique-key contract). Without it, a batch with
    * duplicate keys is refused loudly by the merge — silent
    * both-copies insertion can't happen.
    *
    * Replay-safe: re-merging a delivered batch replaces the same keys
    * with the same rows — the lake converges to the same state (a new
    * version, same data), the usual effectively-once contract of this
    * file's sinks. The FIRST batch bootstraps the table (creating it
    * with `partitionCols`); merge requires batches to carry the
    * partition columns.
    */
  def mergeSink(stream: DataFrame, path: String, checkpoint: String,
      keyCols: Seq[String], latestBy: Option[String] = None,
      partitionCols: Seq[String] = Nil,
      store: CommitStore = HardlinkCommitStore): DataStreamWriter[Row] =
    sink(stream, checkpoint) { batch =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{col, row_number}
      val src = latestBy.fold(batch) { ts =>
        batch.withColumn("_graft_rn", row_number().over(
            Window.partitionBy(keyCols.map(col): _*)
              .orderBy(col(ts).desc)))
          .filter(col("_graft_rn") === 1).drop("_graft_rn")
      }
      if (AtomicLake.currentVersion(path, store).isEmpty)
        AtomicLake.upsertPartitions(src, path, partitionCols, store = store)
      else
        AtomicLake.merge(batch.sparkSession, path, src, keyCols,
          store = store)
    }

  /** Streaming expectations sink (Delta Live Tables'
    * `expect_or_drop` + quarantine, per micro-batch): each batch
    * splits against the table's CHECK constraints via
    * [[AtomicLake.appendExpect]] — clean rows append
    * to the table, violating rows land in the quarantine lake with
    * their violation names — so one poisoned record slows nothing
    * and loses nothing, instead of failing the trigger the way the
    * hard-enforcing sinks do. Tables without constraints degrade to
    * a plain per-batch append.
    */
  def expectSink(stream: DataFrame, path: String,
      quarantinePath: String, checkpoint: String,
      partitionCols: Seq[String] = Nil,
      store: CommitStore = HardlinkCommitStore): DataStreamWriter[Row] =
    sink(stream, checkpoint) { batch =>
      AtomicLake.appendExpect(batch, path, quarantinePath, partitionCols,
        store = store)
    }
}
