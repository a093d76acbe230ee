package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Partitioned parquet lake with idempotent partition upsert
  * (SURVEY.md §2 A3/A4) — the Spark form of the reference's
  * DELETE-partition + INSERT pattern
  * (/root/reference/airflow/dags/mobility_ingestion_pipeline.py:519-566):
  * with `spark.sql.sources.partitionOverwriteMode=dynamic` (set in
  * [[graft.GraftSession]]), `mode("overwrite")` replaces ONLY the
  * partitions present in the incoming batch — re-ingesting a day is
  * idempotent and never rewrites the rest of the table.
  *
  * Scale notes: rows are distributed by the partition columns before
  * the write — without it every task writes one file into every
  * partition it holds rows for (tasks × partitions small files, the
  * classic lake killer: a 1000-task job over 365 dates emits 365k
  * files). Distributed, each partition gets `filesPerPartition` files
  * regardless of upstream parallelism; raise it for skewed/giant
  * partitions so they keep write parallelism. Date partitioning gives
  * partition pruning on every downstream date-filtered scan.
  *
  * Concurrency caveat: `mode("overwrite")` deletes partition
  * directories in place — a reader racing an upsert can observe a
  * half-written partition. When readers and writers overlap (the
  * production case the reference adopted DuckLake for), use
  * [[AtomicLake]]: same upsert semantics behind one atomic manifest
  * commit, plus snapshots and time travel.
  */
object PartitionedLake {

  import org.apache.spark.sql.functions.{col, pmod, spark_partition_id}

  /** Cluster `batch` by its partition columns (plus a deterministic
    * salt when `filesPerPartition` > 1) so the partitioned write emits
    * a bounded number of files per partition.
    */
  def distributeForWrite(batch: DataFrame, partitionCols: Seq[String],
      filesPerPartition: Int = 1): DataFrame =
    if (filesPerPartition <= 1)
      batch.repartition(partitionCols.map(col): _*)
    else {
      // spark_partition_id is stable within a task — rows of one input
      // partition land together, spreading each output partition over
      // up to filesPerPartition writer tasks without a random salt.
      val salted = batch.withColumn("__write_salt",
        pmod(spark_partition_id(), org.apache.spark.sql.functions
          .lit(filesPerPartition)))
      salted.repartition(partitionCols.map(col) :+ col("__write_salt"): _*)
        .drop("__write_salt")
    }

  /** Overwrite exactly the partitions contained in `batch`. */
  def upsertPartitions(batch: DataFrame, path: String,
      partitionCols: String*): Unit =
    upsertPartitionsSized(batch, path, partitionCols, filesPerPartition = 1)

  /** [[upsertPartitions]] with explicit files-per-partition control. */
  def upsertPartitionsSized(batch: DataFrame, path: String,
      partitionCols: Seq[String], filesPerPartition: Int): Unit =
    distributeForWrite(batch, partitionCols, filesPerPartition).write
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)

  /** Append-only write (first load / immutable partitions). */
  def append(batch: DataFrame, path: String, partitionCols: String*): Unit =
    distributeForWrite(batch, partitionCols).write
      .partitionBy(partitionCols: _*)
      .mode("append")
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    ReadSchema.read(spark, path)

  /** Z-ordered (Morton-clustered) parquet write: range-partition and
    * sort by the interleaved bits of two columns, so EVERY file's
    * min-max footer range is tight on BOTH columns — a 2-D box filter
    * then skips most files/row-groups from one sort key, where a
    * single-column sort leaves the second column spanning the full
    * range in every file (no skipping). This is the data-layout lever
    * for the 100-TB scan path: pruning decided by footer stats, no
    * index structure to maintain. Columns must be non-negative and
    * < 2^21 after casting (bucketize upstream otherwise).
    */
  def writeZOrdered(batch: DataFrame, path: String,
      colA: String, colB: String, files: Int): Unit =
    batch
      .withColumn("__z", graft.expressions.NativeKernels
        .mortonValueCol(col(colA).cast("long"), col(colB).cast("long")))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Bucketed managed table: rows are hash-distributed into `buckets`
    * files per partition by `bucketCol` at WRITE time, so two tables
    * bucketed the same way join with NO shuffle on either side — the
    * 100-TB answer for repeated fact⋈fact joins on a stable key
    * (lineitem⋈orders every day): pay the distribution once at ingest,
    * never at query. Requires the session catalog (bucket metadata
    * lives there, not in the parquet files).
    */
  def writeBucketed(batch: DataFrame, table: String, bucketCol: String,
      buckets: Int): Unit =
    // single implementation of the drop/sweep/bucketBy sequence —
    // [[Bucketed.writeBucketed]] (Locale-safe lowercase, custom sort
    // columns); keeping two copies let the orphan-sweep logic drift
    Bucketed.writeBucketed(batch, table, bucketCol, buckets)
}
