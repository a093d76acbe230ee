package graft.lakehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{AtomicLake, CsvIngest}

/** Bronze-layer ingestion flows (SURVEY.md §2 A1-A4 composed) — the
  * reference's ingest tasks as one call each
  * (/root/reference/airflow/dags/mobility_ingestion_pipeline.py:112-199,
  * 485-566): read a raw CSV with an explicit dialect, stamp audit
  * lineage, quarantine malformed rows, land the clean rows in the
  * lake idempotently. Bronze is an [[AtomicLake]] table like the
  * tiers above it: each ingest is one atomic, versioned commit.
  */
object Bronze {

  /** One bronze ingestion: returns (clean, corrupt) after landing the
    * clean rows. Re-running for the same partitions replaces them in
    * one commit (the reference's DELETE+INSERT idempotence).
    *
    * @param partitionCols empty → the whole table is replaced;
    *                      bronze tables in the reference are always
    *                      date-partitioned
    */
  def ingestCsv(spark: SparkSession, sourcePath: String, lakePath: String,
      sourceUrl: String, sep: String = ",", encoding: String = "UTF-8",
      header: Boolean = true, columns: Seq[String] = Nil,
      partitionCols: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val raw = CsvIngest.read(spark, sourcePath, sep, encoding, header,
      columns)
    val audited = CsvIngest.withAudit(raw, sourceUrl)
    val clean = CsvIngest.cleanRows(audited)
    val corrupt = CsvIngest.corruptRows(audited)
    if (partitionCols.nonEmpty)
      AtomicLake.upsertPartitions(clean, lakePath, partitionCols)
    else
      AtomicLake.overwrite(clean, lakePath)
    (clean, corrupt)
  }
}
