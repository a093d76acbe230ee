package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the lakehouse's parquet tables.
  *
  * One parquet file-or-directory per table under a scale-factor dir
  * (mirrors the reference's one-table-per-parquet bronze layout,
  * /root/reference/notebooks/1_sprint1_schema_prototyping.ipynb COPY TO
  * PARQUET cells). Reads are plain parquet scans, so Catalyst keeps
  * predicate pushdown + column pruning; the schema is resolved on the
  * driver ([[ReadSchema]]), so building a table's frame runs no job.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    ReadSchema.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts has shipped as several parquet physical types across
    * data generations; normalize all of them to a tz-aware TimestampType
    * at the source boundary so every downstream consumer (unix_micros,
    * window(), tz conversion — the reference's own reads are tz-aware,
    * pipeline.py:553-558) sees one type:
    *  - TIMESTAMP(NANOS): with `spark.sql.legacy.parquet.nanosAsLong`
    *    arrives as a long, truncated to microseconds.
    *  - TIMESTAMP(isAdjustedToUTC=false, µs): arrives as
    *    TIMESTAMP_NTZ; under the UTC session tz a cast to TimestampType
    *    preserves the instant exactly (same µs value, now tz-aware).
    *  - TIMESTAMP(isAdjustedToUTC=true): already TimestampType.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"), "ts")

  /** NTZ/NANOS-tolerant timestamp normalization (see [[events]]). */
  def normalizeTs(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case LongType => df.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
      case TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
      case _ => df
    }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
