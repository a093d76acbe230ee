package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooterBridge
import org.apache.spark.sql.types.StructType

/** Driver-side schema resolution for every schema-less parquet read.
  *
  * `spark.read.parquet(path)` runs a one-task Spark job to infer a
  * schema that sits in one footer — ~70 ms of fixed cost on every
  * consultation, catalog query and table load. [[resolve]] returns
  * exactly what that non-merging inference returns (the footer it
  * would read: a summary file if present, else the first data file in
  * path order; every footer when `spark.sql.parquet.mergeSchema` is
  * on; then the discovered partition columns), read on the driver,
  * and [[read]] hands it to the reader. Nothing is memoized: each
  * read resolves against the files as they are, so a rewritten table
  * is never served a stale schema.
  */
object ReadSchema {

  /** The schema `spark.read.parquet(paths: _*)` infers, without a job. */
  def resolve(spark: SparkSession, paths: String*): StructType =
    GraftFooterBridge.inferredSchema(spark, paths)

  /** `spark.read.parquet(paths: _*)`, schema resolved on the driver. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(resolve(spark, paths: _*)).parquet(paths: _*)
}
