package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex, PartitioningUtils}
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` parquet schema inference, minus its
  * Spark job.
  *
  * `spark.read.parquet(path)` infers its schema by running a one-task
  * job (`SchemaMergeUtils.mergeSchemasInParallel`) that reads one
  * footer. [[graft.sources.ReadSchema]] gets the same schema on the
  * driver: the same path check, listing and footer choice, with the
  * footers read by the same `readParquetFootersInParallel` and
  * converted by the same `readSchema`. Same package-shim pattern as
  * `org.apache.spark.sql.classic.GraftExprBridge`; scope: this ONE
  * function.
  */
object GraftFooterBridge {

  /** The schema `spark.read.parquet(paths: _*)` resolves to — data
    * columns from the footer(s) `ParquetUtils.inferSchema` would
    * read, then the discovered partition columns — without a job.
    */
  def inferredSchema(spark: SparkSession, paths: Seq[String]): StructType = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val roots = DataSource.checkAndGlobPathIfNecessary(paths, hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
    val index = new InMemoryFileIndex(spark, roots, Map.empty, None)
    // ParquetUtils.splitFiles + inferSchema's footer choice: a summary
    // file if present, else the first data file in path order; every
    // footer when schema merging is on
    val leaves = index.allFiles().sortBy(_.getPath.toString)
    def named(n: String) = leaves.filter(_.getPath.getName == n)
    val (meta, common) = (named("_metadata"), named("_common_metadata"))
    val data = leaves.diff(meta ++ common)
    val touch: Seq[FileStatus] =
      if (conf.isParquetSchemaMergingEnabled)
        (if (conf.isParquetSchemaRespectSummaries) Nil else data) ++ meta ++ common
      else common.headOption.orElse(meta.headOption)
        .orElse(data.headOption).toSeq
    val footers = ParquetFileFormat.readParquetFootersInParallel(hadoopConf,
      touch, conf.ignoreCorruptFiles)
    val dataSchema = footers.flatMap(f => ParquetFileFormat.readSchema(Seq(f), spark))
      .reduceOption(_.merge(_, conf.caseSensitiveAnalysis))
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
    PartitioningUtils.mergeDataAndPartitionSchema(dataSchema.asNullable,
      index.partitionSchema, conf.caseSensitiveAnalysis)._1
  }
}
