package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Cast, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructType}

/** The lake's one data-file writer: ONE Spark job whose tasks write
  * parquet straight to the files' final `data/` paths.
  *
  * The manifest CAS is the lake's commit point, so a second commit
  * protocol under it (Hadoop's output committer: task attempt dirs,
  * renames, `_SUCCESS`, `.crc` sidecars, a full Hadoop conf shipped
  * per task) buys nothing: a file no manifest names is invisible
  * whether or not a committer renamed it. Each task writes each run of
  * one partition value through Spark's own `ParquetWriteSupport` into
  * `data/<partition dir>/<commitId>-<task>-<attempt>-<n><ext>`, and
  * returns every file's path and zone map, folded from the footer the
  * writer just closed ([[LakeStats.fromFooter]]). A killed or failed
  * writer leaves unlisted files that [[AtomicLake.vacuum]] sweeps.
  *
  * Parity with `df.write.parquet` of the same frame: the same row
  * schema, writer conf keys (those `ParquetUtils.prepareWrite` sets),
  * codec, partition-dir names (`getPartitionPathString` over the value
  * cast to string in the session time zone), input sort rule,
  * `maxRecordsPerFile` rolling and empty-batch file; timestamps are
  * always INT64 µs, so [[LakeStats]] zone maps can prune them.
  */
private[sources] object LakeWriter {

  /** One written file: its partition dir ("" when unpartitioned), its
    * path relative to the lake root, and its zone map.
    */
  final case class Written(part: String, rel: String,
      stats: Option[LakeStats.FileStats])

  def write(df: DataFrame, root: String, commitId: String,
      partitionCols: Seq[String]): Seq[Written] = {
    val qe0 = df.queryExecution
    val spark = qe0.sparkSession
    val sqlConf = spark.sessionState.conf
    def partsOf(output: Seq[Attribute]): Seq[Attribute] =
      partitionCols.map(c => output.find(a => sqlConf.resolver(a.name, c))
        .getOrElse(throw new IllegalArgumentException(
          s"partition column $c is not in ${output.map(_.name).mkString(", ")}")))
    // FileFormatWriter's rule: sort by the partition columns unless the
    // plan already delivers each task's rows in that order (clustered
    // compaction's range-sorted layout must survive)
    val required = partsOf(qe0.analyzed.output).map(SortOrder(_, Ascending))
    val actual = qe0.optimizedPlan.outputOrdering
    val qe =
      if (required.size <= actual.size &&
          required.zip(actual).forall { case (r, a) => r.semanticEquals(a) }) qe0
      else df.sortWithinPartitions(required.map(o =>
        org.apache.spark.sql.graftbridge.Bridge.column(o.child)): _*).queryExecution
    // the optimized plan's output, as Spark's write command sees it:
    // its nullability (constant-folded columns turn required) is the
    // parquet schema's
    val output = qe.optimizedPlan.output
    val parts = partsOf(output)
    val data = output.filterNot(a => parts.exists(_.exprId == a.exprId))
    val schema = DataTypeUtils.fromAttributes(data)
    val codec = CompressionCodecName.valueOf(
      new ParquetOptions(Map.empty[String, String], sqlConf).compressionCodecClassName)
    // the writer conf holds only what prepareWrite sets, plus the
    // session's own parquet.* settings
    val conf = new Configuration(false)
    spark.sessionState.newHadoopConf().getPropsWithPrefix("parquet.")
      .asScala.foreach { case (k, v) => conf.set(s"parquet.$k", v) }
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.parquetAnnotateVariantLogicalType.toString)
    conf.set(ParquetOutputFormat.COMPRESSION, codec.name)
    val task = new Task(root, commitId, output, parts, data, schema,
      conf.iterator.asScala.map(e => e.getKey -> e.getValue).toMap,
      codec, sqlConf.sessionLocalTimeZone, sqlConf.maxRecordsPerFile)
    SQLExecution.withNewExecutionId(qe, Some("stageFiles")) {
      val rdd = qe.toRdd
      // an input without partitions still writes the empty file a
      // schema needs, as Spark's writer does
      val input =
        if (rdd.partitions.nonEmpty) rdd
        else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
      spark.sparkContext.runJob(input, task.run _).toSeq.flatten
    }
  }

  /** Parquet writers of Spark rows through Spark's write support. */
  private final class RowWriter(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriter](file) {
    override protected def self(): RowWriter = this
    override protected def getWriteSupport(conf: Configuration)
        : WriteSupport[InternalRow] = new ParquetWriteSupport
  }

  /** One write task: rows in, files out. */
  private final class Task(root: String, commitId: String,
      output: Seq[Attribute], parts: Seq[Attribute], data: Seq[Attribute],
      schema: StructType, conf: Map[String, String],
      codec: CompressionCodecName, timeZone: String, maxRecords: Long)
      extends Serializable {

    def run(ctx: TaskContext, rows: Iterator[InternalRow]): Seq[Written] = {
      val c = new Configuration(false)
      conf.foreach { case (k, v) => c.set(k, v) }
      val ext = codec.getExtension + ".parquet"
      val key = UnsafeProjection.create(parts, output)
      val dirOf = UnsafeProjection.create(
        parts.map(a => Cast(a, StringType, Some(timeZone))), output)
      val project = UnsafeProjection.create(data, output)
      val written = scala.collection.mutable.ArrayBuffer.empty[Written]
      val files = scala.collection.mutable.ArrayBuffer.empty[Path]
      var w: ParquetWriter[InternalRow] = null
      var part, current = ""
      var lastKey: UnsafeRow = null
      var n, inFile, records, bytes = 0L
      def open(): Unit = {
        val rel = Paths.get("data", part,
          s"$commitId-${ctx.partitionId}-${ctx.attemptNumber}-$n$ext").toString
        n += 1
        val file = Paths.get(root).resolve(rel)
        Files.createDirectories(file.getParent)
        files += file
        w = new RowWriter(new LocalOutputFile(file)).withConf(c)
          .withCompressionCodec(codec)
          .withRowGroupSize(ParquetOutputFormat.getLongBlockSize(c))
          .withPageSize(ParquetOutputFormat.getPageSize(c))
          .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(c))
          .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(c))
          .withWriterVersion(ParquetOutputFormat.getWriterVersion(c))
          .withMaxPaddingSize(c.getInt(ParquetOutputFormat.MAX_PADDING_BYTES,
            ParquetWriter.MAX_PADDING_SIZE_DEFAULT))
          .withValidation(ParquetOutputFormat.getValidation(c))
          .withPageWriteChecksumEnabled(
            ParquetOutputFormat.getPageWriteChecksumEnabled(c))
          .withBloomFilterEnabled(ParquetOutputFormat.getBloomFilterEnabled(c))
          .withStatisticsEnabled(ParquetOutputFormat.getStatisticsEnabled(c))
          .build()
        inFile = 0L
        current = rel
      }
      def close(): Unit = if (w != null) {
        w.close()
        val size = Files.size(files.last)
        bytes += size
        written += Written(part, current,
          LakeStats.fromFooter(w.getFooter, size, schema))
        w = null
      }
      try {
        // unpartitioned: the first task writes a file even when empty,
        // so an empty batch still stages its schema (Spark's rule)
        if (parts.isEmpty && (ctx.partitionId == 0 || rows.hasNext)) open()
        while (rows.hasNext) {
          val row = rows.next()
          if (parts.nonEmpty) {
            val k = key(row)
            if (lastKey == null || k != lastKey) {
              close()
              lastKey = k.copy()
              val d = dirOf(row)
              part = parts.indices.map(i =>
                ExternalCatalogUtils.getPartitionPathString(parts(i).name,
                  if (d.isNullAt(i)) null else d.getUTF8String(i).toString))
                .mkString("/")
              open()
            }
          }
          if (maxRecords > 0 && inFile >= maxRecords) { close(); open() }
          w.write(if (parts.isEmpty) row else project(row))
          inFile += 1
          records += 1
        }
        close()
      } catch {
        case t: Throwable =>
          // a failed attempt removes what it wrote; a killed one leaves
          // unlisted files for vacuum
          try if (w != null) w.close() catch { case _: Throwable => }
          files.foreach(Files.deleteIfExists)
          throw t
      }
      org.apache.spark.GraftOutputMetrics.add(bytes, records)
      written.toSeq
    }
  }
}
