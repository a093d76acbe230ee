package graft.plans

import scala.util.matching.Regex

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

import graft.sources.AtomicLake

/** SQL DDL surface for graft-lake MAINTENANCE (SURVEY.md §2 G-tier;
  * reads/writes already have SQL via [[graft.sources.LakeRelation]]).
  * The reference operates its whole pipeline from SQL
  * (/root/reference/airflow/dags/mobility_ingestion_pipeline.py:75-105
  * is all `con.sql(...)`), so a reference user expects to maintain the
  * lake without dropping to Scala. Grammar (Delta-inspired; lake
  * tables are addressed by quoted root path, matching how
  * `graft_lake('<path>')` addresses them on the read surface):
  *
  *  - `OPTIMIZE '<root>'` — size-targeted bin-packing compaction
  *  - `OPTIMIZE '<root>' ZORDER BY (c1, c2, …)` — clustered compaction
  *  - `RESTORE '<root>' TO VERSION <n>` — metadata-only rollback
  *  - `DESCRIBE HISTORY '<root>'` — commit log, newest first
  *  - `DESCRIBE LAKE DETAIL '<root>'` — snapshot summary
  *  - `SHOW LAKE PARTITIONS '<root>'` — per-partition files/rows/bytes
  *  - `ALTER LAKE '<root>' ADD CONSTRAINT <name> CHECK (<predicate>)`
  *  - `ALTER LAKE '<root>' DROP CONSTRAINT <name>`
  *  - `VACUUM '<root>' [RETAIN <n> VERSIONS]` — GC unreferenced files
  *  - `DELETE FROM LAKE '<root>' WHERE <pred>` — row-level delete
  *    through a deletion vector (merge-on-read)
  *  - `REORG LAKE '<root>' APPLY PURGE` — materialize deletion
  *    vectors (Delta's REORG … APPLY (PURGE))
  *  - `UPDATE LAKE '<root>' SET c1 = e1, c2 = e2 WHERE <pred>` —
  *    merge-on-read row-level UPDATE: deletion vector plus staged
  *    row images in one commit
  *  - `MERGE INTO LAKE '<root>' USING <view|(query)> ON <keys>
  *    WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`
  *    — keyed merge-on-read upsert (G26): deletion vector plus
  *    staged source rows in one commit
  *
  * Implemented as a delegating [[ParserInterface]]: statements
  * matching the grammar become `LeafRunnableCommand`s over the
  * [[AtomicLake]] Scala API (driver-side manifest work — the commands
  * are O(manifest) or launch their own bounded Spark jobs); anything
  * else parses through the session's normal parser, so the full Spark
  * SQL surface is untouched.
  */
object LakeSql {

  // anchored, case-insensitive on keywords, tolerant of trailing ';'
  private val Optimize: Regex =
    """(?is)\s*OPTIMIZE\s+'([^']+)'\s*;?\s*""".r
  private val OptimizeWhere: Regex =
    """(?is)\s*OPTIMIZE\s+'([^']+)'\s+WHERE\s+(.+?)\s*;?\s*""".r
  private val OptimizeHilbert: Regex =
    """(?is)\s*OPTIMIZE\s+'([^']+)'\s+HILBERT\s+BY\s*\(([^)]+)\)\s*;?\s*""".r
  private val OptimizeZorder: Regex =
    """(?is)\s*OPTIMIZE\s+'([^']+)'\s+ZORDER\s+BY\s*\(([^)]+)\)\s*;?\s*""".r
  private val Restore: Regex =
    """(?is)\s*RESTORE\s+'([^']+)'\s+TO\s+VERSION\s+(\d+)\s*;?\s*""".r
  private val History: Regex =
    """(?is)\s*DESCRIBE\s+HISTORY\s+'([^']+)'\s*;?\s*""".r
  private val Detail: Regex =
    """(?is)\s*DESCRIBE\s+LAKE\s+DETAIL\s+'([^']+)'\s*;?\s*""".r
  private val SchemaDesc: Regex =
    """(?is)\s*DESCRIBE\s+LAKE\s+SCHEMA\s+'([^']+)'\s*;?\s*""".r
  private val Indexes: Regex =
    """(?is)\s*SHOW\s+LAKE\s+INDEXES\s+'([^']+)'\s*;?\s*""".r
  private val Partitions: Regex =
    """(?is)\s*SHOW\s+LAKE\s+PARTITIONS\s+'([^']+)'\s*;?\s*""".r
  private val AddConstraint: Regex =
    """(?is)\s*ALTER\s+LAKE\s+'([^']+)'\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*""".r
  private val DropConstraint: Regex =
    """(?is)\s*ALTER\s+LAKE\s+'([^']+)'\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*""".r
  private val Vacuum: Regex =
    """(?is)\s*VACUUM\s+'([^']+)'(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?(\s+DRY\s+RUN)?\s*;?\s*""".r
  private val DeleteFrom: Regex =
    """(?is)\s*DELETE\s+FROM\s+LAKE\s+'([^']+)'\s+WHERE\s+(.+?)\s*;?\s*""".r
  private val Reorg: Regex =
    """(?is)\s*REORG\s+LAKE\s+'([^']+)'\s+APPLY\s+PURGE\s*;?\s*""".r
  private val UpdateLake: Regex =
    """(?is)\s*UPDATE\s+LAKE\s+'([^']+)'\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*""".r
  private val RenameCol: Regex =
    """(?is)\s*ALTER\s+LAKE\s+'([^']+)'\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*;?\s*""".r
  private val DropCol: Regex =
    """(?is)\s*ALTER\s+LAKE\s+'([^']+)'\s+DROP\s+COLUMN\s+(\w+)\s*;?\s*""".r
  private val AddGenerated: Regex =
    """(?is)\s*ALTER\s+LAKE\s+'([^']+)'\s+ADD\s+COLUMN\s+(\w+)\s+GENERATED\s+ALWAYS\s+AS\s*\((.+)\)\s*;?\s*""".r
  private val DropGenerated: Regex =
    """(?is)\s*ALTER\s+LAKE\s+'([^']+)'\s+DROP\s+GENERATED\s+COLUMN\s+(\w+)\s*;?\s*""".r
  private val CreateBloom: Regex =
    """(?is)\s*CREATE\s+BLOOM\s+INDEX\s+ON\s+'([^']+)'\s*\(([^)]+)\)(?:\s+WITH\s+FPP\s+([0-9.eE+-]+))?\s*;?\s*""".r
  private val MergeInto: Regex =
    """(?is)\s*MERGE\s+INTO\s+LAKE\s+'([^']+)'\s+USING\s+(\(.+\)|[\w.]+)\s+ON\s+(.+?)\s+WHEN\s+(.+?)\s*;?\s*""".r
  // the ONE clause pair AtomicLake.merge implements (upsert-all);
  // other Delta merge shapes are refused with the grammar named
  private val MergeClauses: Regex =
    """(?is)\s*MATCHED\s+THEN\s+UPDATE\s+SET\s+\*\s+WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*\s*""".r

  /** MERGE ON clause → key column list. Accepts a bare column, a
    * parenthesized list `(k1, k2)`, or a Delta-style AND chain of
    * same-name equalities `t.k1 = s.k1 AND t.k2 = s.k2` (the merge
    * API keys on shared column names, so differing names are refused
    * with the constraint named).
    */
  private[plans] def mergeKeys(on: String): Seq[String] = {
    val t = on.trim
    val inner =
      if (t.startsWith("(") && t.endsWith(")")) t.drop(1).dropRight(1)
      else t
    val Eq = """(?i)\s*(?:\w+\.)?(\w+)\s*=\s*(?:\w+\.)?(\w+)\s*""".r
    val parts = inner.split("(?i)\\s+AND\\s+").toSeq
    if (parts.forall(Eq.matches)) parts.map {
      case Eq(a, b) =>
        require(a.equalsIgnoreCase(b),
          s"MERGE INTO LAKE keys join on shared column names; got " +
            s"'$a = $b' — alias the source column to '$a' first")
        a
    } else {
      val cols = inner.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      require(cols.nonEmpty && cols.forall(_.matches("\\w+")),
        s"MERGE INTO LAKE: cannot parse ON clause '$on' — use " +
          "ON (k1, k2, …) or ON t.k = s.k [AND …]")
      cols
    }
  }

  /** Some(command plan) when `sqlText` is lake-maintenance DDL. */
  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    case OptimizeZorder(root, cols) =>
      Some(OptimizeLakeCommand(root,
        cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq))
    case OptimizeHilbert(root, cols) =>
      Some(OptimizeLakeCommand(root,
        cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq,
        hilbert = true))
    case OptimizeWhere(root, pred) =>
      Some(OptimizeLakeCommand(root, Nil, Some(pred.trim)))
    case Optimize(root) => Some(OptimizeLakeCommand(root, Nil))
    case Restore(root, v) => Some(RestoreLakeCommand(root, v.toLong))
    case History(root) => Some(LakeHistoryCommand(root))
    case Detail(root) => Some(LakeDetailCommand(root))
    case SchemaDesc(root) => Some(LakeSchemaCommand(root))
    case Indexes(root) => Some(LakeIndexesCommand(root))
    case Partitions(root) => Some(LakePartitionsCommand(root))
    case AddConstraint(root, name, pred) =>
      Some(AddLakeConstraintCommand(root, name, pred.trim))
    case DropConstraint(root, name) =>
      Some(DropLakeConstraintCommand(root, name))
    case Vacuum(root, retain, dry) =>
      Some(VacuumLakeCommand(root,
        Option(retain).map(_.toInt).getOrElse(10), dry != null))
    case DeleteFrom(root, pred) =>
      Some(DeleteFromLakeCommand(root, pred.trim))
    case Reorg(root) => Some(PurgeLakeCommand(root))
    case UpdateLake(root, sets, pred) =>
      Some(UpdateLakeCommand(root, sets.trim, pred.trim))
    case RenameCol(root, from, to) =>
      Some(RenameLakeColumnCommand(root, from, to))
    case DropCol(root, name) =>
      Some(DropLakeColumnCommand(root, name))
    case AddGenerated(root, name, e) =>
      Some(AddGeneratedColumnCommand(root, name, e.trim))
    case DropGenerated(root, name) =>
      Some(DropGeneratedColumnCommand(root, name))
    case CreateBloom(root, cols, fpp) =>
      Some(CreateBloomIndexCommand(root,
        cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq,
        Option(fpp).map(_.toDouble).getOrElse(0.01)))
    case MergeInto(root, source, on, clauses) =>
      require(MergeClauses.matches(clauses),
        "MERGE INTO LAKE supports exactly `WHEN MATCHED THEN UPDATE " +
          "SET * WHEN NOT MATCHED THEN INSERT *` (the keyed-upsert " +
          s"core); got 'WHEN $clauses'")
      Some(MergeIntoLakeCommand(root, source.trim, mergeKeys(on)))
    case _ => None
  }

  private[plans] def attr(name: String, dt: DataType,
      nullable: Boolean = false): Attribute =
    AttributeReference(name, dt, nullable)()
}

/** OPTIMIZE: bin-packing compaction, or clustered rewrite when
  * ZORDER BY columns are given — Morton-interleaved for exactly two
  * columns (the kernel's arity), lexicographic range-cluster
  * otherwise (Delta's own ZORDER with one column is a plain sort;
  * 3+ columns cluster lexicographically rather than erroring).
  * Returns the committed version.
  */
case class OptimizeLakeCommand(root: String, zorderCols: Seq[String],
    where: Option[String] = None, hilbert: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(LakeSql.attr("version", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    val v =
      if (hilbert)
        AtomicLake.cluster(spark, root, zorderCols, hilbert = true)
      else if (zorderCols.nonEmpty)
        AtomicLake.cluster(spark, root, zorderCols,
          zorder = zorderCols.size == 2)
      else AtomicLake.compactSmall(spark, root, where =
        where.map(org.apache.spark.sql.functions.expr))
    Seq(Row(v))
  }
}

/** RESTORE … TO VERSION: metadata-only rollback as a new commit. */
case class RestoreLakeCommand(root: String, toVersion: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(LakeSql.attr("version", LongType))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(AtomicLake.restore(root, toVersion)))
}

/** DESCRIBE HISTORY: the commit log, newest first, O(manifest). */
case class LakeHistoryCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    LakeSql.attr("version", LongType),
    LakeSql.attr("kind", StringType),
    LakeSql.attr("n_files", IntegerType),
    LakeSql.attr("n_rows", LongType, nullable = true))
  override def run(spark: SparkSession): Seq[Row] = {
    val hist = AtomicLake.history(root)
    if (hist.isEmpty) throw new IllegalStateException(
      s"DESCRIBE HISTORY: no graft-lake commits at $root")
    hist.map { case (v, kind, nFiles, rows) =>
      Row(v, kind, nFiles, rows.orNull)
    }
  }
}

/** DESCRIBE LAKE DETAIL: current-snapshot summary, O(manifest). */
case class LakeDetailCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    LakeSql.attr("version", LongType),
    LakeSql.attr("n_files", IntegerType),
    LakeSql.attr("n_bytes", LongType),
    LakeSql.attr("partition_cols", ArrayType(StringType, false)),
    LakeSql.attr("constraints", ArrayType(StringType, false)))
  override def run(spark: SparkSession): Seq[Row] = {
    val (v, nFiles, nBytes, partCols, constraints) =
      AtomicLake.detail(root)
    Seq(Row(v, nFiles, nBytes, partCols, constraints))
  }
}

/** SHOW LAKE PARTITIONS: per-partition file/row/byte counts from the
  * zone-map stats, O(manifest).
  */
case class LakePartitionsCommand(root: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    LakeSql.attr("partition", StringType),
    LakeSql.attr("n_files", IntegerType),
    LakeSql.attr("n_rows", LongType),
    LakeSql.attr("n_bytes", LongType))
  override def run(spark: SparkSession): Seq[Row] =
    AtomicLake.partitions(root).map { case (p, f, r, b) =>
      Row(p, f, r, b)
    }
}

/** ALTER LAKE … ADD CONSTRAINT: one-pass validation over current
  * data, then the constraint rides the manifest and gates every
  * future commit. Returns the committed version.
  */
case class AddLakeConstraintCommand(root: String, name: String,
    predicate: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(LakeSql.attr("version", LongType))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(AtomicLake.addConstraint(spark, root, name, predicate)))
}

/** ALTER LAKE … DROP CONSTRAINT: metadata-only commit removing the
  * named CHECK constraint; unknown names are refused. Returns the
  * committed version.
  */
case class DropLakeConstraintCommand(root: String, name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(LakeSql.attr("version", LongType))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(AtomicLake.dropConstraint(root, name)))
}

/** VACUUM … RETAIN n VERSIONS: delete data files referenced by no
  * retained manifest. Returns the number of files deleted.
  */
case class VacuumLakeCommand(root: String, keepVersions: Int,
    dryRun: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(LakeSql.attr("n_deleted", IntegerType))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(AtomicLake.vacuum(root, keepVersions, dryRun = dryRun)))
}

/** Delegating parser: lake-maintenance DDL → command plans; all other
  * text — and every non-plan parse surface — goes to the session's
  * normal parser untouched.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    LakeSql.parse(sqlText).getOrElse(delegate.parsePlan(sqlText))
  override def parseExpression(s: String): Expression =
    delegate.parseExpression(s)
  override def parseTableIdentifier(s: String): TableIdentifier =
    delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String): Seq[String] =
    delegate.parseMultipartIdentifier(s)
  override def parseQuery(s: String): LogicalPlan =
    delegate.parseQuery(s)
  override def parseRoutineParam(s: String): StructType =
    delegate.parseRoutineParam(s)
  override def parseTableSchema(s: String): StructType =
    delegate.parseTableSchema(s)
  override def parseDataType(s: String): DataType =
    delegate.parseDataType(s)
}

/** DELETE FROM LAKE … WHERE: row-level delete through a deletion
  * vector ([[AtomicLake.deleteWhereDV]]: positions to a sidecar, no
  * file rewritten; REORG … APPLY PURGE pays the rewrite later).
  * Returns (version, rows_deleted, files_rewritten); files_rewritten
  * is 0.
  */
case class DeleteFromLakeCommand(root: String, predicate: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    LakeSql.attr("version", LongType),
    LakeSql.attr("rows_deleted", LongType),
    LakeSql.attr("files_rewritten", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val r = AtomicLake.deleteWhereDV(spark, root)(
      org.apache.spark.sql.functions.expr(predicate))
    Seq(Row(r.version, r.rowsChanged, r.filesRewritten))
  }
}

/** REORG LAKE … APPLY PURGE (Delta's REORG TABLE … APPLY (PURGE)):
  * materialize every deletion vector — only dv'd files rewrite, as a
  * compact commit. Returns (version, rows_purged, files_rewritten).
  */
case class PurgeLakeCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    LakeSql.attr("version", LongType),
    LakeSql.attr("rows_purged", LongType),
    LakeSql.attr("files_rewritten", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val r = AtomicLake.purgeDeletes(spark, root)
    Seq(Row(r.version, r.rowsChanged, r.filesRewritten))
  }
}

/** UPDATE LAKE … SET … WHERE: merge-on-read row-level update via
  * [[AtomicLake.updateWhere]] (matched rows deleted through a deletion
  * vector, their updated images staged as new files, one commit). SET
  * assignments split on TOP-LEVEL commas (function calls keep theirs);
  * each value is a SQL expression over the table's columns, cast to
  * the column's type. Returns (version, rows_updated,
  * files_rewritten); files_rewritten is 0.
  */
case class UpdateLakeCommand(root: String, sets: String,
    predicate: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    LakeSql.attr("version", LongType),
    LakeSql.attr("rows_updated", LongType),
    LakeSql.attr("files_rewritten", IntegerType))

  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var inStr = false
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case ',' if !inStr && depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val assignments = splitTopLevel(sets).map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"UPDATE LAKE: malformed assignment '$a'")
      (a.take(i).trim,
        org.apache.spark.sql.functions.expr(a.drop(i + 1).trim))
    }
    val r = AtomicLake.updateWhere(spark, root, assignments)(
      org.apache.spark.sql.functions.expr(predicate))
    Seq(Row(r.version, r.rowsChanged, r.filesRewritten))
  }
}

/** MERGE INTO LAKE '<root>' USING <view|(query)> ON <keys>
  * WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT * —
  * the SQL spelling of [[AtomicLake.merge]] (G26): the reference
  * operates its lakehouse entirely through `con.sql(...)`, and merge
  * was the one mutation without one. The source is a registered
  * temp view/table name or a parenthesized query (planned by the
  * session's normal parser at run time). Only the upsert-all clause
  * pair is accepted — that is the semantics the keyed merge-on-read
  * merge implements (matched rows deleted through a deletion vector,
  * source rows staged as new files, one commit); richer Delta clause
  * shapes are refused at parse time with the grammar named, never
  * silently approximated. Returns (version, rows_matched,
  * files_rewritten); files_rewritten is 0, since [[AtomicLake.compact]]
  * and REORG … APPLY PURGE pay the rewrite later.
  */
case class MergeIntoLakeCommand(root: String, source: String,
    keyCols: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    LakeSql.attr("version", LongType),
    LakeSql.attr("rows_matched", LongType),
    LakeSql.attr("files_rewritten", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val src =
      if (source.startsWith("("))
        spark.sql(source.drop(1).dropRight(1))
      else spark.table(source)
    val r = AtomicLake.merge(spark, root, src, keyCols)
    Seq(Row(r.version, r.rowsChanged, r.filesRewritten))
  }
}

/** CREATE BLOOM INDEX ON '<root>' (c1, …) [WITH FPP p] — Delta's
  * bloom-filter-index role as one statement: builds per-file blooms
  * for the files lacking them ([[AtomicLake.indexBloom]]'s
  * incremental contract) and commits `kind=index`.
  */
case class CreateBloomIndexCommand(root: String, cols: Seq[String],
    fpp: Double) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(LakeSql.attr("version", LongType))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(AtomicLake.indexBloom(spark, root, cols, fpp)))
}

/** ALTER LAKE … RENAME COLUMN a TO b — metadata-only rename through
  * the manifest's column mapping ([[AtomicLake.renameColumn]]).
  */
case class RenameLakeColumnCommand(root: String, from: String,
    to: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(LakeSql.attr("version", LongType))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(AtomicLake.renameColumn(root, from, to)))
}

/** ALTER LAKE … DROP COLUMN c — metadata-only drop with a physical
  * tombstone ([[AtomicLake.dropColumn]]).
  */
case class DropLakeColumnCommand(root: String, name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(LakeSql.attr("version", LongType))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(AtomicLake.dropColumn(root, name)))
}

/** ALTER LAKE … ADD COLUMN c GENERATED ALWAYS AS (expr). */
case class AddGeneratedColumnCommand(root: String, name: String,
    expr: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(LakeSql.attr("version", LongType))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(AtomicLake.setGeneratedColumn(spark, root, name, expr)))
}

/** ALTER LAKE … DROP GENERATED COLUMN c — the declaration only. */
case class DropGeneratedColumnCommand(root: String, name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(LakeSql.attr("version", LongType))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(AtomicLake.dropGeneratedColumn(root, name)))
}

/** DESCRIBE LAKE SCHEMA: one row per logical column — type,
  * nullability, the PHYSICAL parquet name when a rename mapped it
  * (G40), whether it is a partition column, and its generation
  * expression when declared (G41). O(manifest), zero jobs.
  */
case class LakeSchemaCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    LakeSql.attr("col_name", StringType),
    LakeSql.attr("data_type", StringType),
    LakeSql.attr("nullable", BooleanType),
    LakeSql.attr("physical_name", StringType),
    LakeSql.attr("partition", BooleanType),
    LakeSql.attr("generated_as", StringType, nullable = true))
  override def run(spark: SparkSession): Seq[Row] = {
    val snap = AtomicLake.currentSnapshot(root).getOrElse(
      throw new IllegalStateException(
        s"DESCRIBE LAKE SCHEMA: no graft-lake commits at $root"))
    val schema = snap.schema.getOrElse(throw new IllegalStateException(
      s"DESCRIBE LAKE SCHEMA: $root has no committed schema"))
    schema.fields.toSeq.map { f =>
      Row(f.name, f.dataType.simpleString, f.nullable,
        snap.colMap.getOrElse(f.name, f.name),
        snap.partitionCols.contains(f.name),
        snap.generated.get(f.name).orNull)
    }
  }
}

/** SHOW LAKE INDEXES: per bloom-indexed column — how many of the
  * current snapshot's files carry a bloom (coverage tells the
  * operator whether a fresh `CREATE BLOOM INDEX` sweep is due after
  * ingest) and the distinct sidecars referenced. O(manifest).
  */
case class LakeIndexesCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    LakeSql.attr("col_name", StringType),
    LakeSql.attr("files_indexed", IntegerType),
    LakeSql.attr("files_total", IntegerType),
    LakeSql.attr("n_sidecars", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val snap = AtomicLake.currentSnapshot(root).getOrElse(
      throw new IllegalStateException(
        s"SHOW LAKE INDEXES: no graft-lake commits at $root"))
    val total = snap.files.values.flatten.size
    snap.blooms.toSeq.flatMap { case (f, cs) => cs.map { case (c, r) =>
      (c, f, r.path) } }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (c, xs) =>
        Row(c, xs.map(_._2).distinct.size, total,
          xs.map(_._3).distinct.size)
      }
  }
}
