package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SQLContext}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** Batch read of an [[AtomicLake]] as a Spark data source —
  * `spark.read.format("graft-lake").option("path", root).load()` —
  * with the manifest zone-maps riding Spark's own filter pushdown:
  * the WHERE clause of a plain SQL query over the registered view
  * arrives here as `sources.Filter`s and plans through the same
  * planner as [[AtomicLake.scan]] ([[AtomicLake.planFiles]]: zone
  * maps, then bloom indexes), and only the surviving files are ever
  * read — SQL users get the programmatic API's skipping
  * transparently, no graft API in the query, just `USING graft-lake`.
  *
  * Correctness posture: every received filter is ALSO reported back
  * as unhandled, so Spark re-applies the full predicate on top of
  * whatever this scan returns — pruning and the inner pushdown can
  * only cut cost, never change results (the same belt-and-braces
  * contract as [[AtomicLake.scan]]).
  *
  * `option("versionAsOf", n)` time-travels the relation; the schema
  * is the SNAPSHOT's schema, so a version predating a column reads
  * without it.
  */
final class LakeRelation(override val sqlContext: SQLContext,
    root: String, versionAsOf: Option[Long])
    extends BaseRelation with PrunedFilteredScan {

  private val snap: AtomicLake.Snapshot = versionAsOf match {
    case Some(v) => AtomicLake.snapshotAt(root, v)
    case None => AtomicLake.latest(root)
  }

  override val schema: StructType = snap.schema.getOrElse(
    AtomicLake.readVersion(sqlContext.sparkSession, root,
      snap.version).schema)

  // buildScan returns the inner plan's InternalRows directly (the
  // standard connector idiom) — no Row round-trip on the hot path
  override def needConversion: Boolean = false

  // every filter is re-applied by Spark regardless of how much the
  // stats could prune — see class doc
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters

  /** The manifest files a scan under `filters` plans — exposed for
    * the pruning-proof spec; buildScan uses exactly this.
    */
  private[graft] def plannedFiles(filters: Seq[Filter]): Seq[String] =
    AtomicLake.planFiles(root, snap, filters.flatMap(LakeFilters.toColumn),
      Some(sqlContext.sparkSession))

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    // convertible filters also run INSIDE the scan, where Catalyst
    // pushes them into the parquet reader (row-group skipping within
    // surviving files); Spark's outer re-application covers the rest
    val projected = AtomicLake.readPlanned(sqlContext.sparkSession, root,
        snap, plannedFiles(filters.toSeq),
        filters.toSeq.flatMap(LakeFilters.toColumn))
      .selectExpr(requiredColumns.map(c => s"`$c`").toIndexedSeq: _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

/** The CHANGE-FEED relation (Delta's `readChangeFeed` read option):
  * `spark.read.format("graft-lake").option("readChangeFeed", "true")
  * .option("startingVersion", v)` serves
  * [[AtomicLake.readChanges]](startingVersion, endingVersion) — rows
  * changed between the two committed versions with a `_change_type`
  * column (insert/delete, including deletion-vector position diffs) —
  * through the SQL/DataFrameReader surface. `endingVersion` defaults
  * to the current snapshot. Schema and work are the CDC reader's:
  * only CHANGED files open, each side under its own snapshot's
  * schema + dv state.
  */
final class LakeChangesRelation(override val sqlContext: SQLContext,
    root: String, startingVersion: Long, endingVersion: Option[Long])
    extends BaseRelation with TableScan {

  private def frame = AtomicLake.readChanges(sqlContext.sparkSession,
    root, startingVersion,
    endingVersion.getOrElse(AtomicLake.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no commits at $root"))))

  override val schema: StructType = frame.schema

  override def needConversion: Boolean = false

  override def buildScan(): RDD[Row] =
    frame.queryExecution.toRdd.asInstanceOf[RDD[Row]]
}

/** Exact translation of Spark's `sources.Filter` pushdown trees into
  * `Column`s. `toColumn` is all-or-nothing per filter (a partially
  * translated tree under a Not would STRENGTHEN the predicate and
  * wrongly prune); partiality across the top-level filter array — an
  * implicit conjunction — is safe and handled by the caller's
  * flatMap.
  */
private[sources] object LakeFilters {

  private def c(attr: String): Column = col(s"`$attr`")

  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(c(a) === lit(v))
    case EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
    case GreaterThan(a, v) => Some(c(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
    case LessThan(a, v) => Some(c(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
    // a null element makes SQL IN never-true-only-null-or-false;
    // sources.In's contract is exact equality — skip the edge case
    case In(a, vs) if !vs.contains(null) =>
      Some(c(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(c(a).isNull)
    case IsNotNull(a) => Some(c(a).isNotNull)
    case And(l, r) =>
      for { a <- toColumn(l); b <- toColumn(r) } yield a && b
    case Or(l, r) =>
      for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case Not(inner) => toColumn(inner).map(!_)
    case StringStartsWith(a, v) => Some(c(a).startsWith(v))
    case StringEndsWith(a, v) => Some(c(a).endsWith(v))
    case StringContains(a, v) => Some(c(a).contains(v))
    case _ => None
  }
}
