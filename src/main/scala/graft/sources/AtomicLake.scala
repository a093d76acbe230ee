package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Atomic, versioned parquet lake with snapshot isolation — the
  * transactional layer the reference adopted DuckLake for ("ACID-
  * compliant transactions, metadata management",
  * /root/reference/docs/sprint_logs/Sprint-2.md:13), re-expressed as a
  * catalog-free manifest protocol over plain parquet:
  *
  *  - Data files are written under `data/` with commit-unique names;
  *    readers NEVER list `data/` — they read exactly the files named
  *    by a manifest, so un-committed files are invisible.
  *  - A commit is one atomically-created manifest `_manifests/vN` (an
  *    exclusive hardlink to a fully-written temp file, so a manifest
  *    can never be observed half-written and two writers can never
  *    both claim version N — the loser re-reads and retries on N+1).
  *  - A reader resolves max(vN) once and reads that snapshot: a
  *    concurrent upsert is invisible until its single commit point,
  *    after which new readers see all of it (old-or-new, never torn).
  *  - A killed writer leaves orphan data files and no manifest:
  *    invisible, re-ingest just works (and its own commit supersedes
  *    the orphans).
  *  - Every manifest is retained → time travel ([[readVersion]]) and
  *    audit for free, exactly the DuckLake snapshot feature set the
  *    reference's sprint demos (Sprint-2.md "time travel").
  *
  * Scale notes: the manifest holds file PATHS (one line per file), not
  * data — a 100-TB table with 100k files is a few MB of manifest; the
  * data plane is untouched parquet, so every scan optimization
  * (pushdown, partition pruning via the returned partition column,
  * footer skipping) still applies. The commit point is one atomic
  * claim regardless of table size, and WHERE that claim lives is the
  * pluggable [[CommitStore]]: the default [[HardlinkCommitStore]]
  * needs local/NFS/HDFS link semantics; on an object store (no atomic
  * create-exclusive) pass a [[CatalogCommitStore]], which moves the
  * claim into a transactional catalog — precisely the role DuckLake
  * gives its catalog database.
  *
  * Schema evolution: every manifest records the table schema as of
  * its commit; a commit's schema is the previous snapshot's schema
  * merged with the batch's (new columns append, absent columns stay —
  * nullable either way; a TYPE change is refused loudly). Readers
  * apply the SNAPSHOT's schema, so files written before a column
  * existed read as nulls for it, and time travel to v1 still sees
  * exactly v1's columns.
  */
object AtomicLake {

  final case class Snapshot(version: Long,
      partitionCols: Seq[String],
      // partition relative dir (e.g. "day=2024-01-01", "" when
      // unpartitioned) -> file paths relative to the lake root
      files: Map[String, Seq[String]],
      // table schema as of this commit; None on pre-evolution
      // manifests (readers fall back to parquet schema merge)
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      // what produced this commit: "write" (upsert/append/overwrite)
      // or "compact" (files rewritten, NO logical data change) —
      // incremental consumers skip compact commits to avoid
      // re-emitting rewritten rows (Delta's dataChange=false role)
      kind: String = "write",
      // per-file zone maps (file relative path -> column min/max/
      // nulls), harvested from parquet footers at commit time; absent
      // entries (pre-stats manifests, unreadable footers) are simply
      // never pruned — see [[LakeStats]] and [[scan]]
      stats: Map[String, LakeStats.FileStats] = Map.empty,
      // CHECK constraints (name -> SQL predicate): every write commit
      // validates its batch against them (SQL semantics: a row
      // violates only when the predicate is FALSE — null passes);
      // carried manifest-to-manifest like the schema
      constraints: Map[String, String] = Map.empty,
      // commit wall-clock (epoch millis); None on manifests written
      // before the header existed. Informational + timestampAsOf
      // resolution — never part of correctness
      ts: Option[Long] = None,
      // deletion vectors (merge-on-read DELETE and MERGE): file -> its
      // chain of position-sidecar paths + total deleted-row count. A
      // file with an entry here still holds its original bytes;
      // readers drop the listed row positions ([[readFileSubset]]).
      // Absent for files with no row-level deletes; cleared when the
      // file is rewritten (COW delete/update, compaction,
      // [[purgeDeletes]])
      dvs: Map[String, DvRef] = Map.empty,
      // per-file bloom indexes (file -> column -> sidecar ref): point
      // lookups on high-cardinality columns prune files a bloom
      // proves the key absent from — see [[BloomIndex]]; entries shed
      // with their file (rewrites), roll back with restore, and
      // absolutize on clone like dvs
      blooms: Map[String, Map[String, BloomIndex.Ref]] = Map.empty,
      // column mapping (Delta's columnMapping.mode=name): LOGICAL
      // name -> PHYSICAL parquet column, present only for renamed
      // columns ([[renameColumn]] — a metadata-only commit; files
      // keep their bytes). Readers read physical and alias to
      // logical; writers stage logical batches under physical names
      colMap: Map[String, String] = Map.empty,
      // physical names of DROPPED columns ([[dropColumn]]): the data
      // still sits in old files, so re-adding the name is REFUSED
      // (resurrection would silently read the old bytes back)
      dropped: Set[String] = Set.empty,
      // generated columns (Delta's GENERATED ALWAYS AS): column ->
      // single-line SQL generation expression. Writers materialize an
      // absent generated column from the expression BEFORE staging
      // (so a generated PARTITION column costs the writer nothing),
      // and a batch that DOES provide it is validated cell-by-cell
      // against the expression in the same one-pass aggregation as
      // the CHECK constraints
      generated: Map[String, String] = Map.empty,
      // writer-transaction watermarks (Delta's txn action): appId ->
      // highest transaction version committed by that writer. The
      // streaming-sink replay contract: foreachBatch writers tag each
      // commit with (appId, batchId) and skip batches at or below
      // [[lastTxn]], turning at-least-once micro-batch redelivery
      // into exactly-once lake appends. Carried manifest-to-manifest
      // like the schema; absent on older manifests
      txns: Map[String, Long] = Map.empty) {

    def allFiles: Seq[String] = files.values.flatten.toSeq

    /** This snapshot with the `touched` partitions replaced and the
      * `removed` files dropped, then `added`'s files (and zone maps)
      * joined per partition — so touched = ∅ is an append: new files
      * join the survivors instead of clobbering their partition.
      */
    private[graft] def swap(added: Staged, touched: Set[String] = Set.empty,
        removed: Set[String] = Set.empty): Snapshot = {
      val kept = (files -- touched)
        .map { case (p, fs) => p -> fs.filterNot(removed) }
        .filter(_._2.nonEmpty)
      copy(files = (kept.keySet ++ added.files.keySet).iterator.map(k =>
          k -> (kept.getOrElse(k, Nil) ++ added.files.getOrElse(k, Nil)))
          .toMap,
        stats = stats ++ added.stats)
    }

    /** This snapshot's schema evolved by a write batch's
      * ([[mergeSchemas]]). Columns NEW to the table must not take a
      * physical name that would read someone else's bytes: a dropped
      * column's (resurrection) or a renamed column's storage slot
      * (e.g. re-adding 'a' after RENAME a TO b).
      */
    private[graft] def evolve(
        batch: org.apache.spark.sql.types.StructType): Snapshot = {
      val merged = schema.fold(batch)(mergeSchemas(_, batch))
      for (prevSch <- schema) {
        def nrm(s: String) = s.toLowerCase(java.util.Locale.ROOT)
        val prevNames = prevSch.fieldNames.map(nrm).toSet
        val physInUse = prevSch.fieldNames
          .map(n => nrm(colMap.getOrElse(n, n))).toSet
        for (n <- merged.fieldNames if !prevNames(nrm(n))) {
          if (dropped.exists(d => nrm(d) == nrm(n)))
            throw new IllegalArgumentException(
              s"cannot add column '$n': a dropped column's data " +
                "still lives under that physical name in committed " +
                "files and would silently resurrect; rewrite the " +
                "table to reuse the name")
          if (physInUse(nrm(n)))
            throw new IllegalArgumentException(
              s"cannot add column '$n': the physical slot '$n' is " +
                "the storage of a renamed column; rewrite the table " +
                "to reuse the name")
        }
      }
      copy(schema = Some(merged))
    }
  }

  /** The one manifest codec. A body is `partition_cols=` then the
    * optional headers in a fixed order (`schema=`, `kind=` — omitted
    * for "write" —, `constraint=`, `ts=`, `bloom=`, `colmap=`,
    * `dropped=`, `generated=`, `txn=`, each repeated key sorted), then
    * one sorted line per file. Bodies written before a header existed
    * parse unchanged: every header is optional.
    */
  object Snapshot {

    private val HeaderKeys = Seq("schema", "kind", "constraint", "ts",
      "bloom", "colmap", "dropped", "generated", "txn")

    def parse(version: Long, body: String): Snapshot = {
      val lines = body.linesIterator.toSeq
      val partitionCols = lines.head.split("=", 2)(1) match {
        case "" => Nil
        case s => s.split(",").toSeq
      }
      val (headers, fileLines) = lines.tail.span(l =>
        HeaderKeys.exists(k => l.startsWith(k + "=")))
      var s = Snapshot(version, partitionCols, Map.empty)
      for (h <- headers) {
        val i = h.indexOf('=')
        val v = h.drop(i + 1)
        // <key>=<a>\t<b> headers: colmap (logical, physical), generated
        // (column, expression), txn (appId, version)
        def pair: Option[(String, String)] = v.split("\t", 2) match {
          case Array(x, y) => Some((x, y))
          case _ => None
        }
        h.take(i) match {
          case "schema" =>
            s = s.copy(schema = Some(org.apache.spark.sql.types.DataType
              .fromJson(v).asInstanceOf[org.apache.spark.sql.types.StructType]))
          case "kind" => s = s.copy(kind = v)
          case "constraint" =>
            val c = v.indexOf(':')
            s = s.copy(constraints = s.constraints + (v.take(c) -> v.drop(c + 1)))
          case "ts" => s = s.copy(ts = v.toLongOption)
          case "bloom" => v.split("\t", 3) match { // <col>\t<sidecar>\t<file>
            case Array(c, p, f) =>
              s = s.copy(blooms = s.blooms + (f ->
                (s.blooms.getOrElse(f, Map.empty) + (c -> BloomIndex.Ref(p)))))
            case _ => ()
          }
          case "colmap" => pair.foreach(m => s = s.copy(colMap = s.colMap + m))
          case "dropped" => s = s.copy(dropped = s.dropped + v)
          case "generated" =>
            pair.foreach(g => s = s.copy(generated = s.generated + g))
          case _ => // txn
            for ((a, n) <- pair; x <- n.toLongOption)
              s = s.copy(txns = s.txns + (a -> x))
        }
      }
      // part \t file [\t statsJson [\t dvField]] — fields 3/4 optional
      // (pre-stats and pre-DV manifests parse unchanged); a file with a
      // deletion vector but no stats writes an EMPTY third field so the
      // dv field keeps its position. dvField = "dv:<n>:<p1>[,<p2>...]"
      val parsed = fileLines.filter(_.nonEmpty).map { l =>
        l.split("\t", 4) match {
          case Array(part, file) => (part, file, None, None)
          case Array(part, file, json) =>
            (part, file, LakeStats.fromJson(json), None)
          case Array(part, file, json, dvField) =>
            val dv = dvField.split(":", 3) match {
              case Array("dv", n, paths) =>
                Some(DvRef(paths.split(",").toSeq, n.toLong))
              case _ => None
            }
            (part, file,
              if (json.isEmpty) None else LakeStats.fromJson(json), dv)
        }
      }
      s.copy(
        files = parsed.groupBy(_._1).map { case (p, fs) => p -> fs.map(_._2) },
        stats = parsed.iterator
          .flatMap { case (_, f, st, _) => st.map(f -> _) }.toMap,
        dvs = parsed.iterator
          .flatMap { case (_, f, _, dv) => dv.map(f -> _) }.toMap)
    }

    def render(s: Snapshot): String = {
      val b = new StringBuilder
      def line(parts: Any*): Unit = { parts.foreach(b.append); b.append('\n') }
      line("partition_cols=", s.partitionCols.mkString(","))
      s.schema.foreach(sc => line("schema=", sc.json))
      if (s.kind != "write") line("kind=", s.kind)
      for ((n, e) <- s.constraints.toSeq.sortBy(_._1))
        line("constraint=", n, ":", e)
      s.ts.foreach(line("ts=", _))
      for ((f, cs) <- s.blooms.toSeq.sortBy(_._1);
           (c, ref) <- cs.toSeq.sortBy(_._1))
        line("bloom=", c, "\t", ref.path, "\t", f)
      for ((l, p) <- s.colMap.toSeq.sortBy(_._1)) line("colmap=", l, "\t", p)
      for (d <- s.dropped.toSeq.sorted) line("dropped=", d)
      for ((c, e) <- s.generated.toSeq.sortBy(_._1))
        line("generated=", c, "\t", e)
      for ((a, v) <- s.txns.toSeq.sortBy(_._1)) line("txn=", a, "\t", v)
      for ((p, fs) <- s.files.toSeq.sortBy(_._1); f <- fs.sorted) {
        val st = s.stats.get(f)
        b.append(p).append('\t').append(f)
        st.foreach(x => b.append('\t').append(LakeStats.toJson(x)))
        s.dvs.get(f).foreach { dv =>
          if (st.isEmpty) b.append('\t') // keep the dv field fourth
          b.append("\tdv:").append(dv.n).append(':')
            .append(dv.paths.mkString(","))
        }
        b.append('\n')
      }
      b.toString
    }
  }

  /** `logical` column's physical parquet name under this snapshot. */
  private def physicalOf(snap: Snapshot, logical: String): String =
    snap.colMap.getOrElse(logical, logical)

  /** A file's deletion-vector reference: `paths` are position
    * sidecars (parquet dirs of (file, pos) rows, lake-root-relative —
    * absolute only when a shallow clone references the source's), the
    * file's deleted positions being the union across the chain
    * (append-only — each [[deleteWhereDV]] or [[merge]] adds one link;
    * rewrites clear the whole chain); `n` is the total deleted-row
    * count (drives [[rowCount]] without opening a sidecar).
    */
  final case class DvRef(paths: Seq[String], n: Long)

  private def dataDir(root: String): Path = Paths.get(root, "data")

  /** Newest committed snapshot, if any commit exists. */
  def currentSnapshot(root: String,
      store: CommitStore = HardlinkCommitStore): Option[Snapshot] = {
    val versions = store.listVersions(root)
    if (versions.isEmpty) None
    else Some(readManifest(root, versions.max, store))
  }

  /** The newest committed snapshot; refuses a root with no commits. */
  private[graft] def latest(root: String,
      store: CommitStore = HardlinkCommitStore): Snapshot =
    currentSnapshot(root, store).getOrElse(
      throw new IllegalStateException(s"no commits at $root"))

  def currentVersion(root: String,
      store: CommitStore = HardlinkCommitStore): Option[Long] =
    currentSnapshot(root, store).map(_.version)

  private def readManifest(root: String, v: Long,
      store: CommitStore): Snapshot =
    Snapshot.parse(v, store.readBody(root, v))

  /** Lossless widenings the parquet read path upcasts natively
    * (Spark 4.x vectorized reader: int32 pages read as long, float as
    * double — Delta's "type widening" table feature): the merged
    * column takes the WIDER side, old files keep their narrow pages,
    * and every read sees the wide type. Anything else is a rewrite,
    * not an evolution. Returns the widened type when (a, b) are
    * compatible.
    */
  private[graft] def widenType(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    val intRank: Map[DataType, Int] =
      Map(ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    if (a == b) Some(a)
    else if (intRank.contains(a) && intRank.contains(b))
      Some(if (intRank(a) >= intRank(b)) a else b)
    else if ((a == FloatType && b == DoubleType) ||
        (a == DoubleType && b == FloatType)) Some(DoubleType)
    else (a, b) match {
      // containers: recurse on elements, union nullability (a frame
      // whose array<float> came from an Encoder and one read from
      // parquet differ only in containsNull — the same column)
      case (ArrayType(e1, n1), ArrayType(e2, n2)) =>
        widenType(e1, e2).map(ArrayType(_, n1 || n2))
      case (MapType(k1, v1, n1), MapType(k2, v2, n2)) =>
        for { k <- widenType(k1, k2); v <- widenType(v1, v2) }
          yield MapType(k, v, n1 || n2)
      case (StructType(f1), StructType(f2))
          if f1.map(_.name).sameElements(f2.map(_.name)) =>
        val widened = f1.zip(f2).map { case (x, y) =>
          widenType(x.dataType, y.dataType).map(t =>
            x.copy(dataType = t,
              nullable = x.nullable || y.nullable))
        }
        if (widened.forall(_.isDefined))
          Some(StructType(widened.map(_.get)))
        else None
      case _ => None
    }
  }

  /** The committed schema after applying `batch` on top of `base`:
    * common columns must keep their type or WIDEN losslessly
    * ([[widenType]] — any other change is a table REWRITE, refused
    * loudly), columns on one side only become nullable (some
    * committed files lack them), new columns append in batch order.
    */
  private[graft] def mergeSchemas(
      base: org.apache.spark.sql.types.StructType,
      add: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    // Spark resolves column names case-insensitively by default
    // (spark.sql.caseSensitive=false), so the committed schema must
    // match the same way: a batch's 'ID' against a committed 'id' is
    // the SAME column, not a new one — matching case-sensitively here
    // would append a duplicate and the snapshot would read ambiguous.
    // A case-ONLY rename is refused loudly, like a type change.
    def norm(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val baseNames = base.fieldNames.map(norm).toSet
    val merged = base.fields.map { f =>
      add.fields.find(g => norm(g.name) == norm(f.name)) match {
        case Some(g) =>
          require(g.name == f.name,
            s"schema evolution cannot rename column '${f.name}' to " +
              s"'${g.name}': case-insensitive resolution makes them one " +
              "column; rewrite the table to change the case")
          val widened = widenType(f.dataType, g.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"schema evolution cannot change column '${f.name}' from " +
                s"${f.dataType.simpleString} to " +
                s"${g.dataType.simpleString}; only lossless widening " +
                "(byte/short/int/long chain, float->double) evolves — " +
                "rewrite the table instead"))
          f.copy(dataType = widened,
            nullable = f.nullable || g.nullable)
        case None => f.copy(nullable = true)
      }
    } ++ add.fields.filterNot(f => baseNames(norm(f.name)))
      .map(_.copy(nullable = true))
    org.apache.spark.sql.types.StructType(merged)
  }

  /** [[stageFiles]] output: partition-relative-dir -> new file
    * relative paths, plus each file's zone map (folded from the footer
    * its writer closed).
    */
  private[graft] final case class Staged(
      files: Map[String, Seq[String]],
      stats: Map[String, LakeStats.FileStats]) {
    def keySet: Set[String] = files.keySet
  }

  /** Parquet-bytes target for AUTO file sizing (`filesPerPartition
    * = 0`) and the in-memory→parquet compression guess the estimate
    * divides by (plan statistics report uncompressed widths).
    */
  private[graft] val AutoTargetFileBytes: Long = 128L << 20
  private val AutoCompressionGuess = 3L
  private val AutoMaxFiles = 256

  /** Write `batch` into the data plane with commit-unique names —
    * VISIBLE TO NO READER yet (readers only follow manifests). One
    * Spark job whose tasks write each file at its final path
    * ([[LakeWriter]]): no output committer, staging dir or move, and no
    * `_SUCCESS` or `.crc` files. Returns partition-relative-dir -> new
    * file relative paths plus per-file zone maps
    * ([[LakeStats.fromFooter]] over each footer as its writer closes it
    * — no re-read). Exposed package-private so the crash-recovery spec
    * can create exactly the state a killed writer leaves.
    */
  private[graft] def stageFiles(batch: DataFrame, root: String,
      partitionCols: Seq[String], filesPerPartition: Int,
      // false = the caller already distributed/sorted the frame for
      // file layout (clustered compaction's range partitioning) and
      // the default partition-count shuffle must not destroy it
      distribute: Boolean = true,
      // column mapping of the snapshot being written against: staged
      // parquet carries PHYSICAL column names, so files written after
      // a rename stay byte-compatible with the ones written before it
      colMap: Map[String, String] = Map.empty): Staged = {
    val commitId = UUID.randomUUID().toString.take(12)
    val physical = colMap.foldLeft(batch) { case (d, (l, p)) =>
      if (l != p && d.columns.contains(l)) {
        // the physical slot belongs to the renamed column — a batch
        // carrying BOTH would silently interleave two columns' bytes
        require(!d.columns.contains(p),
          s"cannot stage column '$p': it is the physical storage of " +
            s"renamed column '$l'; rewrite the table to reuse the name")
        d.withColumnRenamed(l, p)
      } else d
    }
    // AUTO file sizing (Delta's optimized-write role, the planner's
    // half): filesPerPartition = 0 sizes the file count from the
    // optimizer's byte estimate so a 10 GB batch lands as ~128 MB
    // files and a 10 KB batch as ONE — the write-side hygiene that
    // keeps compactSmall a backlog sweep instead of a treadmill.
    // The estimate is the logical plan's sizeInBytes (uncompressed
    // widths — divided by a 3x parquet compression guess); it is a
    // SIZING heuristic, never a correctness input. Unpartitioned
    // writes only: a per-partition-dir auto count would need
    // per-partition sizes the plan cannot see — callers of
    // partitioned tables keep the explicit knob.
    val effectiveFiles =
      if (filesPerPartition > 0) filesPerPartition
      else {
        require(partitionCols.isEmpty,
          "AUTO file sizing (filesPerPartition = 0) sizes whole-batch " +
            "writes; partitioned tables take an explicit count")
        val est =
          physical.queryExecution.optimizedPlan.stats.sizeInBytes /
            AutoCompressionGuess
        val n = (est + AutoTargetFileBytes - 1) / AutoTargetFileBytes
        n.max(1).min(AutoMaxFiles).toInt
      }
    val distributed =
      if (!distribute) physical
      else if (partitionCols.nonEmpty)
        distributeForWrite(physical, partitionCols, effectiveFiles)
      else physical.repartition(effectiveFiles)
    // The staging write runs with AQE off: its exchange is an EXPLICIT
    // repartition chosen for file-count control, so AQE has nothing to
    // improve — it only splits shuffle and write into two sequential
    // jobs (doubling the per-commit scheduling cost that dominates
    // small incremental upserts) and its partition coalescing could
    // silently defeat filesPerPartition. The toggle is REFCOUNTED per
    // session ([[AqeScope]]): concurrent writers nest instead of the
    // second restoring the first's temporary 'false' and leaving AQE
    // off for the session's lifetime. A concurrent query during the
    // window loses AQE for that window (harmless — plans stay
    // correct).
    val written = AqeScope(batch.sparkSession)(
      LakeWriter.write(distributed, root, commitId, partitionCols))
    Staged(written.groupBy(_.part).map { case (p, ws) => p -> ws.map(_.rel) },
      written.flatMap(w => w.stats.map(w.rel -> _)).toMap)
  }

  /** Cluster `batch` by its partition columns (plus a deterministic
    * salt when `filesPerPartition` > 1) so the partitioned write emits
    * a bounded number of files per partition. Undistributed, every
    * task writes one file into every partition it holds rows for
    * (a 1000-task job over 365 dates emits 365k small files);
    * distributed, each partition gets `filesPerPartition` files
    * regardless of upstream parallelism — raise it for skewed or
    * giant partitions so they keep write parallelism.
    */
  private def distributeForWrite(batch: DataFrame,
      partitionCols: Seq[String], filesPerPartition: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, pmod, spark_partition_id}
    if (filesPerPartition <= 1)
      batch.repartition(partitionCols.map(col): _*)
    else
      // spark_partition_id is stable within a task — rows of one input
      // partition land together, spreading each output partition over
      // up to filesPerPartition writer tasks without a random salt.
      batch.withColumn("__write_salt",
          pmod(spark_partition_id(), lit(filesPerPartition)))
        .repartition(partitionCols.map(col) :+ col("__write_salt"): _*)
        .drop("__write_salt")
  }

  /** The one commit. `edit` maps the snapshot the CAS lands on (an
    * empty one before the first commit) to the next snapshot; the
    * commit point is ONE atomic claim through the [[CommitStore]], and
    * on a version race the loser re-reads the winner's snapshot and
    * re-runs `edit` against it — so every change (files, schema,
    * constraints, mapping) is computed from the state it lands on,
    * never from a snapshot read before the race. Zone maps, deletion
    * vectors and bloom refs of files the next snapshot no longer lists
    * are shed here, once (a rewritten file's entries say nothing about
    * its replacement).
    *
    * Read-modify-write commits name what they derived from
    * `expectedBase` and abort (ConcurrentModificationException) when a
    * concurrent commit changed it: `touched` partitions' file lists,
    * the deletion vectors of everything they read, and the presence
    * of `removeFiles` (copy-on-write rewrites: a file a concurrent
    * compaction already replaced would resurrect its rows) and
    * `dvFiles` (deletion-vector commits). Blind writes pass no base
    * and never conflict. Exposed package-private for the spec's
    * interleaving tests.
    */
  private[graft] def commit(root: String, partitionCols: Seq[String],
      kind: String = "write", store: CommitStore = HardlinkCommitStore,
      expectedBase: Option[Snapshot] = None,
      touched: Set[String] = Set.empty,
      removeFiles: Set[String] = Set.empty,
      dvFiles: Set[String] = Set.empty)(
      edit: Snapshot => Snapshot): Long = {
    var attempts = 0
    while (attempts < 50) {
      attempts += 1
      val prev = currentSnapshot(root, store)
      prev.foreach { s =>
        require(s.partitionCols == partitionCols,
          s"partitioning mismatch: table has ${s.partitionCols}, " +
            s"upsert uses $partitionCols")
      }
      for (base <- expectedBase; cur <- prev; p <- touched)
        if (cur.files.getOrElse(p, Nil) != base.files.getOrElse(p, Nil))
          throw new java.util.ConcurrentModificationException(
            s"partition $p changed (v${base.version} -> v${cur.version}) " +
              "since this rewrite read it; re-run against the new snapshot")
      // a concurrent dv commit on any file this commit read: committing
      // would resurrect the concurrently-deleted rows (or drop the
      // concurrent writer's positions)
      for (base <- expectedBase; cur <- prev) {
        val watched = dvFiles ++ removeFiles ++
          touched.flatMap(p => base.files.getOrElse(p, Nil))
        for (f <- watched if cur.dvs.get(f) != base.dvs.get(f))
          throw new java.util.ConcurrentModificationException(
            s"deletion vector of $f changed (v${base.version} -> " +
              s"v${cur.version}) since this rewrite read it; re-run " +
              "against the new snapshot")
      }
      lazy val present = prev.fold(Set.empty[String])(_.allFiles.toSet)
      for ((read, what) <- Seq(dvFiles -> "dv commit", removeFiles -> "rewrite")
           if read.nonEmpty; gone = read -- present if gone.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"${gone.size} file(s) this $what read were replaced " +
            s"since (e.g. ${gone.head}); re-run against the new snapshot")
      val landing = prev.getOrElse(Snapshot(0L, partitionCols, Map.empty))
      val version = landing.version + 1
      val next = edit(landing)
      val live = next.allFiles.toSet
      val body = Snapshot.render(next.copy(version = version,
        partitionCols = partitionCols, kind = kind,
        ts = Some(System.currentTimeMillis()),
        stats = next.stats.filter(e => live(e._1)),
        dvs = next.dvs.filter(e => live(e._1)),
        blooms = next.blooms.filter(e => live(e._1))))
      if (store.tryCommit(root, version, body))
        return version
      // else: lost the race — re-run the edit against the winner
    }
    throw new IllegalStateException(
      s"commit contention: gave up after $attempts attempts")
  }

  /** Materialize ABSENT generated columns on a write batch (the
    * provided ones are validated instead — see [[violations]]).
    */
  private def applyGenerated(batch: DataFrame,
      gen: Map[String, String]): DataFrame =
    gen.toSeq.sortBy(_._1).foldLeft(batch) { case (d, (g, e)) =>
      if (d.columns.exists(_.equalsIgnoreCase(g))) d
      else d.withColumn(g, org.apache.spark.sql.functions.expr(e))
    }

  /** A per-row violation condition: `msg` names it in a refusal, `tag`
    * in a quarantined row's `_violated` list.
    */
  private final case class Violation(msg: String, tag: String,
      cond: Column)

  /** The violation conditions new rows of `batch` are held to: each
    * CHECK constraint (SQL semantics — a row violates only when the
    * predicate is FALSE, null passes), then each generated column the
    * batch PROVIDES, which must null-safe-equal its expression (Delta's
    * GENERATED ALWAYS AS write contract).
    */
  private def violations(batch: DataFrame, snap: Snapshot): Seq[Violation] = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not}
    snap.constraints.toSeq.sortBy(_._1).map { case (n, e) =>
      Violation(s"CHECK constraint '$n' ($e)", n,
        coalesce(expr(e), lit(true)) === lit(false))
    } ++ snap.generated.toSeq.sortBy(_._1).collect {
      case (g, e) if batch.columns.exists(_.equalsIgnoreCase(g)) =>
        Violation(s"generated column '$g' does not match its expression ($e)",
          s"generated:$g", not(col(g) <=> expr(e)))
    }
  }

  /** One aggregate per violation condition: its violating-row count. */
  private def violationCounts(vs: Seq[Violation]): Seq[Column] = {
    import org.apache.spark.sql.functions.{sum, when}
    vs.zipWithIndex.map { case (v, i) =>
      sum(when(v.cond, 1L).otherwise(0L)).as(s"__viol_$i")
    }
  }

  /** Refuse the batch whose [[violationCounts]] (in `row`) are not all
    * zero, naming the first violated condition.
    */
  private def refuseViolations(vs: Seq[Violation],
      row: org.apache.spark.sql.Row): Unit =
    vs.zipWithIndex.foreach { case (v, i) =>
      val at = row.fieldIndex(s"__viol_$i")
      val bad = if (row.isNullAt(at)) 0L else row.getLong(at)
      if (bad > 0)
        throw new IllegalStateException(
          s"${v.msg} violated by $bad row(s) of this batch; " +
            "nothing was committed")
    }

  /** Pre-write batch preparation against `snap`, at most ONE
    * aggregation job: absent generated columns materialize from their
    * expressions (so a generated partition column costs writers
    * nothing), then CHECK constraints and provided-generated-column
    * equality validate together over the completed frame. Returns the
    * frame to stage; tables with neither feature pay nothing.
    */
  private def prepareBatch(batch: DataFrame,
      snap: Option[Snapshot]): DataFrame = {
    val checks = snap.fold(Seq.empty[Violation])(violations(batch, _))
    val out = applyGenerated(batch,
      snap.fold(Map.empty[String, String])(_.generated))
    if (checks.nonEmpty) {
      val counts = violationCounts(checks)
      refuseViolations(checks, out.agg(counts.head, counts.tail: _*).head())
    }
    out
  }

  /** ADD CONSTRAINT (Delta's ALTER TABLE … ADD CONSTRAINT … CHECK):
    * existing table data must already satisfy the predicate (refused
    * loudly otherwise — a constraint that the table violates is a
    * lie); the constraint then rides every manifest and every future
    * write commit validates its batch against it. Metadata-only
    * commit: no data moves. Returns the committed version.
    */
  def addConstraint(spark: SparkSession, root: String, name: String,
      predicate: String,
      store: CommitStore = HardlinkCommitStore): Long = {
    require(name.nonEmpty && !name.contains(':') && !name.contains('\n'),
      s"constraint name must be non-empty without ':' or newline: $name")
    require(!predicate.contains('\n'),
      "constraint predicate must be single-line SQL")
    val snap = latest(root, store)
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    val bad = readSnapshot(spark, root, snap)
      .filter(coalesce(expr(predicate), lit(true)) === lit(false))
      .count()
    if (bad > 0)
      throw new IllegalStateException(
        s"cannot add CHECK constraint '$name' ($predicate): $bad " +
          "existing row(s) violate it")
    commit(root, snap.partitionCols, "constraint", store)(s =>
      s.copy(constraints = s.constraints + (name -> predicate)))
  }

  /** DROP CONSTRAINT — metadata-only commit removing the named CHECK
    * constraint. Unknown names are refused (a typo silently "passing"
    * would leave the real constraint enforced when the caller
    * believes it gone).
    */
  def dropConstraint(root: String, name: String,
      store: CommitStore = HardlinkCommitStore): Long = {
    val snap = latest(root, store)
    require(snap.constraints.contains(name),
      s"no CHECK constraint named '$name' " +
        s"(table has: ${snap.constraints.keys.toSeq.sorted.mkString(", ")})")
    commit(root, snap.partitionCols, "constraint", store)(s =>
      s.copy(constraints = s.constraints - name))
  }

  /** Does SQL text `e` reference column `name`? Conservative
    * word-boundary match — used to refuse renaming/dropping a column
    * a CHECK constraint still reads (Delta rewrites the expressions;
    * refusing loudly is the honest smaller contract).
    */
  private def mentionsColumn(e: String, name: String): Boolean =
    ("(?i)(?<![A-Za-z0-9_])" +
      java.util.regex.Pattern.quote(name) +
      "(?![A-Za-z0-9_])").r.findFirstIn(e).isDefined

  /** `s`'s committed schema, for the metadata operation `op`. */
  private def schemaOf(s: Snapshot, op: String,
      root: String): org.apache.spark.sql.types.StructType =
    s.schema.getOrElse(throw new IllegalStateException(
      s"$op: $root has no committed schema"))

  /** Declare `name` GENERATED ALWAYS AS `exprSql` (Delta's generated
    * columns — pipeline.py-style month/year partition derivations
    * belong to the TABLE, not to every writer): future batches that
    * omit the column get it computed before staging (including a
    * generated PARTITION column — the classic use), batches that
    * provide it are validated cell-by-cell in the same one-pass
    * aggregation as the CHECK constraints, and merge/expectation
    * ingest honor the same contract. If the column already exists,
    * current data must already satisfy the expression (refused loudly
    * otherwise). Metadata-only commit (`kind=schema`).
    */
  def setGeneratedColumn(spark: SparkSession, root: String,
      name: String, exprSql: String,
      store: CommitStore = HardlinkCommitStore): Long = {
    require(!exprSql.contains('\n') && !exprSql.contains('\t'),
      "generation expression must be single-line SQL without tabs")
    val snap = latest(root, store)
    // parse errors surface here, not at some future write
    org.apache.spark.sql.functions.expr(exprSql)
    val schema = schemaOf(snap, "setGeneratedColumn", root)
    if (schema.fieldNames.exists(_.equalsIgnoreCase(name))) {
      import org.apache.spark.sql.functions.{col, expr, not}
      val bad = readSnapshot(spark, root, snap)
        .filter(not(col(name) <=> expr(exprSql))).count()
      if (bad > 0)
        throw new IllegalStateException(
          s"cannot declare '$name' generated as ($exprSql): $bad " +
            "existing row(s) contradict the expression")
    }
    commit(root, snap.partitionCols, "schema", store)(s =>
      s.copy(generated = s.generated + (name -> exprSql)))
  }

  /** Remove a generation declaration — the column stays, now plain. */
  def dropGeneratedColumn(root: String, name: String,
      store: CommitStore = HardlinkCommitStore): Long = {
    val snap = latest(root, store)
    require(snap.generated.contains(name),
      s"no generated column '$name' " +
        s"(table has: ${snap.generated.keys.toSeq.sorted.mkString(", ")})")
    commit(root, snap.partitionCols, "schema", store)(s =>
      s.copy(generated = s.generated - name))
  }

  /** RENAME COLUMN without rewriting a byte (Delta's column mapping,
    * mode=name): a metadata-only `kind=schema` commit renames the
    * LOGICAL column and records logical->physical in the manifest —
    * files keep their physical pages, readers alias physical->logical
    * in the one read ([[readSubset]]), writers stage logical batches
    * under physical names ([[stageFiles]]), and zone-map pruning
    * translates predicates ([[LakeStats.survivors]]). Time travel to
    * a pre-rename version sees the old name (each snapshot carries
    * its own mapping); restore rolls the mapping back with the files.
    * Refused for: partition columns (their physical form is the
    * directory layout), columns a CHECK constraint references, and
    * columns with a bloom index (drop + rebuild under the new name).
    * Checked and applied against the snapshot the commit lands on.
    */
  def renameColumn(root: String, from: String, to: String,
      store: CommitStore = HardlinkCommitStore): Long =
    commit(root, latest(root, store).partitionCols, "schema", store) { s =>
      val schema = schemaOf(s, "renameColumn", root)
      def nrm(n: String) = n.toLowerCase(java.util.Locale.ROOT)
      require(schema.fieldNames.contains(from),
        s"renameColumn: no column '$from' " +
          s"(table has: ${schema.fieldNames.mkString(", ")})")
      require(!schema.fieldNames.exists(n => nrm(n) == nrm(to)),
        s"renameColumn: column '$to' already exists")
      require(!s.partitionCols.contains(from),
        s"renameColumn: '$from' is a partition column — its physical " +
          "form is the directory layout; rewrite the table instead")
      for ((n, e) <- s.constraints if mentionsColumn(e, from))
        throw new IllegalArgumentException(
          s"renameColumn: CHECK constraint '$n' references '$from'; " +
            "drop the constraint first")
      require(!s.blooms.values.exists(_.contains(from)),
        s"renameColumn: a bloom index exists on '$from'; the sidecars " +
          "key it by name — drop the index (rewrite files or vacuum) " +
          "and re-create it under the new name")
      require(!s.generated.contains(from),
        s"renameColumn: '$from' is a generated column; drop the " +
          "generation declaration first")
      for ((g, e) <- s.generated if mentionsColumn(e, from))
        throw new IllegalArgumentException(
          s"renameColumn: generated column '$g' derives from '$from'; " +
            "drop the generation declaration first")
      // the physical slot does not move; also refuse if `to`'s physical
      // (= itself, were it added later) is tombstoned — harmless here,
      // but keeps the physical namespace unambiguous
      require(!s.dropped.exists(d => nrm(d) == nrm(to)),
        s"renameColumn: '$to' is a dropped column's physical name")
      val phys = physicalOf(s, from)
      s.copy(
        schema = Some(org.apache.spark.sql.types.StructType(
          schema.fields.map(f =>
            if (f.name == from) f.copy(name = to) else f))),
        // renaming BACK to the physical name is the identity — drop the
        // entry instead of recording `v -> v` (which would trip the
        // stage-time physical-slot guard and clutter every manifest)
        colMap = if (to == phys) s.colMap - from
          else s.colMap - from + (to -> phys))
    }

  /** DROP COLUMN without rewriting a byte: metadata-only — the column
    * leaves the schema and mapping, its physical name is TOMBSTONED
    * (re-adding the name is refused: committed files still hold the
    * old bytes, and a re-add would silently resurrect them — rewrite
    * the table to truly reclaim the name), and any bloom entries on
    * it are shed. Time travel before the drop still reads it. Checked
    * and applied against the snapshot the commit lands on.
    */
  def dropColumn(root: String, name: String,
      store: CommitStore = HardlinkCommitStore): Long =
    commit(root, latest(root, store).partitionCols, "schema", store) { s =>
      val schema = schemaOf(s, "dropColumn", root)
      require(schema.fieldNames.contains(name),
        s"dropColumn: no column '$name' " +
          s"(table has: ${schema.fieldNames.mkString(", ")})")
      require(!s.partitionCols.contains(name),
        s"dropColumn: '$name' is a partition column")
      require(schema.fields.length > s.partitionCols.length + 1,
        s"dropColumn: '$name' is the table's last data column")
      for ((n, e) <- s.constraints if mentionsColumn(e, name))
        throw new IllegalArgumentException(
          s"dropColumn: CHECK constraint '$n' references '$name'; " +
            "drop the constraint first")
      for ((g, e) <- s.generated
           if g != name && mentionsColumn(e, name))
        throw new IllegalArgumentException(
          s"dropColumn: generated column '$g' derives from '$name'; " +
            "drop the generation declaration first")
      s.copy(
        schema = Some(org.apache.spark.sql.types.StructType(
          schema.fields.filterNot(_.name == name))),
        colMap = s.colMap - name,
        dropped = s.dropped + physicalOf(s, name),
        blooms = s.blooms.map { case (f, cs) => f -> (cs - name) }
          .filter(_._2.nonEmpty),
        generated = s.generated - name)
    }

  /** Expectation-split ingest (the Delta-Live-Tables
    * `expect_or_drop` + quarantine pattern, against this table's
    * CHECK constraints): rows satisfying every constraint append to
    * the table; violating rows append to a QUARANTINE lake with a
    * `_violated` column naming the failed constraints — nothing is
    * refused, nothing is silently dropped, and the violation
    * evidence is queryable (triage, reprocess, alert thresholds).
    * [[append]]'s hard-refusal contract stays for tables where a bad
    * row must stop the pipeline; this is the keep-flowing form for
    * bulk ingest where a poisoned minority must not block the batch.
    *
    * One evaluation of the batch feeds both sides (pinned), each
    * side committing through the normal atomic path; with no
    * constraints the whole batch appends and the quarantine is
    * untouched. Returns (table version, good rows, quarantined
    * rows); the table version is the PRE-call version when every row
    * quarantined (no empty commits).
    */
  def appendExpect(batch: DataFrame, root: String,
      quarantineRoot: String, partitionCols: Seq[String] = Nil,
      filesPerPartition: Int = 1,
      store: CommitStore = HardlinkCommitStore): (Long, Long, Long) = {
    import org.apache.spark.sql.functions._
    val snapOpt = currentSnapshot(root, store)
    val checks = snapOpt.fold(Seq.empty[Violation])(violations(batch, _))
    if (checks.isEmpty) {
      // append() materializes absent generated columns itself
      val v = append(batch, root, partitionCols, filesPerPartition,
        store)
      return (v, -1L, 0L) // -1: not counted — no extra job was run
    }
    // one pinned evaluation serves both sides; each row's violation
    // list is computed once. A PROVIDED generated column that
    // contradicts its expression quarantines the row like any other
    // expectation failure.
    val tagged = applyGenerated(batch, snapOpt.get.generated)
      .withColumn("_violated", array_compact(array(checks.map(v =>
        when(v.cond, lit(v.tag))): _*))).localCheckpoint()
    val good = tagged.filter(size(col("_violated")) === 0)
      .drop("_violated")
    val bad = tagged.filter(size(col("_violated")) > 0)
    val nBad = bad.count()
    if (nBad > 0)
      append(bad, quarantineRoot, Nil, filesPerPartition, store)
    val nGood = tagged.count() - nBad
    val v =
      if (nGood > 0)
        // the good side provably satisfies the constraints — the
        // normal append's enforcement pass re-proves it cheaply on
        // the pinned frame
        append(good, root, partitionCols, filesPerPartition, store)
      else latest(root, store).version
    (v, nGood, nBad)
  }

  /** The one prepare→stage→commit body of the batch writers: the
    * batch is prepared against the current snapshot ([[prepareBatch]])
    * and staged NOW; the returned thunk commits it, replacing the
    * partitions `replaced` picks from the snapshot the commit lands on
    * (resolved inside the retry loop, so an overwrite that races a
    * concurrent upsert still clears the partition the racer added)
    * and recording `txn`.
    */
  private def stagedWrite(batch: DataFrame, root: String,
      partitionCols: Seq[String], filesPerPartition: Int,
      store: CommitStore, txn: Option[(String, Long)] = None)(
      replaced: (Snapshot, Staged) => Set[String]): () => Long = {
    val snap = currentSnapshot(root, store)
    val prepared = prepareBatch(batch, snap)
    val staged = stageFiles(prepared, root, partitionCols,
      filesPerPartition, colMap = snap.fold(Map.empty[String, String])(_.colMap))
    () => commit(root, partitionCols, store = store) { s =>
      s.swap(staged, touched = replaced(s, staged))
        .evolve(prepared.schema).copy(txns = s.txns ++ txn)
    }
  }

  /** Idempotent partition upsert with a single atomic commit point:
    * exactly the partitions present in `batch` are replaced. Returns
    * the committed version.
    */
  def upsertPartitions(batch: DataFrame, root: String,
      partitionCols: Seq[String], filesPerPartition: Int = 1,
      store: CommitStore = HardlinkCommitStore): Long =
    stagedWrite(batch, root, partitionCols, filesPerPartition, store)(
      (_, staged) => staged.keySet)()

  /** Append-only commit: new files JOIN the existing partitions (no
    * partition is replaced) — the shape for immutable event/audit
    * logs where every run adds rows and history must survive.
    */
  def append(batch: DataFrame, root: String,
      partitionCols: Seq[String] = Nil, filesPerPartition: Int = 1,
      store: CommitStore = HardlinkCommitStore,
      // exactly-once replay for streaming writers: record
      // (appId -> version) with the commit; pair with [[lastTxn]] to
      // skip an already-committed micro-batch on redelivery
      txn: Option[(String, Long)] = None): Long =
    stagedWrite(batch, root, partitionCols, filesPerPartition, store, txn)(
      (_, _) => Set.empty)()

  /** Highest transaction version writer `appId` has committed at
    * `root` (None before its first tagged commit, or before the table
    * exists). The read half of the exactly-once streaming contract:
    * a foreachBatch writer skips `batchId <= lastTxn(...)`.
    */
  def lastTxn(root: String, appId: String,
      store: CommitStore = HardlinkCommitStore): Option[Long] =
    currentSnapshot(root, store).flatMap(_.txns.get(appId))

  /** Replace the WHOLE table contents in one commit — including any
    * partition a concurrent writer commits while this overwrite is
    * staging (the replaced set is resolved inside the commit retry
    * loop, not from a pre-staging snapshot).
    */
  def overwrite(batch: DataFrame, root: String,
      partitionCols: Seq[String] = Nil, filesPerPartition: Int = 1,
      store: CommitStore = HardlinkCommitStore): Long =
    overwriteStaged(batch, root, partitionCols, filesPerPartition,
      store)()

  /** The staging half of [[overwrite]] split from its commit half
    * (r17, guide §2.6): runs the staging write NOW — the Spark job
    * that dominates a commit's wall clock — and returns a thunk that
    * publishes it. A caller building SEVERAL tables can overlap their
    * staging jobs from a small thread pool and still invoke the
    * commit thunks in its required crash-ordering sequence: staged
    * files carry commit-unique names no manifest references yet, so
    * a crash before a thunk runs leaves unreferenced data files
    * (the vacuum's job), never a torn or visible table. The commit
    * itself stays the one-CAS retry loop of [[overwrite]] — including
    * replacing partitions a concurrent writer lands mid-staging.
    */
  def overwriteStaged(batch: DataFrame, root: String,
      partitionCols: Seq[String] = Nil, filesPerPartition: Int = 1,
      store: CommitStore = HardlinkCommitStore): () => Long =
    stagedWrite(batch, root, partitionCols, filesPerPartition, store)(
      (s, _) => s.files.keySet)

  /** Read the newest committed snapshot. */
  def read(spark: SparkSession, root: String,
      store: CommitStore = HardlinkCommitStore): DataFrame =
    readSnapshot(spark, root, latest(root, store))

  /** Stats-pruned read: files whose manifest zone maps PROVE no row
    * can satisfy `filters` are dropped on the driver — no task, no
    * footer read, no object-store GET — and the conjunction of
    * `filters` is re-applied on the survivors, so the result is
    * always exactly `read(...).filter(filters)` regardless of how
    * much (or little) the stats could prune. Partition-directory
    * values prune the same way (equality AND ranges, typed through
    * the literal's domain). This is the manifest-level data skipping
    * a 100-TB table needs: Spark's parquet row-group pruning only
    * kicks in after opening every file's footer; here a one-month
    * predicate over years of commits plans only that month's files.
    * See [[LakeStats]] for the conservative evaluator's contract.
    */
  def scan(spark: SparkSession, root: String,
      store: CommitStore = HardlinkCommitStore)(
      filters: org.apache.spark.sql.Column*): DataFrame = {
    val snap = latest(root, store)
    if (filters.isEmpty) readSnapshot(spark, root, snap)
    else readPlanned(spark, root, snap,
      planFiles(root, snap, filters, Some(spark)), filters)
  }

  /** The one scan planner: the files of `snap` a read under `filters`
    * must open. Zone maps first ([[LakeStats.survivors]], driver-only);
    * then, given a session, bloom indexes drop the files an equality/IN
    * conjunct on an indexed column proves the key absent from (a
    * sidecar-sized job; only file names return — see
    * [[BloomIndex.prunable]]).
    */
  private[graft] def planFiles(root: String, snap: Snapshot,
      filters: Seq[Column],
      spark: Option[SparkSession] = None): Seq[String] = {
    val exprs = filters.map(
      org.apache.spark.sql.classic.GraftExprBridge.expression)
    val zone = LakeStats.survivors(snap, exprs)
    spark match {
      case Some(s) if snap.blooms.nonEmpty && zone.nonEmpty =>
        zone.filterNot(BloomIndex.prunable(s, root, snap, exprs, zone))
      case _ => zone
    }
  }

  /** The one pruned read: `files` of `snap` (planned by [[planFiles]])
    * with `filters` re-applied on top, so pruning only ever cuts cost.
    * When every file is pruned, a schema-correct empty frame (partition
    * columns included) without a single data file read.
    */
  private[graft] def readPlanned(spark: SparkSession, root: String,
      snap: Snapshot, files: Seq[String], filters: Seq[Column]): DataFrame = {
    val base =
      if (files.isEmpty) readSnapshot(spark, root, snap).limit(0)
      else readFileSubset(spark, root, files, snap)
    filters.foldLeft(base)(_.filter(_))
  }

  /** A row-level write's outcome: the committed version (the
    * pre-write version when nothing matched — no empty commit is ever
    * written), how many target rows were removed (deleted, or replaced
    * by their merge source row), and how many files were rewritten to
    * do it (0 for the merge-on-read writes: [[deleteWhereDV]] and
    * [[merge]]).
    */
  final case class Rewrite(version: Long, rowsChanged: Long,
      filesRewritten: Int)

  /** Resolve Spark's `_metadata.file_path` URIs back to the
    * snapshot's root-relative manifest paths. A collected path that
    * maps to no candidate is a protocol bug — fail loudly rather than
    * silently rewriting the wrong file set.
    */
  private def toRelative(abs: Seq[String], candidates: Seq[String],
      root: String): Seq[String] = {
    val byUri = candidates.map(f =>
      Paths.get(root).resolve(f).normalize().toUri.toString -> f).toMap
    abs.map { a =>
      // second lookup canonicalizes through Path (percent-encoding
      // differences); guarded — a non-file scheme must fall through
      // to the loud error, not an opaque FileSystemNotFound
      def canonical: Option[String] =
        scala.util.Try(
          Paths.get(new java.net.URI(a)).toUri.toString).toOption
      byUri.getOrElse(a,
        canonical.flatMap(byUri.get).getOrElse(
          throw new IllegalStateException(
            s"file $a is not among this snapshot's candidate files")))
    }
  }

  /** Re-derive-and-retry for row-level writes: a write that loses
    * to a concurrent compaction/rewrite/deletion vector of a file it
    * read aborts with ConcurrentModificationException — correct, but
    * the caller's remedy is always "re-run against the new snapshot",
    * so the row-level writes do it themselves (Delta's internal OCC
    * retry). Each attempt re-evaluates `op`, which re-reads the
    * snapshot and re-derives its matches from scratch; the loser's
    * staged files and sidecars become orphans (vacuum reclaims).
    * Bounded attempts: livelock under sustained compaction churn
    * surfaces the real conflict instead of spinning.
    */
  private def retryRewrite(op: => Rewrite): Rewrite = {
    var attempts = 0
    while (true) {
      attempts += 1
      try return op
      catch {
        case _: java.util.ConcurrentModificationException
            if attempts < 8 =>
          // linear backoff de-synchronizes racing writers before the
          // re-derivation
          Thread.sleep(25L * attempts)
      }
    }
    sys.error("unreachable")
  }

  /** What a copy-on-write rewrite swaps: the `dirty` files, the `rows`
    * staged in their place, and the target rows it changed.
    */
  private final case class Swap(dirty: Seq[String], changed: Long,
      rows: DataFrame)

  /** The one copy-on-write row rewrite: `find` derives the swap from a
    * fresh snapshot (None: nothing to change — NO commit, so retries
    * and scheduled sweeps are free), its rows are staged, Spark's
    * zero-row placeholder is dropped (a rewrite that empties every row
    * would otherwise keep a dead manifest line and footer read), and
    * ONE commit swaps the dirty files for the staged ones. A
    * concurrent compaction or rewrite that already replaced a dirty
    * file, or changed its deletion vector, aborts the commit instead
    * of resurrecting rows, and [[retryRewrite]] re-derives.
    */
  private def rewrite(root: String, store: CommitStore,
      filesPerPartition: Int, kind: String = "write")(
      find: Snapshot => Option[Swap]): Rewrite =
    retryRewrite {
      val snap = latest(root, store)
      find(snap).fold(Rewrite(snap.version, 0L, 0)) { sw =>
        val staged = stageFiles(sw.rows, root, snap.partitionCols,
          filesPerPartition, colMap = snap.colMap)
        val empties = staged.stats.collect {
          case (f, st) if st.rows == 0L => f
        }.toSet
        empties.foreach(f =>
          Files.deleteIfExists(Paths.get(root).resolve(f)))
        val kept = staged.copy(files = staged.files.map { case (p, fs) =>
          p -> fs.filterNot(empties)
        }.filter(_._2.nonEmpty))
        val removed = sw.dirty.toSet
        val v = commit(root, snap.partitionCols, kind, store,
            expectedBase = Some(snap), removeFiles = removed)(
          _.swap(kept, removed = removed))
        Rewrite(v, sw.changed, sw.dirty.size)
      }
    }

  /** The dirty-file tally: which of `candidates` hold a row `matching`
    * keeps, and how many such rows — one pass over the candidates
    * tagged with `_metadata.file_path`; the per-file tally is
    * file-count-sized driver data, never row data.
    */
  private def dirtyFiles(spark: SparkSession, root: String,
      snap: Snapshot, candidates: Seq[String])(
      matching: DataFrame => DataFrame): (Seq[String], Long) =
    if (candidates.isEmpty) (Nil, 0L)
    else {
      import org.apache.spark.sql.functions.{col, count, lit}
      val perFile = matching(
          readFileSubsetTagged(spark, root, candidates, snap))
        .groupBy(col("_graft_file"))
        .agg(count(lit(1)).as("n"))
        .collect()
      (toRelative(perFile.map(_.getString(0)).toSeq, candidates, root),
        perFile.map(_.getLong(1)).sum)
    }

  /** Row-level DELETE with copy-on-write file rewrites — the half of
    * the Delta/Iceberg `DELETE FROM` contract this lake's partition
    * model couldn't express. Three bounded steps:
    *
    *  1. Manifest zone-maps scope the work: only files whose stats
    *     say they MAY hold a matching row are read at all
    *     ([[LakeStats.survivors]]) — a predicate on one month of a
    *     100-TB table plans that month's files, driver-side.
    *  2. One pass over the candidates ([[dirtyFiles]]) finds the files
    *     that ACTUALLY contain matching rows and the matched-row
    *     count; clean candidates keep their manifest lines untouched —
    *     write amplification is bounded by dirty files, not candidate
    *     files.
    *  3. Dirty files alone are re-read, their surviving rows (NOT
    *     matching, including predicate-null rows — SQL DELETE
    *     semantics) rewritten, and ONE commit atomically swaps
    *     removed-for-rewritten ([[rewrite]]); time travel and CDC see
    *     the swap as a normal write commit (old images delete,
    *     survivors insert).
    *
    * No matching rows → NO commit (returns the current version with
    * rowsChanged = 0).
    */
  def deleteWhere(spark: SparkSession, root: String,
      filesPerPartition: Int = 1,
      store: CommitStore = HardlinkCommitStore)(
      predicate: Column): Rewrite =
    rewrite(root, store, filesPerPartition) { snap =>
      import org.apache.spark.sql.functions.{coalesce, lit}
      val (dirty, matched) = dirtyFiles(spark, root, snap,
        planFiles(root, snap, Seq(predicate)))(_.filter(predicate))
      if (dirty.isEmpty) None
      else Some(Swap(dirty, matched,
        readFileSubset(spark, root, dirty, snap)
          .filter(!coalesce(predicate, lit(false)))))
    }

  /** The one matched-positions pass: the row positions, per file
    * (manifest path -> positions), of the `candidates` rows that
    * `matching` keeps — ONE scan collected to the driver (matched-row-
    * count-sized, the memory bound every deletion vector read already
    * has), its `_metadata` URIs translated back to manifest paths
    * driver-side ([[toRelative]]). The scan is DV-aware, so rows an
    * earlier vector deleted never match again and a file's chain of
    * sidecars stays disjoint (`DvRef.n` is exact).
    */
  private def matchedPositions(spark: SparkSession, root: String,
      snap: Snapshot, candidates: Seq[String])(
      matching: DataFrame => DataFrame): Map[String, Array[Long]] =
    if (candidates.isEmpty) Map.empty
    else {
      val byUri = matching(readFileSubsetPos(spark, root, candidates, snap))
        .select("_graft_file", "_graft_pos").collect()
        .groupMap(_.getString(0))(_.getLong(1))
      val uris = byUri.keys.toSeq
      toRelative(uris, candidates, root).zip(uris).map { case (f, u) =>
        f -> byUri(u)
      }.toMap
    }

  /** Write `positions` (manifest path -> newly deleted positions) as
    * ONE sidecar from the driver and return the snapshot edit that
    * chains it onto each of those files' deletion vectors.
    */
  private def deletionEdit(spark: SparkSession, root: String,
      positions: Map[String, Array[Long]]): Snapshot => Snapshot = {
    val dvRel = writeDv(root, positions,
      spark.sparkContext.hadoopConfiguration)
    s => s.copy(dvs = s.dvs ++ positions.map { case (f, ps) =>
      f -> s.dvs.get(f).fold(DvRef(Seq(dvRel), ps.length.toLong))(old =>
        DvRef(old.paths :+ dvRel, old.n + ps.length))
    })
  }

  /** Row-level DELETE as a deletion-vector (merge-on-read) commit —
    * the Delta/Iceberg "deletion vectors" mode: instead of rewriting
    * every file holding a matching row ([[deleteWhere]]'s
    * copy-on-write), ONE position sidecar records the matched
    * (file, row-position) pairs and the commit attaches it to the
    * touched files' manifest lines. No data file is rewritten — a
    * delete of 100 rows spread over 100 large files costs one small
    * sidecar write instead of 100 file rewrites — and every read path
    * (read/scan/time travel/SQL relation/CDC sides) drops the listed
    * positions via [[readFileSubset]].
    *
    * One Spark job: the matched-positions pass ([[matchedPositions]])
    * over the zone-map candidates; the tally, the sidecar write and
    * the commit run on the driver. Repeated deletes extend the chain;
    * read cost grows with total deleted positions, so the steady
    * state wants [[purgeDeletes]] (materialize + drop) once vectors
    * accumulate — write amplification moves to the MAINTENANCE job,
    * exactly Delta's DV contract.
    *
    * Concurrency: the commit verifies (against the snapshot the
    * positions were derived from) that no touched file was replaced
    * AND no touched file's dv changed — either aborts with
    * ConcurrentModificationException and the bounded retry re-derives.
    * No matching rows → NO commit.
    */
  def deleteWhereDV(spark: SparkSession, root: String,
      store: CommitStore = HardlinkCommitStore)(
      predicate: Column): Rewrite =
    retryRewrite {
      val snap = latest(root, store)
      val matched = matchedPositions(spark, root, snap,
        planFiles(root, snap, Seq(predicate)))(_.filter(predicate))
      if (matched.isEmpty) Rewrite(snap.version, 0L, 0)
      else Rewrite(
        commit(root, snap.partitionCols, "dv", store,
          expectedBase = Some(snap), dvFiles = matched.keySet)(
          deletionEdit(spark, root, matched)),
        matched.valuesIterator.map(_.length.toLong).sum, 0)
    }

  /** Materialize every deletion vector: files carrying a dv are
    * rewritten WITHOUT their deleted rows (one dv-aware read of
    * exactly those files) and swapped in one atomic `kind=compact`
    * commit — no logical change, so streams and CDC consumers skip it
    * — shedding the whole dv chain. The maintenance half of the DV
    * contract: deletes are O(positions) at write time, this is where
    * the rewrite cost is actually paid, batched and backlog-
    * proportional (only dv'd files rewrite). Orphaned sidecars age
    * out through [[vacuum]]. No deletion vectors → no commit.
    */
  def purgeDeletes(spark: SparkSession, root: String,
      filesPerPartition: Int = 1,
      store: CommitStore = HardlinkCommitStore): Rewrite =
    rewrite(root, store, filesPerPartition, kind = "compact") { snap =>
      val dvd = snap.dvs.keys.toSeq.sorted
      if (dvd.isEmpty) None
      else Some(Swap(dvd, snap.dvs.values.map(_.n).sum,
        readFileSubset(spark, root, dvd, snap)))
    }

  /** Row-level UPDATE (Delta's `UPDATE … SET … WHERE`) as a
    * copy-on-write rewrite with [[deleteWhere]]'s exact work scoping:
    * zone maps cut candidate files, one tagged pass finds the files
    * actually holding matches, ONLY those rewrite — each matched row
    * replaced by its assigned image (every expression cast to the
    * column's existing type: UPDATE never evolves the schema),
    * unmatched and predicate-null rows byte-identical in content —
    * and one atomic file-level swap commits. Updating a PARTITION
    * column moves rows between partitions (the rewrite stages under
    * the new value's directory). DV interaction: the rewrite reads
    * DV-aware, so deleted rows neither match nor resurrect, and the
    * rewritten files shed their vectors with their old lines.
    */
  def updateWhere(spark: SparkSession, root: String,
      assignments: Seq[(String, Column)], filesPerPartition: Int = 1,
      store: CommitStore = HardlinkCommitStore)(
      predicate: Column): Rewrite = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(assignments.nonEmpty, "updateWhere: no SET assignments")
    val byName = assignments.toMap
    require(byName.size == assignments.size,
      "updateWhere: duplicate SET column")
    rewrite(root, store, filesPerPartition) { snap =>
      snap.schema.foreach { sch =>
        val unknown = byName.keySet -- sch.fieldNames.toSet
        require(unknown.isEmpty,
          s"updateWhere: SET of unknown column(s) ${unknown.mkString(", ")}")
      }
      val (dirty, matched) = dirtyFiles(spark, root, snap,
        planFiles(root, snap, Seq(predicate)))(_.filter(predicate))
      if (dirty.isEmpty) None
      else {
        val base = readFileSubset(spark, root, dirty, snap)
        Some(Swap(dirty, matched, base.select(base.schema.fields.map { f =>
          byName.get(f.name) match {
            case Some(e) =>
              when(coalesce(predicate, lit(false)),
                e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }.toSeq: _*)))
      }
    }
  }

  /** Keyed MERGE (upsert): WHEN MATCHED UPDATE SET * / WHEN NOT
    * MATCHED INSERT * — the Delta `MERGE INTO` core, merge-on-read: the
    * target rows whose key appears in `source` are deleted through a
    * deletion vector and every source row stages as new files, both
    * in ONE commit. No data file is rewritten; every other target row
    * and every file without a matched key keeps its manifest line.
    * [[compact]] and [[purgeDeletes]] pay the rewrite later, batched.
    *
    * Work scoping, in at most four Spark jobs: the source is pinned
    * once and one small aggregate over it computes the row count, the
    * duplicate-key check, the per-key [min, max] bounds and the CHECK
    * validation; zone maps prune the files whose key range cannot
    * overlap those bounds; one matched-positions pass (a key semi-join
    * over the surviving candidates, [[matchedPositions]]) finds the
    * rows to delete; the source stages. A month-keyed merge into a
    * 100-TB table reads that month's files and writes one sidecar plus
    * the source's own rows.
    *
    * Contract: source keys must be unique (refused loudly otherwise —
    * delete-then-insert would silently insert both copies where
    * Delta errors at match time); null source keys never match
    * (SQL join semantics) and insert as new rows. Source rows must
    * carry the table's partition columns; a matched key may move
    * partitions. Schema evolution applies: a source with a new column
    * evolves the table exactly like an upsert; older rows read null
    * for it. The commit aborts (and the bounded retry re-derives) when
    * a concurrent commit changed a partition the merge read or stages
    * into, or the deletion vector of a file it matched in.
    */
  def merge(spark: SparkSession, root: String, source: DataFrame,
      keyCols: Seq[String], filesPerPartition: Int = 1,
      store: CommitStore = HardlinkCommitStore): Rewrite = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "merge needs at least one key column")
    retryRewrite {
      val snap = latest(root, store)
      val missing = snap.partitionCols.filterNot(p =>
        source.columns.exists(_.equalsIgnoreCase(p)))
      require(missing.isEmpty,
        s"merge source must carry the partition columns; missing: $missing")
      // LAZY checkpoint: the bounds job below is the first action, so
      // ONE job materializes the pinned source AND computes the
      // bounds/dup/constraint aggregates (an eager checkpoint paid a
      // separate materialization job first — pure scheduling floor).
      // Generated columns materialize first (the source is the only NEW
      // rows a merge introduces); provided ones validate in the same
      // bounds aggregation below.
      val checks = violations(source, snap)
      val src = applyGenerated(source, snap.generated)
        .localCheckpoint(eager = false)
      // one job: row count, duplicate-key check, per-key bounds, AND
      // the CHECK-constraint validation (the source rows are the only
      // NEW rows a merge introduces). The dup check covers only
      // fully-keyed rows: a row with ANY null key field can never match
      // a target row (SQL join semantics), so two of them are two
      // legitimate inserts, not a duplicate key.
      val fullyKeyed = keyCols.map(col(_).isNotNull).reduce(_ && _)
      val boundsAggs = count(lit(1)).as("n") +:
        count(when(fullyKeyed, lit(1))).as("n_keyed") +:
        count_distinct(when(fullyKeyed, struct(keyCols.map(col): _*)))
          .as("nk") +:
        (keyCols.flatMap(k =>
          Seq(min(col(k)).as(s"min_$k"), max(col(k)).as(s"max_$k"))) ++
          violationCounts(checks))
      // AQE off ([[AqeScope]]): a one-row aggregate has no partitions
      // to coalesce, and AQE would run each of its shuffle stages (the
      // distinct-key count takes two) as a Spark job of its own
      val b = AqeScope(spark)(
        src.agg(boundsAggs.head, boundsAggs.tail: _*).head())
      if (b.getLong(0) == 0L) Rewrite(snap.version, 0L, 0)
      else {
        refuseViolations(checks, b)
        require(b.getLong(2) == b.getLong(1),
          s"merge source has duplicate keys (${b.getLong(1) - b.getLong(2)} " +
            "extra rows): delete-then-insert would insert both copies — " +
            "dedup the source first")
        // zone-map candidate cut: key ∈ [source min, source max] per key
        // column; a bound Spark can't express as a literal (null — an
        // all-null key column — or an exotic type) contributes no
        // filter, which is merely conservative
        val bounds = keyCols.flatMap { k =>
          val (lo, hi) = (b.getAs[Any](s"min_$k"), b.getAs[Any](s"max_$k"))
          if (lo == null || hi == null) None
          else scala.util.Try(
            col(k) >= lit(lo) && col(k) <= lit(hi)).toOption
        }
        val candidates = planFiles(root, snap, bounds)
        // the staging write needs only the pinned source, so it runs on
        // its own thread beside the matched-positions pass: the two
        // jobs' dispatch floors overlap. A per-call thread inherits the
        // caller's Spark local properties (job group, execution id).
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val stager = java.util.concurrent.Executors.newSingleThreadExecutor()
        val staging = Future(stageFiles(src, root, snap.partitionCols,
          filesPerPartition, colMap = snap.colMap))(
          ExecutionContext.fromExecutor(stager))
        stager.shutdown()
        // no distinct: the dup check above PROVED fully-keyed source
        // keys unique, and null-keyed rows match nothing in the join
        val matched =
          try matchedPositions(spark, root, snap, candidates)(
            _.join(src.select(keyCols.map(col): _*), keyCols, "left_semi"))
          finally Await.ready(staging, Duration.Inf)
        val staged = Await.result(staging, Duration.Inf)
        val delete =
          if (matched.isEmpty) identity[Snapshot] _
          else deletionEdit(spark, root, matched)
        val read = candidates.toSet
        val v = commit(root, snap.partitionCols, store = store,
            expectedBase = Some(snap), dvFiles = matched.keySet,
            touched = snap.files.collect {
              case (p, fs) if fs.exists(read) => p
            }.toSet ++ staged.keySet)(s =>
          delete(s.swap(staged)).evolve(src.schema))
        Rewrite(v, matched.valuesIterator.map(_.length.toLong).sum, 0)
      }
    }
  }

  /** Time travel: read the table exactly as of `version` — including
    * its schema: a version committed before a column existed reads
    * WITHOUT that column.
    */
  def readVersion(spark: SparkSession, root: String, version: Long,
      store: CommitStore = HardlinkCommitStore): DataFrame =
    readSnapshot(spark, root, readManifest(root, version, store))

  /** The newest version committed AT OR BEFORE `timestamp` (epoch
    * millis) — Delta's TIMESTAMP AS OF resolution against the
    * manifest `ts=` headers. Versions predating the header count as
    * "unknown time" and are only chosen when no stamped version
    * qualifies but an unstamped one exists below a stamped
    * disqualified one — i.e. they are treated as older than every
    * stamped commit (true by construction: the header shipped after
    * them). Errors if the earliest commit is younger than
    * `timestamp`.
    */
  def versionAt(root: String, timestamp: Long,
      store: CommitStore = HardlinkCommitStore): Long = {
    val versions = store.listVersions(root).sorted
    if (versions.isEmpty)
      throw new IllegalStateException(s"no commits at $root")
    val qualifying = versions.takeWhile { v =>
      readManifest(root, v, store).ts.forall(_ <= timestamp)
    }
    if (qualifying.isEmpty)
      throw new IllegalArgumentException(
        s"no commit at $root is as old as $timestamp " +
          "(earliest is younger)")
    qualifying.max
  }

  /** Rows `s` holds, from the manifest alone: zone-map rows minus
    * deletion-vector counts (DvRef.n counts distinct positions — the
    * dv-aware match can never double-delete). None when any file
    * predates zone-map harvesting.
    */
  private def liveRows(s: Snapshot): Option[Long] = {
    val files = s.allFiles
    if (files.forall(s.stats.contains))
      Some(files.map(s.stats(_).rows).sum - s.dvs.values.map(_.n).sum)
    else None
  }

  /** DESCRIBE HISTORY: every committed version with its kind, file
    * count, and live rows ([[liveRows]]) — manifest-only, newest
    * first, no Spark job. The audit surface time travel, restore, and
    * vacuum retention decisions read.
    */
  def history(root: String,
      store: CommitStore = HardlinkCommitStore)
      : Seq[(Long, String, Int, Option[Long])] =
    store.listVersions(root).sorted.reverse.map { v =>
      val s = readManifest(root, v, store)
      (v, s.kind, s.allFiles.size, liveRows(s))
    }

  /** SHOW PARTITIONS, manifest-only: per-partition file count, rows
    * and bytes from the stats (0 where any file predates harvesting),
    * sorted by partition dir.
    */
  def partitions(root: String,
      store: CommitStore = HardlinkCommitStore)
      : Seq[(String, Int, Long, Long)] = {
    val snap = latest(root, store)
    snap.files.toSeq.sortBy(_._1).map { case (part, fs) =>
      val sts = fs.flatMap(snap.stats.get)
      (part, fs.size,
        if (sts.size == fs.size) sts.map(_.rows).sum else 0L,
        if (sts.size == fs.size) sts.map(_.bytes).sum else 0L)
    }
  }

  /** DESCRIBE DETAIL, manifest-only: (version, file count, total
    * bytes from stats, partition columns, constraint names).
    */
  def detail(root: String,
      store: CommitStore = HardlinkCommitStore)
      : (Long, Int, Long, Seq[String], Seq[String]) = {
    val snap = latest(root, store)
    val files = snap.allFiles
    (snap.version, files.size,
      files.flatMap(snap.stats.get).map(_.bytes).sum,
      snap.partitionCols, snap.constraints.keys.toSeq.sorted)
  }

  /** Data-skipping observability: how many of the snapshot's files a
    * [[scan]] under `filters` would plan, out of the total —
    * manifest-only, nothing is read. The ops-side answer to "is my
    * layout making the stats selective?" (see [[cluster]]).
    */
  def scanInfo(root: String,
      store: CommitStore = HardlinkCommitStore)(
      filters: Column*): (Int, Int) = {
    val snap = latest(root, store)
    (planFiles(root, snap, filters).size, snap.allFiles.size)
  }

  /** [[scanInfo]] including bloom-index pruning — needs a session for
    * the sidecar probe job, so it is a separate overload: the
    * zone-map-only form stays O(manifest) with zero jobs.
    */
  def scanInfo(spark: SparkSession, root: String,
      store: CommitStore)(filters: Column*): (Int, Int) = {
    val snap = latest(root, store)
    (planFiles(root, snap, filters, Some(spark)).size, snap.allFiles.size)
  }

  /** O(manifest) row count ([[liveRows]]) — the instant `SELECT
    * count(*)` a 100-TB table answers without a single task, when
    * every current file carries stats (None otherwise: the caller
    * falls back to a real count).
    */
  def rowCount(root: String,
      store: CommitStore = HardlinkCommitStore): Option[Long] =
    liveRows(latest(root, store))

  /** RESTORE: roll the table back to exactly `toVersion`'s state as a
    * NEW commit (Delta's RESTORE TABLE ... VERSION AS OF) — metadata
    * only: the new manifest references the old version's files and
    * stats verbatim, no data moves. History is preserved (the undone
    * versions stay time-travelable until vacuum), CDC sees the
    * restore as a normal diff (files the rollback removes/re-adds),
    * and concurrent writers are handled by the usual commit retry.
    * The target version's SCHEMA is restored as-is (a column added
    * after it is shed, not merged back in); CHECK constraints are the
    * one piece of CURRENT state that is kept — they are guards on
    * future writes, and the restored rows are not re-validated
    * against them (the same posture as Delta). Returns the committed
    * version.
    */
  def restore(root: String, toVersion: Long,
      store: CommitStore = HardlinkCommitStore): Long = {
    val target = readManifest(root, toVersion, store)
    // files, schema, deletion vectors, bloom refs (an index built after
    // toVersion must not claim to bound rows a rollback resurrects),
    // column mapping, tombstones and generated columns all roll back;
    // constraints and txn watermarks stay current
    commit(root, target.partitionCols, "restore", store)(s =>
      target.copy(stats = s.stats ++ target.stats,
        constraints = s.constraints, txns = s.txns))
  }

  /** SHALLOW CLONE (Delta's CLONE ... SHALLOW): commit a manifest at
    * `dstRoot` that references `srcRoot`'s current files by ABSOLUTE
    * path — zero data copied, O(manifest) time regardless of table
    * size. The clone is immediately a first-class lake: reads resolve
    * the referenced files (per-data-plane basePath groups), zone-map
    * stats carry over so pruned scans prune identically, and every
    * mutation — upsert, append, deleteWhere, merge, compact — writes
    * INTO THE CLONE's own data and dv dirs: the source is never
    * touched, which is exactly the dev/test-sandbox workflow (mutate
    * a 100-TB table's clone without copying 100 TB; compaction
    * incidentally materializes the partitions it rewrites).
    *
    * The one caveat is Delta's own: `vacuum` on the SOURCE doesn't
    * know about clones — if it expires a version whose files a clone
    * still references, the clone's reads break. Vacuum on the CLONE
    * is always safe (it only deletes under the clone's own data dir).
    * Source and destination ride the same store type; `dstRoot` must
    * have no commits yet.
    */
  def clone(srcRoot: String, dstRoot: String,
      store: CommitStore = HardlinkCommitStore): Long = {
    val snap = latest(srcRoot, store)
    def abs(p: String) = Paths.get(srcRoot).resolve(p).normalize().toString
    commit(dstRoot, snap.partitionCols, "clone", store) { s =>
      require(s.version == 0L,
        s"clone destination $dstRoot already has commits")
      // the clone IS the table, contract included: schema, CHECK
      // constraints (Delta CLONE copies table properties the same way),
      // column mapping (name-to-name: carried verbatim), tombstones and
      // generated columns. Files, zone maps, deletion vectors and bloom
      // refs key by ABSOLUTE path; dv and bloom sidecars resolve into
      // the source lake (zero-copy, like the data files). dvPositions'
      // and the bloom probe's translations still match source-written
      // sidecar content (stored source-relative) via the derived-
      // relative form.
      snap.copy(
        files = snap.files.map { case (part, fs) => part -> fs.map(abs) },
        stats = snap.stats.map { case (f, st) => abs(f) -> st },
        dvs = snap.dvs.map { case (f, dv) =>
          abs(f) -> DvRef(dv.paths.map(abs), dv.n) },
        blooms = snap.blooms.map { case (f, cs) =>
          abs(f) -> cs.map { case (c, r) => c -> BloomIndex.Ref(abs(r.path)) } },
        txns = Map.empty)
    }
  }

  /** File-level diff between two committed versions: (added files,
    * removed files, from-snapshot, to-snapshot) with paths relative
    * to the lake root. Manifest-only — no Spark job — which makes it
    * the cheap pre-flight for CDC consumers (e.g. the streaming
    * source checks `removed.isEmpty` before planning a batch).
    */
  def fileDiff(root: String, fromVersion: Long, toVersion: Long,
      store: CommitStore = HardlinkCommitStore)
      : (Seq[String], Seq[String], Snapshot, Snapshot) = {
    require(fromVersion <= toVersion,
      s"fileDiff: fromVersion $fromVersion > toVersion $toVersion")
    val from = readManifest(root, fromVersion, store)
    val to = readManifest(root, toVersion, store)
    val ff = from.allFiles.toSet
    val tf = to.allFiles.toSet
    ((tf -- ff).toSeq.sorted, (ff -- tf).toSeq.sorted, from, to)
  }

  /** The URI `_metadata.file_path` reports for manifest entry `f`:
    * the Hadoop path's URI, single-slash and percent-encoded ("a b" ->
    * "a%20b", "c%25d" -> "c%2525d"), where java.nio's `toUri` says
    * "file:///x/y".
    */
  private def metaUri(root: String, f: String): String =
    new org.apache.hadoop.fs.Path("file", null,
      Paths.get(root).resolve(f).normalize().toString).toUri.toString

  /** The data-plane base a manifest file entry reads under: local
    * (relative) entries live under THIS root's `data/`; absolute
    * entries — shallow-clone references into another lake — under
    * THAT lake's `data/`. Spark's partition-dir column recovery needs
    * the matching basePath per group.
    */
  private def baseOf(root: String, f: String): String =
    if (!Paths.get(f).isAbsolute) dataDir(root).toString
    else {
      val i = f.lastIndexOf("/data/")
      require(i >= 0, s"external lake file without a data dir: $f")
      f.substring(0, i + "/data".length)
    }

  /** Read a subset of a snapshot's files under that snapshot's
    * schema (partition dirs stay real columns). Files are read in
    * per-data-plane groups (a shallow clone mixes its own files with
    * absolute references into its source) so each group gets the
    * basePath its partition directories resolve against.
    */
  private[graft] def readFileSubset(spark: SparkSession, root: String,
      files: Seq[String], snap: Snapshot): DataFrame =
    readSubset(spark, root, files, snap, keep = Nil)

  /** [[readFileSubset]] with each row tagged by its file's path in a
    * `_graft_file` column.
    */
  private def readFileSubsetTagged(spark: SparkSession, root: String,
      files: Seq[String], snap: Snapshot): DataFrame =
    readSubset(spark, root, files, snap, keep = Seq("_graft_file"))

  /** [[readFileSubsetTagged]] plus each row's in-file position as
    * `_graft_pos` (deletion-vector writes address rows by it).
    */
  private def readFileSubsetPos(spark: SparkSession, root: String,
      files: Seq[String], snap: Snapshot): DataFrame =
    readSubset(spark, root, files, snap,
      keep = Seq("_graft_file", "_graft_pos"))

  /** The one physical read: per-data-plane parquet groups under the
    * snapshot's schema, deletion vectors applied (files with a vector
    * lose their deleted positions through a predicate over each row's
    * file and position, the positions read on the driver by
    * [[dvPositions]] — no join, no job; files without one are read
    * plain), then the helper columns not in `keep` dropped. The
    * metadata column must be materialized PER GROUP: `_metadata` does
    * not resolve above the union a mixed-data-plane (shallow-clone)
    * read produces.
    */
  private def readSubset(spark: SparkSession, root: String,
      files: Seq[String], snap: Snapshot, keep: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val deleted = dvPositions(spark, root, files, snap)
    val (dvd, plain) = files.sorted.partition(deleted.contains)
    def grouped(fs: Seq[String], meta: Boolean): DataFrame = {
      val groups = fs.groupBy(baseOf(root, _))
      // column mapping: files store PHYSICAL names — read under the
      // physical form of the snapshot schema, then alias back to
      // logical so every consumer sees the logical table
      val physSchema = snap.schema.map(s =>
        org.apache.spark.sql.types.StructType(s.fields.map(f =>
          f.copy(name = physicalOf(snap, f.name)))))
      groups.toSeq.sortBy(_._1).map { case (base, gfs) =>
        val paths = gfs.map(f => Paths.get(root).resolve(f).toString)
        val reader = spark.read.option("basePath", base)
        val df0 = physSchema.fold(reader)(reader.schema(_))
          .parquet(paths: _*)
        val df = snap.colMap.foldLeft(df0) { case (d, (l, p)) =>
          if (d.columns.contains(p)) d.withColumnRenamed(p, l) else d
        }
        if (meta)
          df.withColumn("_graft_file", col("_metadata.file_path"))
            .withColumn("_graft_pos", col("_metadata.row_index"))
        else df
      }.reduce(_.unionByName(_))
    }
    def trim(df: DataFrame): DataFrame =
      Seq("_graft_file", "_graft_pos").diff(keep).foldLeft(df)(_.drop(_))
    val needMeta = keep.nonEmpty
    val plainDf =
      if (plain.isEmpty) None
      else Some(if (needMeta) trim(grouped(plain, meta = true))
        else grouped(plain, meta = false))
    val dvDf =
      if (dvd.isEmpty) None
      else Some(trim(grouped(dvd, meta = true)
        .filter(!atPositions(root, deleted))))
    (plainDf, dvDf) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => throw new IllegalArgumentException(
        "readFileSubset: empty file list")
    }
  }

  /** Rows of a `_graft_file`/`_graft_pos`-tagged frame at `positions`
    * (manifest path -> row positions in that file).
    */
  private def atPositions(root: String,
      positions: Map[String, Array[Long]]): Column = {
    import org.apache.spark.sql.functions.col
    graft.expressions.AtPositions.column(col("_graft_file"),
      col("_graft_pos"),
      positions.map { case (f, ps) => metaUri(root, f) -> ps })
  }

  /** The deletion-vector sidecar layout: one (file, pos) row per deleted
    * row — the data file's manifest key and the row's position in it —
    * in `dv/dv-<uuid>/part-*.parquet`. [[writeDv]] writes it and
    * [[readDv]] reads it, both on the driver.
    */
  private val dvSchema = org.apache.parquet.schema.MessageTypeParser
    .parseMessageType("message spark_schema { " +
      "optional binary file (STRING); optional int64 pos; }")

  /** Write `positions` (manifest key -> positions) as one new sidecar;
    * returns its lake-relative dir. Unreferenced until a commit names
    * it, so a crash mid-write leaves an orphan [[vacuum]] reclaims.
    * Written through java.nio like the rest of the data plane's file
    * moves: Hadoop's local-filesystem create costs ~12 ms a file.
    */
  private def writeDv(root: String, positions: Map[String, Array[Long]],
      conf: org.apache.hadoop.conf.Configuration): String = {
    val dvRel = s"dv/dv-${UUID.randomUUID()}"
    val dir = Files.createDirectories(Paths.get(root, dvRel))
    val out = new org.apache.parquet.io.LocalOutputFile(
      dir.resolve("part-00000.parquet"))
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(out).withType(dvSchema).withConf(conf).build()
    val rows =
      new org.apache.parquet.example.data.simple.SimpleGroupFactory(dvSchema)
    try for ((f, ps) <- positions.toSeq.sortBy(_._1); p <- ps.sorted)
      w.write(rows.newGroup().append("file", f).append("pos", p))
    finally w.close()
    dvRel
  }

  /** One sidecar's positions, grouped by manifest key. */
  private def readDv(root: String, dvRel: String,
      conf: org.apache.hadoop.conf.Configuration)
      : Map[String, Array[Long]] = {
    val dir = Paths.get(root).resolve(dvRel)
    val parts = {
      val l = Files.list(dir)
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith(".") &&
          !n.startsWith("_")).toSeq.sorted
      finally l.close()
    }
    val rows = Seq.newBuilder[(String, Long)]
    for (part <- parts) {
      val r = LakeStats.openParquet(conf,
        new org.apache.hadoop.fs.Path(dir.resolve(part).toString))
      try {
        val schema = r.getFooter.getFileMetaData.getSchema
        val io = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(schema)
        Iterator.continually(r.readNextRowGroup()).takeWhile(_ != null)
          .foreach { rg =>
            val rec = io.getRecordReader(rg, new org.apache.parquet.example
              .data.simple.convert.GroupRecordConverter(schema))
            for (_ <- 0L until rg.getRowCount) {
              val g = rec.read()
              rows += g.getString("file", 0) -> g.getLong("pos", 0)
            }
          }
      } finally r.close()
    }
    rows.result().groupMap(_._1)(_._2).map { case (k, ps) => k -> ps.toArray }
  }

  /** Parsed deletion-vector sidecars by resolved path: a sidecar is
    * immutable and uuid-named, so a session parses each one once
    * instead of on every read of a dv'd file. Bounded by sidecar count.
    */
  private[graft] val dvMemo =
    new SessionMemo[String, Map[String, Array[Long]]](maxPerSession = 64)

  /** The deleted positions `snap`'s deletion vectors record for
    * `files` (manifest path -> positions; files without a vector are
    * absent), read in-process straight from the sidecars ([[dvMemo]])
    * — no Spark job. A sidecar keys each row by the WRITING lake's
    * manifest path, so a shallow clone's absolute entry also matches
    * its source-relative form (source-written sidecars keep those
    * keys).
    */
  private def dvPositions(spark: SparkSession, root: String,
      files: Seq[String], snap: Snapshot): Map[String, Array[Long]] = {
    val dvd = files.filter(snap.dvs.contains)
    val conf = spark.sparkContext.hadoopConfiguration
    val sidecars = dvd.flatMap(snap.dvs(_).paths).distinct.map { p =>
      val abs = Paths.get(root).resolve(p).normalize().toString
      p -> dvMemo.getOrElseUpdate(spark, abs)(readDv(root, p, conf))
    }.toMap
    dvd.map { f =>
      val keys =
        if (!Paths.get(f).isAbsolute) Seq(f)
        else {
          val i = f.lastIndexOf("/data/")
          Seq(f) ++ (if (i >= 0) Seq(f.substring(i + 1)) else Nil)
        }
      f -> snap.dvs(f).paths.flatMap(p => keys.flatMap(sidecars(p).get))
        .flatten.toArray
    }.toMap
  }

  /** The committed snapshot's metadata at a version (files, schema,
    * kind) — manifest-only, no Spark job.
    */
  def snapshotAt(root: String, version: Long,
      store: CommitStore = HardlinkCommitStore): Snapshot =
    readManifest(root, version, store)

  /** Incremental (CDC) read: the rows that changed between two
    * committed versions, as a snapshot diff of the manifests' file
    * lists ([[fileDiff]]) — `_change_type` is `insert` for rows in
    * files present in `toVersion` but not `fromVersion`, `delete` for
    * rows in files only `fromVersion` references. An append commit
    * therefore reads as pure inserts; a partition upsert as the old
    * image deleted + the new image inserted — exactly what a
    * downstream incremental materialization consumes
    * ([[graft.operators.Incremental]] merges the insert side; deletes
    * signal a partition recompute).
    *
    * Scale: only the CHANGED files are ever opened — consuming one
    * day's upsert on a 100-TB table scans that day's files, not the
    * table. Deletes are file-level (this lake replaces whole
    * partitions, never individual rows), so the diff is exact. A
    * compaction commit rewrites partitions without logical change;
    * a RANGE-level snapshot diff reports it as delete+insert of the
    * same rows (net-zero for additive consumers like
    * [[graft.operators.Incremental.applyChanges]], just wasted IO).
    * Consumers that must skip it walk per-commit and test
    * `snapshotAt(v).kind == "compact"` — exactly what the
    * graft-lake streaming source does.
    *
    * Each side reads with ITS OWN snapshot's schema (evolution-safe);
    * the union aligns by name with missing columns as nulls.
    */
  def readChanges(spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long,
      store: CommitStore = HardlinkCommitStore): DataFrame = {
    val (addedFiles, removedFiles, from, to) =
      fileDiff(root, fromVersion, toVersion, store)
    def side(files: Seq[String], snap: Snapshot, tag: String)
        : Option[DataFrame] =
      if (files.isEmpty) None
      else Some(readFileSubset(spark, root, files, snap)
        .withColumn("_change_type",
          org.apache.spark.sql.functions.lit(tag)))
    val inserted = side(addedFiles, to, "insert")
    val deleted = side(removedFiles, from, "delete")
    // deletion-vector diff: files PRESENT IN BOTH manifests whose dv
    // state changed carry row-level changes the file diff can't see.
    // Positions in to-but-not-from are delete images (a deleteWhereDV
    // or merge between the versions); from-but-not-to are re-inserts
    // (a restore that rolled a vector back). The position sets diff on
    // the driver; only files with a changed position are opened, each
    // side under the snapshot the rows are live in.
    val commonChanged = {
      val ff = from.files.values.flatten.toSet
      to.files.values.flatten.filter(f =>
        ff(f) && from.dvs.get(f) != to.dvs.get(f)).toSeq.sorted
    }
    val fromPos = dvPositions(spark, root, commonChanged, from)
    val toPos = dvPositions(spark, root, commonChanged, to)
    // the rows `dels` deletes and `base` does not, read under `snap`
    def dvSide(dels: Map[String, Array[Long]],
        base: Map[String, Array[Long]], snap: Snapshot,
        tag: String): Option[DataFrame] = {
      val diff = dels.map { case (f, ps) =>
        val old = base.getOrElse(f, Array.empty[Long]).toSet
        f -> ps.filterNot(old)
      }.filter(_._2.nonEmpty)
      if (diff.isEmpty) None
      else Some(readFileSubsetPos(spark, root, diff.keys.toSeq.sorted, snap)
        .filter(atPositions(root, diff))
        .drop("_graft_file", "_graft_pos")
        .withColumn("_change_type", org.apache.spark.sql.functions.lit(tag)))
    }
    val dvDeleted = dvSide(toPos, fromPos, from, "delete")
    val dvReinserted = dvSide(fromPos, toPos, to, "insert")
    val parts = Seq(inserted, deleted, dvDeleted, dvReinserted).flatten
    if (parts.isEmpty) // no file or dv changed between the versions
      readSnapshot(spark, root, to).limit(0)
        .withColumn("_change_type",
          org.apache.spark.sql.functions.lit(""))
    else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def readSnapshot(spark: SparkSession, root: String,
      snap: Snapshot): DataFrame = {
    val files = snap.allFiles
    if (files.isEmpty)
      // a legitimate state since row-level deletes: a deleteWhere
      // that removed every row commits a zero-file manifest — read
      // it as the schema-correct empty table (only pre-evolution
      // manifests, which can't record a schema, must refuse)
      return snap.schema.fold[DataFrame](
        throw new IllegalStateException(
          s"snapshot v${snap.version} at $root is empty and records " +
            "no schema"))(sch =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), sch))
    // basePath (per data-plane group — see readFileSubset) keeps the
    // k=v partition directories as real columns; the SNAPSHOT's
    // schema (when recorded) makes reads deterministic across
    // evolution: files missing a column yield nulls for it, instead
    // of depending on which files parquet merge sampled
    readFileSubset(spark, root, files, snap)
  }

  /** Compact fragmented partitions: rewrite every partition holding at
    * least `minFiles` files into `filesPerPartition`, in ONE atomic
    * commit — the maintenance job the streaming sink makes necessary
    * (each micro-batch commit adds a file per touched partition; at
    * 100 TB unbounded file counts kill scan planning and footer reads
    * long before data size does). Read-modify-write safety: the
    * commit carries the snapshot it compacted, and aborts with
    * ConcurrentModificationException if a concurrent upsert touched
    * one of the same partitions in between — stale data is never
    * resurrected, and the caller just re-runs. Returns the committed
    * version (or the current one when nothing is fragmented).
    */
  def compact(spark: SparkSession, root: String,
      filesPerPartition: Int = 1, minFiles: Int = 2,
      store: CommitStore = HardlinkCommitStore): Long = {
    val snap = latest(root, store)
    val targets = snap.files.filter(_._2.size >= minFiles).keys.toSet
    if (targets.isEmpty) return snap.version
    val files = snap.files.view.filterKeys(targets).values.flatten
      .toSeq.sorted
    // DV-aware + clone-safe read: deleted positions stay deleted in
    // the rewrite (dv refs die with the replaced lines), external
    // (cloned) files group under their own basePath
    val batch = readFileSubset(spark, root, files, snap)
    val staged = stageFiles(batch, root, snap.partitionCols,
      filesPerPartition, colMap = snap.colMap)
    val touched = targets ++ staged.keySet
    commit(root, snap.partitionCols, "compact", store, Some(snap),
      touched = touched)(_.swap(staged, touched).evolve(batch.schema))
  }

  /** Size-targeted compaction (Delta's OPTIMIZE bin-packing): rewrite
    * ONLY the files smaller than `smallBytes` — per partition, their
    * rows re-pack into ceil(totalBytes / targetBytes) files — and
    * leave every well-sized file's manifest line (and bytes)
    * untouched, via the same file-level commit the row rewrites use.
    * This is the steady-state maintenance for a streaming-ingested
    * 100-TB table: each micro-batch adds a small file per touched
    * partition, and periodic bin-packing folds ONLY that backlog —
    * where [[compact]]'s partition-level rewrite would re-copy the
    * accumulated large files every run, write amplification
    * proportional to table size instead of backlog size.
    *
    * Files with unknown size (pre-bytes manifests) are left alone
    * (conservative: never rewrite what we can't reason about — run
    * [[compact]] once to re-stat them). Packed files are NOT
    * re-clustered (their rows interleave the folded smalls — the
    * same posture as Delta's plain OPTIMIZE); run [[cluster]] when
    * the packed region must also prune tightly. Commits as `kind=compact`
    * (no logical change); a concurrent rewrite of a chosen file
    * aborts the commit. Returns the committed version (the current
    * one when nothing qualifies: no empty commits).
    */
  def compactSmall(spark: SparkSession, root: String,
      smallBytes: Long = 32L << 20, targetBytes: Long = 128L << 20,
      store: CommitStore = HardlinkCommitStore,
      // Delta's `OPTIMIZE … WHERE`: restrict the sweep to the
      // partitions whose DIRECTORY VALUES may satisfy the predicate
      // (driver-side, manifest-only — the same conservative
      // evaluator as the scan's partition pruning). A 100-TB table's
      // maintenance job touches yesterday's partition, not the world.
      where: Option[Column] = None): Long = {
    require(smallBytes > 0 && targetBytes >= smallBytes,
      s"need 0 < smallBytes <= targetBytes, got $smallBytes/$targetBytes")
    val snap = latest(root, store)
    val scoped = where match {
      case None => snap.files
      case Some(pred) =>
        val exprs = Seq(
          org.apache.spark.sql.classic.GraftExprBridge.expression(pred))
        snap.files.filter { case (dir, _) =>
          LakeStats.partitionMayMatch(dir, exprs)
        }
    }
    def sizeOf(f: String): Long = snap.stats.get(f).map(_.bytes)
      .getOrElse(0L)
    // per partition: the small files (≥2 — repacking ONE file buys
    // nothing) and their packed output count
    val perPart = scoped.toSeq.flatMap { case (part, fs) =>
      val small = fs.filter(f => sizeOf(f) > 0L && sizeOf(f) < smallBytes)
      if (small.size < 2) None
      else {
        val total = small.map(sizeOf).sum
        val outFiles = math.max(1L, (total + targetBytes - 1) / targetBytes)
        Some((part, small, outFiles.toInt))
      }
    }
    if (perPart.isEmpty) return snap.version
    // rewrite each partition's backlog at its own output count — the
    // union concatenates the repartitioned frames' tasks, so each
    // writer task holds one partition's rows and the per-dir file
    // count is that dir's packed count; one commit for the sweep
    // (stageFiles scopes AQE off around the write itself). Conflict
    // safety rides the removeFiles presence check: a chosen file
    // replaced since this snapshot aborts the commit.
    val rewritten = perPart.map { case (_, small, outFiles) =>
      readFileSubset(spark, root, small, snap).repartition(outFiles)
    }.reduce(_.unionByName(_))
    val staged = stageFiles(rewritten, root, snap.partitionCols,
      filesPerPartition = 1, distribute = false, colMap = snap.colMap)
    val removed = perPart.flatMap(_._2).toSet
    commit(root, snap.partitionCols, "compact", store, Some(snap),
      removeFiles = removed)(_.swap(staged, removed = removed))
  }

  /** Clustered compaction — `OPTIMIZE ... ZORDER BY` for this lake:
    * rewrite the table with rows range-partitioned and sorted on
    * `clusterCols`, so each rewritten file covers a TIGHT, nearly
    * disjoint slice of the cluster key and the manifest zone-maps
    * ([[LakeStats]]) become maximally selective: a key-range query
    * over a clustered 100-TB table prunes to the handful of files
    * whose slice overlaps, where the same query over ingest-ordered
    * files (every file spanning the full key range) prunes nothing.
    * Data layout is THE lever that turns stats into skipped IO — the
    * stats only record what the layout provides.
    *
    * `zorder = true` interleaves the bits of exactly TWO numeric
    * columns (Morton order,
    * [[graft.expressions.NativeKernels.mortonValue]]'s contract:
    * non-negative, < 2^21 after long cast) so BOTH columns get tight
    * per-file ranges — the 2-D box-query layout; the
    * default lexicographic order serves one leading column best.
    *
    * Like [[compact]], the rewrite commits as `kind=compact` (no
    * logical change: streams skip it, CDC consumers ignore it) with
    * read-modify-write safety — a concurrent upsert to any partition
    * aborts the commit instead of resurrecting replaced data.
    * Returns the committed version.
    */
  def cluster(spark: SparkSession, root: String,
      clusterCols: Seq[String], filesPerPartition: Int = 1,
      zorder: Boolean = false,
      store: CommitStore = HardlinkCommitStore,
      // Hilbert-curve layout for exactly two numeric columns: the
      // same one-sort-key trick as zorder with strictly better
      // locality (consecutive curve indexes are Manhattan-adjacent —
      // Morton jumps at quadrant seams), so 2-D box queries pack into
      // as-few-or-fewer files (LakeClusterSpec measures both)
      hilbert: Boolean = false): Long = {
    import org.apache.spark.sql.functions.col
    require(clusterCols.nonEmpty, "cluster needs at least one column")
    require(!(zorder && hilbert), "pick ONE curve: zorder or hilbert")
    require(!(zorder || hilbert) || clusterCols.size == 2,
      s"curve layouts interleave exactly 2 columns, got ${clusterCols.size}")
    val snap = latest(root, store)
    val batch = readSnapshot(spark, root, snap)
    val nParts = math.max(snap.files.size, 1) * filesPerPartition
    val sortCols = snap.partitionCols.map(col) ++ (
      if (zorder)
        Seq(graft.expressions.NativeKernels.mortonValueCol(
          col(clusterCols.head).cast("long"),
          col(clusterCols(1)).cast("long")))
      else if (hilbert)
        Seq(graft.expressions.NativeKernels.hilbertValueCol(
          col(clusterCols.head).cast("long"),
          col(clusterCols(1)).cast("long")))
      else clusterCols.map(col))
    // one range exchange orders the whole table; the writer then
    // splits each range task by partition dir, so within every dir
    // each file holds a contiguous cluster-key slice
    val laid = batch
      .repartitionByRange(nParts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val staged = stageFiles(laid, root, snap.partitionCols,
      filesPerPartition, distribute = false, colMap = snap.colMap)
    val touched = snap.files.keySet ++ staged.keySet
    commit(root, snap.partitionCols, "compact", store, Some(snap),
      touched = touched)(_.swap(staged, touched).evolve(batch.schema))
  }

  /** Build per-file bloom indexes over `cols` (Delta's
    * BLOOMFILTER INDEX role — see [[BloomIndex]] for the full scale
    * contract): ONE dv-aware pass over the files that lack an entry
    * for some requested column (incremental by construction — files
    * indexed by a prior build are skipped, so the steady-state cost
    * after ingest is proportional to the NEW files), partial bitsets
    * reduce by (file, column), the sidecar lands under `root/index/`,
    * and a metadata-only `kind=index` commit references it. Files
    * without zone-map stats are skipped (sizing needs the row count);
    * they simply stay unpruned. Returns the committed version (the
    * current one when nothing needed indexing).
    */
  def indexBloom(spark: SparkSession, root: String, cols: Seq[String],
      fpp: Double = 0.01,
      store: CommitStore = HardlinkCommitStore): Long = {
    require(cols.nonEmpty, "indexBloom: no columns given")
    require(fpp > 0 && fpp < 0.5, s"indexBloom: fpp out of range: $fpp")
    val snap = latest(root, store)
    val schema = schemaOf(snap, "indexBloom", root)
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    val typed = cols.map { c =>
      val dt = byName.getOrElse(c, throw new IllegalArgumentException(
        s"indexBloom: no column $c in " +
          schema.fieldNames.mkString(", ")))
      require(BloomIndex.indexableKey(dt),
        s"indexBloom: $c: $dt is not an indexable key domain " +
          "(integral or string)")
      (c, dt)
    }
    val all = snap.allFiles
    val targets = all.filter(f => snap.stats.contains(f) &&
      cols.exists(c => !snap.blooms.getOrElse(f, Map.empty).contains(c)))
    if (targets.isEmpty) return snap.version
    val uriToFile = targets.map(f =>
      Paths.get(root).resolve(f).normalize().toUri.toString -> f).toMap
    val rowsOf = targets.map(f => f -> snap.stats(f).rows).toMap
    val sidecarRel =
      s"index/${java.util.UUID.randomUUID().toString.take(12)}"
    val sidecarAbs = Paths.get(root).resolve(sidecarRel).toString
    val tagged = readFileSubsetTagged(spark, root, targets, snap)
    BloomIndex.buildSidecar(spark, tagged, typed, uriToFile, rowsOf,
      fpp, sidecarAbs)
    val ref = BloomIndex.Ref(sidecarRel)
    val newBlooms = targets.map { f =>
      val have = snap.blooms.getOrElse(f, Map.empty)
      f -> (have ++ cols.filterNot(have.contains).map(_ -> ref))
    }.toMap
    commit(root, snap.partitionCols, "index", store)(s =>
      s.copy(blooms = s.blooms ++ newBlooms))
  }

  /** Garbage-collect the data plane: delete files referenced by NO
    * retained manifest, and manifests older than the newest
    * `keepVersions`. Orphans from killed writers and files only
    * reachable through expired snapshots are reclaimed; every
    * retained version stays fully readable (time travel unaffected
    * within the retention window). Safe against in-flight writers:
    * only files older than `minAgeMs` are touched, so a staged-but-
    * not-yet-committed upsert younger than the grace window is never
    * swept. Returns the number of data files and sidecar dirs
    * deleted (a dry run also counts the expired manifests; leftover
    * staging dirs are reclaimed but never counted).
    */
  def vacuum(root: String, keepVersions: Int = 10,
      minAgeMs: Long = 3600000L,
      store: CommitStore = HardlinkCommitStore,
      // Delta's VACUUM DRY RUN: report what WOULD be reclaimed —
      // manifests, data files, dv/index sidecars — without touching
      // anything (the pre-flight every retention runbook wants)
      dryRun: Boolean = false): Int = {
    val versions = store.listVersions(root).sorted
    if (versions.isEmpty) return 0
    val keep = versions.takeRight(math.max(keepVersions, 1))
    // one manifest read per retained version
    val retained = keep.map(readManifest(root, _, store))
    def resolved(ps: Iterable[String]): Set[Path] =
      ps.map(p => Paths.get(root).resolve(p).normalize()).toSet
    val referenced = resolved(retained.flatMap(_.allFiles))
    // dv and bloom-index sidecars a retained manifest references —
    // relative refs only: absolute refs point into a SOURCE lake this
    // clone must never touch
    val sidecars = resolved(retained.flatMap(s =>
      s.dvs.values.flatMap(_.paths) ++
        s.blooms.values.flatMap(_.values.map(_.path)))
      .filterNot(p => Paths.get(p).isAbsolute))
    val cutoff = System.currentTimeMillis() - minAgeMs
    // expired manifests first, so a concurrent reader can no longer
    // resolve a snapshot whose files are about to disappear
    val expired = versions.filterNot(keep.contains)
    if (!dryRun) expired.foreach(store.delete(root, _))
    // entries of `dir` (data: every file below it; sidecar and staging
    // dirs: its children) that `live` does not claim and that are past
    // the grace window; returns how many were (or would be) deleted
    def sweep(dir: Path, deep: Boolean)(live: Path => Boolean): Int =
      if (!Files.isDirectory(dir)) 0
      else {
        val s = if (deep) Files.walk(dir) else Files.list(dir)
        val entries = try s.iterator().asScala
          .filter(p => !deep || Files.isRegularFile(p)).toSeq
        finally s.close()
        val dead = entries.filter(p => !live(p.normalize()) &&
          Files.getLastModifiedTime(p).toMillis < cutoff)
        if (!dryRun) dead.foreach(deleteRecursively)
        dead.size
      }
    val swept = sweep(dataDir(root), deep = true)(referenced) +
      // orphans of purged/rewritten files and expired versions
      sweep(Paths.get(root, "dv"), deep = false)(sidecars) +
      sweep(Paths.get(root, "index"), deep = false)(sidecars)
    // `_staging` dirs past the grace window were left by dead writers
    // of lakes staged through a committer before files were written
    // in place; the dir itself goes once nothing is left in it
    val staging = Paths.get(root, "_staging")
    sweep(staging, deep = false)(_ => false)
    if (!dryRun && Files.isDirectory(staging)) {
      val rest = Files.list(staging)
      try if (!rest.iterator().hasNext) Files.deleteIfExists(staging)
      finally rest.close()
    }
    if (dryRun) swept + expired.size else swept
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      val all = try w.iterator().asScala.toSeq finally w.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
}

/** Refcounted per-session AQE-off scope for the lake's staging
  * writes and merge's bounds aggregate: the FIRST enter records the
  * original setting and turns AQE off; the LAST exit restores it.
  * Plain save/restore is not reentrant — with two concurrent
  * [[AtomicLake.stageFiles]] writers on one session, the second would
  * capture the first's temporary value as the one to restore, pinning
  * it for the session's lifetime.
  *
  * The staging exchange is an EXPLICIT repartition for file-count
  * control — AQE only splits shuffle+write into two sequential jobs
  * and its coalescing could defeat filesPerPartition. No parquet conf
  * is flipped here: [[LakeWriter]] sets INT64 µs timestamps in its own
  * writer conf, so concurrent non-lake writes keep the session's.
  */
private[graft] object AqeScope {
  private val Forced: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "false")
  private val depth =
    new java.util.IdentityHashMap[SparkSession, (Int, Map[String, String])]()

  def enter(spark: SparkSession): Unit = depth.synchronized {
    depth.get(spark) match {
      case null =>
        val original = Forced.map { case (k, _) =>
          k -> spark.conf.getOption(k).getOrElse("")
        }.toMap
        depth.put(spark, (1, original))
        Forced.foreach { case (k, v) => spark.conf.set(k, v) }
      case (n, original) => depth.put(spark, (n + 1, original))
    }
  }

  /** `body` inside the scope. */
  def apply[A](spark: SparkSession)(body: => A): A = {
    enter(spark)
    try body finally exit(spark)
  }

  def exit(spark: SparkSession): Unit = depth.synchronized {
    depth.get(spark) match {
      case null => // unbalanced exit: nothing sane to restore
      case (1, original) =>
        depth.remove(spark)
        original.foreach { case (k, v) =>
          if (v.isEmpty) spark.conf.unset(k) else spark.conf.set(k, v)
        }
      case (n, original) => depth.put(spark, (n - 1, original))
    }
  }
}
