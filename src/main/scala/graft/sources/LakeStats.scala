package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Manifest zone-maps: per-file column min/max/null-count statistics,
  * harvested from parquet FOOTERS at commit time and persisted inline
  * in the lake manifest, plus the conservative driver-side evaluator
  * that skips files a predicate provably cannot match
  * ([[AtomicLake.scan]]).
  *
  * This is the data-skipping layer the reference gets from DuckLake's
  * per-file column stats (DuckDB zone maps over the cataloged parquet,
  * /root/reference/docs/sprint_logs/Sprint-2.md's metadata management)
  * and Spark lakes get from Delta/Iceberg file statistics. Spark's own
  * parquet machinery only prunes at ROW-GROUP level, AFTER opening
  * each file's footer: on a 100-TB table with 100k files, a
  * one-partition query still pays 100k footer round-trips (object-
  * store GETs) before skipping anything. Manifest stats move that
  * decision into the already-read manifest — a few MB — so pruned
  * files cost literally nothing: no task, no footer, no GET.
  *
  * Collection is metadata-only (the footer the staging writer just
  * closed; no data re-read) and covers top-level atomic columns
  * (numeric, string, date, timestamp-µs), capped at
  * [[LakeStats.MaxStatsCols]] so manifests stay O(files), never
  * O(files × width). Long string bounds are truncated: a truncated
  * MIN is still a valid lower bound (a prefix sorts ≤ its extension),
  * a too-long MAX is dropped (unbounded above) — never widened into a
  * wrong bound.
  *
  * Pruning is CONSERVATIVE by construction: a file is skipped only
  * when the evaluator can PROVE no row matches (known domain, known
  * bounds, null-rejecting comparison outside [min, max]). Anything
  * unknown — missing stats, unsupported expression shape, literal
  * whose type doesn't match the column's stats domain (Catalyst would
  * insert casts we don't model), NaN — keeps the file, and
  * [[AtomicLake.scan]] re-applies the full predicate on top, so
  * pruning can never change results, only cost.
  */
object LakeStats {

  /** Most columns ever tracked per file: manifests must stay a few MB
    * at 100k files, so stats are a fixed-width prefix of the schema
    * (schema order — lead with your filter columns), not unbounded.
    */
  val MaxStatsCols = 32

  /** Longest persisted string bound; longer mins truncate (valid
    * lower bound), longer maxes drop (unbounded).
    */
  val MaxStrLen = 96

  sealed trait Bound
  final case class NumBound(v: BigDecimal) extends Bound
  final case class StrBound(v: String) extends Bound

  /** Per-column zone map. `domain` ties the raw bound values to the
    * Spark type they were written from: "long" (integral), "double",
    * "string", "date" (days since epoch), "ts" (µs since epoch).
    * `nulls` is None when any row group didn't report it.
    */
  final case class ColStats(domain: String, min: Option[Bound],
      max: Option[Bound], nulls: Option[Long])

  final case class FileStats(rows: Long, cols: Map[String, ColStats],
      // on-disk bytes; 0 = unknown (pre-bytes manifests) — consumers
      // (bin-packing compaction) treat unknown as "leave alone"
      bytes: Long = 0L) {
    // case-insensitive lookup, matching Spark's default resolution
    private[sources] lazy val byLower: Map[String, ColStats] =
      cols.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
  }

  // ---------------------------------------------------------------
  // Collection (commit path)
  // ---------------------------------------------------------------

  /** The stats domain for a Spark field, if the type is coverable. */
  private def domainOf(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("long")
    case FloatType | DoubleType => Some("double")
    case StringType => Some("string")
    case DateType => Some("date")
    case TimestampType | TimestampNTZType => Some("ts")
    case _ => None
  }

  /** `file` opened for footer and row-group reads under `conf`. The
    * one-argument `ParquetFileReader.open` takes its read options from
    * a fresh Hadoop Configuration, whose first lookup parses the
    * default resources again (~15 ms a file); `conf` has them loaded.
    */
  private[graft] def openParquet(conf: Configuration,
      file: org.apache.hadoop.fs.Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())

  /** Read one parquet file's footer and fold it into a zone map
    * ([[fromFooter]]). Returns None if the footer is unreadable (the
    * commit proceeds stats-free rather than failing).
    */
  def collect(conf: Configuration, file: org.apache.hadoop.fs.Path,
      schema: StructType): Option[FileStats] =
    try {
      val reader = openParquet(conf, file)
      try {
        val bytes =
          try file.getFileSystem(conf).getFileStatus(file).getLen
          catch { case scala.util.control.NonFatal(_) => 0L }
        fromFooter(reader.getFooter, bytes, schema)
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Fold a file's row-group statistics into per-column file-level
    * bounds — from a reader's footer ([[collect]]) or the footer a
    * writer just closed, so a staged file needs no re-read. Columns
    * whose physical/logical type can't be mapped safely (INT96
    * timestamps, decimals, missing row-group stats) are simply absent —
    * absent means never pruned.
    */
  def fromFooter(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      bytes: Long, schema: StructType): Option[FileStats] =
    try {
      val wanted: Map[String, String] = schema.fields.iterator
        .flatMap(f => domainOf(f.dataType).map(d =>
          f.name.toLowerCase(java.util.Locale.ROOT) -> d))
        .take(MaxStatsCols).toMap
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // name -> (domain, mins, maxes, nulls-or-unknown, sawAllBlocks)
      val acc = scala.collection.mutable.Map[String,
        (String, List[Bound], List[Bound], Option[Long], Int)]()
      for (b <- blocks; c <- b.getColumns.asScala) {
        val path = c.getPath.toArray
        if (path.length == 1) {
          val lower = path(0).toLowerCase(java.util.Locale.ROOT)
          wanted.get(lower).foreach { domain =>
            val pt = c.getPrimitiveType
            val st = c.getStatistics
            val bounds: Option[(Bound, Bound)] =
              if (st == null || st.isEmpty || !st.hasNonNullValue) None
              else rawBounds(pt.getPrimitiveTypeName,
                pt.getLogicalTypeAnnotation, domain, st)
            val nulls: Option[Long] =
              if (st == null || st.isEmpty) None
              else if (st.isNumNullsSet && st.getNumNulls >= 0)
                Some(st.getNumNulls)
              else None
            // all-null row group: no non-null bound, but still a
            // valid (empty) contribution when nulls == rowCount
            val allNull = nulls.contains(b.getRowCount) &&
              bounds.isEmpty && st != null && !st.isEmpty
            if (bounds.isDefined || allNull) {
              val (d, mins, maxes, nAcc, seen) = acc.getOrElse(path(0),
                (domain, Nil, Nil, Some(0L), 0))
              val (nmins, nmaxes) = bounds match {
                case Some((lo, hi)) => (lo :: mins, hi :: maxes)
                case None => (mins, maxes)
              }
              val nNulls = for (a <- nAcc; n <- nulls) yield a + n
              acc(path(0)) = (d, nmins, nmaxes, nNulls, seen + 1)
            } else acc.remove(path(0)) // a block with no stats poisons
          }
        }
      }
      val cols = acc.iterator.collect {
        // only columns every block reported on: a missed block means
        // the fold's bounds don't bound the whole file
        case (name, (domain, mins, maxes, nulls, seen))
            if seen == blocks.length =>
          val lo = mins.reduceOption(minB)
          val hi = maxes.reduceOption(maxB).flatMap(clampMax)
          name -> ColStats(domain, lo.map(clampMin), hi, nulls)
      }.toMap
      Some(FileStats(rows, cols, bytes))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Map one row group's raw parquet statistics into the Spark-domain
    * bound pair, or None when the physical type can't represent the
    * domain exactly (stats then stay absent for the column).
    */
  private def rawBounds(pt: PrimitiveTypeName,
      logical: LogicalTypeAnnotation, domain: String,
      st: org.apache.parquet.column.statistics.Statistics[_])
      : Option[(Bound, Bound)] = {
    def num(f: Any => BigDecimal): Option[(Bound, Bound)] = {
      val lo = f(st.genericGetMin); val hi = f(st.genericGetMax)
      Some((NumBound(lo), NumBound(hi)))
    }
    (pt, domain) match {
      case (PrimitiveTypeName.INT32, "long" | "date") =>
        num(v => BigDecimal(v.asInstanceOf[java.lang.Integer].longValue))
      case (PrimitiveTypeName.INT64, "long") =>
        num(v => BigDecimal(v.asInstanceOf[java.lang.Long].longValue))
      case (PrimitiveTypeName.INT64, "ts") =>
        // bounds canonicalize to µs; only µs/ms units are exact
        logical match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            val unit = t.getUnit
            val scale =
              if (unit == LogicalTypeAnnotation.TimeUnit.MICROS) Some(1L)
              else if (unit == LogicalTypeAnnotation.TimeUnit.MILLIS)
                Some(1000L)
              else None
            scale.flatMap(k => num(v =>
              BigDecimal(v.asInstanceOf[java.lang.Long].longValue) * k))
          case _ => None
        }
      case (PrimitiveTypeName.FLOAT, "double") =>
        val lo = st.genericGetMin.asInstanceOf[java.lang.Float].floatValue
        val hi = st.genericGetMax.asInstanceOf[java.lang.Float].floatValue
        if (lo.isNaN || hi.isNaN) None
        else num(v => BigDecimal(
          v.asInstanceOf[java.lang.Float].floatValue.toDouble))
      case (PrimitiveTypeName.DOUBLE, "double") =>
        val lo = st.genericGetMin.asInstanceOf[java.lang.Double].doubleValue
        val hi = st.genericGetMax.asInstanceOf[java.lang.Double].doubleValue
        if (lo.isNaN || hi.isNaN) None
        else num(v => BigDecimal(
          v.asInstanceOf[java.lang.Double].doubleValue))
      case (PrimitiveTypeName.BINARY, "string")
          if logical.isInstanceOf[
            LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Some((StrBound(st.genericGetMin
          .asInstanceOf[org.apache.parquet.io.api.Binary]
          .toStringUsingUTF8),
          StrBound(st.genericGetMax
            .asInstanceOf[org.apache.parquet.io.api.Binary]
            .toStringUsingUTF8)))
      case _ => None
    }
  }

  private def cmpBound(a: Bound, b: Bound): Int = (a, b) match {
    case (NumBound(x), NumBound(y)) => x.compare(y)
    case (StrBound(x), StrBound(y)) => x.compareTo(y)
    case _ => 0 // mixed domains never reach comparison (domain-gated)
  }
  private def minB(a: Bound, b: Bound): Bound =
    if (cmpBound(a, b) <= 0) a else b
  private def maxB(a: Bound, b: Bound): Bound =
    if (cmpBound(a, b) >= 0) a else b

  /** Truncating a MIN string keeps it a valid lower bound. */
  private def clampMin(b: Bound): Bound = b match {
    case StrBound(s) if s.length > MaxStrLen => StrBound(s.take(MaxStrLen))
    case other => other
  }

  /** A too-long MAX string can't be truncated soundly — drop it. */
  private def clampMax(b: Bound): Option[Bound] = b match {
    case StrBound(s) if s.length > MaxStrLen => None
    case other => Some(other)
  }

  // ---------------------------------------------------------------
  // Manifest (de)serialization — one compact-JSON object per file
  // line; JSON string escaping guarantees no raw tab/newline, so the
  // tab-separated manifest format is preserved.
  // ---------------------------------------------------------------

  def toJson(fs: FileStats): String = {
    def bound(b: Bound): JValue = b match {
      case NumBound(v) =>
        if (v.isValidLong) JLong(v.longValue) else JDouble(v.doubleValue)
      case StrBound(s) => JString(s)
    }
    val cols = JObject(fs.cols.toList.sortBy(_._1).map { case (n, c) =>
      n -> JObject(List(
        Some("d" -> JString(c.domain)),
        c.min.map(b => "min" -> bound(b)),
        c.max.map(b => "max" -> bound(b)),
        c.nulls.map(n0 => "n" -> JLong(n0))).flatten)
    })
    JsonMethods.compact(JsonMethods.render(
      JObject(List(Some("r" -> (JLong(fs.rows): JValue)),
        (if (fs.bytes > 0) Some("b" -> (JLong(fs.bytes): JValue))
         else None),
        Some("c" -> (cols: JValue))).flatten)))
  }

  def fromJson(s: String): Option[FileStats] =
    try {
      val j = JsonMethods.parse(s)
      def long(v: JValue): Option[Long] = v match {
        case JLong(x) => Some(x)
        case JInt(x) => Some(x.longValue)
        case _ => None
      }
      def bound(v: JValue, domain: String): Option[Bound] = (v, domain) match {
        case (JString(x), "string") => Some(StrBound(x))
        case (JLong(x), _) => Some(NumBound(BigDecimal(x)))
        case (JInt(x), _) => Some(NumBound(BigDecimal(x)))
        case (JDouble(x), _) => Some(NumBound(BigDecimal(x)))
        case (JDecimal(x), _) => Some(NumBound(x))
        case _ => None
      }
      for {
        rows <- long(j \ "r")
        bytes = long(j \ "b").getOrElse(0L)
        cols = (j \ "c") match {
          case JObject(fields) => fields.flatMap { case (name, cv) =>
            (cv \ "d") match {
              case JString(domain) =>
                Some(name -> ColStats(domain,
                  bound(cv \ "min", domain), bound(cv \ "max", domain),
                  long(cv \ "n")))
              case _ => None
            }
          }.toMap
          case _ => Map.empty[String, ColStats]
        }
      } yield FileStats(rows, cols, bytes)
    } catch { case scala.util.control.NonFatal(_) => None }

  // ---------------------------------------------------------------
  // Pruning evaluator (scan path)
  // ---------------------------------------------------------------

  /** A literal's (domain, value) in the same canonical space as the
    * persisted bounds; None = unprunable literal type.
    */
  private def litVal(l: Literal): Option[(String, Bound)] =
    if (l.value == null) None
    else l.dataType match {
      case ByteType => Some(("num", NumBound(BigDecimal(
        l.value.asInstanceOf[Byte].toLong))))
      case ShortType => Some(("num", NumBound(BigDecimal(
        l.value.asInstanceOf[Short].toLong))))
      case IntegerType => Some(("num", NumBound(BigDecimal(
        l.value.asInstanceOf[Int].toLong))))
      case LongType => Some(("num", NumBound(BigDecimal(
        l.value.asInstanceOf[Long]))))
      case FloatType =>
        val f = l.value.asInstanceOf[Float]
        if (f.isNaN) None else Some(("num", NumBound(BigDecimal(f.toDouble))))
      case DoubleType =>
        val d = l.value.asInstanceOf[Double]
        if (d.isNaN) None else Some(("num", NumBound(BigDecimal(d))))
      case _: DecimalType => Some(("num", NumBound(
        l.value.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toBigDecimal)))
      case StringType => Some(("str", StrBound(l.value.toString)))
      case DateType => Some(("date", NumBound(BigDecimal(
        l.value.asInstanceOf[Int].toLong))))
      case TimestampType | TimestampNTZType => Some(("ts", NumBound(
        BigDecimal(l.value.asInstanceOf[Long]))))
      case _ => None
    }

  /** Can a literal of this domain be compared against stats of that
    * domain? Numerics interchange (Catalyst's numeric casts are
    * order-preserving in BigDecimal space); everything else must
    * match exactly — a cross-type comparison goes through casts whose
    * semantics we refuse to model.
    */
  private def domainsComparable(litDomain: String, statDomain: String)
      : Boolean = (litDomain, statDomain) match {
    case ("num", "long" | "double") => true
    case ("str", "string") => true
    case ("date", "date") => true
    case ("ts", "ts") => true
    case _ => false
  }

  /** What the evaluator knows about one column of one file. */
  private[sources] sealed trait ColInfo
  private[sources] final case class Stats(c: ColStats, fileRows: Long)
      extends ColInfo
  /** A partition-directory value: exact (min == max == v), applied
    * lazily in the literal's domain.
    */
  private[sources] final case class PartVal(raw: String) extends ColInfo

  private def partBound(raw: String, litDomain: String): Option[Bound] =
    litDomain match {
      case "str" => Some(StrBound(raw))
      case "num" =>
        try Some(NumBound(BigDecimal(raw)))
        catch { case _: NumberFormatException => None }
      case "date" =>
        try Some(NumBound(BigDecimal(
          java.time.LocalDate.parse(raw).toEpochDay)))
        catch { case scala.util.control.NonFatal(_) => None }
      case _ => None // timestamp partition dirs: format varies, skip
    }

  private val HiveNull = "__HIVE_DEFAULT_PARTITION__"

  /** True unless NO row of the file can satisfy `e`. Conservative:
    * any shape or domain this evaluator doesn't understand returns
    * true (keep the file).
    */
  private[sources] def mayMatch(e: Expression,
      info: String => Option[ColInfo]): Boolean = e match {
    case And(l, r) => mayMatch(l, info) && mayMatch(r, info)
    case Or(l, r) => mayMatch(l, info) || mayMatch(r, info)
    case cmp: BinaryComparison =>
      (normalize(cmp.left), normalize(cmp.right)) match {
        case (AttrName(a), l: Literal) =>
          compare(cmp, a, l, flipped = false, info)
        case (l: Literal, AttrName(a)) =>
          compare(cmp, a, l, flipped = true, info)
        case _ => true
      }
    case In(AttrName(a), list) if list.forall(_.isInstanceOf[Literal]) =>
      list.exists(v => compare(DummyEq, a,
        v.asInstanceOf[Literal], flipped = false, info))
    case IsNull(AttrName(a)) => info(a) match {
      case Some(Stats(c, _)) => !c.nulls.contains(0L)
      case Some(PartVal(raw)) => raw == HiveNull
      case None => true
    }
    case IsNotNull(AttrName(a)) => info(a) match {
      case Some(Stats(c, rows)) => !c.nulls.contains(rows)
      case Some(PartVal(raw)) => raw != HiveNull
      case None => true
    }
    case StartsWith(AttrName(a), l: Literal)
        if l.dataType == StringType && l.value != null =>
      val prefix = l.value.toString
      strBounds(a, info) match {
        case Some((lo, hi)) =>
          hi.forall(_.compareTo(prefix) >= 0) &&
            lo.forall(mn => mn.compareTo(prefix) <= 0 ||
              mn.startsWith(prefix))
        case None => true
      }
    case _ => true
  }

  /** The "=" marker [[compare]] dispatches on for IN-list elements. */
  private val DummyEq = EqualTo(Literal(0), Literal(0))

  /** Fold a foldable expression (e.g. a cast literal:
    * `lit("2024-01-05").cast("date")`) down to the Literal it is.
    * Timezone-aware casts fold under the SESSION timezone — the same
    * zone Catalyst would resolve them with at analysis, so the folded
    * literal is exactly the value the re-applied filter compares.
    */
  private def normalize(e: Expression): Expression = e match {
    case l: Literal => l
    case c: Cast if c.foldable =>
      val withTz =
        if (c.timeZoneId.isEmpty)
          c.withTimeZone(org.apache.spark.sql.internal.SQLConf.get
            .sessionLocalTimeZone)
        else c
      if (!withTz.resolved) e
      else
        try Literal.create(withTz.eval(null), withTz.dataType)
        catch { case scala.util.control.NonFatal(_) => e }
    case other => other
  }

  private object AttrName {
    def unapply(e: Expression): Option[String] = e match {
      case u: UnresolvedAttribute =>
        Some(u.nameParts.last.toLowerCase(java.util.Locale.ROOT))
      case a: AttributeReference =>
        Some(a.name.toLowerCase(java.util.Locale.ROOT))
      case _ => None
    }
  }

  private def strBounds(a: String, info: String => Option[ColInfo])
      : Option[(Option[String], Option[String])] = info(a) match {
    case Some(Stats(c, _)) if c.domain == "string" =>
      Some((c.min.collect { case StrBound(s) => s },
        c.max.collect { case StrBound(s) => s }))
    case Some(PartVal(raw)) if raw != HiveNull =>
      Some((Some(raw), Some(raw)))
    case _ => None
  }

  /** Null-rejecting comparison vs the file's [min, max]. `flipped`
    * means the literal was on the LEFT (lit < col ≡ col > lit).
    */
  private def compare(op0: BinaryComparison, attr: String, l: Literal,
      flipped: Boolean, info: String => Option[ColInfo]): Boolean = {
    if (l.value == null)
      // `col <=> NULL` matches null rows — keep unless provably
      // null-free is more bookkeeping than it's worth; any OTHER
      // comparison with a null literal yields NULL for every row
      return op0.isInstanceOf[EqualNullSafe]
    val (litDomain, v) = litVal(l) match {
      case Some(x) => x
      case None => return true // unprunable literal type
    }
    val (lo, hi) = info(attr) match {
      case Some(Stats(c, rows)) =>
        if (!domainsComparable(litDomain, c.domain)) return true
        // all-null column: a non-null comparison selects nothing
        if (c.nulls.contains(rows) && rows > 0L) return false
        (c.min, c.max)
      case Some(PartVal(raw)) =>
        if (raw == HiveNull) return false // null never compares true
        partBound(raw, litDomain) match {
          case Some(b) => (Some(b), Some(b))
          case None => return true
        }
      case None => return true
    }
    // effective op with the attribute on the left
    val op: String = op0 match {
      case _: EqualTo | _: EqualNullSafe => "="
      case _: LessThan => if (flipped) ">" else "<"
      case _: LessThanOrEqual => if (flipped) ">=" else "<="
      case _: GreaterThan => if (flipped) "<" else ">"
      case _: GreaterThanOrEqual => if (flipped) "<=" else ">="
      case _ => return true
    }
    op match {
      case "=" =>
        lo.forall(cmpBound(_, v) <= 0) && hi.forall(cmpBound(_, v) >= 0)
      case "<" => lo.forall(cmpBound(_, v) < 0)
      case "<=" => lo.forall(cmpBound(_, v) <= 0)
      case ">" => hi.forall(cmpBound(_, v) > 0)
      case ">=" => hi.forall(cmpBound(_, v) >= 0)
    }
  }

  /** Split a partition-relative dir ("a=1/b=2", "" when
    * unpartitioned) into column -> raw value, undoing Spark's %XX
    * path escaping.
    */
  private[sources] def partitionValues(dir: String): Map[String, String] =
    if (dir.isEmpty) Map.empty
    else dir.split('/').iterator.flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) =>
          Some(k.toLowerCase(java.util.Locale.ROOT) -> unescape(v))
        case _ => None
      }
    }.toMap

  private def unescape(s: String): String = {
    if (!s.contains('%')) return s
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      // %XX per Spark's ExternalCatalogUtils path escaping; malformed
      // escapes pass through verbatim
      if (c == '%' && i + 2 < s.length) {
        try {
          out.append(
            Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch {
          case _: NumberFormatException => out.append(c); i += 1
        }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** The snapshot's files that MAY match every filter — the
    * driver-side skip decision. Files without stats always survive.
    */
  /** Conservative partition-level predicate check: may this partition
    * DIRECTORY's values satisfy every filter? (Only partition values
    * are consulted — no file stats — so this scopes maintenance
    * sweeps like `OPTIMIZE … WHERE` at O(partitions).)
    */
  private[sources] def partitionMayMatch(dir: String,
      filters: Seq[Expression]): Boolean = {
    val parts = partitionValues(dir)
    val info: String => Option[ColInfo] =
      name => parts.get(name).map(PartVal(_): ColInfo)
    filters.forall(mayMatch(_, info))
  }

  def survivors(snap: AtomicLake.Snapshot, filters: Seq[Expression])
      : Seq[String] = {
    if (filters.isEmpty) return snap.files.values.flatten.toSeq.sorted
    // column mapping: predicates name LOGICAL columns, the footer
    // stats are keyed by the files' PHYSICAL names — translate at the
    // lookup (identity when no rename ever happened). Partition dirs
    // keep logical names (partition columns are not renameable).
    val physFor: Map[String, String] = snap.colMap.map { case (l, p) =>
      l.toLowerCase(java.util.Locale.ROOT) ->
        p.toLowerCase(java.util.Locale.ROOT)
    }
    snap.files.iterator.flatMap { case (dir, files) =>
      val parts = partitionValues(dir)
      files.filter { f =>
        val stats = snap.stats.get(f)
        val info: String => Option[ColInfo] = name =>
          stats.flatMap(s => s.byLower.get(physFor.getOrElse(name, name))
            .map(c => Stats(c, s.rows): ColInfo))
            .orElse(parts.get(name).map(PartVal(_): ColInfo))
        filters.forall(mayMatch(_, info))
      }
    }.toSeq.sorted
  }
}
