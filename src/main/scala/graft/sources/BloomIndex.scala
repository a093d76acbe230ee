package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression, In, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.NativeKernels

/** Per-file Bloom-filter indexes for the ACID lake (SURVEY.md §2 G39
  * — Delta's bloom-filter-index role): point lookups on
  * HIGH-CARDINALITY columns, where zone maps cannot prune (every
  * file's [min,max] spans the whole key domain the moment keys are
  * hash- or arrival-distributed), skip the files a bloom PROVES the
  * key is absent from.
  *
  * Shape at scale: the blooms never sit on the driver. [[build]] is
  * one dv-aware pass over the un-indexed files — each task ORs
  * partial bitsets per (file, column), partials (bitset-sized, not
  * row-sized) reduce by key, and the final (file, col, k, bits) rows
  * land as a parquet SIDECAR under `root/index/`, committed by
  * reference in the manifest (`kind=index`, a metadata-only commit:
  * no data file moves, streams/CDC see an empty file diff).
  * [[prunable]] is a sidecar-sized Spark job — the bitsets are
  * probed where they live and only the PRUNABLE FILE NAMES come back
  * to the driver, so a 100-TB table's index never needs to fit in
  * driver memory (contrast [[graft.operators.Bloom]], whose single
  * driver-held sketch answers batch membership, not file routing).
  *
  * Safety is one-directional by construction: a bloom covers a
  * superset of the keys its file can ever serve — files are
  * immutable, DV chains only shrink a file's live rows after the
  * index is built (a rewrite sheds the file's index entry with the
  * file), and restore rolls index state back with the file list — so
  * a negative probe is PROOF of absence and a false positive only
  * costs reading one extra file. Un-indexed files are simply never
  * pruned.
  *
  * Indexable domains: integral keys probe by value; strings by
  * xxhash64 (same normalization at build and probe). Floating/
  * decimal columns are refused — equality on them is a smell, and a
  * double's multiple bit patterns for equal values would break the
  * superset contract.
  */
object BloomIndex {

  /** Manifest reference to a file's bloom for one column: the parquet
    * sidecar dir holding its (file, col, k, bits) row — root-relative
    * (absolute in shallow clones, pointing into the source lake).
    */
  final case class Ref(path: String)

  private[sources] def indexableKey(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | StringType => true
    case _ => false
  }

  /** The build/probe key normalization: integral values probe by
    * value, strings by xxhash64(seed 42) — both sides MUST agree.
    */
  private[sources] def keyLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case u: UTF8String => NativeKernels.xx64(u)
    case s: String => NativeKernels.xx64(UTF8String.fromString(s))
    case other => throw new IllegalArgumentException(
      s"bloom index key of unsupported runtime type: ${other.getClass}")
  }

  private def setBits(arr: Array[Long], key: Long, k: Int): Unit = {
    val mm = arr.length.toLong << 6
    var h = NativeKernels.bloomHash1(key)
    val h2 = NativeKernels.bloomHash2(key)
    var i = 0
    while (i < k) {
      val pos = (h & Long.MaxValue) % mm
      arr((pos >>> 6).toInt) |= 1L << (pos & 63L)
      h += h2
      i += 1
    }
  }

  /** Bits/hashes for a file of `n` rows at false-positive rate `fpp`:
    * the standard m = -n ln p / ln²2 (rounded up to whole words),
    * k = (m/n) ln 2.
    */
  private[sources] def sizing(n: Long, fpp: Double): (Int, Int) = {
    val nn = math.max(n, 1L)
    val mBits = math.max(64L,
      math.ceil(-nn * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val words = ((mBits + 63L) / 64L).toInt
    val k = math.max(1, math.round((words.toLong << 6).toDouble / nn *
      math.log(2)).toInt)
    (words, k)
  }

  /** A bloom sidecar row. [[buildSidecar]] writes these columns and
    * the prune read uses this schema, so probing a sidecar runs no
    * inference job over a file the lake wrote itself.
    */
  private val sidecarSchema =
    StructType.fromDDL("file STRING, colname STRING, k INT, bits ARRAY<BIGINT>")

  /** One build pass over `tagged` (rows carry `_graft_file` with the
    * file's absolute URI): key columns normalize to longs IN THE PLAN
    * (integral → value, string → xxhash64 — the exact probe-side
    * [[keyLong]] recipe), per-partition partial bitsets per
    * (file, col) OR-reduce by key — the exchange carries bitsets,
    * never rows — and the result lands at `sidecarAbs` as parquet
    * rows (file, colname, k, bits) keyed by MANIFEST-relative file
    * path.
    */
  private[sources] def buildSidecar(spark: SparkSession,
      tagged: DataFrame, cols: Seq[(String, DataType)],
      uriToFile: Map[String, String], rowsOf: Map[String, Long],
      fpp: Double, sidecarAbs: String): Unit = {
    import spark.implicits._
    def norm(c: String, dt: DataType) = dt match {
      case StringType =>
        when(col(c).isNull, lit(null).cast("long"))
          .otherwise(xxhash64(col(c)))
      case _ => col(c).cast("long")
    }
    val names = cols.map(_._1)
    val keyed = tagged.select(col("_graft_file").as("uri"),
        array(cols.map { case (c, dt) => norm(c, dt) }: _*).as("ks"))
      .as[(String, Seq[Option[Long]])]
    val partials = keyed.rdd.mapPartitions { it =>
      val acc = new java.util.HashMap[(String, Int), Array[Long]]()
      val ks = new java.util.HashMap[(String, Int), Int]()
      // `_metadata.file_path` and Path.toUri can disagree on
      // percent-encoding — canonicalize through Path on a miss (the
      // same two-step AtomicLake.toRelative uses)
      def resolve(uri: String): String =
        uriToFile.getOrElse(uri, {
          val canon = scala.util.Try(
            Paths.get(new java.net.URI(uri)).toUri.toString).getOrElse(uri)
          uriToFile.getOrElse(canon, throw new IllegalStateException(
            s"bloom build: $uri not in this build's file set"))
        })
      it.foreach { case (uri, vals) =>
        val file = resolve(uri)
        val n = rowsOf(file)
        var i = 0
        while (i < vals.length) {
          vals(i) match {
            case Some(v) =>
              val keyK = (file, i)
              var arr = acc.get(keyK)
              if (arr == null) {
                val (words, k) = sizing(n, fpp)
                arr = new Array[Long](words)
                acc.put(keyK, arr)
                ks.put(keyK, k)
              }
              setBits(arr, v, ks.get(keyK))
            case None => ()
          }
          i += 1
        }
      }
      val out = scala.collection.mutable.ArrayBuffer
        .empty[((String, Int), (Int, Array[Long]))]
      acc.forEach((k, v) => out += ((k, (ks.get(k), v))))
      out.iterator
    }
    val reduced = partials
      .reduceByKey { (a, b) =>
        val (ka, ba) = a; val (_, bb) = b
        var i = 0
        while (i < ba.length) { ba(i) |= bb(i); i += 1 }
        (ka, ba)
      }
      .map { case ((f, i), (k, bits)) => (f, names(i), k, bits.toSeq) }
    spark.createDataset(reduced)
      .toDF(sidecarSchema.fieldNames.toSeq: _*)
      .repartition(1)
      .write.mode("overwrite").parquet(sidecarAbs)
  }

  /** Equality conjuncts usable for bloom pruning: top-level
    * `col = literal` / `literal = col` / `col IN (literals)` (nested
    * ANDs split; anything else contributes nothing). Returns
    * col -> the literal values equality requires.
    */
  private[sources] def eqConjuncts(exprs: Seq[Expression])
      : Map[String, Seq[Any]] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    def attrName(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case a: Attribute => Some(a.name)
      case _ => None
    }
    exprs.flatMap(split).flatMap {
      case EqualTo(a, l: Literal) if attrName(a).isDefined &&
          l.value != null =>
        Seq(attrName(a).get -> Seq(l.value))
      case EqualTo(l: Literal, a) if attrName(a).isDefined &&
          l.value != null =>
        Seq(attrName(a).get -> Seq(l.value))
      case In(a, ls) if attrName(a).isDefined &&
          ls.forall(_.isInstanceOf[Literal]) =>
        val vs = ls.collect { case Literal(v, _) if v != null => v }
        if (vs.isEmpty) Nil else Seq(attrName(a).get -> vs)
      case _ => Nil
    }.groupBy(_._1).map { case (c, kvs) =>
      // multiple eq conjuncts on one col: ALL must hold — any one
      // of them proving absence suffices, so keep the first
      c -> kvs.head._2
    }
  }

  /** Files among `candidates` a bloom PROVES cannot contain a row
    * matching the equality conjuncts of `exprs` — the sidecars are
    * probed by a sidecar-sized Spark job; only file names return.
    */
  def prunable(spark: SparkSession, root: String,
      snap: AtomicLake.Snapshot, exprs: Seq[Expression],
      candidates: Seq[String]): Set[String] = {
    if (snap.blooms.isEmpty) return Set.empty
    val eqs = eqConjuncts(exprs)
    if (eqs.isEmpty) return Set.empty
    val out = scala.collection.mutable.Set.empty[String]
    for ((c, values) <- eqs) {
      val keys = values.map(keyLong)
      // candidate files indexed on this column, grouped by sidecar
      val withRef = candidates.flatMap(f =>
        snap.blooms.getOrElse(f, Map.empty).get(c).map(r => (f, r.path)))
      for ((path, fs) <- withRef.groupBy(_._2)) {
        val abs = Paths.get(root).resolve(path).normalize().toString
        // sidecar rows key files relative to the WRITING lake's root;
        // a clone's snapshot keys are absolute — translate via the
        // sidecar's own location (root/index/<id> ⇒ writing root)
        val writingRoot = Paths.get(abs).getParent.getParent
        // two sidecar-key forms per candidate: the manifest key
        // verbatim (a lake that indexed its own files — including a
        // clone indexing absolutely-referenced source files), and the
        // writing-root-relative form (an INHERITED index: the source
        // built it keying ITS root-relative paths, the clone's
        // manifest keys are absolute)
        val keyToSnap = fs.flatMap { case (f, _) =>
          val p = Paths.get(f)
          val rel =
            if (p.isAbsolute)
              scala.util.Try(
                writingRoot.relativize(p.normalize()).toString).toOption
            else None
          (f -> f) :: rel.map(_ -> f).toList
        }.toMap
        val might = keys.map(k =>
          NativeKernels.bloomMightContainColK(lit(k), col("bits"),
            col("k"))).reduce(_ || _)
        val absent = spark.read.schema(sidecarSchema).parquet(abs)
          .where(col("colname") === c &&
            col("file").isin(keyToSnap.keys.toSeq: _*))
          .where(!might)
          .select("file")
          .collect()
          .map(r => keyToSnap(r.getString(0)))
        out ++= absent
      }
    }
    out.toSet
  }
}
