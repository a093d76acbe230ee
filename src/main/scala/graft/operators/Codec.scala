package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.NativeKernels
import graft.functions.VectorFns

/** The coding decision of an IVF-family index (SURVEY.md §2 E6/E14):
  * everything that differs between quantizers — the params fields and
  * their JSON form, training, the map-side encode column, the
  * query-side columns, the approximate score and whether a refine pass
  * follows. Everything else — the params claim, append, the probe and
  * the shortlist+refine tail — is ONE implementation over a codec
  * ([[VectorIndex]]), shared by the persisted index and the in-memory
  * [[Similarity]] operators, so "lake-served == in-memory" holds by
  * construction.
  *
  * A codec value is both the build REQUEST (trained fields empty) and,
  * after [[train]], the trained state that freezes in the params.
  * [[geometry]] names the request fields only: trained fields
  * (centroids, codebooks, bounds, rotation) are a function of geometry
  * plus the build corpus, so a rebuild compares flags, not values.
  *
  * Stored rows: [[Codec.Flat]] keeps the raw vector, (vec_id, cv, cn,
  * cell); the quantized codecs store (cell, vec_id, codes, cn). The
  * query side starts as (query_id, qv, qn, cell) — qv in the codec's
  * space ([[rotate]]), qn the raw norm — and the codec keeps only what
  * its score reads.
  */
sealed trait Codec extends Product with Serializable {
  /** index-kind name, for messages */
  def name: String
  /** params and stored-rows roots under an index root */
  def paramsDir: String
  def codesDir: String
  /** the pinned request fields, rendered for the geometry compare */
  private[operators] def geometry: String = ""
  /** codec fields of the params JSON, each with a leading comma */
  private[operators] def json: String = ""
  private[operators] def parse(f: Codec.Fields): Codec = this

  /** (coarse centroids, trained codec) for `corpus` */
  private[operators] def train(corpus: DataFrame, idCol: String,
      vecCol: String, nlist: Int, seed: Long, nInit: Int,
      corpusTag: String): (Seq[Seq[Double]], Codec) =
    (Similarity.coarseCentroids(corpus, idCol, vecCol, nlist, seed,
      nInit = nInit, corpusTag = corpusTag), this)

  /** The space cells and codes live in (identity unless rotated). */
  private[operators] def rotate(v: Column): Column = v

  /** (vec_id, cv, cn, cell) → the stored row — one map-side pass. */
  private[operators] def encode(celled: DataFrame,
      centroids: Seq[Seq[Double]]): DataFrame

  /** The quantized stored row: (cell, vec_id, codes, cn). */
  protected def coded(celled: DataFrame, codes: Column): DataFrame =
    celled.select(col("cell"), col("vec_id"), codes.as("codes"),
      col("cn"))

  /** (query_id, qv, qn, cell) → the broadcast query side. */
  private[operators] def query(qc: DataFrame,
      centroids: Seq[Seq[Double]]): DataFrame

  /** Score of a joined (stored row, query row) pair. */
  private[operators] def score(dim: Int): Column

  /** Whether [[score]] approximates the cosine, so the probe keeps a
    * shortlist and re-scores it against the exact vectors.
    */
  private[operators] def refines: Boolean = true
}

object Codec {

  /** Flat IVF: the cells table stores the raw vectors and the probe
    * scores exact cosines — no shortlist, no refine.
    */
  case object Flat extends Codec {
    def name = "ivf"
    def paramsDir = "params"
    def codesDir = "cells"
    private[operators] def encode(celled: DataFrame,
        centroids: Seq[Seq[Double]]): DataFrame = celled
    private[operators] def query(qc: DataFrame,
        centroids: Seq[Seq[Double]]): DataFrame = qc
    private[operators] def score(dim: Int): Column =
      VectorFns.cosine(VectorFns.dot(col("qv"), col("cv")), col("qn"),
        col("cn"))
    override private[operators] def refines = false
  }

  /** IVF-PQ (E6b): m per-subspace codebooks of ks centroids each, flat
    * subspace-major in `books` (m·ks·dsub doubles). `residual = false`
    * codes the raw vector (IndexPQ-style) and scores ADC/(qn·cn);
    * `residual = true` codes unit(v) − centroid(cell) — the FAISS
    * IVFPQ default: everything lives in unit space, the ADC table is
    * per (query, probed cell) with the centroid folded in, and the
    * ADC dot IS the approximate cosine. `opq` (requires residual)
    * learns the OPQ-P rotation (E6c — [[Similarity.opqRotation]], d×d
    * row-major in `rotation`) and runs cells, codes and ADC tables in
    * rotated space; only the refine reads raw vectors. All four
    * request fields are pinned geometry: codes from different tiers
    * are mutually meaningless.
    */
  final case class Pq(m: Int = 8, ks: Int = 16,
      residual: Boolean = false, opq: Boolean = false,
      books: Seq[Double] = Nil, rotation: Seq[Double] = Nil)
      extends Codec {
    require(!opq || residual,
      "opq composes with residual coding (Similarity.opqTopK's shape)")
    def name = "pq"
    def paramsDir = "pq_params"
    def codesDir = "codes"
    override private[operators] def geometry =
      s" m=$m ks=$ks residual=$residual opq=$opq"
    override private[operators] def json =
      s""","m":$m,"ks":$ks,"residual":$residual,""" +
        s""""rotation":${rotation.mkString("[", ",", "]")},""" +
        s""""books":${books.mkString("[", ",", "]")}"""
    override private[operators] def parse(f: Fields): Codec = {
      // pre-residual params: raw-vector codes; pre-rotation: unrotated
      val rot = f.doublesOrNil("rotation")
      Pq(f.int("m"), f.int("ks"), f.bool("residual", false),
        rot.nonEmpty, f.doubles("books"), rot)
    }

    override private[operators] def train(corpus: DataFrame,
        idCol: String, vecCol: String, nlist: Int, seed: Long,
        nInit: Int, corpusTag: String): (Seq[Seq[Double]], Codec) = {
      val rotated =
        if (opq) copy(rotation = Similarity.opqRotation(corpus, idCol,
          vecCol, m, corpusTag = corpusTag).toSeq)
        else this
      val feed =
        if (opq) corpus.select(col(idCol),
          rotated.rotate(col(vecCol)).as(vecCol))
        else corpus
      // an OPQ build trains its coarse quantizer in ROTATED space — a
      // different function than the raw corpus's, so the memo tag is
      // salted with the rotation identity
      val tag = if (opq && corpusTag.nonEmpty) s"$corpusTag#opq-m$m"
        else corpusTag
      val (centroids, _) = super.train(feed, idCol, vecCol, nlist,
        seed, nInit, tag)
      (centroids, rotated.copy(books = Similarity.pqBooks(feed, idCol,
        vecCol, m, ks, seed, centroids.head.length,
        if (residual) Some(centroids) else None)))
    }

    /** The PCA projector kernel with zero mean IS the rotation. */
    override private[operators] def rotate(v: Column): Column =
      if (rotation.isEmpty) v
      else {
        val d = math.sqrt(rotation.length.toDouble).round.toInt
        NativeKernels.pcaProjectCol(v, new Array[Double](d),
          rotation.toArray, d)
      }

    private[operators] def encode(celled: DataFrame,
        centroids: Seq[Seq[Double]]): DataFrame = coded(celled,
      if (residual) NativeKernels.pqEncodeResidualCol(
        Similarity.unit(col("cv")), col("cell"),
        typedLit(centroids.flatten), typedLit(books), m, ks)
      else NativeKernels.pqEncodeCol(col("cv"), typedLit(books), m, ks))

    private[operators] def query(qc: DataFrame,
        centroids: Seq[Seq[Double]]): DataFrame = {
      val tbl =
        if (residual) NativeKernels.adcTableResidualCol(
          Similarity.unit(col("qv")), col("cell"),
          typedLit(centroids.flatten), typedLit(books), m, ks)
        else NativeKernels.adcTableCol(col("qv"), typedLit(books), m, ks)
      qc.withColumn("tbl", tbl)
        .select(col("query_id"), col("qn"), col("cell"), col("tbl"))
    }

    private[operators] def score(dim: Int): Column = {
      val adc = NativeKernels.adcDotCol(col("codes"), col("tbl"), ks)
      if (residual) adc else adc / (col("qn") * col("cn"))
    }
  }

  /** IVF-SQ8 (E6d): one affine uint8 code per dimension of the unit
    * vector against the per-dimension [vmin, vmax] of the unit corpus
    * (one exact min/max pass — deterministic at any scale); the
    * decode-folded dot of a unit query IS the approximate cosine.
    */
  final case class Sq8(vmin: Seq[Double] = Nil, vmax: Seq[Double] = Nil)
      extends Codec {
    def name = "sq"
    def paramsDir = "sq_params"
    def codesDir = "sq_codes"
    override private[operators] def json =
      s""","vmin":${vmin.mkString("[", ",", "]")},""" +
        s""""vmax":${vmax.mkString("[", ",", "]")}"""
    override private[operators] def parse(f: Fields): Codec =
      Sq8(f.doubles("vmin"), f.doubles("vmax"))
    override private[operators] def train(corpus: DataFrame,
        idCol: String, vecCol: String, nlist: Int, seed: Long,
        nInit: Int, corpusTag: String): (Seq[Seq[Double]], Codec) = {
      val (centroids, _) = super.train(corpus, idCol, vecCol, nlist,
        seed, nInit, corpusTag)
      val (lo, hi) = Similarity.unitBounds(corpus, vecCol)
      (centroids, Sq8(lo.toSeq, hi.toSeq))
    }
    private[operators] def encode(celled: DataFrame,
        centroids: Seq[Seq[Double]]): DataFrame = coded(celled,
      NativeKernels.sq8EncodeCol(Similarity.unit(col("cv")),
        typedLit(vmin), typedLit(vmax)))
    private[operators] def query(qc: DataFrame,
        centroids: Seq[Seq[Double]]): DataFrame =
      qc.select(col("query_id"), Similarity.unit(col("qv")).as("uq"),
        col("cell"))
    private[operators] def score(dim: Int): Column =
      NativeKernels.sq8DotCol(col("uq"), col("codes"), typedLit(vmin),
        typedLit(vmax))
  }

  /** IVF-BQ (E6e): one sign bit per dimension, ranked by Charikar's
    * Hamming-angle estimate cos(π·hamming/d). Nothing is trained
    * beyond the coarse quantizer: sign is scale-invariant.
    */
  case object Bq extends Codec {
    def name = "bq"
    def paramsDir = "bq_params"
    def codesDir = "bq_codes"
    private[operators] def encode(celled: DataFrame,
        centroids: Seq[Seq[Double]]): DataFrame =
      coded(celled, NativeKernels.bqEncodeCol(col("cv")))
    private[operators] def query(qc: DataFrame,
        centroids: Seq[Seq[Double]]): DataFrame =
      qc.select(col("query_id"), NativeKernels.bqEncodeCol(col("qv"))
        .as("qcodes"), col("cell"))
    private[operators] def score(dim: Int): Column =
      cos(lit(math.Pi) * NativeKernels.bqHammingCol(col("codes"),
        col("qcodes")).cast("double") / lit(dim.toDouble))
  }

  /** Every codec kind, for finding which one an index root holds. */
  private[operators] val kinds: Seq[Codec] = Seq(Flat, Pq(), Sq8(), Bq)

  /** Typed field reads over a params body: a missing or mistyped field
    * throws an IllegalStateException naming the root and the field.
    */
  private[operators] final class Fields(root: String, body: String) {
    import org.json4s._
    private val j =
      try org.json4s.jackson.JsonMethods.parse(body)
      catch { case e: Exception => throw new IllegalStateException(
        s"vector-index params at $root: unparseable body", e) }
    private def bad(field: String, want: String, got: JValue) =
      new IllegalStateException(s"vector-index params at $root: " +
        s"field $field: expected $want, got $got")
    def long(f: String): Long = j \ f match {
      case JInt(x) => x.toLong
      case JLong(x) => x
      case other => throw bad(f, "number", other)
    }
    def int(f: String): Int = long(f).toInt
    def string(f: String, default: String): String = j \ f match {
      case JString(s) => s
      case _ => default
    }
    def bool(f: String, default: Boolean): Boolean = j \ f match {
      case JBool(b) => b
      case _ => default
    }
    private def dbl(f: String)(v: JValue): Double = v match {
      case JDouble(x) => x
      case JInt(x) => x.toDouble
      case JLong(x) => x.toDouble
      case JDecimal(x) => x.toDouble
      case other => throw bad(f, "double", other)
    }
    private def arr(f: String)(v: JValue): Seq[Double] = v match {
      case JArray(xs) => xs.map(dbl(f))
      case other => throw bad(f, "array", other)
    }
    def doubles(f: String): Seq[Double] = arr(f)(j \ f)
    /** An array field older params files lack: absent reads as Nil. */
    def doublesOrNil(f: String): Seq[Double] = j \ f match {
      case JArray(_) => doubles(f)
      case _ => Nil
    }
    def rows(f: String): Seq[Seq[Double]] = j \ f match {
      case JArray(rs) => rs.map(arr(f))
      case other => throw bad(f, "array", other)
    }
  }
}
