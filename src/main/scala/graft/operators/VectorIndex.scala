package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFns
import graft.sources.{AtomicLake, CommitStore, HardlinkCommitStore}

/** Persistent IVF-family vector index over the ACID lake (SURVEY.md §2
  * E14) — the vector twin of [[NearDupIndex]]: a corpus is indexed
  * ONCE, then every probe batch and every ingest batch works against
  * the PERSISTED index without re-reading or re-training on the corpus.
  * What differs between quantizers — flat IVF, PQ (raw, residual,
  * OPQ), SQ8, BQ — is a [[Codec]]; everything below is one
  * implementation over it, and the in-memory [[Similarity]] operators
  * run the same [[probe]] over an unpersisted frame.
  *
  * Layout is the scale story: the stored rows are an [[AtomicLake]]
  * PARTITIONED BY CELL, so a probe of `nprobe` cells is a
  * partition-pruned scan — the manifest plans only those cells' files
  * and the other `nlist - nprobe` cells' bytes are never opened (spec
  * proves planned < total via scanInfo). At 100 TB the quantized
  * codecs are the ANN shape: probes scan a pruned slice of a table
  * 4-64× smaller than the embeddings, and the full vectors are touched
  * only by the refine's point lookups against the SOURCE corpus. The
  * params (coarse quantizer plus the codec's trained fields) are a
  * version-1 claim through the same [[CommitStore]] CAS as the tables
  * — committed BEFORE any data, so a crash leaves params that describe
  * whatever exists, and a rebuild against different geometry refuses
  * loudly instead of silently mixing rows from two quantizers.
  *
  * [[append]] is the incremental path: new vectors are encoded
  * MAP-SIDE with the persisted params (no retraining — cell quality
  * for appended data is the same boundary-error argument probing
  * already covers) and upserted idempotently by id (keys-only anti
  * join), landing as new files in their cells' partitions.
  */
object VectorIndex {

  /** `metric` names the bucketing geometry ("unit-l2": spherical —
    * centroids trained on and assignments computed from unit vectors;
    * the cosine-retrieval shape). Pre-metric params files read back
    * as "l2" and REFUSE to serve a spherical build: mixing
    * assignments from two geometries silently corrupts probe recall.
    * `codec` carries the quantizer's pinned and trained fields.
    */
  final case class Params(nlist: Int, seed: Long, dim: Int,
      centroids: Seq[Seq[Double]], metric: String = "unit-l2",
      codec: Codec = Codec.Flat)

  private def paramsRoot(root: String, c: Codec) = s"$root/${c.paramsDir}"
  private def codesRoot(root: String, c: Codec) = s"$root/${c.codesDir}"

  private def paramsJson(p: Params): String = {
    val cents = p.centroids.map(_.mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""{"nlist":${p.nlist},"seed":${p.seed},"dim":${p.dim},""" +
      s""""metric":"${p.metric}"${p.codec.json},"centroids":$cents}"""
  }

  private def parseParams(root: String, kind: Codec, body: String)
      : Params = {
    val f = new Codec.Fields(root, body)
    Params(f.int("nlist"), f.long("seed"), f.int("dim"),
      f.rows("centroids"),
      f.string("metric", "l2"), // pre-metric: raw-magnitude geometry
      kind.parse(f))
  }

  /** The codec kinds whose params are committed under `root`. */
  private def kindsAt(root: String, store: CommitStore): Seq[Codec] =
    Codec.kinds.filter(c =>
      store.listVersions(paramsRoot(root, c)).nonEmpty)

  /** Commit params as version 1 — or, if already claimed, verify the
    * GEOMETRY matches (nlist/seed/dim/metric plus the codec's request
    * fields; trained fields are a function of them plus the build
    * corpus) and return the EXISTING params, so a re-build against a
    * grown corpus keeps the original quantizer and existing rows stay
    * valid. One root holds one codec kind.
    */
  private def claimOrRead(root: String, p: Params,
      store: CommitStore): Params = {
    kindsAt(root, store).foreach(k => require(k.name == p.codec.name,
      s"vector index at $root is a ${k.name} index; refusing a " +
        s"${p.codec.name} build — delete the index root to change " +
        "geometry"))
    if (store.tryCommit(paramsRoot(root, p.codec), 1L, paramsJson(p))) p
    else {
      val e = parseParams(root, p.codec,
        store.readBody(paramsRoot(root, p.codec), 1L))
      def geometry(q: Params) = s"nlist=${q.nlist} seed=${q.seed} " +
        s"dim=${q.dim} metric=${q.metric}${q.codec.geometry}"
      require(geometry(e) == geometry(p),
        s"${p.codec.name} index at $root is pinned to ${geometry(e)}; " +
          s"refusing ${geometry(p)} — delete the index root to change " +
          "geometry")
      e
    }
  }

  def exists(root: String,
      store: CommitStore = HardlinkCommitStore): Boolean =
    kindsAt(root, store).nonEmpty

  private def kindAt(root: String, store: CommitStore): Codec =
    kindsAt(root, store) match {
      case Seq(k) => k
      case Seq() => throw new IllegalArgumentException(
        s"no vector index at $root: params never committed (build() " +
          "writes them before any table data)")
      case ks => throw new IllegalStateException(s"vector index at " +
        s"$root holds ${ks.map(_.name).mkString(" and ")} params")
    }

  def readParams(root: String,
      store: CommitStore = HardlinkCommitStore): Params = {
    val kind = kindAt(root, store)
    val vs = store.listVersions(paramsRoot(root, kind))
    parseParams(root, kind, store.readBody(paramsRoot(root, kind),
      vs.max))
  }

  /** Serving guard: every read/assign path refuses params whose
    * bucketing geometry this code does not implement — a pre-metric
    * ("l2") index on disk has raw-magnitude cell assignments, and
    * probing it with unit-vector geometry silently corrupts recall.
    * Rebuild (delete the root) instead.
    */
  private def requireServable(p: Params, root: String): Unit =
    require(p.metric == "unit-l2",
      s"vector index at $root has metric=${p.metric}; this build " +
        "serves only unit-l2 (spherical) geometry — delete the " +
        "index root and rebuild")

  /** Train the coarse quantizer and the codec on `corpus`. */
  private[operators] def train(corpus: DataFrame, idCol: String,
      vecCol: String, nlist: Int, seed: Long, nInit: Int,
      corpusTag: String, codec: Codec): Params = {
    val (centroids, trained) = codec.train(corpus, idCol, vecCol, nlist,
      seed, nInit, corpusTag)
    Params(nlist, seed, centroids.head.length, centroids,
      codec = trained)
  }

  /** The stored rows of `df` — one map-side assign+encode pass with
    * the params' literals (rotated first when the codec rotates); no
    * Exchange. `cn` is the raw norm: rotation preserves it, and the
    * refine needs the raw-space value.
    */
  private[operators] def encode(df: DataFrame, idCol: String,
      vecCol: String, p: Params): DataFrame =
    p.codec.encode(df
      .select(col(idCol).as("vec_id"), p.codec.rotate(col(vecCol)).as("cv"),
        VectorFns.norm(col(vecCol)).as("cn"))
      .withColumn("cell",
        Similarity.nearestCells(Similarity.unit(col("cv")),
          p.centroids, 1).getItem(0)), p.centroids)

  /** Build (or rebuild over the SAME geometry) the index: train the
    * coarse quantizer and the codec, claim params, overwrite the
    * cell-partitioned rows lake. Returns the committed params.
    *
    * Training runs through [[Similarity.coarseCentroids]] — the
    * canonical bounded feed on UNIT vectors (bit-reproducible, so
    * index probes can carry pinned oracles) with nInit seeded restarts
    * (a training dial, not geometry: the centroids freeze in the
    * params). When `corpusTag` names the corpus the fit is memoized
    * per session, so sibling builds of other codecs over the same
    * corpus and geometry stop re-fitting identical centroids (SURVEY
    * §5.3 finding 2: at ladder geometry the fit dominates the build).
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      root: String, nlist: Int = 16, seed: Long = 42L,
      filesPerPartition: Int = 1, nInit: Int = 10,
      corpusTag: String = "", codec: Codec = Codec.Flat,
      store: CommitStore = HardlinkCommitStore): Params = {
    import corpus.sparkSession.implicits._
    val dim = corpus.select(col(vecCol)).na.drop()
      .as[Seq[Float]].head().length
    // the claim carries the REQUESTED geometry — including the metric
    // THIS code implements — never the stored one, so a pre-metric
    // ("l2") index or a flipped codec flag on disk refuses here
    // instead of being silently re-served
    val p = claimOrRead(root,
      if (exists(root, store)) readParams(root, store).copy(nlist = nlist,
        seed = seed, dim = dim, metric = "unit-l2", codec = codec)
      else train(corpus, idCol, vecCol, nlist, seed, nInit, corpusTag,
        codec), store)
    AtomicLake.overwrite(encode(corpus, idCol, vecCol, p),
      codesRoot(root, p.codec), Seq("cell"), filesPerPartition, store)
    p
  }

  /** Incremental ingest: encode `batch` with the PERSISTED params
    * (map-side, no retraining), drop ids already indexed (idempotent
    * re-delivery), append into the cell partitions. Returns the lake
    * version (unchanged when everything was already indexed).
    */
  def append(spark: SparkSession, batch: DataFrame, idCol: String,
      vecCol: String, root: String, filesPerPartition: Int = 1,
      store: CommitStore = HardlinkCommitStore): Long = {
    val p = readParams(root, store)
    requireServable(p, root)
    val rows = codesRoot(root, p.codec)
    val existing = AtomicLake.read(spark, rows, store)
      .select(col("vec_id"))
    val fresh = encode(batch, idCol, vecCol, p)
      .join(existing, Seq("vec_id"), "left_anti")
    if (fresh.isEmpty) AtomicLake.currentVersion(rows, store).get
    else AtomicLake.append(fresh, rows, Seq("cell"), filesPerPartition,
      store)
  }

  /** Top-k cosine neighbors of each query against the index at `root`
    * ([[probe]] over the partition-pruned lake scan). A refining codec
    * re-scores its shortlist against `corpus`'s exact vectors.
    */
  def topK(spark: SparkSession, queries: DataFrame, idCol: String,
      vecCol: String, root: String, k: Int, nprobe: Int = 3,
      refine: Int = 4, corpus: Option[DataFrame] = None,
      store: CommitStore = HardlinkCommitStore): DataFrame = {
    val p = readParams(root, store)
    requireServable(p, root)
    probe(p, AtomicLake.scan(spark, codesRoot(root, p.codec), store)(_),
      queries, corpus, idCol, vecCol, k, nprobe, refine)
  }

  /** The ONE probe of the IVF family: queries probe their `nprobe`
    * nearest cells map-side, the probed cell SET (bounded by nlist,
    * collected by design) becomes the predicate of `scan` — a
    * partition-pruned lake scan, or a filter over an in-memory rows
    * frame — and the stored rows join the broadcast query side (a
    * probe batch is bounded) and take the codec's score. An exact
    * codec ranks its cosines; an approximate one hands its scores to
    * [[Similarity.shortlistRefine]].
    */
  private[operators] def probe(p: Params, scan: Column => DataFrame,
      queries: DataFrame, corpus: Option[DataFrame], idCol: String,
      vecCol: String, k: Int, nprobe: Int, refine: Int): DataFrame = {
    val c = p.codec
    require(!c.refines || refine >= 1,
      s"refine must be >= 1, got $refine")
    require(!c.refines || corpus.nonEmpty, s"a ${c.name} probe " +
      "re-scores its shortlist against the exact vectors: pass corpus")
    val qc = c.query(queries
      .select(col(idCol).as("query_id"), c.rotate(col(vecCol)).as("qv"),
        VectorFns.norm(col(vecCol)).as("qn"))
      .withColumn("cell", explode(
        Similarity.nearestCells(Similarity.unit(col("qv")),
          p.centroids, nprobe))), p.centroids)
    import queries.sparkSession.implicits._
    val probed = qc.select(col("cell")).distinct().as[Int]
      .collect().sorted
    val scored = scan(col("cell").isin(probed.map(Int.box): _*))
      .join(broadcast(qc), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        c.score(p.dim).as(if (c.refines) "approx_cosine" else "cosine"))
    if (c.refines) Similarity.shortlistRefine(scored, corpus.get,
      queries, idCol, vecCol, k, refine)
    else Similarity.topKPerQuery(scored, "cosine", k)
  }

  /** (files planned, files total) for a probe of `cells` — the
    * partition-pruning observability the spec asserts.
    */
  def probeScanInfo(root: String, cells: Seq[Int],
      store: CommitStore = HardlinkCommitStore): (Int, Int) =
    AtomicLake.scanInfo(codesRoot(root, kindAt(root, store)), store)(
      col("cell").isin(cells.map(Int.box): _*))
}
