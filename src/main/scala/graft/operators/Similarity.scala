package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import graft.functions.VectorFns

/** Approximate-nearest-neighbor search over embedding columns
  * (SURVEY.md §2 E5/E6).
  *
  * Scale notes: `bruteForceTopK` broadcasts the QUERY side (queries
  * are assumed few; the corpus is the 100-TB side) and scans the
  * corpus once — O(|corpus|·|queries|) scoring but no shuffle of the
  * corpus. The IVF family is the scale path: a KMeans coarse
  * quantizer (trained on a sample, centroid count `nlist`) buckets
  * the corpus; each query probes only its `nprobe` nearest cells,
  * cutting scored candidates to ~nprobe/nlist of the corpus. Its
  * in-memory operators (`ivfTopK` … `opqTopK`) are
  * [[VectorIndex.probe]] over a memoized [[index]] frame, one
  * [[Codec]] per quantizer. Every path ranks with the bounded top-k
  * aggregate ([[topKPerQuery]]).
  */
object Similarity {

  /** Exact cosine top-k: every query against every corpus vector.
    * Inputs: (idCol, vecCol) on both sides. Returns
    * (query_id, cand_id, cosine, rank<=k).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), VectorFns.norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("cand_id"),
      col(vecCol).as("cv"), VectorFns.norm(col(vecCol)).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        VectorFns.cosine(VectorFns.dot(col("qv"), col("cv")),
          col("qn"), col("cn")).as("cosine"))
    topKPerQuery(scored, "cosine", k)
  }

  /** Per-query top-k rank over a scored candidate frame — the shared
    * ranking tail of every ANN path. ONE bounded AGGREGATION
    * ([[graft.expressions.TopKByScore]]), not a rank window (r16, the
    * §5.3 ladder's biggest single finding made structural): a plain
    * `row_number() OVER (PARTITION BY query_id ORDER BY …)` sorts
    * every candidate row — locally for the partial group-limit,
    * again after the exchange — and WindowExec buffers whole query
    * groups, spilling past ~4k rows (measured at the 257-query × 1M
    * brute sweep: 930 of the 1002 s wall was that one spilling
    * window; the r16 interim fix bucketed the pre-rank, paying TWO
    * exchanges). The aggregate keeps k (score, id) pairs per query
    * in the hash-agg buffer: map-side partial aggregation means the
    * ONE exchange carries ≤ k rows per (query, map task) instead of
    * every candidate, nothing sorts but the k-row buffers, and a
    * degenerate query with 10^8 candidates costs 16·k bytes, not a
    * spilling sort. Output parity with the window form is spec-gated
    * (ties included — the order (score desc, cand_id asc) is total).
    */
  private[graft] def topKPerQuery(scored: DataFrame,
      scoreCol: String, k: Int, rankCol: String = "rank"): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.expressions.TopKByScore
        .topKByScore(col(scoreCol), col("cand_id"), k).as("__tk"))
      .select(col("query_id"), posexplode(col("__tk")).as(Seq("__p", "__e")))
      .select(col("query_id"), col("__e.id").as("cand_id"),
        col("__e.score").as(scoreCol),
        (col("__p") + 1).cast("int").as(rankCol))

  /** Embedding-cosine near-duplicate pairs: corpus vectors whose
    * cosine similarity ≥ threshold, found WITHOUT an all-pairs join —
    * a KMeans coarse quantizer buckets the corpus and each vector is
    * assigned to its `nprobe` nearest cells; only same-cell pairs are
    * scored. Multi-probe assignment keeps near-dup pairs that straddle
    * a cell boundary (a near-dup's two vectors are nearly coincident,
    * so their top-nprobe cell sets overlap with high probability).
    *
    * Scale notes: the candidate join shuffles (cell, id, vec) rows —
    * nprobe× the corpus, never corpus² — and the per-cell self-join is
    * bounded by cell population; AQE splits hot cells. Returns
    * (id1 < id2, cosine).
    */
  def cosineNearDup(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, nprobe: Int = 2,
      seed: Long = 42L, corpusTag: String = ""): DataFrame = {
    // reuse the memoized quantizer when the corpus is tagged (the
    // near-dup pass and ANN queries share one trained quantizer)
    val centroids = coarseCentroids(corpus, idCol, vecCol, nlist, seed,
      corpusTag = corpusTag)
    val celled = corpus
      .select(col(idCol).as("doc_id"), col(vecCol).as("v"),
        VectorFns.norm(col(vecCol)).as("nrm"))
      .withColumn("cell", explode(nearestCells(unit(col("v")),
        centroids, nprobe)))
      .select(col("cell"), col("doc_id"), col("v"), col("nrm"))
    celled.as("a").join(celled.as("b").hint("merge"),
        col("a.cell") === col("b.cell") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        VectorFns.cosine(VectorFns.dot(col("a.v"), col("b.v")),
          col("a.nrm"), col("b.nrm")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 shape): embedding-space near-duplicate pairs
    * from [[cosineNearDup]] (cluster-scoped comparisons via IVF-cell
    * bucketing — SemDeDup's within-k-means-cluster pruning), collapsed
    * to duplicate CLUSTERS with min-label connected components
    * (a~b, b~c is ONE group even when a~c falls under the threshold),
    * keep the minimum id per group — the deterministic keep-one
    * policy — and anti-join the losers out.
    *
    * Returns the SURVIVOR rows of `df` (all columns). At scale every
    * stage is bounded: the pair join is cell-bucketed (never
    * all-pairs), components shuffle vertex ids only, and the final
    * LEFT ANTI join exchanges just the id column of the loser set.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, nprobe: Int = 2,
      seed: Long = 42L, corpusTag: String = ""): DataFrame =
    semanticDedupFromPairs(df, idCol,
      cosineNearDup(df, idCol, vecCol, threshold, nlist,
        nprobe, seed, corpusTag))

  /** [[semanticDedup]]'s selection stage over an EXISTING pair frame
    * (columns id1/id2) — the production shape: near-dup pairs are a
    * materialized artifact (a lake table, a [[cosineNearDupCached]]
    * frame), and keep-one selection consumes it without re-running
    * the similarity join.
    */
  def semanticDedupFromPairs(df: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val losers = graft.operators.Dedup
      .connectedComponents(pairs.select(col("id1"), col("id2")),
        "id1", "id2")
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Memo for [[cosineNearDupCached]] (the MinHashLsh.pairsMemo
    * pattern): the pair sweep is the expensive stage every consumer
    * (semantic dedup, leakage-safe splits, audits) shares per session.
    */
  private val pairsMemo =
    new graft.sources.SessionMemo[(String, Double, Int, Int, Long),
      DataFrame](
      maxPerSession = 4, onEvict = _.unpersist(blocking = false))

  /** [[cosineNearDup]] memoized per (corpusTag, threshold, nlist,
    * nprobe, seed) and eagerly materialized — callers that identify
    * the corpus by tag share one sweep per session. `corpusTag` must
    * be non-empty: the tag IS the memo's notion of corpus identity,
    * and an empty default would hand one corpus's pair frame to a
    * caller holding a different DataFrame.
    */
  def cosineNearDupCached(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, nprobe: Int = 2,
      seed: Long = 42L, corpusTag: String): DataFrame = {
    require(corpusTag.nonEmpty,
      "cosineNearDupCached requires a non-empty corpusTag (the memo " +
        "key's corpus identity); use cosineNearDup for an untagged sweep")
    pairsMemo.getOrElseUpdate(df.sparkSession,
      (corpusTag, threshold, nlist, nprobe, seed)) {
      val pairs = cosineNearDup(df, idCol, vecCol, threshold, nlist,
        nprobe, seed, corpusTag).cache()
      pairs.count() // materialize under the memo lock
      pairs
    }
  }

  /** Unit-normalized copy of a float-vector column (float storage —
    * the assignment kernel reads float arrays; zero vectors pass
    * through unchanged). Spherical k-means: for COSINE retrieval the
    * quantizer trains and assigns on unit vectors, where L2-nearest
    * centroid ≡ cosine-nearest — raw-magnitude L2 cells split
    * direction-aligned vectors by length and cost probe recall
    * (FAISS's normalize-for-IP recipe). Scoring still reads the RAW
    * vectors; only bucketing is spherical.
    */
  private[operators] def unit(vec: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    // one-pass codegen kernel; the declarative form below re-evaluates
    // its captured norm subplan per element (O(D²) per vector,
    // interpreted — the §5.2 higher-order-lambda capture trap).
    // Bit-parity with [[unitReference]] is spec-gated, and every
    // pinned ann_* gate re-proves it end-to-end.
    graft.expressions.NativeKernels.unitVecCol(vec)

  /** Declarative reference for [[unit]] (spec parity). */
  private[graft] def unitReference(vec: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val n = VectorFns.norm(vec)
    when(n === 0d, vec)
      .otherwise(transform(vec, x => (x / n).cast("float")))
  }

  /** Map-side top-`nprobe` cell assignment: one native-kernel call per
    * row against the centroid literal — no crossJoin, no window, no
    * Exchange anywhere between the corpus scan and the celled output.
    */
  private[operators] def nearestCells(vec: org.apache.spark.sql.Column,
      centroids: Seq[Seq[Double]], nprobe: Int)
      : org.apache.spark.sql.Column = {
    // fail at plan time: nprobe <= 0 would otherwise crash the kernel
    // (negative array size) or silently explode() away every row
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    graft.expressions.NativeKernels.nearestCellsCol(
      vec, typedLit(centroids), lit(nprobe))
  }

  /** Canonical bounded training feed for coarse/PQ quantizers: the
    * `trainCap` vectors with the smallest (xxhash64(id), id) — a
    * deterministic pseudo-random sample — delivered in ONE sorted
    * partition. Two jobs this buys: (a) bit-reproducible KMeans fits
    * (k-means|| init samples by row position, and shuffle fetch order
    * is not deterministic run to run — the C8 lesson), which is what
    * lets the ANN query family carry pinned fixed-expectation
    * oracles; (b) the 100-TB shape — quantizer training reads a
    * bounded top-N (partial per-partition top-N, one merge), never a
    * full-corpus repartition(1).
    */
  private[operators] def canonicalTrainFeed(corpus: DataFrame,
      idCol: String, cols: Seq[org.apache.spark.sql.Column],
      trainCap: Int): DataFrame =
    corpus.select(cols :+ col(idCol).as("__tid"): _*)
      .orderBy(xxhash64(col("__tid")), col("__tid"))
      .limit(trainCap)

  /** Memo for the COARSE QUANTIZER FIT alone — O(nlist·dim) doubles
    * on the driver, no cached frames to evict. Keyed by everything
    * the fit is a function of, so a hit is bit-identical to
    * retraining (deterministic canonical feed + seeded restarts).
    */
  private val quantMemo =
    new graft.sources.SessionMemo[
      (String, String, String, Int, Long, Int, Int),
      Seq[Seq[Double]]](maxPerSession = 8)

  /** The coarse quantizer fit every IVF-family index shares (r17,
    * verdict #8 / SURVEY §5.3 finding 2): the IVF, SQ and PQ builds
    * over the SAME corpus tag and geometry train the SAME centroids —
    * deterministically, so re-fitting per index family was pure waste
    * (at ladder geometry the fit dominates the build). `corpusTag`
    * empty = always a fresh fit (the memo's notion of corpus identity
    * is the tag, exactly like [[index]]).
    *
    * Fit discipline (the C8 lesson): nInit seeded restarts on the
    * canonical bounded feed, lowest inertia wins
    * (Clustering.bestOfFits) — a single fit can land on a poor local
    * optimum and cost measurable probe recall; restarts on the cached
    * bounded feed are cheap next to the corpus-sized assignment pass
    * at SMALL nlist. nInit is a dial (r16, the §5.3 ladder finding):
    * at ladder geometry (nlist ~ sqrt(corpus), 256-1024 cells)
    * training is 10 × nlist × trainCap × iters flops and DOMINATES
    * the build — 338 s of a 100k-vector build was the 10-restart fit.
    * FAISS ships nredo=1 for exactly this reason; keep 10 where the
    * quality/determinism discipline is worth 10× train cost, drop to
    * 1-2 at large nlist (centroids freeze in the index params either
    * way, so geometry stays pinned).
    */
  private[operators] def coarseCentroids(corpus: DataFrame,
      idCol: String, vecCol: String, nlist: Int, seed: Long,
      trainCap: Int = 65536, nInit: Int = 10,
      corpusTag: String = ""): Seq[Seq[Double]] = {
    def fit: Seq[Seq[Double]] = {
      val train = canonicalTrainFeed(corpus, idCol, Seq(
        array_to_vector(unit(col(vecCol)).cast("array<double>"))
          .as("features")), trainCap).cache()
      val model =
        try Clustering.bestOfFits(train, nlist, seed, nInit = nInit)
        finally train.unpersist(blocking = false)
      // centroids: O(nlist) doubles on the driver — shipped to
      // executors as an expression literal, never a join side
      model.clusterCenters.map(_.toArray.toSeq).toSeq
    }
    if (corpusTag.isEmpty) fit
    else quantMemo.getOrElseUpdate(corpus.sparkSession,
      (corpusTag, idCol, vecCol, nlist, seed, trainCap, nInit))(fit)
  }

  /** An in-memory IVF-family index: the params (a plan literal — the
    * quantizer travels inside the expressions, no join needed) and the
    * encoded rows exactly as [[VectorIndex]] stores them — in
    * production both are materialized to the lake at build time (an
    * ANN index IS a materialized artifact); [[index]] memoizes per
    * (session, inputs) locally.
    */
  final case class Index(params: VectorIndex.Params, codes: DataFrame)

  private val indexMemo =
    new graft.sources.SessionMemo[
      (String, String, String, Int, Long, Codec), Index](
      maxPerSession = 8, onEvict = _.codes.unpersist(blocking = false))

  /** Build (or reuse) the `codec` index of a corpus: the training and
    * the map-side encode of [[VectorIndex.build]], minus the lake.
    * `corpusTag` keys the memo — pass the data location (e.g. the sf
    * dir) or "" to force a fresh build.
    */
  def index(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, seed: Long = 42L, codec: Codec = Codec.Flat,
      corpusTag: String = ""): Index = {
    def build: Index = {
      val p = VectorIndex.train(corpus, idCol, vecCol, nlist, seed,
        nInit = 10, corpusTag = corpusTag, codec = codec)
      val codes = VectorIndex.encode(corpus, idCol, vecCol, p)
      Index(p, if (corpusTag.nonEmpty) codes.cache() else codes)
    }
    if (corpusTag.isEmpty) build
    else indexMemo.getOrElseUpdate(corpus.sparkSession,
      (corpusTag, idCol, vecCol, nlist, seed, codec))(build)
  }

  /** Top-k of `queries` against the in-memory `codec` index: the
    * persisted probe ([[VectorIndex.probe]]) with a filter over the
    * memoized rows in place of the partition-pruned lake scan.
    */
  private def indexTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nlist: Int, nprobe: Int,
      refine: Int, seed: Long, corpusTag: String, codec: Codec)
      : DataFrame = {
    val idx = index(corpus, idCol, vecCol, nlist, seed, codec, corpusTag)
    VectorIndex.probe(idx.params, idx.codes.filter(_), queries,
      Some(corpus), idCol, vecCol, k, nprobe, refine)
  }

  /** IVF-bucketed ANN: KMeans coarse quantizer, probe the `nprobe`
    * nearest cells per query, exact cosine within the probed buckets.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 3, seed: Long = 42L,
      corpusTag: String = ""): DataFrame =
    indexTopK(corpus, queries, idCol, vecCol, k, nlist, nprobe, 1, seed,
      corpusTag, Codec.Flat)

  // ---- The quantized tiers (E6b-e) ---------------------------------
  // The memory/IO-compressed scale ladder: the candidate scan reads
  // codes instead of the float embedding — SQ8 one byte per dimension
  // (4×), BQ one bit (32×), PQ m small ints (~64× at D=1024/m=64) —
  // which is what makes a 100-TB embedding corpus scannable at all.
  // Each shortlists the top k·refine per query by its approximate
  // score, then REFINES: re-scores only the shortlist against the
  // exact vectors, so the output ranks true cosines (FAISS's
  // RefineFlat). The codecs are documented in [[Codec]].

  /** IVF-PQ top-k with exact refine: probe `nprobe` cells per query,
    * score candidates from CODES via the query's ADC table (m lookups
    * each), shortlist the top `k * refine` per query, then re-score
    * ONLY the shortlist against the exact corpus vectors and rank
    * true cosines. The corpus-sized work touches codes; the exact
    * vectors are read for shortlist ids alone (a broadcast semi-join
    * at 100 TB — point lookups, not a scan).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 3, m: Int = 8, ks: Int = 16,
      refine: Int = 4, seed: Long = 42L, corpusTag: String = "")
      : DataFrame =
    indexTopK(corpus, queries, idCol, vecCol, k, nlist, nprobe, refine,
      seed, corpusTag, Codec.Pq(m, ks))

  /** Residual IVF-PQ top-k with exact refine — [[pqTopK]] with codes
    * of unit(v) − centroid(cell): same m·ks budget, measurably lower
    * cosine-approximation error on clustered corpora (spec-gated).
    * Price: the ADC table is per (query, PROBED CELL), not per query —
    * nprobe·ks·dim extra doubles on the broadcast side, nothing
    * against the candidate-code scan.
    */
  def rpqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 3, m: Int = 8, ks: Int = 16,
      refine: Int = 4, seed: Long = 42L, corpusTag: String = "")
      : DataFrame =
    indexTopK(corpus, queries, idCol, vecCol, k, nlist, nprobe, refine,
      seed, corpusTag, Codec.Pq(m, ks, residual = true))

  /** OPQ-rotated residual IVF-PQ top-k: the WHOLE residual tier —
    * coarse quantizer, residual codebooks, per-(query, cell) ADC
    * tables — runs in rotated space (rotation preserves norms and dot
    * products, so the ADC dot is still the approximate cosine), then
    * the refine re-scores against the ORIGINAL vectors: reported
    * cosines are bit-identical to brute force over the raw
    * embeddings, which is what lets the query carry the same
    * pinned-picks oracle as the rest of the ANN family.
    */
  def opqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 3, m: Int = 8, ks: Int = 16,
      refine: Int = 4, seed: Long = 42L, corpusTag: String = "")
      : DataFrame =
    indexTopK(corpus, queries, idCol, vecCol, k, nlist, nprobe, refine,
      seed, corpusTag, Codec.Pq(m, ks, residual = true, opq = true))

  /** IVF-SQ8 top-k with exact refine: score the byte codes with the
    * decode-folded dot (both sides unit, so the dot IS the
    * approximate cosine), shortlist, re-score exactly — a 4×-smaller
    * candidate payload and no codebook at all.
    */
  def sqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 3, refine: Int = 4,
      seed: Long = 42L, corpusTag: String = ""): DataFrame =
    indexTopK(corpus, queries, idCol, vecCol, k, nlist, nprobe, refine,
      seed, corpusTag, Codec.Sq8())

  /** IVF-BQ top-k with exact refine: rank sign-bit codes by the
    * Hamming-angle estimator, shortlist, re-score exactly. The
    * candidate payload is d/8 bytes — 32× smaller than the float
    * vector — and the scorer is xor+popcount.
    */
  def bqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 3, refine: Int = 4,
      seed: Long = 42L, corpusTag: String = ""): DataFrame =
    indexTopK(corpus, queries, idCol, vecCol, k, nlist, nprobe, refine,
      seed, corpusTag, Codec.Bq)

  /** The m per-subspace PQ codebooks over `feed`'s canonical bounded
    * sample — the bit-reproducible book-training block of
    * [[Codec.Pq]]. With `residualOf` the books quantize cell
    * residuals of the unit vectors against those centroids.
    */
  private[operators] def pqBooks(feed: DataFrame, idCol: String,
      vecCol: String, m: Int, ks: Int, seed: Long, dim: Int,
      residualOf: Option[Seq[Seq[Double]]]): Seq[Double] = {
    require(dim % m == 0, s"pq books: dim $dim not divisible by m=$m")
    val dsub = dim / m
    // features computed INSIDE the canonical feed's pre-sort select:
    // projections stacked ABOVE the sort+limit break the
    // TakeOrderedAndProject pattern and the limit degrades to a
    // GlobalLimit shuffle whose row order follows fetch order — the
    // C8 nondeterminism, measured as CPU-count-dependent residual
    // codebooks before this layout
    val v = residualOf.fold(col(vecCol)) { centroids =>
      val uv = unit(col(vecCol))
      graft.expressions.NativeKernels.vecResidualCol(uv,
        nearestCells(uv, centroids, 1).getItem(0),
        typedLit(centroids.flatten))
    }
    val train = canonicalTrainFeed(feed, idCol,
      (0 until m).map(j =>
        array_to_vector(slice(v, j * dsub + 1, dsub)
          .cast("array<double>")).as(s"__f$j")), trainCap = 65536)
      .cache()
    try (0 until m).flatMap { j =>
      new KMeans().setK(ks).setSeed(seed + j).setMaxIter(10)
        .setFeaturesCol(s"__f$j").fit(train)
        .clusterCenters.flatMap(_.toArray).toSeq
    }
    finally train.unpersist(blocking = false)
  }

  /** Shared shortlist+refine tail for every quantized tier, in memory
    * and served from the lake: keep the top k·refine candidates per
    * query by `approx_cosine` (bounded top-k aggregate — never a full
    * sort), then re-score ONLY the shortlist against the exact vectors
    * (broadcast point lookups), so reported cosines are bit-identical
    * to brute force regardless of which coding produced the shortlist.
    */
  private[operators] def shortlistRefine(approx: DataFrame,
      corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, refine: Int): DataFrame = {
    // corpus-sized approx ranking — the bounded-aggregate form; the
    // exact re-rank reuses it on the <= k*refine shortlist
    val short = topKPerQuery(approx, "approx_cosine", k * refine,
        rankCol = "arank")
      .select(col("query_id"), col("cand_id"))
    val cand = corpus.select(col(idCol).as("cand_id"),
      col(vecCol).as("cv"), VectorFns.norm(col(vecCol)).as("cn"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), VectorFns.norm(col(vecCol)).as("qn"))
    val exact = cand.join(broadcast(short), Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("cand_id"),
        VectorFns.cosine(VectorFns.dot(col("qv"), col("cv")),
          col("qn"), col("cn")).as("cosine"))
    topKPerQuery(exact, "cosine", k)
  }

  /** Per-dimension [vmin, vmax] of the unit corpus — the SQ8 bounds:
    * one exact order-independent treeAggregate (the Pca.fit shape),
    * so the fit is deterministic at ANY scale with no bounded feed.
    */
  private[operators] def unitBounds(corpus: DataFrame, vecCol: String)
      : (Array[Double], Array[Double]) = {
    import corpus.sparkSession.implicits._
    val units = corpus.select(unit(col(vecCol)).as("__u")).na.drop()
      .as[Seq[Float]]
    val d = units.head().length
    val zero = (Array.fill(d)(Double.MaxValue),
      Array.fill(d)(Double.MinValue))
    units.rdd.treeAggregate(zero)(
      seqOp = { case ((lo, hi), v) =>
        require(v.length == d,
          s"ragged embedding: expected $d dims, got ${v.length}")
        var i = 0
        while (i < d) {
          val x = v(i).toDouble
          if (x < lo(i)) lo(i) = x
          if (x > hi(i)) hi(i) = x
          i += 1
        }
        (lo, hi)
      },
      combOp = { case ((alo, ahi), (blo, bhi)) =>
        var i = 0
        while (i < d) {
          if (blo(i) < alo(i)) alo(i) = blo(i)
          if (bhi(i) > ahi(i)) ahi(i) = bhi(i)
          i += 1
        }
        (alo, ahi)
      },
      depth = 2)
  }

  // ---- OPQ rotation tier (E6c — parametric OPQ, Ge et al. 2013) ----
  // The remaining FAISS-family rung above residual PQ: ONE orthogonal
  // rotation learned from the unit-vector covariance eigenbasis with
  // eigenvalue-BALANCED subspace allocation, applied before the
  // subspace split. On correlated / variance-skewed dimensions a raw
  // index split starves some codebooks (several correlated
  // high-variance coords land together) and wastes others
  // (near-constant coords); rotating to the eigenbasis decorrelates,
  // and balancing the eigenvalue PRODUCT across the m subspaces
  // equalizes each codebook's information load — the parametric
  // ("OPQ-P") variant, which the paper shows captures most of the
  // iterative variant's gain on natural data without the m KMeans
  // refits per alternation sweep.

  private val opqMemo =
    new graft.sources.SessionMemo[(String, String, String, Int, Int),
      Array[Double]](maxPerSession = 4, onEvict = _ => ())

  /** Learn the OPQ-P rotation: full PCA eigenbasis of the UNIT
    * vectors (canonical bounded feed — bit-reproducible, the
    * Pca.fitCanonical contract), then greedy eigenvalue-product
    * balancing over the m subspaces (LPT over |log λ|: SMALLEST
    * remaining eigenvalue → the non-full bucket with the largest
    * current product). Returns the d×d
    * rotation row-major: row r is the eigenvector assigned to slot r,
    * subspace-major — `pcaProject(v, 0, R, d)` IS the rotation. No
    * translation: cosine retrieval must preserve dot products, so the
    * mean is used only to estimate the covariance, never subtracted
    * at apply time.
    */
  def opqRotation(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, cap: Int = 65536, corpusTag: String = "")
      : Array[Double] = {
    def build: Array[Double] = {
      import corpus.sparkSession.implicits._
      val d = corpus.select(col(vecCol)).na.drop()
        .as[Seq[Float]].head().length
      require(d % m == 0, s"opqRotation: dim $d not divisible by m=$m")
      val dsub = d / m
      // unit() is applied BELOW the canonical feed's sort (project
      // collapse keeps TakeOrderedAndProject — the C8 determinism
      // pattern)
      val pca = Pca.fitCanonical(
        corpus.select(col(idCol), unit(col(vecCol)).as(vecCol)),
        idCol, vecCol, k = d, cap)
      val buckets = Array.fill(m)(List.empty[Int])
      val load = Array.fill(m)(0.0)
      // LPT in the log domain (Graham's rule): unit-vector
      // eigenvalues are all < 1, so each carries a negative log
      // "weight" and balancing the per-bucket log SUMS equalizes the
      // eigenvalue PRODUCTS (Ge et al. 2013's allocation target).
      // LPT schedules the HEAVIEST job first onto the least-loaded
      // machine — heaviest = largest |log λ| = SMALLEST eigenvalue,
      // so iterate the Pca components (eigenvalue-DESC) in REVERSE,
      // and "least loaded" = log-sum closest to zero = the non-full
      // bucket with the LARGEST current product (ties: lower index).
      // (Descending iteration with the same max-load rule anti-
      // balances: λ = .8/.4/.2/.1, m=2 gives products .16/.04 where
      // this order reaches the optimal .08/.08.)
      var i = d - 1
      while (i >= 0) {
        var best = -1
        var j = 0
        while (j < m) {
          if (buckets(j).length < dsub &&
              (best < 0 || load(j) > load(best))) best = j
          j += 1
        }
        buckets(best) = buckets(best) :+ i
        load(best) += math.log(math.max(pca.variance(i), 1e-12))
        i -= 1
      }
      // within each bucket restore eigenvalue-DESC slot order (the
      // assignment loop appended ASC) so the rotation's subspace-
      // major layout stays spectrum-ordered like before
      buckets.flatMap(_.sorted.flatMap(pca.components(_)))
    }
    if (corpusTag.isEmpty) build
    else opqMemo.getOrElseUpdate(corpus.sparkSession,
      (corpusTag, idCol, vecCol, m, cap))(build)
  }
}
