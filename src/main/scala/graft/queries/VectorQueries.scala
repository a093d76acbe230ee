package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.lakehouse.Silver
import graft.operators.{Clustering, Codec, Similarity, VectorIndex}

/** Vector similarity + clustering query family (SURVEY.md §2 E5/E6,
  * C8-C10). `ann_topk` is oracle-gated (its ordered-fold dot product
  * is bit-portable); the IVF/index/PQ entries carry pinned-picks hash
  * oracles at the driver SF (pinnedAnnOracle — the quantizer fits are
  * bit-reproducible since r11) with recall/parity additionally
  * spec-gated; the K-Means entries pin full VALUES oracles.
  */
object VectorQueries {

  private def fact(s: org.apache.spark.sql.SparkSession, dir: String) =
    Silver.factEventsCached(s, dir)

  /** The persisted index root of an ann_* entry: `target/lake/<name>/<dir>`. */
  private def indexRoot(name: String, dir: String): String =
    graft.Scratch.forDir(dir, "lake", name)

  val queries: Map[String, Q] = Map(

    // E5 — brute-force cosine top-10 for queries vec_id < 8.
    "ann_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 10)
    },

    // E6 — IVF-bucketed ANN, same queries. Hash-gated at the driver SF
    // against a pinned-picks oracle (see pinnedAnnOracle — the
    // quantizer fit is bit-reproducible); recall vs brute force is
    // additionally asserted in SimilaritySpec. nprobe=8 of nlist=16:
    // top-k retrieval needs wider probing than the near-dup mode
    // (recall@10 0.775 vs pinned brute force under the r11 canonical
    // quantizer — the 500-vector uniform-random corpus is the IVF
    // worst case: cells are sparse arbitrary Voronoi regions; at
    // corpus scale the same probe fraction recalls strictly better).
    "ann_ivf_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 10, nprobe = 8, corpusTag = dir)
    },

    // E6b ∘ E14 — IVF-PQ with exact refine, served from the PERSISTED
    // codes lake (r11): first run trains + commits codebooks (CAS) and
    // the cell-partitioned codes table; later runs probe the
    // partition-pruned scan. Hash-gated at the driver SF against the
    // SAME pinnedAnnOracle as the in-memory form — the gate IS the
    // lake-parity contract (codes and norms round-trip parquet
    // exactly). Recall + the refine contract stay spec-gated in
    // SimilaritySpec/VectorIndexSpec. The candidate scan reads m=8
    // code ints + a norm instead of 64 floats; ADC scores cost m
    // table lookups; only the k*refine shortlist touches real vectors.
    "ann_pq_topk" -> { (s, dir) =>
      val root = indexRoot("pq_index_q2", dir)
      val emb = Tables.embeddings(s, dir)
      if (!VectorIndex.exists(root))
        VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 16,
          seed = 42L, corpusTag = dir, codec = Codec.Pq(m = 8, ks = 16))
      VectorIndex.topK(s, emb.filter(col("vec_id") < 8), "vec_id",
        "embedding", root, k = 10, nprobe = 8, refine = 8,
        corpus = Some(emb))
    },

    // E6e — IVF binary (sign) quantization: one bit per dimension,
    // Hamming-angle shortlist (Charikar's cos(π·h/d) estimator),
    // exact refine — the 32× in-memory hot tier production vector
    // stores run, with ZERO trained artifacts (sign is
    // scale-invariant) beyond the shared coarse quantizer, so the
    // whole chain pins trivially. Recall/kernel contracts in
    // SimilaritySpec.
    "ann_bq_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.bqTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 10, nlist = 16, nprobe = 8,
        refine = 8, corpusTag = dir)
    },

    // E6d — IVF-SQ8 scalar quantization (FAISS
    // IndexIVFScalarQuantizer QT_8bit shape), SERVED FROM THE
    // PERSISTED INDEX like the PQ tiers: one affine uint8 code per
    // DIMENSION (BINARY — one byte/dim in the cell-partitioned codes
    // lake), decoded on the fly inside the dot kernel — the
    // near-exact 4×-compression rung between raw IVF and PQ. The
    // bounds fit is ONE exact order-independent min/max pass
    // (deterministic at any scale, no bounded feed needed), the
    // coarse quantizer is the shared canonical-feed fit, so the
    // whole chain pins; lake-served output is spec-proven bit-equal
    // to the in-memory Similarity.sqTopK. Recall/bound/kernel
    // contracts spec-gated in SimilaritySpec.
    "ann_sq_topk" -> { (s, dir) =>
      val root = indexRoot("sq_index_q1", dir)
      val emb = Tables.embeddings(s, dir)
      if (!VectorIndex.exists(root))
        VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 16,
          seed = 42L, corpusTag = dir, codec = Codec.Sq8())
      VectorIndex.topK(s, emb.filter(col("vec_id") < 8), "vec_id",
        "embedding", root, k = 10, nprobe = 8, refine = 8,
        corpus = Some(emb))
    },

    // E6c — OPQ-P rotation tier (parametric OPQ, Ge et al. 2013),
    // SERVED FROM THE PERSISTED INDEX like ann_pq/rpq_topk: ONE
    // learned orthogonal rotation — canonical-feed PCA eigenbasis
    // with eigenvalue-BALANCED subspace allocation — persists in the
    // CAS-committed params beside the codebooks; probes and appends
    // rotate map-side (the PCA projector kernel, zero mean) before
    // the residual coding, the shortlist runs in rotated space, and
    // the exact refine re-scores against the RAW vectors so reported
    // cosines match brute force bit-for-bit. Hash-gated at the
    // driver SF with the family's pinned-picks oracle (rotation,
    // quantizer, and codebooks are all canonical-feed deterministic;
    // lake-served output is spec-proven bit-equal to the in-memory
    // Similarity.opqTopK); the beats-residual claim is spec-gated on
    // a correlated corpus (SimilaritySpec — uniform corpora like
    // this one are the rotation's no-win case).
    "ann_opq_topk" -> { (s, dir) =>
      // q2: r13 rotation-allocation fix (ascending-LPT eigenvalue
      // balancing) — the persisted rotation changed, so the root
      // bumps and the picks re-pin
      val root = indexRoot("opq_index_q2", dir)
      val emb = Tables.embeddings(s, dir)
      if (!VectorIndex.exists(root))
        VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 16,
          seed = 42L, corpusTag = dir, codec = Codec.Pq(m = 8, ks = 16,
            residual = true, opq = true))
      VectorIndex.topK(s, emb.filter(col("vec_id") < 8), "vec_id",
        "embedding", root, k = 10, nprobe = 8, refine = 8,
        corpus = Some(emb))
    },

    // E6b residual variant — FAISS-IVFPQ-shape residual coding,
    // SERVED FROM THE PERSISTED INDEX like ann_pq_topk: the codebooks
    // quantize unit(v) − centroid(cell) (unit-space residuals — the
    // coarse quantizer is spherical), the ADC table is per (query,
    // probed cell) with the centroid folded in so the ADC dot IS the
    // approximate cosine, the plan is otherwise identical. Hash-gated
    // at the driver SF against a pinned-picks oracle (the training
    // chain is the same canonical bounded feed), so the gate doubles
    // as the residual lake-parity contract; the residual-beats-raw
    // claim is spec-gated on a clustered corpus (SimilaritySpec —
    // uniform corpora like this one are the variant's no-win case,
    // clustered real embeddings are where it pays).
    "ann_rpq_topk" -> { (s, dir) =>
      val root = indexRoot("rpq_index_q1", dir)
      val emb = Tables.embeddings(s, dir)
      if (!VectorIndex.exists(root))
        VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 16,
          seed = 42L, corpusTag = dir, codec = Codec.Pq(m = 8, ks = 16,
            residual = true))
      VectorIndex.topK(s, emb.filter(col("vec_id") < 8), "vec_id",
        "embedding", root, k = 10, nprobe = 8, refine = 8,
        corpus = Some(emb))
    },

    // E2-family — embedding-cosine near-dup over the whole corpus via
    // IVF-cell bucketing. Hash-gated at the driver SF (r12): the pair
    // ID set pins as VALUES (bit-stable fresh-JVM builds, proven) and
    // DuckDB recomputes the cosines via the ordered fold; recall vs
    // brute force stays in SimilaritySpec and check.py's tolerance
    // sweep.
    // The synthetic embeddings carry no true near-dups (max pairwise
    // cosine ≈ 0.51), so the demo threshold mines the most-similar
    // pairs; production near-dedup runs the same operator at ~0.95.
    // nprobe=4: with the canonical bounded training feed (r11) the
    // quantizer's cells shifted; 3 probes recover 55/59 of the exact
    // pair set at sf0.01, 4 recover all 59 (measured; 5 and 6 add
    // nothing). The oracle is the exact all-pairs sweep, so the gate
    // enforces full recall.
    "dedup_embedding" -> { (s, dir) =>
      Similarity.cosineNearDup(Tables.embeddings(s, dir),
        "vec_id", "embedding", threshold = 0.4, nprobe = 4,
        corpusTag = dir)
    },

    // SemDeDup-style semantic dedup: IVF-scoped cosine pairs →
    // connected components → keep min id per group. Hash-gated [O] at
    // the driver SF: the SURVIVOR ID SET is integer-exact as long as
    // both engines agree on the pair set, which they do at sf0.01 —
    // nprobe=4 recall is 1.0 there (dedup_embedding's contract) and
    // the closest cosine sits 1.3e-4 from the 0.4 threshold, four
    // orders above cross-engine float error. At sf0.1 the margin
    // thins to 1e-5, so check.py SF-scopes the gate (rows-only
    // elsewhere) rather than bet on libm ulps.
    "dedup_semantic" -> { (s, dir) =>
      // consumes the MATERIALIZED pair artifact (the dedup_components
      // pattern): selection never re-runs the cosine sweep — in
      // production the pair table is a lake artifact shared by every
      // downstream consumer
      val emb = Tables.embeddings(s, dir)
      Similarity.semanticDedupFromPairs(emb, "vec_id",
          Similarity.cosineNearDupCached(emb, "vec_id", "embedding",
            threshold = 0.4, nprobe = 4, corpusTag = dir))
        .select(col("vec_id"))
    },

    // E14 — persisted IVF index probe. Hash-gated at the driver SF
    // (pinnedAnnOracle — fresh index builds are bit-reproducible);
    // VectorIndexSpec keeps the in-memory-parity and recall gates.
    // First run builds the
    // cell-partitioned index lake; later runs REUSE it (params CAS +
    // existing assignments) — the probe is the partition-pruned scan.
    "ann_index_topk" -> { (s, dir) =>
      // q3: the quantizer now trains on UNIT vectors (the ivfIndex
      // metric contract; q2 trained raw) — a stale q2 index must
      // rebuild, not serve the pinned oracle
      val root = indexRoot("vector_index_q3", dir)
      val emb = Tables.embeddings(s, dir)
      if (!VectorIndex.exists(root))
        VectorIndex.build(emb, "vec_id", "embedding", root, nlist = 8,
          seed = 42L, corpusTag = dir)
      VectorIndex.topK(s, emb.filter(col("vec_id") < 8), "vec_id",
        "embedding", root, k = 10, nprobe = 3)
    },

    // E13 — PCA projection of the embedding corpus to 16 dims. One
    // bounded-feed pass fits (a d(d+1)/2 Gram triangle), the
    // projection is a map-side codegen kernel. r11: the fit rides the
    // canonical bounded feed (Pca.fitCanonical — one sorted
    // partition, so ONE Gram partial and a fixed addition order),
    // which makes the model bit-reproducible across runs and CPU
    // counts — verified — and lets pc1 hash-gate against a
    // pinned-model DuckDB replay (ordered fold + FLOAT cast, the
    // mm_image_embed discipline); SF-scoped to the driver SF in
    // check.py (the pinned mean/axis literals are that fit's).
    // PcaSpec keeps axis recovery/orthonormality/kernel parity.
    "emb_pca_project" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val m = graft.operators.Pca.fitCanonical(emb, "vec_id",
        "embedding", k = 16)
      graft.operators.Pca.transform(emb, "embedding", m)
        .select(col("vec_id"),
          org.apache.spark.sql.functions.size(col("embedding"))
            .as("pca_dims"),
          element_at(col("embedding"), 1).as("pc1"))
    },

    // C8 — K-Means (k=3, seed=42) daily-pattern assignments.
    "gold_cluster_assignments" -> { (s, dir) =>
      Clustering.assignmentsCached(fact(s, dir), dir)
    },

    // C9 — per-cluster typical day.
    "gold_cluster_typical_day" -> { (s, dir) =>
      val f = fact(s, dir)
      Clustering.typicalDayByCluster(f, Clustering.assignmentsCached(f, dir))
    },

    // C10 — cluster sizes + modal day name.
    "gold_cluster_sizes" -> { (s, dir) =>
      Clustering.interpret(Clustering.assignmentsCached(fact(s, dir), dir))
    }
  )

  private val foldDot = (a: String, b: String) =>
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  [CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)
       |   FOR i IN generate_series(1, len($a))]),
       |  (acc, v) -> acc + v)""".stripMargin

  /** Fixed-expectation oracle for the approximate-ANN family, pinned
    * at the driver's correctness SF (the gold_cluster_assignments
    * pattern): the canonical bounded training feed makes every
    * quantizer fit bit-reproducible (Similarity.canonicalTrainFeed —
    * proven by two fresh-JVM runs agreeing byte-for-byte, including a
    * from-scratch persisted-index rebuild), so the (query, candidate,
    * rank) picks are pinned as VALUES while the cosine column is
    * RECOMPUTED by DuckDB from the parquet embeddings via the
    * bit-portable ordered fold — the gate is exact on every column
    * without betting on pinned-double round-trips. Valid ONLY at
    * sf0.01 (check.py HASH_SF_SCOPED; rows-only elsewhere).
    */
  /** Pinned (query, cand, rank) picks as a DuckDB oracle; DuckDB
    * recomputes the cosines via the ordered fold so every column
    * gates exactly. `picksSf01` (r13) is the sf0.1 twin of the same
    * bit-reproducible build — [[Pins.at]] selects by the dump's SF.
    */
  private def pinnedAnnOracle(picks: Seq[(Int, Int, Int)],
      picksSf01: Seq[(Int, Int, Int)] = Nil,
      picksSf0001: Seq[(Int, Int, Int)] = Nil,
      picksSf1: Seq[(Int, Int, Int)] = Nil): String = {
    // r14: the sf1 twin keeps the same NON-circular shape — only the
    // picks are pinned; DuckDB still re-derives every cosine from the
    // sf1 parquet embeddings via the ordered fold.
    val chosen = Pins.at(picks,
      if (picksSf01.nonEmpty) picksSf01 else picks,
      if (picksSf0001.nonEmpty) picksSf0001 else picks,
      if (picksSf1.nonEmpty) picksSf1 else picks)
    val vals = chosen.map { case (q, c, r) =>
      s"  ($q, $c, CAST($r AS INT))" }.mkString(",\n")
    s"""WITH picks(query_id, cand_id, rank) AS (VALUES
       |$vals),
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS qv,
       |    sqrt(${foldDot("embedding", "embedding")}) AS qn
       |  FROM embeddings),
       |c AS (
       |  SELECT vec_id AS cand_id, embedding AS cv,
       |    sqrt(${foldDot("embedding", "embedding")}) AS cn
       |  FROM embeddings)
       |SELECT p.query_id, p.cand_id,
       |  ${foldDot("qv", "cv")} / (qn * cn) AS cosine, p.rank
       |FROM picks p JOIN q USING (query_id) JOIN c USING (cand_id)"""
      .stripMargin
  }

  val oracles: Map[String, String] = Map(
    "ann_ivf_topk" -> pinnedAnnOracle(Seq(
      (0,365,1), (0,334,2), (0,387,3), (0,423,4), (0,73,5), (0,320,6),
      (0,190,7), (0,464,8), (0,388,9), (0,483,10), (1,386,1),
      (1,27,2), (1,407,3), (1,195,4), (1,64,5), (1,472,6), (1,203,7),
      (1,363,8), (1,312,9), (1,353,10), (2,117,1), (2,450,2),
      (2,320,3), (2,418,4), (2,471,5), (2,172,6), (2,197,7),
      (2,440,8), (2,109,9), (2,97,10), (3,130,1), (3,149,2),
      (3,343,3), (3,174,4), (3,231,5), (3,207,6), (3,192,7),
      (3,437,8), (3,474,9), (3,363,10), (4,114,1), (4,408,2),
      (4,482,3), (4,280,4), (4,249,5), (4,257,6), (4,89,7), (4,470,8),
      (4,384,9), (4,346,10), (5,404,1), (5,419,2), (5,157,3),
      (5,33,4), (5,359,5), (5,395,6), (5,464,7), (5,266,8), (5,225,9),
      (5,11,10), (6,430,1), (6,145,2), (6,437,3), (6,386,4),
      (6,268,5), (6,395,6), (6,214,7), (6,252,8), (6,371,9),
      (6,11,10), (7,340,1), (7,425,2), (7,209,3), (7,334,4),
      (7,381,5), (7,0,6), (7,332,7), (7,156,8), (7,442,9), (7,99,10)
    ), picksSf01 = Seq(
      (0,291,1), (0,144,2), (0,1407,3), (0,142,4), (0,1841,5),
      (0,1033,6), (0,1647,7), (0,462,8), (0,1422,9), (0,1183,10),
      (1,1950,1), (1,1175,2), (1,1580,3), (1,1843,4), (1,1832,5),
      (1,986,6), (1,134,7), (1,732,8), (1,1711,9), (1,1388,10),
      (2,1303,1), (2,953,2), (2,337,3), (2,1053,4), (2,1912,5),
      (2,990,6), (2,123,7), (2,1196,8), (2,315,9), (2,848,10),
      (3,263,1), (3,1701,2), (3,720,3), (3,859,4), (3,930,5),
      (3,650,6), (3,1617,7), (3,965,8), (3,1062,9), (3,777,10),
      (4,524,1), (4,1166,2), (4,76,3), (4,995,4), (4,1653,5),
      (4,1645,6), (4,913,7), (4,1423,8), (4,174,9), (4,773,10),
      (5,426,1), (5,1684,2), (5,1019,3), (5,250,4), (5,1121,5),
      (5,813,6), (5,809,7), (5,533,8), (5,478,9), (5,660,10),
      (6,1805,1), (6,270,2), (6,1823,3), (6,648,4), (6,702,5),
      (6,1790,6), (6,1185,7), (6,1144,8), (6,1146,9), (6,624,10),
      (7,160,1), (7,663,2), (7,471,3), (7,493,4), (7,420,5),
      (7,498,6), (7,478,7), (7,74,8), (7,1464,9), (7,490,10)
    ), picksSf0001 = Seq(
      (0,17,1), (0,225,2), (0,483,3), (0,260,4), (0,73,5),
      (0,212,6), (0,347,7), (0,402,8), (0,299,9), (0,82,10),
      (1,257,1), (1,209,2), (1,129,3), (1,376,4), (1,440,5),
      (1,75,6), (1,455,7), (1,479,8), (1,247,9), (1,260,10),
      (2,443,1), (2,246,2), (2,185,3), (2,91,4), (2,234,5),
      (2,309,6), (2,183,7), (2,132,8), (2,488,9), (2,24,10),
      (3,223,1), (3,205,2), (3,212,3), (3,84,4), (3,426,5),
      (3,156,6), (3,72,7), (3,278,8), (3,382,9), (3,137,10),
      (4,345,1), (4,98,2), (4,143,3), (4,343,4), (4,57,5), (4,62,6),
      (4,229,7), (4,472,8), (4,100,9), (4,195,10), (5,113,1),
      (5,440,2), (5,234,3), (5,298,4), (5,448,5), (5,118,6),
      (5,296,7), (5,377,8), (5,31,9), (5,360,10), (6,141,1),
      (6,434,2), (6,78,3), (6,280,4), (6,467,5), (6,444,6),
      (6,312,7), (6,352,8), (6,486,9), (6,25,10), (7,382,1),
      (7,466,2), (7,209,3), (7,329,4), (7,220,5), (7,18,6),
      (7,326,7), (7,198,8), (7,249,9), (7,340,10)
    ),
      picksSf1 = Pins.picksResource("ann_ivf_topk_picks_sf1.txt")),
    "ann_index_topk" -> pinnedAnnOracle(Seq(
      (0,334,1), (0,387,2), (0,7,3), (0,320,4), (0,190,5), (0,464,6),
      (0,388,7), (0,483,8), (0,323,9), (0,498,10), (1,386,1),
      (1,27,2), (1,407,3), (1,195,4), (1,64,5), (1,402,6), (1,472,7),
      (1,220,8), (1,203,9), (1,363,10), (2,117,1), (2,450,2),
      (2,145,3), (2,320,4), (2,418,5), (2,350,6), (2,197,7),
      (2,109,8), (2,198,9), (2,97,10), (3,130,1), (3,149,2),
      (3,343,3), (3,174,4), (3,231,5), (3,192,6), (3,437,7),
      (3,474,8), (3,363,9), (3,463,10), (4,114,1), (4,496,2),
      (4,408,3), (4,482,4), (4,280,5), (4,89,6), (4,470,7), (4,346,8),
      (4,288,9), (4,332,10), (5,419,1), (5,157,2), (5,33,3),
      (5,359,4), (5,395,5), (5,464,6), (5,487,7), (5,266,8),
      (5,453,9), (5,433,10), (6,350,1), (6,430,2), (6,145,3),
      (6,437,4), (6,268,5), (6,395,6), (6,252,7), (6,374,8),
      (6,371,9), (6,11,10), (7,340,1), (7,425,2), (7,334,3),
      (7,381,4), (7,445,5), (7,221,6), (7,302,7), (7,332,8),
      (7,442,9), (7,99,10)
    ), picksSf01 = Seq(
      (0,291,1), (0,1020,2), (0,1978,3), (0,142,4), (0,794,5),
      (0,1841,6), (0,633,7), (0,1186,8), (0,1033,9), (0,1647,10),
      (1,1175,1), (1,260,2), (1,1843,3), (1,732,4), (1,1388,5),
      (1,514,6), (1,1159,7), (1,1069,8), (1,1060,9), (1,90,10),
      (2,1303,1), (2,337,2), (2,123,3), (2,1196,4), (2,461,5),
      (2,848,6), (2,1330,7), (2,1781,8), (2,723,9), (2,1829,10),
      (3,263,1), (3,1701,2), (3,720,3), (3,859,4), (3,930,5),
      (3,965,6), (3,1062,7), (3,777,8), (3,100,9), (3,173,10),
      (4,524,1), (4,1166,2), (4,825,3), (4,1645,4), (4,913,5),
      (4,773,6), (4,1384,7), (4,181,8), (4,55,9), (4,921,10),
      (5,426,1), (5,1684,2), (5,250,3), (5,1121,4), (5,813,5),
      (5,809,6), (5,660,7), (5,1092,8), (5,1957,9), (5,282,10),
      (6,1805,1), (6,270,2), (6,1184,3), (6,648,4), (6,1790,5),
      (6,1185,6), (6,1144,7), (6,624,8), (6,806,9), (6,91,10),
      (7,605,1), (7,663,2), (7,420,3), (7,498,4), (7,74,5),
      (7,1464,6), (7,1088,7), (7,490,8), (7,349,9), (7,282,10)
    ), picksSf0001 = Seq(
      (0,17,1), (0,260,2), (0,73,3), (0,212,4), (0,347,5),
      (0,402,6), (0,82,7), (0,59,8), (0,340,9), (0,421,10),
      (1,257,1), (1,376,2), (1,455,3), (1,479,4), (1,260,5),
      (1,237,6), (1,248,7), (1,64,8), (1,206,9), (1,231,10),
      (2,443,1), (2,62,2), (2,246,3), (2,185,4), (2,91,5),
      (2,441,6), (2,183,7), (2,132,8), (2,488,9), (2,388,10),
      (3,223,1), (3,205,2), (3,84,3), (3,426,4), (3,72,5),
      (3,278,6), (3,382,7), (3,326,8), (3,108,9), (3,380,10),
      (4,345,1), (4,98,2), (4,143,3), (4,62,4), (4,472,5),
      (4,100,6), (4,195,7), (4,271,8), (4,413,9), (4,231,10),
      (5,440,1), (5,234,2), (5,298,3), (5,448,4), (5,118,5),
      (5,296,6), (5,31,7), (5,205,8), (5,218,9), (5,395,10),
      (6,141,1), (6,434,2), (6,78,3), (6,495,4), (6,444,5),
      (6,352,6), (6,486,7), (6,25,8), (6,252,9), (6,8,10),
      (7,466,1), (7,329,2), (7,220,3), (7,18,4), (7,167,5),
      (7,326,6), (7,198,7), (7,341,8), (7,340,9), (7,82,10)
    ),
      picksSf1 = Pins.picksResource("ann_index_topk_picks_sf1.txt")),
    // E13 pinned-model replay: the canonical-feed PCA fit is
    // bit-reproducible (one Gram partial — see Pca.fitCanonical), so
    // the model's mean and first axis pin as literals and DuckDB
    // replays pc1 = fold_i (x_i − mean_i)·axis_i in the kernel's
    // i-ascending double accumulation, FLOAT-cast at the end (the
    // mm_image_embed discipline). SF-scoped to sf0.01 in check.py.
    "emb_pca_project" -> Pins.sf1Or("emb_pca_project",
      Pins.at(
      s"""WITH m(mean, ax) AS (SELECT
         |[0.0021647098540561274, -0.004547794351470656, 0.003930154383007902,
-0.004793201057444094, 0.009943076466443017, 0.007772532952541951,
-0.01823135569485021, 0.009217355088097975, -0.0024274034147092607,
-6.178791260463186E-4, 0.006436078068451025, 0.0033540127822197976,
-0.0026588912964216433, 0.0020540317017294003,
-2.1456623025005683E-4, 0.005910249243548606,
0.0033342206680827074, 0.005826121678226628,
-4.6127636556047945E-4, 0.0012317155191558413,
-0.0038391390424221752, 0.0023021840666187926,
0.004168265111627988, -0.008054586122045293,
-0.0018911654613621067, 0.012808142676018179,
-0.0015970649567898362, 0.01062632681982359,
-0.0011532765734009445, 3.903653704910539E-4,
0.0056047214816790075, -0.005792685562460974, 0.008335300238788477,
-0.0066753798398422074, 0.005155627750558779, 0.001177179405814968,
-0.0053353315424174074, -0.0015937965741213702,
-9.667016767925815E-4, -0.001140981935830496,
-0.0017442115085141267, -0.01183411476330366,
3.1351819908741164E-4, -5.631569666620635E-4,
-0.011520562025547406, 0.003832613509031944, -5.98060307384003E-4,
0.005890298187849112, -0.003749661162350094, -0.010264404615503736,
0.009377152467495762, -0.001481992187706055, 0.007770042697302415,
-0.003917563282562696, 0.00470978261413984, -0.003577291431953199,
0.004773866848874604, -0.0024703639050130733,
-0.004844514904165408, -0.00872118095526821, -2.811656921039685E-4,
0.005004184705336229, -0.0011590625974931754,
-0.013266222528531216],
         |[-0.2096393303658782, -0.120572731428751, 0.03654785325894207,
0.01181957938734597, 0.0756701162561686, 0.013214635864444468,
0.09058413427626621, 0.2866187756491006, 0.04954697972767778,
0.41405654299686345, 0.06530500475730752, 0.18207886842807455,
0.06513224638707366, -0.03653204103801003, 0.1711489623901352,
-0.1853497761294581, 0.08898990232836926, -0.15702647605351325,
-0.030136695172509782, 0.032178946179186305, 0.061213196437497945,
-0.1106883220283598, -0.0834751099006234, -0.05543751931232015,
0.019549964003127526, 0.19912536701560093, -0.03751725019614954,
0.14950770732679677, -0.1728796346906129, -0.006123148225127482,
-0.05871572784769839, 0.06203768144612755, 0.29653854350100967,
0.10616458906763815, -0.032041929761849476, 0.10414385454446931,
0.044538781323947334, 0.06146406272610149, 0.013006743241259831,
0.021771213196293836, -0.11667899871834032, 0.005524581440204672,
-0.2408369393335731, 0.09570755741811228, -0.028307680331664996,
-0.22512748623474915, 0.008731820438583634, -0.07903747599640608,
-0.08368081721210044, -0.1184509387357731, 0.1204594559586036,
0.07248323650296927, -0.01718647192563654, 0.0816043689752015,
-0.015031306788684091, -0.06676476085651618, -0.055650704928621224,
-0.05137607222716874, 0.06019603095736141, -0.09113916301050577,
0.12198695691605087, 0.05064983541094307, -0.2182114831542099,
-0.10201390073638703])
         |SELECT e.vec_id, CAST(16 AS INT) AS pca_dims,
         |  CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    [(CAST(e.embedding[i] AS DOUBLE) - m.mean[i]) * m.ax[i]
         |     FOR i IN generate_series(1, len(e.embedding))]),
         |    (acc, v) -> acc + v) AS FLOAT) AS pc1
         |FROM embeddings e CROSS JOIN m""".stripMargin,
      // sf0.1 twin: canonical-feed PCA model at sf0.1
      s"""WITH m(mean, ax) AS (SELECT
         |[7.654071244796797E-4, 0.002266033964633607, -7.243194913462503E-4,
-0.0031523700987236224, 1.0238196386126219E-4,
4.805740055644492E-4, 0.0026276376477612755, 3.118402284644617E-4,
0.002168347858594643, -2.3116956626836326E-5,
6.975897720258217E-4, 0.0071620225071674214,
-0.006416607087208831, 0.004738583462371025,
-0.003345829161728034, -0.0034798430086921146,
-0.0014524139198038028, -0.00192809740370285,
0.001858459709559611, 0.005645911216801323,
-0.0019995969064548263, -0.001579739045284441,
0.0019667794928841433, -0.0046182744171601375,
-3.579116535320281E-5, -0.0011013810934091452,
0.0025163573234021895, -7.900910902171745E-4,
-0.001016341345233741, -0.0013054869596089702,
-0.003893770461751046, 0.0028636264246079007,
-0.0032043140462692465, -8.375212902419662E-4,
0.003027746176390792, 1.7866447414417052E-4, 0.003535142635966622,
-0.0035455158562654105, 0.0011832844275768365,
-1.4861802104405798E-4, 6.883155343563772E-4,
-0.003241005105604927, -7.094782157673762E-4,
0.003772987321972323, 3.026337857154431E-4,
-0.0028157051496218626, 0.0024090085095517678,
-0.0019091277787892976, 0.005513257068734674,
0.0010891986688166071, -0.0013217064466152805,
-0.0035789119230430514, -0.0034309046224680058,
-0.0033787817198826816, -0.0025597471034052434,
-0.005068664571457703, -5.718772876498406E-4,
0.004007739734810457, 0.004108381462977832, -0.00323131443550119,
-5.079433042265009E-4, -8.189893144299276E-5,
0.0014518447133013979, -0.0013534288237115107],
         |[-0.10331111182173103, -0.01572083878014437, 0.05932877791835878,
0.06355944556357028, 0.0461661954061064, -0.05533579831397882,
-0.04666168843165959, 0.13883595357057185, -0.12141384672143773,
-0.030291918312132612, -0.049088202639904675,
-0.04495508891152248, 0.03611888102609873, -0.12000249440285007,
-0.02099754472219869, 0.36723573678099225, -0.2037911168764212,
0.13201046449288434, -0.14468777932185414, 0.10272896575211005,
0.20030804642480277, 0.24549295034492596, 0.12370290171619343,
-0.09211070003375844, -0.22600187510627712, 0.016525308574077174,
-0.13101142499649368, 0.10913237850369653, 0.1583496643406848,
0.028828539172322594, 0.05856331008640175, -0.010535925664057807,
-0.06767235455196592, -0.15492073107651952, 0.01162247977706258,
0.11819820838717887, -0.020183012971377232, -0.2028547873545539,
-0.1407162257718975, 0.2094554849423551, 0.15486778347573474,
-0.09443274142825114, -0.1455437527157462, -0.02735668730365406,
0.10891764215483996, 0.03330976816844776, -0.07014122114732198,
-0.14901637325168554, 0.14269817927434053, 0.003996617066790664,
-0.07274930558948156, 0.02810076095664202, -0.14797004007657766,
-0.07504706449534056, 0.005353903889240428, 0.05857733071461495,
-0.010933846890104336, -0.21109883964154905, 0.11397577525043635,
0.05726849238547908, 0.2399878447839437, 0.01380344232863774,
-0.19987299988641624, 0.017384038001840706])
         |SELECT e.vec_id, CAST(16 AS INT) AS pca_dims,
         |  CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    [(CAST(e.embedding[i] AS DOUBLE) - m.mean[i]) * m.ax[i]
         |     FOR i IN generate_series(1, len(e.embedding))]),
         |    (acc, v) -> acc + v) AS FLOAT) AS pc1
         |FROM embeddings e CROSS JOIN m""".stripMargin,
      // sf0.001 twin: canonical-feed PCA model at sf0.001
      s"""WITH m(mean, ax) AS (SELECT
         |[-0.0029279056195518935, -0.0014273036213126034,
0.0014979841295280495, 0.0085343054040859, -0.0018568808948039078,
-0.0026552443557302467, 9.698803468927508E-5,
-0.009130519425380044, -0.0112253543898114, -0.004403606819809284,
0.007711773203656776, -0.009148331143078394,
-2.0179740479215979E-4, 0.004817572033498436,
0.004733342973282561, -0.002985484350385377, 6.181493736803532E-4,
-0.0014106097214389593, -0.001993843752599787,
-0.00509647128454526, -0.006201374008785933,
-0.0017435143341426739, 0.003858943839906715,
-0.011007076737907483, -0.002966475720531889,
-0.00307489726921267, -7.143929645280877E-4,
-0.0028569339160458185, -0.005044033584978024,
-0.0032809512809617446, -0.01047341996646719,
3.091185424127616E-4, 0.0020676275016739964, 0.004834419353370322,
-0.002872960220949608, 0.004292228904552758, 9.674171103106346E-4,
-3.975839237682521E-4, -0.009004209891078063,
0.009727533414821665, -0.003610340904328041, -0.00834003098422545,
0.0034724357647355646, 0.0028222152299713344,
-0.0060982390952995045, -0.011640799632034031,
4.784632098599104E-4, -0.002169894218837726,
0.0024223867352993695, 0.0013346195874619298,
-4.902978780228296E-4, -0.0019964799070494336,
0.003326903287321329, 0.007019521241309121, 0.009966928659574478,
3.70482771540992E-5, 0.00383499199768994, 0.0024534474063548257,
-0.006527335361985024, 0.0021226773075177334,
-0.0030895655695521783, 0.001494445418164105,
-0.004200260663943482, 0.001212832556164358],
         |[-0.14882739051553553, -0.0580487577398237, 0.04357531602237145,
-0.17328343823931747, 0.0088576008324458, 0.23581066680902843,
0.16972520269172706, 0.15898786326804618, 0.06453897479859841,
-0.23656218893310926, 0.22575678685739184, 0.047035417830835285,
0.06205401047785389, 0.11484439283897524, 0.22193282183397212,
0.06699554328375808, -0.10474520703365321, 0.01662057431950952,
-0.11588778670581579, 0.12443208270097367, -0.04950907760327824,
0.04175019792710149, -0.18927528106902908, -0.03908597018137494,
0.09267295616102735, -0.21561098537385898, 0.04514556938459766,
0.2358853231411861, 0.05864676299723679, 0.035038434916090024,
0.013610860565851353, -0.010174548941386752, -0.03778615609615592,
0.10501566068746303, -0.2946431440282948, 0.018752935442194363,
-0.08630315923640411, -5.068710449533386E-4, 0.023426194723913163,
0.028956030248966414, 0.08441995765947923, 0.06384654512000562,
0.11390994042839785, 0.07581307938204597, -0.08088541458485914,
-0.22179994057011607, -0.07361026694765177, 0.30232593876115793,
0.08731224584672118, -0.1367500500223976, 0.1352531760699541,
0.07173288036523447, -0.06103787643522273, 0.021304946840110795,
-0.024158668300067587, -0.12577655560783635, -0.05015674422544574,
0.10331285250235937, -0.06174019420705383, 0.01428195970681742,
0.02986357759624023, 0.003812651737226585, -0.24826032213535942,
-0.09080482539729945])
         |SELECT e.vec_id, CAST(16 AS INT) AS pca_dims,
         |  CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    [(CAST(e.embedding[i] AS DOUBLE) - m.mean[i]) * m.ax[i]
         |     FOR i IN generate_series(1, len(e.embedding))]),
         |    (acc, v) -> acc + v) AS FLOAT) AS pc1
         |FROM embeddings e CROSS JOIN m""".stripMargin)),
    "ann_bq_topk" -> pinnedAnnOracle(Seq(
      (0,365,1), (0,334,2), (0,387,3), (0,423,4), (0,73,5), (0,320,6),
      (0,190,7), (0,464,8), (0,483,9), (0,323,10), (1,386,1),
      (1,27,2), (1,407,3), (1,195,4), (1,64,5), (1,472,6), (1,203,7),
      (1,363,8), (1,312,9), (1,353,10), (2,117,1), (2,450,2),
      (2,320,3), (2,471,4), (2,172,5), (2,197,6), (2,440,7),
      (2,109,8), (2,128,9), (2,202,10), (3,149,1), (3,343,2),
      (3,231,3), (3,207,4), (3,192,5), (3,437,6), (3,474,7),
      (3,363,8), (3,463,9), (3,134,10), (4,114,1), (4,408,2),
      (4,482,3), (4,280,4), (4,249,5), (4,257,6), (4,89,7), (4,470,8),
      (4,384,9), (4,346,10), (5,404,1), (5,419,2), (5,157,3),
      (5,33,4), (5,359,5), (5,395,6), (5,266,7), (5,11,8), (5,453,9),
      (5,433,10), (6,430,1), (6,145,2), (6,268,3), (6,395,4),
      (6,214,5), (6,252,6), (6,11,7), (6,53,8), (6,270,9),
      (6,403,10), (7,340,1), (7,425,2), (7,209,3), (7,334,4),
      (7,381,5), (7,0,6), (7,156,7), (7,442,8), (7,319,9), (7,407,10)
    ), picksSf01 = Seq(
      (0,291,1), (0,144,2), (0,1407,3), (0,1841,4), (0,1647,5),
      (0,462,6), (0,1183,7), (0,1724,8), (0,1119,9), (0,231,10),
      (1,1950,1), (1,1843,2), (1,986,3), (1,134,4), (1,732,5),
      (1,1711,6), (1,1388,7), (1,1159,8), (1,1060,9), (1,1724,10),
      (2,1303,1), (2,1053,2), (2,990,3), (2,123,4), (2,315,5),
      (2,848,6), (2,1781,7), (2,961,8), (2,32,9), (2,1630,10),
      (3,1701,1), (3,859,2), (3,1617,3), (3,965,4), (3,1062,5),
      (3,715,6), (3,1877,7), (3,778,8), (3,1919,9), (3,1410,10),
      (4,524,1), (4,1166,2), (4,76,3), (4,995,4), (4,1423,5),
      (4,174,6), (4,773,7), (4,685,8), (4,381,9), (4,1866,10),
      (5,426,1), (5,1019,2), (5,250,3), (5,1121,4), (5,813,5),
      (5,478,6), (5,1092,7), (5,1627,8), (5,190,9), (5,1957,10),
      (6,1805,1), (6,270,2), (6,1823,3), (6,702,4), (6,1185,5),
      (6,1550,6), (6,713,7), (6,690,8), (6,1091,9), (6,22,10),
      (7,160,1), (7,493,2), (7,420,3), (7,74,4), (7,1464,5),
      (7,349,6), (7,1333,7), (7,1575,8), (7,746,9), (7,250,10)
    ), picksSf0001 = Seq(
      (0,17,1), (0,225,2), (0,483,3), (0,260,4), (0,73,5),
      (0,212,6), (0,347,7), (0,402,8), (0,299,9), (0,82,10),
      (1,257,1), (1,209,2), (1,129,3), (1,376,4), (1,440,5),
      (1,75,6), (1,455,7), (1,260,8), (1,248,9), (1,183,10),
      (2,443,1), (2,246,2), (2,185,3), (2,91,4), (2,234,5),
      (2,309,6), (2,132,7), (2,24,8), (2,106,9), (2,201,10),
      (3,223,1), (3,205,2), (3,212,3), (3,84,4), (3,426,5),
      (3,156,6), (3,72,7), (3,278,8), (3,382,9), (3,326,10),
      (4,345,1), (4,98,2), (4,143,3), (4,343,4), (4,57,5), (4,62,6),
      (4,472,7), (4,100,8), (4,195,9), (4,271,10), (5,113,1),
      (5,440,2), (5,234,3), (5,298,4), (5,448,5), (5,296,6),
      (5,377,7), (5,360,8), (5,205,9), (5,218,10), (6,141,1),
      (6,434,2), (6,78,3), (6,280,4), (6,467,5), (6,444,6),
      (6,312,7), (6,352,8), (6,486,9), (6,25,10), (7,382,1),
      (7,466,2), (7,209,3), (7,329,4), (7,220,5), (7,18,6),
      (7,326,7), (7,249,8), (7,340,9), (7,82,10)
    ),
      picksSf1 = Pins.picksResource("ann_bq_topk_picks_sf1.txt")),
    // identical to ann_ivf_topk's picks — at refine=8 the SQ8
    // shortlist recovers the exact within-cell top-10, which is the
    // near-exact-tier claim made measurable
    "ann_sq_topk" -> pinnedAnnOracle(Seq(
      (0,365,1), (0,334,2), (0,387,3), (0,423,4), (0,73,5), (0,320,6),
      (0,190,7), (0,464,8), (0,388,9), (0,483,10), (1,386,1),
      (1,27,2), (1,407,3), (1,195,4), (1,64,5), (1,472,6), (1,203,7),
      (1,363,8), (1,312,9), (1,353,10), (2,117,1), (2,450,2),
      (2,320,3), (2,418,4), (2,471,5), (2,172,6), (2,197,7),
      (2,440,8), (2,109,9), (2,97,10), (3,130,1), (3,149,2),
      (3,343,3), (3,174,4), (3,231,5), (3,207,6), (3,192,7),
      (3,437,8), (3,474,9), (3,363,10), (4,114,1), (4,408,2),
      (4,482,3), (4,280,4), (4,249,5), (4,257,6), (4,89,7), (4,470,8),
      (4,384,9), (4,346,10), (5,404,1), (5,419,2), (5,157,3),
      (5,33,4), (5,359,5), (5,395,6), (5,464,7), (5,266,8), (5,225,9),
      (5,11,10), (6,430,1), (6,145,2), (6,437,3), (6,386,4),
      (6,268,5), (6,395,6), (6,214,7), (6,252,8), (6,371,9),
      (6,11,10), (7,340,1), (7,425,2), (7,209,3), (7,334,4),
      (7,381,5), (7,0,6), (7,332,7), (7,156,8), (7,442,9), (7,99,10)
    ), picksSf01 = Seq(
      (0,291,1), (0,144,2), (0,1407,3), (0,142,4), (0,1841,5),
      (0,1033,6), (0,1647,7), (0,462,8), (0,1422,9), (0,1183,10),
      (1,1950,1), (1,1175,2), (1,1580,3), (1,1843,4), (1,1832,5),
      (1,986,6), (1,134,7), (1,732,8), (1,1711,9), (1,1388,10),
      (2,1303,1), (2,953,2), (2,337,3), (2,1053,4), (2,1912,5),
      (2,990,6), (2,123,7), (2,1196,8), (2,315,9), (2,848,10),
      (3,263,1), (3,1701,2), (3,720,3), (3,859,4), (3,930,5),
      (3,650,6), (3,1617,7), (3,965,8), (3,1062,9), (3,777,10),
      (4,524,1), (4,1166,2), (4,76,3), (4,995,4), (4,1653,5),
      (4,1645,6), (4,913,7), (4,1423,8), (4,174,9), (4,773,10),
      (5,426,1), (5,1684,2), (5,1019,3), (5,250,4), (5,1121,5),
      (5,813,6), (5,809,7), (5,533,8), (5,478,9), (5,660,10),
      (6,1805,1), (6,270,2), (6,1823,3), (6,648,4), (6,702,5),
      (6,1790,6), (6,1185,7), (6,1144,8), (6,1146,9), (6,624,10),
      (7,160,1), (7,663,2), (7,471,3), (7,493,4), (7,420,5),
      (7,498,6), (7,478,7), (7,74,8), (7,1464,9), (7,490,10)
    ), picksSf0001 = Seq(
      (0,17,1), (0,225,2), (0,483,3), (0,260,4), (0,73,5),
      (0,212,6), (0,347,7), (0,402,8), (0,299,9), (0,82,10),
      (1,257,1), (1,209,2), (1,129,3), (1,376,4), (1,440,5),
      (1,75,6), (1,455,7), (1,479,8), (1,247,9), (1,260,10),
      (2,443,1), (2,246,2), (2,185,3), (2,91,4), (2,234,5),
      (2,309,6), (2,183,7), (2,132,8), (2,488,9), (2,24,10),
      (3,223,1), (3,205,2), (3,212,3), (3,84,4), (3,426,5),
      (3,156,6), (3,72,7), (3,278,8), (3,382,9), (3,137,10),
      (4,345,1), (4,98,2), (4,143,3), (4,343,4), (4,57,5), (4,62,6),
      (4,229,7), (4,472,8), (4,100,9), (4,195,10), (5,113,1),
      (5,440,2), (5,234,3), (5,298,4), (5,448,5), (5,118,6),
      (5,296,7), (5,377,8), (5,31,9), (5,360,10), (6,141,1),
      (6,434,2), (6,78,3), (6,280,4), (6,467,5), (6,444,6),
      (6,312,7), (6,352,8), (6,486,9), (6,25,10), (7,382,1),
      (7,466,2), (7,209,3), (7,329,4), (7,220,5), (7,18,6),
      (7,326,7), (7,198,8), (7,249,9), (7,340,10)
    ),
      picksSf1 = Pins.picksResource("ann_sq_topk_picks_sf1.txt")),
    // re-pinned r13 after the rotation-allocation LPT fix (ascending
    // eigenvalue order — correlated-corpus shortlist recall 0.4625 →
    // 0.625 in SimilaritySpec); two fresh-JVM index builds verified
    // bit-identical before pinning
    "ann_opq_topk" -> pinnedAnnOracle(Seq(
      (0,365,1), (0,334,2), (0,387,3), (0,423,4), (0,73,5),
      (0,190,6), (0,464,7), (0,388,8), (0,483,9), (0,323,10),
      (1,386,1), (1,27,2), (1,407,3), (1,195,4), (1,64,5),
      (1,472,6), (1,363,7), (1,312,8), (1,353,9), (1,268,10),
      (2,117,1), (2,450,2), (2,320,3), (2,418,4), (2,471,5),
      (2,172,6), (2,197,7), (2,440,8), (2,109,9), (2,97,10),
      (3,130,1), (3,343,2), (3,174,3), (3,231,4), (3,207,5),
      (3,192,6), (3,437,7), (3,474,8), (3,363,9), (3,396,10),
      (4,114,1), (4,408,2), (4,482,3), (4,280,4), (4,249,5),
      (4,257,6), (4,89,7), (4,470,8), (4,288,9), (4,332,10),
      (5,404,1), (5,419,2), (5,157,3), (5,33,4), (5,359,5),
      (5,395,6), (5,464,7), (5,266,8), (5,225,9), (5,453,10),
      (6,145,1), (6,437,2), (6,386,3), (6,268,4), (6,395,5),
      (6,214,6), (6,371,7), (6,11,8), (6,53,9), (6,270,10),
      (7,340,1), (7,425,2), (7,209,3), (7,334,4), (7,381,5),
      (7,0,6), (7,332,7), (7,156,8), (7,442,9), (7,319,10)
    ), picksSf01 = Seq(
      (0,291,1), (0,1407,2), (0,1724,3), (0,1835,4), (0,1819,5),
      (0,1119,6), (0,1658,7), (0,231,8), (0,1308,9), (0,1409,10),
      (1,1950,1), (1,1175,2), (1,1580,3), (1,986,4), (1,134,5),
      (1,1711,6), (1,1388,7), (1,1159,8), (1,1060,9), (1,1724,10),
      (2,1303,1), (2,953,2), (2,1053,3), (2,990,4), (2,123,5),
      (2,315,6), (2,1781,7), (2,723,8), (2,961,9), (2,32,10),
      (3,1701,1), (3,859,2), (3,930,3), (3,1617,4), (3,965,5),
      (3,777,6), (3,100,7), (3,937,8), (3,715,9), (3,361,10),
      (4,76,1), (4,995,2), (4,1653,3), (4,1645,4), (4,1423,5),
      (4,174,6), (4,773,7), (4,685,8), (4,55,9), (4,1319,10),
      (5,426,1), (5,1019,2), (5,250,3), (5,1121,4), (5,533,5),
      (5,478,6), (5,660,7), (5,1627,8), (5,1957,9), (5,282,10),
      (6,1805,1), (6,270,2), (6,1823,3), (6,648,4), (6,702,5),
      (6,1790,6), (6,1185,7), (6,1144,8), (6,624,9), (6,806,10),
      (7,160,1), (7,663,2), (7,493,3), (7,498,4), (7,478,5),
      (7,1464,6), (7,1272,7), (7,349,8), (7,1333,9), (7,1341,10)
    ), picksSf0001 = Seq(
      (0,17,1), (0,225,2), (0,483,3), (0,260,4), (0,73,5),
      (0,347,6), (0,402,7), (0,299,8), (0,82,9), (0,59,10),
      (1,257,1), (1,209,2), (1,129,3), (1,440,4), (1,75,5),
      (1,455,6), (1,479,7), (1,247,8), (1,260,9), (1,248,10),
      (2,443,1), (2,246,2), (2,185,3), (2,91,4), (2,234,5),
      (2,309,6), (2,183,7), (2,132,8), (2,488,9), (2,24,10),
      (3,223,1), (3,205,2), (3,212,3), (3,84,4), (3,426,5),
      (3,156,6), (3,72,7), (3,278,8), (3,382,9), (3,137,10),
      (4,345,1), (4,98,2), (4,143,3), (4,343,4), (4,57,5), (4,62,6),
      (4,229,7), (4,472,8), (4,100,9), (4,195,10), (5,113,1),
      (5,440,2), (5,234,3), (5,298,4), (5,448,5), (5,118,6),
      (5,296,7), (5,377,8), (5,360,9), (5,218,10), (6,141,1),
      (6,434,2), (6,280,3), (6,467,4), (6,444,5), (6,312,6),
      (6,352,7), (6,486,8), (6,8,9), (6,86,10), (7,382,1),
      (7,466,2), (7,209,3), (7,329,4), (7,220,5), (7,18,6),
      (7,326,7), (7,198,8), (7,249,9), (7,340,10)
    ),
      picksSf1 = Pins.picksResource("ann_opq_topk_picks_sf1.txt")),
    "ann_rpq_topk" -> pinnedAnnOracle(Seq(
      (0,334,1), (0,387,2), (0,423,3), (0,73,4), (0,320,5), (0,190,6),
      (0,464,7), (0,388,8), (0,483,9), (0,344,10), (1,386,1),
      (1,27,2), (1,407,3), (1,195,4), (1,64,5), (1,472,6), (1,203,7),
      (1,363,8), (1,312,9), (1,353,10), (2,117,1), (2,450,2),
      (2,418,3), (2,471,4), (2,172,5), (2,197,6), (2,97,7), (2,37,8),
      (2,1,9), (2,13,10), (3,130,1), (3,343,2), (3,174,3), (3,231,4),
      (3,207,5), (3,437,6), (3,474,7), (3,363,8), (3,396,9),
      (3,463,10), (4,114,1), (4,408,2), (4,482,3), (4,280,4),
      (4,249,5), (4,257,6), (4,89,7), (4,384,8), (4,346,9),
      (4,288,10), (5,404,1), (5,419,2), (5,157,3), (5,33,4),
      (5,359,5), (5,395,6), (5,464,7), (5,266,8), (5,225,9),
      (5,11,10), (6,430,1), (6,145,2), (6,395,3), (6,214,4),
      (6,252,5), (6,371,6), (6,11,7), (6,53,8), (6,270,9), (6,403,10),
      (7,340,1), (7,425,2), (7,209,3), (7,334,4), (7,381,5), (7,0,6),
      (7,332,7), (7,156,8), (7,442,9), (7,319,10)
    ), picksSf01 = Seq(
      (0,144,1), (0,1407,2), (0,142,3), (0,1647,4), (0,462,5),
      (0,1422,6), (0,1183,7), (0,1724,8), (0,1835,9), (0,1119,10),
      (1,1950,1), (1,1580,2), (1,1843,3), (1,1832,4), (1,986,5),
      (1,134,6), (1,732,7), (1,1388,8), (1,1060,9), (1,90,10),
      (2,1303,1), (2,953,2), (2,337,3), (2,1912,4), (2,1196,5),
      (2,315,6), (2,1330,7), (2,723,8), (2,961,9), (2,1829,10),
      (3,263,1), (3,930,2), (3,650,3), (3,1617,4), (3,965,5),
      (3,551,6), (3,1877,7), (3,778,8), (3,1919,9), (3,271,10),
      (4,524,1), (4,1166,2), (4,1653,3), (4,1645,4), (4,1423,5),
      (4,773,6), (4,685,7), (4,381,8), (4,1866,9), (4,1319,10),
      (5,426,1), (5,1684,2), (5,250,3), (5,813,4), (5,809,5),
      (5,533,6), (5,660,7), (5,1092,8), (5,190,9), (5,282,10),
      (6,1805,1), (6,270,2), (6,702,3), (6,1790,4), (6,1185,5),
      (6,1146,6), (6,624,7), (6,1550,8), (6,326,9), (6,711,10),
      (7,160,1), (7,471,2), (7,498,3), (7,478,4), (7,1464,5),
      (7,349,6), (7,282,7), (7,1575,8), (7,52,9), (7,682,10)
    ), picksSf0001 = Seq(
      (0,17,1), (0,225,2), (0,483,3), (0,260,4), (0,73,5),
      (0,299,6), (0,82,7), (0,71,8), (0,262,9), (0,453,10),
      (1,257,1), (1,209,2), (1,129,3), (1,440,4), (1,75,5),
      (1,455,6), (1,247,7), (1,260,8), (1,248,9), (1,183,10),
      (2,443,1), (2,246,2), (2,185,3), (2,91,4), (2,234,5),
      (2,183,6), (2,132,7), (2,488,8), (2,106,9), (2,321,10),
      (3,205,1), (3,212,2), (3,84,3), (3,426,4), (3,156,5),
      (3,72,6), (3,278,7), (3,382,8), (3,137,9), (3,326,10),
      (4,345,1), (4,98,2), (4,143,3), (4,343,4), (4,57,5), (4,62,6),
      (4,229,7), (4,472,8), (4,100,9), (4,195,10), (5,113,1),
      (5,440,2), (5,234,3), (5,298,4), (5,448,5), (5,118,6),
      (5,296,7), (5,377,8), (5,31,9), (5,205,10), (6,141,1),
      (6,434,2), (6,78,3), (6,280,4), (6,467,5), (6,444,6),
      (6,312,7), (6,352,8), (6,486,9), (6,25,10), (7,382,1),
      (7,466,2), (7,209,3), (7,329,4), (7,220,5), (7,326,6),
      (7,198,7), (7,249,8), (7,340,9), (7,82,10)
    ),
      picksSf1 = Pins.picksResource("ann_rpq_topk_picks_sf1.txt")),
    "ann_pq_topk" -> pinnedAnnOracle(Seq(
      (0,365,1), (0,334,2), (0,387,3), (0,423,4), (0,73,5), (0,190,6),
      (0,464,7), (0,388,8), (0,483,9), (0,323,10), (1,386,1),
      (1,27,2), (1,407,3), (1,195,4), (1,64,5), (1,472,6), (1,203,7),
      (1,363,8), (1,312,9), (1,353,10), (2,117,1), (2,450,2),
      (2,320,3), (2,418,4), (2,172,5), (2,197,6), (2,109,7), (2,97,8),
      (2,459,9), (2,128,10), (3,130,1), (3,149,2), (3,343,3),
      (3,207,4), (3,192,5), (3,437,6), (3,474,7), (3,363,8),
      (3,396,9), (3,463,10), (4,114,1), (4,408,2), (4,482,3),
      (4,280,4), (4,249,5), (4,257,6), (4,89,7), (4,346,8), (4,288,9),
      (4,332,10), (5,404,1), (5,157,2), (5,33,3), (5,395,4),
      (5,464,5), (5,266,6), (5,225,7), (5,11,8), (5,453,9),
      (5,433,10), (6,430,1), (6,145,2), (6,395,3), (6,214,4),
      (6,252,5), (6,371,6), (6,11,7), (6,53,8), (6,270,9), (6,403,10),
      (7,340,1), (7,425,2), (7,209,3), (7,334,4), (7,381,5), (7,0,6),
      (7,332,7), (7,156,8), (7,442,9), (7,99,10)
    ), picksSf01 = Seq(
      (0,291,1), (0,144,2), (0,1407,3), (0,142,4), (0,1647,5),
      (0,1422,6), (0,1724,7), (0,1553,8), (0,1658,9), (0,1308,10),
      (1,1950,1), (1,1175,2), (1,1580,3), (1,1843,4), (1,1832,5),
      (1,732,6), (1,1711,7), (1,1159,8), (1,1060,9), (1,1724,10),
      (2,1303,1), (2,953,2), (2,1053,3), (2,1912,4), (2,990,5),
      (2,123,6), (2,315,7), (2,848,8), (2,1330,9), (2,1781,10),
      (3,263,1), (3,1701,2), (3,650,3), (3,1617,4), (3,965,5),
      (3,1062,6), (3,100,7), (3,551,8), (3,812,9), (3,160,10),
      (4,524,1), (4,76,2), (4,995,3), (4,1645,4), (4,1423,5),
      (4,685,6), (4,381,7), (4,1866,8), (4,55,9), (4,1627,10),
      (5,426,1), (5,1684,2), (5,250,3), (5,1121,4), (5,813,5),
      (5,533,6), (5,478,7), (5,660,8), (5,190,9), (5,1957,10),
      (6,1805,1), (6,270,2), (6,1823,3), (6,648,4), (6,624,5),
      (6,806,6), (6,857,7), (6,1550,8), (6,713,9), (6,1091,10),
      (7,160,1), (7,493,2), (7,420,3), (7,498,4), (7,490,5),
      (7,282,6), (7,1333,7), (7,1341,8), (7,250,9), (7,900,10)
    ), picksSf0001 = Seq(
      (0,17,1), (0,225,2), (0,483,3), (0,260,4), (0,73,5),
      (0,212,6), (0,402,7), (0,82,8), (0,71,9), (0,262,10),
      (1,257,1), (1,209,2), (1,129,3), (1,376,4), (1,440,5),
      (1,75,6), (1,455,7), (1,479,8), (1,247,9), (1,260,10),
      (2,443,1), (2,246,2), (2,91,3), (2,234,4), (2,309,5),
      (2,183,6), (2,132,7), (2,488,8), (2,24,9), (2,106,10),
      (3,205,1), (3,212,2), (3,84,3), (3,426,4), (3,156,5),
      (3,72,6), (3,278,7), (3,382,8), (3,137,9), (3,326,10),
      (4,345,1), (4,98,2), (4,143,3), (4,57,4), (4,62,5), (4,229,6),
      (4,195,7), (4,413,8), (4,462,9), (4,209,10), (5,113,1),
      (5,440,2), (5,234,3), (5,298,4), (5,448,5), (5,118,6),
      (5,296,7), (5,360,8), (5,205,9), (5,218,10), (6,141,1),
      (6,434,2), (6,78,3), (6,280,4), (6,467,5), (6,444,6),
      (6,312,7), (6,352,8), (6,486,9), (6,25,10), (7,382,1),
      (7,466,2), (7,209,3), (7,329,4), (7,220,5), (7,18,6),
      (7,326,7), (7,198,8), (7,249,9), (7,340,10)
    ),
      picksSf1 = Pins.picksResource("ann_pq_topk_picks_sf1.txt")),
    // E2-family near-dup pairs, pinned at the driver SF (r12): the
    // pair ID SET is bit-stable across fresh JVMs (the quantizer
    // rides the canonical feed; the exact-cosine threshold margin is
    // 1.3e-4 at sf0.01, four orders above cross-engine float error),
    // so the pairs pin as VALUES and DuckDB recomputes cosine with
    // the bit-portable ordered fold — hash-exact on every column.
    // check.py keeps the all-pairs tolerance sweep as the
    // full-recall cross-check at this SF.
    "dedup_embedding" -> Pins.sf1Or("dedup_embedding", {
      // r13: dual-SF pins — sf0.1 twin generated from the same
      // bit-reproducible sweep (8/32-thread fresh-JVM byte equality)
      val picksSf01 = Seq(
        (0,1204), (4,524), (6,270), (6,1805), (7,605), (7,1622),
        (9,1443), (10,1305), (10,1424), (11,1902), (12,662),
        (14,151), (14,1113), (15,52), (16,442), (18,222), (19,138),
        (19,402), (21,402), (22,857), (22,1184), (22,1786),
        (24,1661), (25,542), (25,742), (25,868), (25,1704),
        (27,282), (27,389), (28,791), (31,676), (32,1468),
        (33,1895), (34,486), (35,355), (35,535), (37,1362),
        (38,274), (38,444), (39,564), (42,340), (42,872), (42,1957),
        (47,1965), (48,1879), (49,394), (51,774), (53,58), (53,613),
        (53,1127), (59,378), (59,1331), (60,845), (61,974),
        (61,977), (64,346), (65,623), (65,805), (65,1840), (66,900),
        (66,1473), (67,1694), (68,1052), (74,1534), (75,100),
        (77,929), (80,1005), (80,1428), (82,1223), (83,661),
        (84,1351), (86,991), (87,389), (87,655), (87,1120),
        (89,1855), (90,1138), (91,901), (92,185), (97,204),
        (97,217), (98,1488), (98,1993), (102,1536), (102,1949),
        (105,1656), (108,649), (109,380), (113,742), (114,1875),
        (115,837), (119,919), (119,1859), (121,1514), (123,1704),
        (127,465), (127,1172), (127,1745), (129,1674), (129,1803),
        (130,1503), (133,723), (134,318), (134,734), (135,264),
        (136,1707), (137,1625), (138,264), (140,799), (141,829),
        (142,713), (147,718), (148,292), (148,544), (148,1481),
        (148,1596), (150,684), (151,282), (151,520), (152,1151),
        (154,1069), (154,1202), (155,271), (156,743), (156,1005),
        (158,288), (159,171), (162,825), (164,938), (164,1662),
        (164,1963), (168,558), (174,1120), (174,1524), (175,649),
        (176,1934), (181,676), (183,1985), (184,488), (184,1428),
        (184,1661), (185,342), (185,1875), (186,1324), (189,203),
        (189,531), (189,587), (190,1378), (193,455), (193,537),
        (193,1725), (194,1122), (194,1350), (195,374), (195,957),
        (197,219), (200,279), (200,1433), (203,391), (208,1734),
        (210,366), (210,387), (213,1869), (214,1814), (220,249),
        (220,446), (220,955), (223,1232), (225,806), (226,910),
        (227,1534), (227,1856), (230,661), (232,561), (232,1021),
        (232,1157), (232,1686), (232,1731), (235,1290), (238,879),
        (238,1274), (238,1421), (242,640), (242,939), (242,1424),
        (242,1579), (243,1157), (244,689), (245,348), (246,1276),
        (249,1631), (251,594), (252,636), (252,818), (254,1079),
        (254,1457), (256,780), (257,1724), (259,1601), (266,679),
        (267,876), (268,914), (272,1004), (273,639), (273,1674),
        (274,562), (274,873), (274,1948), (275,943), (276,1700),
        (278,720), (282,1074), (283,631), (283,1192), (285,1944),
        (288,1880), (289,1134), (290,722), (291,401), (291,1852),
        (292,1481), (293,957), (293,1030), (295,308), (295,1242),
        (295,1489), (296,673), (296,1716), (297,659), (297,951),
        (297,969), (297,1048), (297,1070), (297,1310), (299,1495),
        (301,1114), (304,1465), (304,1670), (305,963), (305,1244),
        (306,1517), (307,550), (307,1944), (309,1582), (310,447),
        (310,1473), (311,529), (312,370), (312,472), (312,1676),
        (313,952), (316,369), (316,1991), (318,622), (318,1313),
        (319,834), (320,750), (328,363), (330,665), (332,521),
        (332,1734), (333,884), (336,1821), (339,1178), (342,1529),
        (343,754), (344,1077), (345,1208), (346,1475), (350,646),
        (350,1224), (351,1946), (353,397), (355,518), (357,824),
        (357,1945), (359,1862), (360,1081), (362,1661), (365,580),
        (366,1581), (368,394), (368,1776), (369,653), (369,1653),
        (370,1858), (371,555), (372,1141), (372,1320), (374,1805),
        (375,801), (376,1005), (378,732), (379,1631), (380,989),
        (380,1687), (382,840), (384,1874), (386,596), (389,1288),
        (390,464), (390,712), (391,1856), (392,951), (393,1552),
        (393,1713), (397,1476), (398,831), (401,1852), (402,1280),
        (402,1713), (403,1166), (406,1349), (407,1573), (409,1660),
        (409,1847), (413,1077), (413,1582), (416,505), (416,1650),
        (419,437), (419,452), (420,1946), (421,1350), (422,1500),
        (422,1571), (424,756), (424,778), (425,1198), (426,569),
        (426,733), (427,919), (427,1215), (428,582), (431,1710),
        (432,1014), (433,1571), (434,921), (435,472), (436,551),
        (436,740), (439,881), (440,863), (441,707), (441,1164),
        (441,1623), (442,531), (443,1990), (445,575), (445,1100),
        (446,1293), (449,1527), (451,652), (451,1264), (453,1854),
        (455,616), (457,1301), (457,1990), (460,756), (460,1503),
        (460,1679), (461,1050), (461,1876), (463,1468), (466,1165),
        (467,1656), (468,851), (469,922), (472,1213), (482,1241),
        (486,1586), (486,1966), (488,1807), (489,746), (490,1920),
        (491,1161), (492,508), (492,1630), (495,1614), (495,1690),
        (498,741), (498,1574), (498,1685), (499,1359), (499,1700),
        (502,862), (503,893), (503,1385), (505,1237), (507,1160),
        (507,1868), (510,532), (510,761), (510,1564), (513,855),
        (515,863), (515,910), (515,994), (518,1133), (519,1245),
        (519,1251), (519,1575), (522,1428), (523,1330), (525,904),
        (526,1370), (526,1515), (528,1093), (529,745), (532,832),
        (533,685), (535,742), (535,1945), (542,975), (543,1860),
        (545,1935), (547,1903), (550,1004), (550,1136), (550,1273),
        (551,611), (553,1505), (554,663), (555,1908), (557,1891),
        (560,1768), (561,646), (561,1731), (569,1143), (571,1960),
        (573,1588), (576,654), (576,1130), (576,1437), (581,1382),
        (582,1782), (583,1721), (585,1060), (595,823), (595,1157),
        (595,1248), (595,1478), (596,1958), (597,863), (601,838),
        (602,1331), (603,820), (603,961), (606,1648), (607,868),
        (608,1946), (610,1380), (611,1805), (616,714), (617,1737),
        (618,752), (620,769), (620,1710), (621,1266), (624,1939),
        (625,1430), (630,1936), (633,1966), (634,1129), (635,1683),
        (636,1291), (639,1038), (639,1991), (640,769), (641,1037),
        (650,783), (651,963), (652,1175), (654,898), (659,1843),
        (660,1299), (660,1546), (660,1874), (666,1440), (668,1061),
        (668,1232), (668,1932), (670,1641), (672,1752), (672,1997),
        (674,1619), (676,708), (679,1394), (680,982), (680,984),
        (682,1902), (683,1898), (689,961), (689,1591), (693,1049),
        (698,1958), (700,814), (701,1753), (704,1566), (706,1535),
        (707,1618), (708,895), (709,1035), (709,1833), (710,1569),
        (712,795), (712,1350), (713,814), (715,1575), (717,1192),
        (717,1430), (719,1790), (724,1149), (724,1856), (726,1827),
        (727,1446), (728,1748), (728,1997), (729,1531), (729,1818),
        (729,1853), (731,1226), (731,1717), (732,915), (735,1122),
        (735,1151), (735,1283), (736,740), (738,1687), (740,1237),
        (741,791), (741,1685), (747,780), (747,844), (749,964),
        (749,1167), (749,1461), (751,1370), (752,997), (753,1221),
        (753,1549), (755,1667), (762,1815), (772,1257), (776,1917),
        (785,1543), (786,1119), (786,1526), (790,1780), (796,1216),
        (796,1733), (797,1368), (797,1613), (801,1660), (803,1898),
        (806,1354), (807,821), (807,1203), (809,844), (811,1545),
        (812,1404), (814,1362), (814,1425), (814,1775), (816,1426),
        (817,1809), (819,1166), (820,983), (825,913), (838,1061),
        (845,1467), (846,1891), (851,1038), (851,1968), (858,1204),
        (859,1379), (861,1483), (866,867), (866,1625), (867,1756),
        (867,1961), (867,1998), (869,1248), (877,1215), (878,1375),
        (880,1613), (881,1839), (884,944), (884,1855), (885,1551),
        (885,1672), (887,1145), (887,1425), (887,1572), (888,1621),
        (890,1251), (892,1485), (895,1579), (900,992), (902,1070),
        (903,1303), (907,1797), (909,1488), (912,1212), (912,1507),
        (914,1352), (914,1879), (916,1510), (918,1215), (918,1489),
        (922,1600), (923,1842), (931,1269), (938,1090), (938,1296),
        (939,1593), (939,1684), (940,1352), (940,1574), (950,1422),
        (952,1132), (952,1721), (958,1654), (959,1200), (963,1551),
        (964,1778), (968,1992), (970,1545), (970,1939), (973,1578),
        (981,1848), (986,1753), (988,1280), (990,1577), (991,1813),
        (994,1377), (995,1789), (996,1138), (996,1185), (1000,1253),
        (1002,1782), (1009,1247), (1011,1602), (1011,1817),
        (1012,1229), (1015,1883), (1018,1835), (1019,1390),
        (1022,1233), (1023,1754), (1023,1799), (1025,1872),
        (1029,1064), (1036,1790), (1037,1719), (1040,1084),
        (1041,1918), (1051,1628), (1056,1492), (1056,1614),
        (1059,1282), (1059,1831), (1061,1192), (1063,1150),
        (1071,1135), (1072,1158), (1072,1739), (1073,1896),
        (1086,1627), (1086,1773), (1088,1117), (1088,1779),
        (1089,1090), (1095,1544), (1099,1166), (1099,1236),
        (1102,1639), (1103,1116), (1103,1353), (1103,1486),
        (1106,1755), (1114,1856), (1114,1888), (1115,1922),
        (1118,1487), (1119,1526), (1119,1528), (1120,1524),
        (1128,1645), (1129,1359), (1133,1573), (1135,1252),
        (1136,1560), (1142,1330), (1145,1780), (1147,1251),
        (1157,1889), (1160,1237), (1163,1664), (1164,1637),
        (1164,1753), (1165,1377), (1166,1249), (1173,1175),
        (1174,1364), (1175,1273), (1176,1525), (1177,1932),
        (1179,1262), (1179,1333), (1180,1380), (1180,1967),
        (1184,1185), (1184,1276), (1184,1921), (1190,1558),
        (1190,1653), (1191,1263), (1192,1300), (1192,1555),
        (1194,1366), (1194,1641), (1194,1754), (1197,1648),
        (1200,1257), (1200,1914), (1205,1331), (1207,1840),
        (1216,1395), (1219,1904), (1220,1694), (1225,1969),
        (1229,1441), (1230,1707), (1232,1364), (1236,1651),
        (1242,1451), (1247,1670), (1247,1913), (1252,1394),
        (1255,1392), (1257,1432), (1257,1830), (1261,1675),
        (1264,1352), (1264,1365), (1268,1535), (1269,1342),
        (1269,1522), (1270,1553), (1270,1806), (1279,1578),
        (1279,1978), (1293,1841), (1297,1782), (1299,1428),
        (1300,1359), (1300,1634), (1302,1319), (1303,1400),
        (1305,1786), (1306,1714), (1307,1646), (1308,1348),
        (1309,1612), (1314,1676), (1319,1810), (1324,1991),
        (1325,1471), (1327,1660), (1333,1722), (1334,1766),
        (1343,1934), (1344,1383), (1349,1369), (1349,1519),
        (1350,1951), (1353,1489), (1353,1745), (1362,1551),
        (1362,1661), (1362,1763), (1367,1800), (1369,1824),
        (1390,1746), (1403,1460), (1404,1560), (1408,1525),
        (1412,1587), (1413,1422), (1413,1552), (1415,1873),
        (1424,1579), (1429,1683), (1430,1529), (1431,1810),
        (1432,1649), (1433,1870), (1434,1681), (1438,1556),
        (1448,1913), (1451,1709), (1452,1924), (1454,1923),
        (1460,1820), (1462,1988), (1464,1575), (1471,1892),
        (1474,1535), (1481,1522), (1481,1728), (1482,1899),
        (1485,1724), (1492,1548), (1511,1564), (1519,1770),
        (1531,1585), (1536,1999), (1537,1673), (1542,1754),
        (1543,1695), (1549,1799), (1551,1595), (1556,1636),
        (1565,1674), (1568,1897), (1572,1979), (1574,1817),
        (1577,1872), (1578,1702), (1584,1900), (1592,1887),
        (1596,1915), (1598,1727), (1602,1729), (1607,1958),
        (1612,1686), (1616,1824), (1623,1785), (1628,1843),
        (1641,1877), (1652,1992), (1657,1788), (1665,1745),
        (1665,1896), (1679,1771), (1679,1907), (1688,1739),
        (1691,1988), (1698,1813), (1707,1744), (1732,1860),
        (1745,1813), (1749,1868), (1750,1844), (1769,1866),
        (1776,1979), (1777,1818), (1779,1920), (1782,1880),
        (1786,1928), (1795,1958), (1807,1877), (1811,1906),
        (1813,1835), (1814,1895), (1818,1979), (1823,1971),
        (1838,1934), (1845,1935), (1845,1994), (1848,1949),
        (1858,1935), (1858,1958), (1859,1860), (1874,1911),
        (1880,1935), (1897,1932), (1905,1916), (1908,1982),
        (1908,1991), (1962,1988))
      val picks = Pins.at(Seq((7,340), (7,425), (16,402), (19,87), (24,234),
        (24,298), (24,384), (28,305), (32,200), (35,351), (44,301),
        (45,298), (53,234), (53,300), (53,430), (70,210), (75,256),
        (83,310), (84,190), (85,404), (108,142), (108,232), (120,421),
        (131,456), (150,152), (156,438), (158,452), (159,202),
        (162,282), (166,324), (169,466), (172,440), (181,194),
        (183,399), (191,431), (195,317), (197,318), (198,468),
        (200,204), (202,245), (203,414), (205,485), (207,326),
        (234,384), (238,287), (253,385), (262,291), (269,340),
        (290,325), (290,331), (325,331), (334,382), (334,438),
        (335,439), (338,406), (350,395), (350,479), (355,417),
        (387,388)), picksSf01, Seq(
        (14,116), (14,203), (16,337), (23,172), (23,319), (23,392),
        (37,305), (38,404), (41,56), (43,276), (44,472), (45,237),
        (45,359), (50,73), (52,322), (53,134), (54,165), (60,496),
        (64,455), (65,292), (67,458), (74,286), (80,455), (85,227),
        (92,126), (93,243), (106,263), (119,403), (124,454),
        (131,230), (134,250), (136,241), (136,304), (136,485),
        (154,342), (159,384), (165,215), (167,256), (171,358),
        (172,173), (193,243), (203,470), (212,248), (215,462),
        (229,472), (233,414), (244,477), (248,275), (256,355),
        (294,474), (295,454), (319,362), (320,487), (321,488),
        (322,397), (329,361), (330,457), (352,411), (365,429),
        (372,418), (390,483), (395,406), (396,493), (397,471),
        (410,494), (438,445)))
      val vals = picks.map { case (i, j) => s"  ($i, $j)" }
        .mkString(",\n")
      s"""WITH picks(id1, id2) AS (VALUES
         |$vals),
         |n AS (
         |  SELECT vec_id, embedding,
         |    sqrt(${foldDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings)
         |SELECT p.id1, p.id2,
         |  ${foldDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
         |    AS cosine
         |FROM picks p JOIN n a ON a.vec_id = p.id1
         |  JOIN n b ON b.vec_id = p.id2""".stripMargin
    }),
    // SemDeDup survivors: exact cosine pair join → recursive-CTE
    // components (the dedup_components pattern) → drop non-min group
    // members. Integer ids only — exact hash gate (SF-scoped, see the
    // query comment).
    "dedup_semantic" -> Pins.sf1Or("dedup_semantic", Pins.at(
      // sf0.01: the margin between the cosine threshold and the
      // nearest pair (1.3e-4) dwarfs cross-engine float error, so the
      // recursive-CTE replay is exact there; at sf0.1 the margin is
      // ~1e-5 — too thin to bet an exact gate on a DuckDB
      // recompute, so the sf0.1 oracle pins the survivor ids
      // directly (bit-reproducible Spark output, proven 8/32)
      """WITH RECURSIVE n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_dot_product(embedding, embedding)) AS nrm
        |  FROM embeddings),
        |jp AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.embedding, b.embedding)
        |    / (a.nrm * b.nrm) >= 0.4),
        |ed AS (SELECT id1 AS a, id2 AS b FROM jp
        |       UNION SELECT id2, id1 FROM jp),
        |walk(id, reach) AS (
        |  SELECT a, a FROM ed
        |  UNION SELECT w.id, ed.b FROM walk w JOIN ed ON w.reach = ed.a),
        |losers AS (
        |  SELECT id FROM walk GROUP BY 1 HAVING min(reach) <> id)
        |SELECT e.vec_id FROM embeddings e
        |WHERE e.vec_id NOT IN (SELECT id FROM losers)""".stripMargin,
      "SELECT CAST(col0 AS BIGINT) AS vec_id FROM (VALUES " +
    """(0),(1),(2),(3),(4),(5),(6),(7),(8),(9),(10),(11),(12),
      |(13),(14),(15),(16),(17),(18),(19),(20),(23),(24),(25),
      |(26),(28),(29),(30),(32),(33),(34),(36),(38),(39),(40),
      |(41),(42),(43),(44),(45),(46),(47),(50),(51),(53),(54),
      |(55),(56),(57),(59),(60),(61),(62),(63),(64),(65),(66),
      |(67),(68),(69),(70),(71),(72),(73),(75),(76),(77),(78),
      |(79),(81),(82),(83),(84),(85),(86),(88),(89),(91),(92),
      |(93),(94),(95),(96),(97),(98),(99),(101),(102),(103),
      |(104),(105),(106),(107),(108),(109),(110),(111),(112),
      |(115),(116),(117),(118),(120),(121),(122),(124),(125),
      |(126),(128),(129),(130),(131),(132),(133),(134),(136),
      |(137),(139),(140),(141),(143),(144),(145),(146),(147),
      |(148),(149),(150),(152),(153),(154),(155),(157),(158),
      |(159),(160),(161),(162),(163),(164),(165),(166),(167),
      |(168),(169),(170),(172),(173),(176),(177),(178),(179),
      |(180),(182),(183),(187),(188),(190),(191),(192),(193),
      |(196),(197),(198),(199),(200),(201),(202),(205),(206),
      |(207),(208),(209),(210),(211),(212),(213),(215),(216),
      |(218),(220),(221),(224),(225),(226),(228),(229),(231),
      |(232),(233),(234),(235),(236),(237),(238),(239),(240),
      |(241),(244),(245),(247),(248),(250),(251),(252),(253),
      |(254),(255),(256),(257),(258),(259),(260),(261),(262),
      |(263),(265),(266),(267),(269),(275),(277),(278),(280),
      |(281),(284),(286),(287),(289),(290),(291),(294),(296),
      |(297),(298),(299),(300),(302),(303),(304),(306),(309),
      |(311),(313),(314),(315),(317),(319),(320),(321),(322),
      |(323),(324),(325),(326),(327),(328),(329),(330),(331),
      |(334),(335),(336),(337),(338),(339),(341),(343),(345),
      |(347),(349),(351),(352),(353),(354),(356),(358),(359),
      |(360),(361),(364),(365),(367),(372),(373),(375),(377),
      |(381),(382),(383),(385),(388),(395),(396),(398),(399),
      |(400),(403),(404),(405),(406),(408),(410),(411),(412),
      |(414),(415),(417),(418),(419),(422),(423),(425),(426),
      |(429),(430),(432),(434),(438),(439),(441),(443),(445),
      |(448),(449),(450),(453),(454),(456),(458),(459),(461),
      |(462),(469),(470),(471),(473),(474),(475),(476),(477),
      |(478),(479),(480),(481),(482),(483),(484),(485),(487),
      |(489),(490),(491),(492),(493),(494),(495),(496),(497),
      |(500),(501),(502),(503),(504),(506),(509),(510),(511),
      |(512),(513),(514),(516),(517),(519),(523),(525),(526),
      |(527),(528),(530),(533),(534),(536),(538),(539),(540),
      |(541),(546),(547),(548),(549),(552),(553),(554),(556),
      |(557),(559),(560),(563),(565),(566),(567),(568),(570),
      |(571),(572),(573),(574),(576),(577),(578),(579),(581),
      |(584),(585),(586),(588),(589),(590),(591),(592),(593),
      |(598),(599),(600),(604),(606),(609),(610),(612),(614),
      |(615),(617),(618),(619),(621),(624),(626),(627),(628),
      |(629),(630),(632),(635),(637),(638),(641),(642),(643),
      |(644),(645),(647),(648),(650),(656),(657),(658),(664),
      |(666),(667),(669),(671),(672),(674),(675),(677),(678),
      |(680),(681),(683),(686),(687),(688),(690),(691),(692),
      |(693),(694),(695),(696),(697),(699),(702),(703),(704),
      |(705),(706),(709),(710),(711),(716),(719),(721),(725),
      |(726),(727),(730),(731),(737),(739),(744),(748),(749),
      |(755),(757),(758),(759),(760),(762),(763),(764),(765),
      |(766),(767),(768),(770),(771),(772),(773),(775),(776),
      |(777),(779),(781),(782),(784),(785),(786),(787),(788),
      |(789),(792),(793),(794),(796),(797),(798),(800),(802),
      |(804),(807),(808),(810),(813),(815),(816),(817),(822),
      |(826),(827),(828),(830),(833),(835),(836),(839),(841),
      |(842),(843),(847),(848),(849),(850),(852),(853),(854),
      |(856),(859),(860),(861),(864),(865),(870),(871),(874),
      |(875),(878),(882),(883),(886),(888),(889),(891),(894),
      |(896),(897),(899),(903),(905),(906),(907),(908),(911),
      |(912),(916),(917),(920),(923),(924),(925),(926),(927),
      |(928),(930),(932),(933),(934),(935),(936),(937),(941),
      |(942),(945),(946),(947),(948),(949),(953),(954),(956),
      |(958),(960),(962),(965),(966),(967),(968),(971),(972),
      |(973),(976),(978),(979),(980),(985),(987),(990),(993),
      |(995),(998),(999),(1000),(1001),(1003),(1006),(1007),
      |(1008),(1010),(1012),(1013),(1015),(1016),(1017),(1019),
      |(1020),(1022),(1024),(1026),(1027),(1028),(1029),(1031),
      |(1032),(1033),(1034),(1039),(1040),(1041),(1042),(1043),
      |(1044),(1045),(1046),(1047),(1053),(1054),(1055),(1057),
      |(1058),(1059),(1062),(1063),(1065),(1066),(1067),(1068),
      |(1072),(1075),(1076),(1078),(1080),(1082),(1083),(1085),
      |(1086),(1087),(1091),(1092),(1094),(1095),(1096),(1097),
      |(1098),(1101),(1102),(1104),(1105),(1106),(1107),(1108),
      |(1109),(1110),(1111),(1112),(1115),(1118),(1121),(1123),
      |(1124),(1125),(1126),(1128),(1131),(1137),(1139),(1140),
      |(1144),(1146),(1148),(1152),(1153),(1154),(1155),(1156),
      |(1159),(1162),(1163),(1168),(1169),(1170),(1171),(1176),
      |(1179),(1181),(1182),(1183),(1186),(1187),(1188),(1189),
      |(1191),(1193),(1195),(1196),(1199),(1201),(1206),(1209),
      |(1210),(1211),(1214),(1217),(1218),(1219),(1222),(1225),
      |(1227),(1228),(1231),(1234),(1235),(1238),(1239),(1240),
      |(1243),(1246),(1250),(1254),(1255),(1256),(1258),(1259),
      |(1260),(1261),(1265),(1267),(1270),(1271),(1272),(1275),
      |(1277),(1278),(1281),(1284),(1285),(1286),(1287),(1289),
      |(1292),(1294),(1295),(1298),(1302),(1304),(1306),(1307),
      |(1308),(1311),(1312),(1315),(1316),(1317),(1318),(1321),
      |(1322),(1323),(1325),(1326),(1328),(1329),(1332),(1334),
      |(1335),(1336),(1337),(1338),(1339),(1340),(1341),(1344),
      |(1345),(1346),(1347),(1355),(1356),(1357),(1358),(1360),
      |(1361),(1363),(1367),(1371),(1372),(1373),(1374),(1376),
      |(1381),(1384),(1386),(1387),(1388),(1389),(1391),(1393),
      |(1396),(1397),(1398),(1399),(1401),(1402),(1403),(1405),
      |(1406),(1407),(1409),(1410),(1411),(1412),(1414),(1415),
      |(1416),(1417),(1418),(1419),(1420),(1423),(1427),(1434),
      |(1435),(1436),(1438),(1439),(1442),(1444),(1445),(1447),
      |(1449),(1450),(1452),(1453),(1454),(1455),(1456),(1458),
      |(1459),(1462),(1463),(1466),(1469),(1470),(1472),(1477),
      |(1479),(1480),(1482),(1484),(1490),(1491),(1493),(1494),
      |(1496),(1497),(1498),(1499),(1501),(1502),(1504),(1506),
      |(1508),(1509),(1512),(1513),(1516),(1518),(1520),(1521),
      |(1523),(1530),(1532),(1533),(1537),(1538),(1539),(1540),
      |(1541),(1547),(1550),(1554),(1557),(1559),(1561),(1562),
      |(1563),(1567),(1570),(1576),(1580),(1583),(1584),(1589),
      |(1590),(1592),(1594),(1597),(1598),(1599),(1603),(1604),
      |(1605),(1606),(1608),(1609),(1610),(1611),(1615),(1617),
      |(1620),(1624),(1626),(1629),(1632),(1633),(1635),(1638),
      |(1640),(1642),(1643),(1644),(1647),(1655),(1657),(1658),
      |(1659),(1663),(1666),(1668),(1669),(1671),(1677),(1678),
      |(1680),(1682),(1689),(1692),(1693),(1696),(1697),(1699),
      |(1701),(1703),(1705),(1706),(1708),(1711),(1712),(1715),
      |(1718),(1720),(1723),(1726),(1730),(1735),(1736),(1738),
      |(1740),(1741),(1742),(1743),(1747),(1750),(1751),(1757),
      |(1758),(1759),(1760),(1761),(1762),(1764),(1765),(1767),
      |(1769),(1772),(1774),(1781),(1783),(1784),(1787),(1791),
      |(1792),(1793),(1794),(1796),(1798),(1801),(1802),(1804),
      |(1808),(1811),(1812),(1816),(1819),(1822),(1823),(1825),
      |(1826),(1828),(1829),(1832),(1834),(1836),(1837),(1846),
      |(1849),(1850),(1851),(1857),(1861),(1863),(1864),(1865),
      |(1867),(1871),(1878),(1881),(1882),(1884),(1885),(1886),
      |(1890),(1893),(1894),(1901),(1905),(1909),(1910),(1912),
      |(1919),(1925),(1926),(1927),(1929),(1930),(1931),(1933),
      |(1937),(1938),(1940),(1941),(1942),(1943),(1947),(1950),
      |(1952),(1953),(1954),(1955),(1956),(1959),(1964),(1970),
      |(1972),(1973),(1974),(1975),(1976),(1977),(1980),(1981),
      |(1983),(1984),(1986),(1987),(1989),(1995),(1996)""".stripMargin.replace("\n", " ") + ") t",
      "SELECT CAST(col0 AS BIGINT) AS vec_id FROM (VALUES " +
    """(0),(1),(2),(3),(4),(5),(6),(7),(8),(9),(10),(11),(12),
      |(13),(14),(15),(16),(17),(18),(19),(20),(21),(22),(23),
      |(24),(25),(26),(27),(28),(29),(30),(31),(32),(33),(34),
      |(35),(36),(37),(38),(39),(40),(41),(42),(43),(44),(45),
      |(46),(47),(48),(49),(50),(51),(52),(53),(54),(55),(57),
      |(58),(59),(60),(61),(62),(63),(64),(65),(66),(67),(68),
      |(69),(70),(71),(72),(74),(75),(76),(77),(78),(79),(81),
      |(82),(83),(84),(85),(86),(87),(88),(89),(90),(91),(92),
      |(93),(94),(95),(96),(97),(98),(99),(100),(101),(102),
      |(103),(104),(105),(106),(107),(108),(109),(110),(111),
      |(112),(113),(114),(115),(117),(118),(119),(120),(121),
      |(122),(123),(124),(125),(127),(128),(129),(130),(131),
      |(132),(133),(135),(136),(137),(138),(139),(140),(141),
      |(142),(143),(144),(145),(146),(147),(148),(149),(150),
      |(151),(152),(153),(154),(155),(156),(157),(158),(159),
      |(160),(161),(162),(163),(164),(166),(167),(168),(169),
      |(170),(171),(174),(175),(176),(177),(178),(179),(180),
      |(181),(182),(183),(184),(185),(186),(187),(188),(189),
      |(190),(191),(192),(194),(195),(196),(197),(198),(199),
      |(200),(201),(202),(204),(205),(206),(207),(208),(209),
      |(210),(211),(212),(213),(214),(216),(217),(218),(219),
      |(220),(221),(222),(223),(224),(225),(226),(228),(231),
      |(232),(233),(234),(235),(236),(238),(239),(240),(242),
      |(244),(245),(246),(247),(249),(251),(252),(253),(254),
      |(255),(257),(258),(259),(260),(261),(262),(264),(265),
      |(266),(267),(268),(269),(270),(271),(272),(273),(274),
      |(277),(278),(279),(280),(281),(282),(283),(284),(285),
      |(287),(288),(289),(290),(291),(293),(294),(296),(297),
      |(298),(299),(300),(301),(302),(303),(306),(307),(308),
      |(309),(310),(311),(312),(313),(314),(315),(316),(317),
      |(318),(320),(321),(323),(324),(325),(326),(327),(328),
      |(329),(330),(331),(332),(333),(334),(335),(336),(338),
      |(339),(340),(341),(343),(344),(345),(346),(347),(348),
      |(349),(350),(351),(352),(353),(354),(356),(357),(360),
      |(363),(364),(365),(366),(367),(368),(369),(370),(371),
      |(372),(373),(374),(375),(376),(377),(378),(379),(380),
      |(381),(382),(383),(385),(386),(387),(388),(389),(390),
      |(391),(393),(394),(395),(396),(398),(399),(400),(401),
      |(402),(405),(407),(408),(409),(410),(412),(413),(415),
      |(416),(417),(419),(420),(421),(422),(423),(424),(425),
      |(426),(427),(428),(430),(431),(432),(433),(434),(435),
      |(436),(437),(438),(439),(440),(441),(442),(443),(444),
      |(446),(447),(448),(449),(450),(451),(452),(453),(456),
      |(459),(460),(461),(463),(464),(465),(466),(467),(468),
      |(469),(473),(475),(476),(478),(479),(480),(481),(482),
      |(484),(486),(489),(490),(491),(492),(495),(497),(498),
      |(499)""".stripMargin.replace("\n", " ") + ") t")),
    // C8-C10 fixed-expectation oracles, pinned at the driver's
    // correctness SF (sf0.01): best-of-10 KMeans on the canonically
    // ordered profile table is bit-deterministic (Clustering.scala —
    // one sorted partition feeds the fit), so the full assignment /
    // size / typical-day outputs are pinned as VALUES, the same
    // pattern as lake_sql_maintenance. Valid ONLY at sf0.01 — local
    // harness runs at other SFs skip them via check.py SF_SCOPED.
    "gold_cluster_assignments" -> Pins.sf1Or("gold_cluster_assignments",
      Pins.at(
      """SELECT * FROM (VALUES
        |  (DATE '2024-01-01', CAST(0 AS BIGINT)),
        |  (DATE '2024-01-02', CAST(1 AS BIGINT)),
        |  (DATE '2024-01-03', CAST(1 AS BIGINT)),
        |  (DATE '2024-01-04', CAST(1 AS BIGINT)),
        |  (DATE '2024-01-05', CAST(0 AS BIGINT)),
        |  (DATE '2024-01-06', CAST(2 AS BIGINT)),
        |  (DATE '2024-01-07', CAST(0 AS BIGINT)),
        |  (DATE '2024-01-08', CAST(0 AS BIGINT)),
        |  (DATE '2024-01-09', CAST(2 AS BIGINT)),
        |  (DATE '2024-01-10', CAST(2 AS BIGINT)),
        |  (DATE '2024-01-11', CAST(1 AS BIGINT)),
        |  (DATE '2024-01-12', CAST(0 AS BIGINT)),
        |  (DATE '2024-01-13', CAST(1 AS BIGINT)),
        |  (DATE '2024-01-14', CAST(1 AS BIGINT)),
        |  (DATE '2024-01-15', CAST(1 AS BIGINT)),
        |  (DATE '2024-01-16', CAST(1 AS BIGINT)),
        |  (DATE '2024-01-17', CAST(2 AS BIGINT)),
        |  (DATE '2024-01-18', CAST(0 AS BIGINT)),
        |  (DATE '2024-01-19', CAST(1 AS BIGINT)),
        |  (DATE '2024-01-20', CAST(0 AS BIGINT)),
        |  (DATE '2024-01-21', CAST(2 AS BIGINT)),
        |  (DATE '2024-01-22', CAST(0 AS BIGINT)),
        |  (DATE '2024-01-23', CAST(0 AS BIGINT)),
        |  (DATE '2024-01-24', CAST(0 AS BIGINT)),
        |  (DATE '2024-01-25', CAST(0 AS BIGINT)),
        |  (DATE '2024-01-26', CAST(2 AS BIGINT)),
        |  (DATE '2024-01-27', CAST(0 AS BIGINT)),
        |  (DATE '2024-01-28', CAST(0 AS BIGINT)),
        |  (DATE '2024-01-29', CAST(0 AS BIGINT)),
        |  (DATE '2024-01-30', CAST(1 AS BIGINT))
        |) t(date, cluster_id)""".stripMargin,
      "SELECT CAST(col0 AS DATE) AS date, " +
        "CAST(col1 AS BIGINT) AS cluster_id FROM (VALUES " +
    """(DATE '2024-01-01', CAST(2 AS BIGINT)),
      |(DATE '2024-01-02', CAST(2 AS BIGINT)),
      |(DATE '2024-01-03', CAST(2 AS BIGINT)),
      |(DATE '2024-01-04', CAST(0 AS BIGINT)),
      |(DATE '2024-01-05', CAST(2 AS BIGINT)),
      |(DATE '2024-01-06', CAST(1 AS BIGINT)),
      |(DATE '2024-01-07', CAST(1 AS BIGINT)),
      |(DATE '2024-01-08', CAST(2 AS BIGINT)),
      |(DATE '2024-01-09', CAST(2 AS BIGINT)),
      |(DATE '2024-01-10', CAST(1 AS BIGINT)),
      |(DATE '2024-01-11', CAST(1 AS BIGINT)),
      |(DATE '2024-01-12', CAST(2 AS BIGINT)),
      |(DATE '2024-01-13', CAST(1 AS BIGINT)),
      |(DATE '2024-01-14', CAST(2 AS BIGINT)),
      |(DATE '2024-01-15', CAST(0 AS BIGINT)),
      |(DATE '2024-01-16', CAST(0 AS BIGINT)),
      |(DATE '2024-01-17', CAST(1 AS BIGINT)),
      |(DATE '2024-01-18', CAST(2 AS BIGINT)),
      |(DATE '2024-01-19', CAST(1 AS BIGINT)),
      |(DATE '2024-01-20', CAST(0 AS BIGINT)),
      |(DATE '2024-01-21', CAST(2 AS BIGINT)),
      |(DATE '2024-01-22', CAST(0 AS BIGINT)),
      |(DATE '2024-01-23', CAST(2 AS BIGINT)),
      |(DATE '2024-01-24', CAST(2 AS BIGINT)),
      |(DATE '2024-01-25', CAST(2 AS BIGINT)),
      |(DATE '2024-01-26', CAST(2 AS BIGINT)),
      |(DATE '2024-01-27', CAST(0 AS BIGINT)),
      |(DATE '2024-01-28', CAST(2 AS BIGINT)),
      |(DATE '2024-01-29', CAST(1 AS BIGINT)),
      |(DATE '2024-01-30', CAST(0 AS BIGINT))""".stripMargin.replace("\n", " ") + ") t",
      "SELECT CAST(col0 AS DATE) AS date, " +
        "CAST(col1 AS BIGINT) AS cluster_id FROM (VALUES " +
    """(DATE '2024-01-01', CAST(0 AS BIGINT)),
      |(DATE '2024-01-02', CAST(0 AS BIGINT)),
      |(DATE '2024-01-03', CAST(0 AS BIGINT)),
      |(DATE '2024-01-04', CAST(0 AS BIGINT)),
      |(DATE '2024-01-05', CAST(0 AS BIGINT)),
      |(DATE '2024-01-06', CAST(0 AS BIGINT)),
      |(DATE '2024-01-07', CAST(0 AS BIGINT)),
      |(DATE '2024-01-08', CAST(1 AS BIGINT)),
      |(DATE '2024-01-09', CAST(1 AS BIGINT)),
      |(DATE '2024-01-10', CAST(1 AS BIGINT)),
      |(DATE '2024-01-11', CAST(0 AS BIGINT)),
      |(DATE '2024-01-12', CAST(0 AS BIGINT)),
      |(DATE '2024-01-13', CAST(2 AS BIGINT)),
      |(DATE '2024-01-14', CAST(0 AS BIGINT)),
      |(DATE '2024-01-15', CAST(2 AS BIGINT)),
      |(DATE '2024-01-16', CAST(0 AS BIGINT)),
      |(DATE '2024-01-17', CAST(0 AS BIGINT)),
      |(DATE '2024-01-18', CAST(0 AS BIGINT)),
      |(DATE '2024-01-19', CAST(1 AS BIGINT)),
      |(DATE '2024-01-20', CAST(1 AS BIGINT)),
      |(DATE '2024-01-21', CAST(1 AS BIGINT)),
      |(DATE '2024-01-22', CAST(1 AS BIGINT)),
      |(DATE '2024-01-23', CAST(0 AS BIGINT)),
      |(DATE '2024-01-24', CAST(0 AS BIGINT)),
      |(DATE '2024-01-25', CAST(1 AS BIGINT)),
      |(DATE '2024-01-26', CAST(0 AS BIGINT)),
      |(DATE '2024-01-27', CAST(0 AS BIGINT)),
      |(DATE '2024-01-28', CAST(0 AS BIGINT)),
      |(DATE '2024-01-29', CAST(2 AS BIGINT)),
      |(DATE '2024-01-30', CAST(0 AS BIGINT))""".stripMargin.replace("\n", " ") + ") t")),
    "gold_cluster_sizes" -> Pins.sf1Or("gold_cluster_sizes",
      Pins.at(
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(14 AS BIGINT), 'Monday'),
        |  (CAST(1 AS BIGINT), CAST(10 AS BIGINT), 'Tuesday'),
        |  (CAST(2 AS BIGINT), CAST(6 AS BIGINT), 'Wednesday')
        |) t(cluster_id, days_in_cluster, typical_day)""".stripMargin,
      "SELECT CAST(col0 AS BIGINT) AS cluster_id, " +
        "CAST(col1 AS BIGINT) AS days_in_cluster, " +
        "col2 AS typical_day FROM (VALUES " +
    """(CAST(0 AS BIGINT), CAST(7 AS BIGINT), 'Monday'),
      |(CAST(1 AS BIGINT), CAST(8 AS BIGINT), 'Wednesday'),
      |(CAST(2 AS BIGINT), CAST(15 AS BIGINT), 'Sunday')""".stripMargin.replace("\n", " ") + ") t",
      "SELECT CAST(col0 AS BIGINT) AS cluster_id, " +
        "CAST(col1 AS BIGINT) AS days_in_cluster, " +
        "col2 AS typical_day FROM (VALUES " +
    """(CAST(0 AS BIGINT), CAST(19 AS BIGINT), 'Tuesday'),
      |(CAST(1 AS BIGINT), CAST(8 AS BIGINT), 'Monday'),
      |(CAST(2 AS BIGINT), CAST(3 AS BIGINT), 'Monday')""".stripMargin.replace("\n", " ") + ") t")),
    "gold_cluster_typical_day" -> Pins.sf1Or("gold_cluster_typical_day",
      Pins.at(
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(0 AS INT), CAST(52.41 AS DOUBLE), CAST(9014.15 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(1 AS INT), CAST(48.82 AS DOUBLE), CAST(8787.19 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(2 AS INT), CAST(41.1 AS DOUBLE), CAST(7685.37 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(3 AS INT), CAST(45.21 AS DOUBLE), CAST(7957.51 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(4 AS INT), CAST(51.8 AS DOUBLE), CAST(13001.38 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(5 AS INT), CAST(50.68 AS DOUBLE), CAST(10388.63 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(6 AS INT), CAST(43.26 AS DOUBLE), CAST(7527.9 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(7 AS INT), CAST(55.71 AS DOUBLE), CAST(10807.51 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(8 AS INT), CAST(53.82 AS DOUBLE), CAST(10548.42 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(9 AS INT), CAST(50.26 AS DOUBLE), CAST(9700.25 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(10 AS INT), CAST(53.87 AS DOUBLE), CAST(12337.26 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(11 AS INT), CAST(51.41 AS DOUBLE), CAST(9870.03 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(12 AS INT), CAST(51.18 AS DOUBLE), CAST(9519.44 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(13 AS INT), CAST(47.97 AS DOUBLE), CAST(10025.15 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(14 AS INT), CAST(51.19 AS DOUBLE), CAST(9572.76 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(15 AS INT), CAST(47.44 AS DOUBLE), CAST(8917.96 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(16 AS INT), CAST(48.91 AS DOUBLE), CAST(10907.56 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(17 AS INT), CAST(51.29 AS DOUBLE), CAST(9282.73 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(18 AS INT), CAST(44.68 AS DOUBLE), CAST(8890.8 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(19 AS INT), CAST(53.02 AS DOUBLE), CAST(12195.45 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(20 AS INT), CAST(46.55 AS DOUBLE), CAST(10288.52 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(21 AS INT), CAST(46.55 AS DOUBLE), CAST(8331.98 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(22 AS INT), CAST(46.59 AS DOUBLE), CAST(8991.29 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), CAST(23 AS INT), CAST(54.7 AS DOUBLE), CAST(10885.93 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(0 AS INT), CAST(50.01 AS DOUBLE), CAST(8301.93 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(1 AS INT), CAST(43.46 AS DOUBLE), CAST(6214.78 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(2 AS INT), CAST(47.27 AS DOUBLE), CAST(6334.38 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(3 AS INT), CAST(46.69 AS DOUBLE), CAST(5789.14 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(4 AS INT), CAST(50.13 AS DOUBLE), CAST(6516.87 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(5 AS INT), CAST(47.27 AS DOUBLE), CAST(6617.27 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(6 AS INT), CAST(53.71 AS DOUBLE), CAST(8325.53 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(7 AS INT), CAST(43.42 AS DOUBLE), CAST(5514.25 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(8 AS INT), CAST(45.37 AS DOUBLE), CAST(6351.26 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(9 AS INT), CAST(49.9 AS DOUBLE), CAST(6936.18 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(10 AS INT), CAST(47.33 AS DOUBLE), CAST(5537.23 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(11 AS INT), CAST(41.11 AS DOUBLE), CAST(5303.09 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(12 AS INT), CAST(50.61 AS DOUBLE), CAST(7439.81 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(13 AS INT), CAST(54.47 AS DOUBLE), CAST(7679.84 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(14 AS INT), CAST(55.95 AS DOUBLE), CAST(9792.03 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(15 AS INT), CAST(50.38 AS DOUBLE), CAST(8312.75 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(16 AS INT), CAST(45.73 AS DOUBLE), CAST(5533.26 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(17 AS INT), CAST(52.03 AS DOUBLE), CAST(5515.31 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(18 AS INT), CAST(55.55 AS DOUBLE), CAST(8666.56 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(19 AS INT), CAST(48.85 AS DOUBLE), CAST(7425.71 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(20 AS INT), CAST(44.56 AS DOUBLE), CAST(5881.62 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(21 AS INT), CAST(46.84 AS DOUBLE), CAST(5807.98 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(22 AS INT), CAST(49.84 AS DOUBLE), CAST(6429.9 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), CAST(23 AS INT), CAST(49.54 AS DOUBLE), CAST(5796.24 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(0 AS INT), CAST(47.37 AS DOUBLE), CAST(3173.86 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(1 AS INT), CAST(41.88 AS DOUBLE), CAST(3518.22 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(2 AS INT), CAST(54.2 AS DOUBLE), CAST(4606.58 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(3 AS INT), CAST(53.19 AS DOUBLE), CAST(4574.48 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(4 AS INT), CAST(42.18 AS DOUBLE), CAST(3332.07 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(5 AS INT), CAST(49.54 AS DOUBLE), CAST(3318.96 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(6 AS INT), CAST(52.56 AS DOUBLE), CAST(5676.41 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(7 AS INT), CAST(56.28 AS DOUBLE), CAST(4446.23 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(8 AS INT), CAST(54.1 AS DOUBLE), CAST(4436.54 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(9 AS INT), CAST(63.47 AS DOUBLE), CAST(6156.38 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(10 AS INT), CAST(51.39 AS DOUBLE), CAST(3854.06 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(11 AS INT), CAST(48.04 AS DOUBLE), CAST(4083.19 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(12 AS INT), CAST(44.42 AS DOUBLE), CAST(3553.65 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(13 AS INT), CAST(40.39 AS DOUBLE), CAST(3473.52 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(14 AS INT), CAST(48.56 AS DOUBLE), CAST(3739.06 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(15 AS INT), CAST(53.5 AS DOUBLE), CAST(4333.81 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(16 AS INT), CAST(47.62 AS DOUBLE), CAST(3428.94 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(17 AS INT), CAST(63.8 AS DOUBLE), CAST(5359.45 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(18 AS INT), CAST(46.91 AS DOUBLE), CAST(4221.81 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(19 AS INT), CAST(43.88 AS DOUBLE), CAST(3071.37 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(20 AS INT), CAST(52.1 AS DOUBLE), CAST(3125.84 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(21 AS INT), CAST(58.98 AS DOUBLE), CAST(4718.56 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(22 AS INT), CAST(50.25 AS DOUBLE), CAST(5226.0 AS DOUBLE)),
        |  (CAST(2 AS BIGINT), CAST(23 AS INT), CAST(49.56 AS DOUBLE), CAST(3419.49 AS DOUBLE))
        |) t(cluster_id, hour, avg_trips, total_trips_sample)""".stripMargin,
      "SELECT CAST(col0 AS BIGINT) AS cluster_id, " +
        "CAST(col1 AS INT) AS hour, " +
        "CAST(col2 AS DOUBLE) AS avg_trips, " +
        "CAST(col3 AS DOUBLE) AS total_trips_sample " +
        "FROM (VALUES " +
    """(CAST(0 AS BIGINT), CAST(0 AS INT), 7048133416834826*power(2.0,-47), 6738236064546161*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(1 AS INT), 6832805059651174*power(2.0,-47), 6319056877183304*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(2 AS INT), 6877841055924879*power(2.0,-47), 6481531710419763*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(3 AS INT), 7236721651230966*power(2.0,-47), 7038239186574377*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(4 AS INT), 6590736579680010*power(2.0,-47), 6082590408955658*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(5 AS INT), 7018578544280207*power(2.0,-47), 6586117256453816*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(6 AS INT), 6941172925684777*power(2.0,-47), 6500683828586086*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(7 AS INT), 7366200140517868*power(2.0,-47), 7417062174029251*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(8 AS INT), 6340223850407526*power(2.0,-47), 6085699278083195*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(9 AS INT), 6746955191754424*power(2.0,-47), 6127954884328161*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(10 AS INT), 6945395050335437*power(2.0,-47), 6354966926946468*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(11 AS INT), 6791991188028129*power(2.0,-47), 6340358540581929*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(12 AS INT), 7086132538690765*power(2.0,-47), 6754581679282586*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(13 AS INT), 7228277401929646*power(2.0,-47), 6784059586023260*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(14 AS INT), 7024208043814420*power(2.0,-47), 6735671453674373*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(15 AS INT), 7449235258647511*power(2.0,-47), 7471457763034399*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(16 AS INT), 7139612784265789*power(2.0,-47), 6804305718259220*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(17 AS INT), 6835619809418281*power(2.0,-47), 6394646927203369*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(18 AS INT), 7460494257715937*power(2.0,-47), 7314738873169347*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(19 AS INT), 7067836665204572*power(2.0,-47), 6626014410257203*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(20 AS INT), 6669549573158994*power(2.0,-47), 5862369225028403*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(21 AS INT), 7088947288457871*power(2.0,-47), 6328044010350838*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(22 AS INT), 7281757647504671*power(2.0,-47), 7488082378846372*power(2.0,-37)),
      |(CAST(0 AS BIGINT), CAST(23 AS INT), 6858137807555133*power(2.0,-47), 6048047876779540*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(0 AS INT), 6844064058719601*power(2.0,-47), 7552102817763164*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(1 AS INT), 7083317788923658*power(2.0,-47), 7816510625231667*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(2 AS INT), 7605453870721925*power(2.0,-47), 8734682549017641*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(3 AS INT), 6865174681972900*power(2.0,-47), 7314567074477507*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(4 AS INT), 6696289695946506*power(2.0,-47), 7069107975524188*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(5 AS INT), 7460494257715937*power(2.0,-47), 8144815176558838*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(6 AS INT), 7339460017730355*power(2.0,-47), 8716268478031462*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(7 AS INT), 6728659318268232*power(2.0,-47), 7339667550550098*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(8 AS INT), 6825768185233408*power(2.0,-47), 7172637990395576*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(9 AS INT), 7271906023319798*power(2.0,-47), 8202272905447342*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(10 AS INT), 7132575909848023*power(2.0,-47), 7821558757992694*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(11 AS INT), 6718807694083359*power(2.0,-47), 6706056107980227*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(12 AS INT), 6928506551732797*power(2.0,-47), 7219247662686536*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(13 AS INT), 7491456505154109*power(2.0,-47), 8625742936937595*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(14 AS INT), 6884877930342646*power(2.0,-47), 7213943893472051*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(15 AS INT), 7201537279142134*power(2.0,-47), 8284318463111987*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(16 AS INT), 7042503917300613*power(2.0,-47), 7648168523071488*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(17 AS INT), 7039689167533507*power(2.0,-47), 7479353630911365*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(18 AS INT), 7062207165670359*power(2.0,-47), 7724049943672914*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(19 AS INT), 7141020159149343*power(2.0,-47), 7865691780342088*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(20 AS INT), 7126946410313810*power(2.0,-47), 7315373841134387*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(21 AS INT), 6752584691288637*power(2.0,-47), 7404688545048166*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(22 AS INT), 6898951679178179*power(2.0,-47), 7592919438165279*power(2.0,-37)),
      |(CAST(1 AS BIGINT), CAST(23 AS INT), 6848286183370260*power(2.0,-47), 7061822336600637*power(2.0,-37)),
      |(CAST(2 AS BIGINT), CAST(0 AS INT), 7129761160080916*power(2.0,-47), 7115356183367516*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(1 AS INT), 7022800668930867*power(2.0,-47), 7416956346035077*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(2 AS INT), 7169167656820408*power(2.0,-47), 7085092125812982*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(3 AS INT), 6900359054061732*power(2.0,-47), 7267817214454006*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(4 AS INT), 6974949922890056*power(2.0,-47), 7338807869896131*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(5 AS INT), 7057985041019699*power(2.0,-47), 7058562971819049*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(6 AS INT), 6687845446645187*power(2.0,-47), 6795488322199224*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(7 AS INT), 6976357297773609*power(2.0,-47), 7321113979026145*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(8 AS INT), 7121316910779597*power(2.0,-47), 7212239650448998*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(9 AS INT), 6958061424287416*power(2.0,-47), 6794838923144069*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(10 AS INT), 7183241405655941*power(2.0,-47), 7113167468033475*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(11 AS INT), 6959468799170970*power(2.0,-47), 7122780635634074*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(12 AS INT), 6869396806623560*power(2.0,-47), 7087728204940575*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(13 AS INT), 7003097420561121*power(2.0,-47), 7033279014743572*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(14 AS INT), 7163538157286195*power(2.0,-47), 7297121948113306*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(15 AS INT), 7183241405655941*power(2.0,-47), 7568705443342582*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(16 AS INT), 6931321301499904*power(2.0,-47), 6870888019268731*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(17 AS INT), 7256424899600712*power(2.0,-47), 7359466318992507*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(18 AS INT), 6960876174054523*power(2.0,-47), 7029502879496929*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(19 AS INT), 6779324814076150*power(2.0,-47), 6792991056414638*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(20 AS INT), 6966505673588736*power(2.0,-47), 7242755908483154*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(21 AS INT), 7048133416834826*power(2.0,-47), 7206902208690913*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(22 AS INT), 6734288817802445*power(2.0,-47), 6764269063918060*power(2.0,-36)),
      |(CAST(2 AS BIGINT), CAST(23 AS INT), 7188870905190154*power(2.0,-47), 7441530430915871*power(2.0,-36))""".stripMargin.replace("\n", " ") + ") t",
      "SELECT CAST(col0 AS BIGINT) AS cluster_id, " +
        "CAST(col1 AS INT) AS hour, " +
        "CAST(col2 AS DOUBLE) AS avg_trips, " +
        "CAST(col3 AS DOUBLE) AS total_trips_sample " +
        "FROM (VALUES " +
    """(CAST(0 AS BIGINT), CAST(0 AS INT), 4615485930612982*power(2.0,-46), 7500648422362317*power(2.0,-42)),
      |(CAST(0 AS BIGINT), CAST(1 AS INT), 4692891549208412*power(2.0,-46), 8506085835265802*power(2.0,-42)),
      |(CAST(0 AS BIGINT), CAST(2 AS INT), 7194500404724367*power(2.0,-47), 5621055284911800*power(2.0,-42)),
      |(CAST(0 AS BIGINT), CAST(3 AS INT), 5623870034678907*power(2.0,-47), 7733437024195052*power(2.0,-43)),
      |(CAST(0 AS BIGINT), CAST(4 AS INT), 6312076352736461*power(2.0,-47), 7101613662409851*power(2.0,-43)),
      |(CAST(0 AS BIGINT), CAST(5 AS INT), 7110057911711171*power(2.0,-47), 6887516758249308*power(2.0,-42)),
      |(CAST(0 AS BIGINT), CAST(6 AS INT), 5989787504402760*power(2.0,-47), 6364325145288376*power(2.0,-43)),
      |(CAST(0 AS BIGINT), CAST(7 AS INT), 7877077223247708*power(2.0,-47), 6153482795546051*power(2.0,-42)),
      |(CAST(0 AS BIGINT), CAST(8 AS INT), 8507581171079578*power(2.0,-47), 4520026331089469*power(2.0,-41)),
      |(CAST(0 AS BIGINT), CAST(9 AS INT), 7787005230700298*power(2.0,-47), 5840121981629891*power(2.0,-42)),
      |(CAST(0 AS BIGINT), CAST(10 AS INT), 6555552207591178*power(2.0,-47), 6555596188056289*power(2.0,-42)),
      |(CAST(0 AS BIGINT), CAST(11 AS INT), 6782139563843256*power(2.0,-47), 6358299821568164*power(2.0,-42)),
      |(CAST(0 AS BIGINT), CAST(12 AS INT), 8886165014755410*power(2.0,-47), 8886121034290299*power(2.0,-42)),
      |(CAST(0 AS BIGINT), CAST(13 AS INT), 4792111478498918*power(2.0,-47), 8986000670557471*power(2.0,-43)),
      |(CAST(0 AS BIGINT), CAST(14 AS INT), 5616833160261140*power(2.0,-47), 5616745199330918*power(2.0,-43)),
      |(CAST(0 AS BIGINT), CAST(15 AS INT), 6513330961084580*power(2.0,-47), 5495798920275558*power(2.0,-42)),
      |(CAST(0 AS BIGINT), CAST(16 AS INT), 6934136051267011*power(2.0,-47), 7583771501422182*power(2.0,-42)),
      |(CAST(0 AS BIGINT), CAST(17 AS INT), 7369014890284974*power(2.0,-47), 8750441299422740*power(2.0,-42)),
      |(CAST(0 AS BIGINT), CAST(18 AS INT), 6706141320131379*power(2.0,-47), 6287403311809167*power(2.0,-42)),
      |(CAST(0 AS BIGINT), CAST(19 AS INT), 6583699705262244*power(2.0,-47), 6172306434613576*power(2.0,-42)),
      |(CAST(0 AS BIGINT), CAST(20 AS INT), 7601231746071265*power(2.0,-47), 6413759188073185*power(2.0,-42)),
      |(CAST(0 AS BIGINT), CAST(21 AS INT), 7273313398203351*power(2.0,-47), 5682056190020813*power(2.0,-42)),
      |(CAST(0 AS BIGINT), CAST(22 AS INT), 6433110592722043*power(2.0,-47), 5427761140748780*power(2.0,-42)),
      |(CAST(0 AS BIGINT), CAST(23 AS INT), 5393060553776169*power(2.0,-47), 8089151026013143*power(2.0,-43)),
      |(CAST(1 AS BIGINT), CAST(0 AS INT), 4920886280344044*power(2.0,-46), 6150756006709166*power(2.0,-44)),
      |(CAST(1 AS BIGINT), CAST(1 AS INT), 5371949930522870*power(2.0,-47), 6043971437419561*power(2.0,-44)),
      |(CAST(1 AS BIGINT), CAST(2 AS INT), 7546344125612687*power(2.0,-47), 8961459571025510*power(2.0,-43)),
      |(CAST(1 AS BIGINT), CAST(3 AS INT), 4973662838477292*power(2.0,-46), 6528064416896778*power(2.0,-42)),
      |(CAST(1 AS BIGINT), CAST(4 AS INT), 6458443340626002*power(2.0,-47), 4843304739888169*power(2.0,-43)),
      |(CAST(1 AS BIGINT), CAST(5 AS INT), 5657647031884186*power(2.0,-47), 6364325145288376*power(2.0,-44)),
      |(CAST(1 AS BIGINT), CAST(6 AS INT), 4914553093368054*power(2.0,-46), 4914421151972721*power(2.0,-42)),
      |(CAST(1 AS BIGINT), CAST(7 AS INT), 4958181714758205*power(2.0,-47), 4647855552934707*power(2.0,-43)),
      |(CAST(1 AS BIGINT), CAST(8 AS INT), 5695646153740124*power(2.0,-47), 7119733614035599*power(2.0,-44)),
      |(CAST(1 AS BIGINT), CAST(9 AS INT), 6794805937795236*power(2.0,-47), 5096104453346427*power(2.0,-45)),
      |(CAST(1 AS BIGINT), CAST(10 AS INT), 7307090395408630*power(2.0,-47), 5937362789990400*power(2.0,-43)),
      |(CAST(1 AS BIGINT), CAST(11 AS INT), 8922756761727795*power(2.0,-47), 5576898897940316*power(2.0,-43)),
      |(CAST(1 AS BIGINT), CAST(12 AS INT), 7535085126544261*power(2.0,-47), 5651665688629084*power(2.0,-44)),
      |(CAST(1 AS BIGINT), CAST(13 AS INT), 5550686540734136*power(2.0,-46), 5550686540734136*power(2.0,-43)),
      |(CAST(1 AS BIGINT), CAST(14 AS INT), 5400097428193935*power(2.0,-47), 7425309885627105*power(2.0,-44)),
      |(CAST(1 AS BIGINT), CAST(15 AS INT), 6582292330378691*power(2.0,-47), 8227337647392031*power(2.0,-44)),
      |(CAST(1 AS BIGINT), CAST(16 AS INT), 5576019288638095*power(2.0,-47), 4879104838488556*power(2.0,-43)),
      |(CAST(1 AS BIGINT), CAST(17 AS INT), 5768829647684895*power(2.0,-47), 8653244471527342*power(2.0,-45)),
      |(CAST(1 AS BIGINT), CAST(18 AS INT), 6603402953631990*power(2.0,-47), 6602963148980879*power(2.0,-43)),
      |(CAST(1 AS BIGINT), CAST(19 AS INT), 6473924464345088*power(2.0,-47), 5260503431931494*power(2.0,-43)),
      |(CAST(1 AS BIGINT), CAST(20 AS INT), 7713821736755528*power(2.0,-47), 5785366302566646*power(2.0,-43)),
      |(CAST(1 AS BIGINT), CAST(21 AS INT), 6725844568501125*power(2.0,-47), 5464396868186276*power(2.0,-43)),
      |(CAST(1 AS BIGINT), CAST(22 AS INT), 6565403831776051*power(2.0,-47), 6564700144334275*power(2.0,-45)),
      |(CAST(1 AS BIGINT), CAST(23 AS INT), 6963690923821629*power(2.0,-47), 8704965498497925*power(2.0,-45)),
      |(CAST(2 AS BIGINT), CAST(0 AS INT), 6960876174054523*power(2.0,-48), 6961579861496300*power(2.0,-46)),
      |(CAST(2 AS BIGINT), CAST(1 AS INT), 6831397684767621*power(2.0,-47), 5977297052311224*power(2.0,-44)),
      |(CAST(2 AS BIGINT), CAST(2 AS INT), 8928386261262008*power(2.0,-49), 5580241413288755*power(2.0,-46)),
      |(CAST(2 AS BIGINT), CAST(3 AS INT), 4700632111067955*power(2.0,-47), 7050244479160156*power(2.0,-46)),
      |(CAST(2 AS BIGINT), CAST(4 AS INT), 8176848073444557*power(2.0,-48), 8176848073444557*power(2.0,-48)),
      |(CAST(2 AS BIGINT), CAST(5 AS INT), 4513451251555369*power(2.0,-47), 6770880564774830*power(2.0,-46)),
      |(CAST(2 AS BIGINT), CAST(6 AS INT), 4647151865492931*power(2.0,-47), 4647151865492931*power(2.0,-45)),
      |(CAST(2 AS BIGINT), CAST(7 AS INT), 4621819117588972*power(2.0,-46), 5777273896986214*power(2.0,-44)),
      |(CAST(2 AS BIGINT), CAST(8 AS INT), 6411999969468744*power(2.0,-47), 6411999969468744*power(2.0,-46)),
      |(CAST(2 AS BIGINT), CAST(9 AS INT), 4775222979896279*power(2.0,-47), 4775222979896279*power(2.0,-46)),
      |(CAST(2 AS BIGINT), CAST(10 AS INT), 5837087329537229*power(2.0,-46), 5837087329537229*power(2.0,-46)),
      |(CAST(2 AS BIGINT), CAST(11 AS INT), 6057341498813317*power(2.0,-48), 6058045186255094*power(2.0,-46)),
      |(CAST(2 AS BIGINT), CAST(12 AS INT), 5052475831956275*power(2.0,-48), 5051068457072722*power(2.0,-47)),
      |(CAST(2 AS BIGINT), CAST(13 AS INT), 6130524992758088*power(2.0,-48), 4597190057126789*power(2.0,-46)),
      |(CAST(2 AS BIGINT), CAST(14 AS INT), 6350075474592399*power(2.0,-47), 7936890655798723*power(2.0,-45)),
      |(CAST(2 AS BIGINT), CAST(15 AS INT), 7870040348829942*power(2.0,-48), 7868632973946388*power(2.0,-46)),
      |(CAST(2 AS BIGINT), CAST(16 AS INT), 6867989431740006*power(2.0,-48), 6867989431740006*power(2.0,-48)),
      |(CAST(2 AS BIGINT), CAST(17 AS INT), 8317585561799885*power(2.0,-48), 8317585561799885*power(2.0,-48)),
      |(CAST(2 AS BIGINT), CAST(18 AS INT), 7056577666136146*power(2.0,-48), 7057281353577923*power(2.0,-46)),
      |(CAST(2 AS BIGINT), CAST(19 AS INT), 8462545174805873*power(2.0,-47), 6346557037383516*power(2.0,-45)),
      |(CAST(2 AS BIGINT), CAST(20 AS INT), 7844707600925983*power(2.0,-48), 7843300226042429*power(2.0,-47)),
      |(CAST(2 AS BIGINT), CAST(21 AS INT), 5150288386363228*power(2.0,-46), 7725784423265731*power(2.0,-44)),
      |(CAST(2 AS BIGINT), CAST(22 AS INT), 5545760728641700*power(2.0,-46), 6238892858791690*power(2.0,-43)),
      |(CAST(2 AS BIGINT), CAST(23 AS INT), 6465480215043768*power(2.0,-47), 8081498425083822*power(2.0,-45))""".stripMargin.replace("\n", " ") + ") t")),
    "ann_topk" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qv,
         |    sqrt(${foldDot("embedding", "embedding")}) AS qn
         |  FROM embeddings WHERE vec_id < 8),
         |c AS (
         |  SELECT vec_id AS cand_id, embedding AS cv,
         |    sqrt(${foldDot("embedding", "embedding")}) AS cn
         |  FROM embeddings),
         |scored AS (
         |  SELECT query_id, cand_id,
         |    ${foldDot("qv", "cv")} / (qn * cn) AS cosine
         |  FROM c, q WHERE cand_id <> query_id),
         |ranked AS (
         |  SELECT query_id, cand_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, cand_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, cand_id, cosine, rank
         |FROM ranked WHERE rank <= 10""".stripMargin
  )
}
