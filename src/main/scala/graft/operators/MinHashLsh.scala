package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection (SURVEY.md §2 E2) — the
  * standard sub-quadratic pipeline: shingle → 64-bit shingle hashes →
  * k-permutation MinHash signature → band the signature → bucket-join
  * candidates → verify with exact Jaccard.
  *
  * Scale notes: this is the 100-TB near-dedup path. Candidate
  * generation shuffles only (band, bucket-hash, doc_id) triples — the
  * join key space is the LSH buckets, never all-pairs. With b bands of
  * r rows, P(candidate) ≈ 1-(1-j^r)^b — and that curve must be tuned
  * to the VERIFY threshold: 16 bands × 4 rows catches j ≥ 0.7 pairs
  * with > 98.7% probability but a boundary j = 0.5 pair only ~64% of
  * the time, silently under-recalling. [[nearDuplicates]] therefore
  * derives its banding from the threshold ([[autoBands]]) unless the
  * caller pins one. The exact-Jaccard verify runs only on surviving
  * candidates.
  */
object MinHashLsh {

  /** Bands count whose banding catches a boundary-similarity pair
    * (jaccard == threshold) with probability >= targetCatch, using the
    * LARGEST rows-per-band that still qualifies — more rows per band =
    * sharper S-curve = fewer sub-threshold candidate collisions to
    * verify. threshold 0.5 → 32 bands × 2 rows (99.99% at j=0.5);
    * threshold 0.7 → 16 bands × 4 rows (98.8% at j=0.7).
    */
  def autoBands(numHashes: Int, threshold: Double,
      targetCatch: Double = 0.98): Int = {
    val r = (numHashes to 1 by -1)
      .filter(numHashes % _ == 0)
      .find { r =>
        val b = numHashes / r
        1.0 - math.pow(1.0 - math.pow(threshold, r), b) >= targetCatch
      }.getOrElse(1)
    numHashes / r
  }

  /** 2^31-1: permutations live in 31-bit space so a*h + b stays under
    * 2^62 — no long overflow under ANSI arithmetic.
    */
  private val MersennePrime = (1L << 31) - 1

  /** Deterministic permutation coefficients — shared with the native
    * kernel so both implementations always agree.
    */
  private def perms(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    val ab = graft.expressions.NativeKernels.perms(numHashes, seed)
    (0 until numHashes).map(k => (ab(2 * k), ab(2 * k + 1)))
  }

  /** MinHash signature (array<long>, length numHashes) of a document's
    * shingle set — native kernel
    * ([[graft.expressions.NativeKernels.minHashSignature]]): one
    * xx-hash per shingle and a tight perm loop, invoked from generated
    * code. Parity with [[signatureReference]] is spec-gated.
    */
  def signature(shingleSet: Column, numHashes: Int = 64,
      seed: Long = 42L): Column =
    graft.expressions.NativeKernels
      .minHashSignatureCol(shingleSet, numHashes, seed)

  /** Declarative reference implementation: ONE fold over the shingles
    * carrying a numHashes-slot min accumulator, so each shingle is
    * hashed once and each permutation multiply happens once (64
    * separate array_min passes would re-evaluate the whole shingle
    * pipeline per permutation — measured 28× slower).
    */
  def signatureReference(shingleSet: Column, numHashes: Int = 64,
      seed: Long = 42L): Column = {
    val ps = perms(numHashes, seed)
    val hashes = transform(shingleSet, s =>
      pmod(xxhash64(s), lit(MersennePrime)))
    aggregate(hashes,
      array_repeat(lit(MersennePrime), numHashes),
      (acc, h) => array(ps.zipWithIndex.map { case ((a, b), i) =>
        least(element_at(acc, i + 1),
          pmod(h * lit(a) + lit(b), lit(MersennePrime)))
      }: _*))
  }

  /** MinHash signature from PRE-HASHED shingles ([[Dedup.shingleHashes]]
    * output) — bit-identical to [[signature]] on the same document
    * (the string form's first step IS the xx-hash; min-over-set is
    * order-independent), spec-gated. The one-corpus-scan pipeline's
    * form: shingle+hash once, derive signature AND verify sets from it.
    */
  def signatureFromHashes(shingleHashes: Column, numHashes: Int = 64,
      seed: Long = 42L): Column =
    graft.expressions.NativeKernels
      .minHashFromHashesCol(shingleHashes, numHashes, seed)

  /** The per-document shingle-hash frame every stage derives from:
    * (doc_id, sorted array of 8-byte shingle hashes) — ONE projection
    * for the in-memory forms and [[NearDupIndex]]'s build, append and
    * probe, so no row is hashed under a family its caller didn't ask
    * for. Sorted ONCE here because the verify kernel
    * ([[graft.expressions.NativeKernels.sortedIntersectCount]]) wants
    * sorted inputs; docs too short to shingle are dropped (they cannot
    * pair). `side`, when given, is carried as the boolean `is_probe`
    * tag of the cross-corpus form.
    */
  private[operators] def hashedShingles(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int, portable: Boolean,
      side: Option[Column] = None): DataFrame = {
    val hashes =
      if (portable) Dedup.shinglePortableHashes(col(textCol), shingleN)
      else Dedup.shingleHashes(col(textCol), shingleN)
    df.select((col(idCol).as("doc_id") +: side.map(_.as("is_probe")).toSeq)
        :+ sort_array(hashes).as("sh"): _*)
      .filter(size(col("sh")) > 0)
  }

  /** Bucket value of one band's signature slice. Default: xxhash64 of
    * the slice's string form (best mixing). Portable: the polynomial
    * fold acc = (acc * 131 + s_k) mod 1e9+7 over the slice — plain
    * integer arithmetic a DuckDB oracle replays term by term, which
    * is what lets the production capped configuration hash-gate
    * end to end (signature values are < 2^31, so every product stays
    * under 2^62).
    */
  private def bucketOf(slice: Column, portable: Boolean): Column =
    if (!portable) xxhash64(slice.cast("string"))
    else aggregate(slice, lit(0L),
      (acc, s) => pmod(acc * lit(131L) + s, lit(1000000007L)))

  /** The bucket layout: band rows from a (doc_id[, extra], sig) frame. */
  private def bandRows(sig: DataFrame, numHashes: Int, bands: Int,
      portable: Boolean, extra: Seq[String]): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val keep = col("doc_id") +: extra.map(col)
    sig.select(keep :+ explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          bucketOf(slice(col("sig"), b * rows + 1, rows), portable)
            .as("bucket"))): _*)).as("bb"): _*)
      .select(keep :+ col("bb.band") :+ col("bb.bucket"): _*)
  }

  /** The (keys, sig) frame from an instance stream (keys..., h):
    * re-assembling per-doc hash arrays just to fold them again costs a
    * corpus-wide collect_list shuffle plus the array-build (measured
    * 28.3 s of the 92 s sf10ov candidate stage); instead the signature
    * IS an aggregate — sig_k = min over instances of
    * (a_k·(h mod P) + b_k) mod P — so a numHashes-way min groupBy
    * computes it with map-side partial combine: the shuffle carries
    * numHashes longs per DOC, not per instance. Identical integer
    * arithmetic to the kernel fold (min is order-free), so the banding
    * of [[banded]] is bit-identical either way, spec-gated against the
    * fold over [[signatureInput]].
    */
  private def sigFromInstances(inst: DataFrame, numHashes: Int,
      seed: Long, keys: Seq[String]): DataFrame = {
    val P = MersennePrime
    val hm = pmod(col("h"), lit(P))
    val ps = perms(numHashes, seed)
    val mins = ps.zipWithIndex.map { case ((a, b), k) =>
      min(pmod(hm * lit(a) + lit(b), lit(P))).as(s"__s$k") }
    inst.groupBy(keys.map(col): _*)
      .agg(mins.head, mins.tail: _*)
      .select(keys.map(col) :+ array(
        (0 until numHashes).map(k => col(s"__s$k")): _*).as("sig"): _*)
  }

  /** THE banding producer: band rows (doc_id[, side], band, bucket) of
    * a (doc_id[, side], sh) frame. Every form bands through here — the
    * self and cross joins, and the index's build, append, repair and
    * probe — so their buckets can never diverge.
    *
    * With no `banned` frame the signature is the per-doc kernel fold,
    * map-side over `sh`. With one (an `h`-column frame: a census ban
    * or the index's frozen set) the banned hashes leave the instance
    * stream by an anti join and the signature is the min-aggregate of
    * [[sigFromInstances]]; a doc with no surviving instance leaves
    * banding (the sigMaxDf recall contract, see [[signatureInput]]).
    *
    * `side` names a tag column carried through (the cross form's
    * `is_probe`): it is functionally dependent on doc_id within a
    * side, so (doc_id, side) groups are exactly the per-side doc
    * groups.
    *
    * `pinSig` pins the SIGNATURE frame — one row per doc — for callers
    * that consume the band rows more than once (the capped paths: cap
    * census and join sides). Band rows are bands× that: at the 5M-doc
    * open-vocab ladder tier a band-row pin was 160M rows and, with the
    * join's shuffle spill, the single-box scratch-disk wall (§5.2
    * r15); re-deriving band rows from pinned signatures is a cheap
    * projection per consumer.
    */
  private[graft] def banded(sh: DataFrame, numHashes: Int,
      bands: Int, seed: Long, portable: Boolean = false,
      banned: Option[DataFrame] = None, side: Option[String] = None,
      pinSig: Boolean = false): DataFrame = {
    val keys = "doc_id" +: side.toSeq
    val sig = banned match {
      case None => sh.select(keys.map(col) :+
        signatureFromHashes(col("sh"), numHashes, seed).as("sig"): _*)
      case Some(ban) => sigFromInstances(
        sh.select(keys.map(col) :+ explode(col("sh")).as("h"): _*)
          .join(ban.select(col("h")), Seq("h"), "left_anti"),
        numHashes, seed, keys)
    }
    bandRows(if (pinSig) sig.localCheckpoint() else sig, numHashes,
      bands, portable, side.toSeq)
  }

  /** THE candidate join of every form: (id1, id2) for band rows
    * colliding in at least one (band, bucket), deduplicated.
    * `b = None` self-joins `a` (id1 < id2);
    * `Some(b)` pairs `a` (id1) with `b` (id2) with no id ordering —
    * the sides are different corpora.
    *
    * `maxBucket > 0` drops (band, bucket) values holding more than that
    * many rows of the sides that can pair (`a` for the self join,
    * `a` ∪ `b` otherwise) BEFORE pair generation — the production-LSH
    * "stop bucket". A bucket of B members emits B² pairs inside ONE
    * task (a same-key join is irreducible — AQE cannot split a single
    * key), so one degenerate bucket at 100 TB stalls the stage; a
    * bucket that common also carries ~zero discriminative signal.
    * Across corpora a bucket costs |A∩bucket|·|B∩bucket| ≤
    * (combined/2)², so the combined count bounds the work like the
    * self cap. Recall contract: a true pair is lost only if EVERY band
    * it collides in is oversized — with exact-dedup upstream (the
    * pipe_clean_corpus composition) near-dup groups are small and this
    * probability is negligible; WITHOUT exact-dedup, exact duplicates
    * share all bands and a cap WILL drop them — dedup exactly first.
    * 0 = off (the gated queries' semantics).
    *
    * Shape: a merge join on the bucket keys — band tables are bands×
    * the corpus, never broadcast them; shuffle on (band, bucket) and
    * let AQE split hot buckets. `broadcastB` (the index probe of a
    * small batch, see [[NearDupIndex.pairsAgainstIndex]]) broadcasts
    * `b` and streams `a` map-side; under a cap it first scopes `a` to
    * the buckets `b` occupies — a bucket `b` never hashes into emits no
    * candidates, and for the others the combined membership is
    * unchanged by the scoping — pinned, as census and join both read
    * it.
    */
  private[operators] def candidates(a: DataFrame, b: Option[DataFrame],
      maxBucket: Int, broadcastB: Boolean = false): DataFrame = {
    val bk = Seq("band", "bucket")
    def buckets(f: DataFrame) = f.select(bk.map(col): _*)
    def semi(f: DataFrame, keys: DataFrame) =
      f.join(if (broadcastB) broadcast(keys) else keys, bk, "left_semi")
    val (ka, kb) =
      if (maxBucket <= 0) (a, b.getOrElse(a))
      else {
        val scoped = b match {
          case Some(bb) if broadcastB =>
            semi(a, buckets(bb).distinct()).localCheckpoint()
          case _ => a
        }
        val census = (scoped +: b.toSeq).map(buckets)
          .reduce(_ unionByName _)
          .groupBy(bk.map(col): _*)
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") <= maxBucket)
          .select(bk.map(col): _*)
        // a cross census feeds two semi joins: pin it once
        val ok = if (b.isEmpty) census else census.localCheckpoint()
        val ka = semi(scoped, ok)
        (ka, b.fold(ka)(semi(_, ok)))
      }
    val right =
      if (broadcastB) broadcast(kb.as("b")) else kb.as("b").hint("merge")
    val on = col("a.band") === col("b.band") &&
      col("a.bucket") === col("b.bucket")
    // distinct pairs, partitioned by id1: HashPartitioning(id1)
    // satisfies the (id1,id2) dedup's clustering requirement (rows
    // agreeing on both keys agree on id1), and it IS the distribution
    // the id1 verify join needs — one exchange serves both, where
    // `.distinct()` + join cost two back-to-back pair-stream shuffles.
    // A map-side pre-dedup would gain nothing: a pair's duplicate rows
    // come from DIFFERENT bands, which live in different (band,bucket)
    // partitions, so a local combine never sees them together.
    ka.as("a")
      .join(right, if (b.isEmpty) on && col("a.doc_id") < col("b.doc_id")
        else on)
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .repartition(col("id1")).dropDuplicates("id1", "id2")
  }

  /** THE exact-verify tail shared by the self-join, cross-corpus and
    * persisted-index paths: candidates (id1, id2) against two pinned
    * (doc_id, sh) frames → (id1, id2, jaccard >= threshold).
    *
    * Size prefilter first (r15, the 5M-doc ladder finding): jaccard =
    * inter/(n1+n2-inter) <= min/max, so a pair whose smaller set is
    * under threshold × the larger CANNOT qualify — the same
    * cardinality filter [[graft.expressions.NativeKernels
    * .idPairsFromPostings]] applies at pair emission (identical
    * double arithmetic). The verify joins attach each doc's FULL
    * shingle-hash array to every candidate row, so the pair stream's
    * exchange payload is candidates × two arrays — at 5M docs / 77.7M
    * candidates that was ~60 GB of shuffle+spill and the single-box
    * scratch wall. The size joins carry ONE LONG per side; only
    * size-compatible pairs ever ship arrays.
    */
  private[operators] def verifyPairs(cands: DataFrame, shLeft: DataFrame,
      shRight: DataFrame, threshold: Double): DataFrame = {
    val inter = graft.expressions.NativeKernels
      .sortedIntersectCountCol(col("sh1"), col("sh2"))
    cands
      .join(shLeft.select(col("doc_id").as("id1"),
        size(col("sh")).as("n1")), "id1")
      .join(shRight.select(col("doc_id").as("id2"),
        size(col("sh")).as("n2")), "id2")
      .filter(least(col("n1"), col("n2")).cast("double") >=
        lit(threshold) * greatest(col("n1"), col("n2")).cast("double"))
      .join(shLeft.select(col("doc_id").as("id1"), col("sh").as("sh1")),
        "id1")
      .join(shRight.select(col("doc_id").as("id2"), col("sh").as("sh2")),
        "id2")
      .select(col("id1"), col("id2"),
        (inter.cast("double") /
          (col("n1") + col("n2") - inter).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Signature-input frame with head shingles removed (r14, measured
    * on the two-decade open-vocab ladder): on Zipfian text the head
    * shingles' hashes are the minimum for many permutations at once,
    * so UNRELATED documents share signature rows and whole bands —
    * maxBucket only trims the extreme tail of the resulting bucket
    * histogram, and the mid-size degenerate buckets still grew the
    * candidate set 21× for 10× docs (3.9M → 83M pairs, sf1ov →
    * sf10ov). A shingle appearing in more than `sigMaxDf` documents
    * certifies nothing about any single pair (ngramJaccard's maxDf
    * posture), so it is dropped from the SIGNATURE input only — the
    * exact-Jaccard verify still scores the FULL shingle sets.
    * Distributed end to end: the ban set is a dataframe (≤
    * total-instances / sigMaxDf rows by construction), never a
    * driver collection; Spark picks broadcast vs shuffle for the
    * anti join by its measured size. A document whose every shingle
    * is banned is wall-to-wall boilerplate and drops out of banding
    * (it cannot candidate — documented recall contract, same as the
    * too-short-to-shingle drop).
    *
    * The production path is [[banded]] with a ban frame (instance-
    * stream min aggregate — no per-doc array rebuild); this re-agg
    * form is kept as the REFERENCE for its bit-parity spec. `sh` must
    * be pinned by the caller: it feeds both the census and the anti
    * join's instance stream.
    */
  private[graft] def signatureInput(sh: DataFrame, sigMaxDf: Int)
      : DataFrame =
    if (sigMaxDf <= 0) sh
    else
      sh.select(col("doc_id"), explode(col("sh")).as("h"))
        .join(bannedCensus(sh, sigMaxDf).select("h"), Seq("h"),
          "left_anti")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("h"))).as("sh"))

  /** Head-shingle ban census of a pinned shingle-hash frame: one row
    * (h, df) per shingle hash appearing in more than `sigMaxDf`
    * documents. THE census implementation — [[signatureInput]], the
    * self/cross forms and [[NearDupIndex]]'s frozen ban table all use
    * it (r15 ADVICE: inlined copies of this arithmetic could silently
    * desynchronize, and the frozen-ban-set + parity contracts assume
    * they cannot). Banding consumers select just `h`; the index keeps
    * `df` in its table.
    */
  private[graft] def bannedCensus(sh: DataFrame, sigMaxDf: Int)
      : DataFrame =
    dfCensus(sh).filter(col("df") > sigMaxDf)

  /** The full (h, df) census of a shingle-hash frame — the ONE
    * aggregation the ban filter above and the budget resolver below
    * are a filter and a summary of.
    */
  private def dfCensus(sh: DataFrame): DataFrame =
    sh.select(explode(col("sh")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))

  /** Resolve the `sigMaxDf` dial from a corpus's shingle-df census
    * against a CANDIDATE budget — §5.2's production guidance made
    * code (r16): at a FIXED absolute dial the LSH candidate set grew
    * 14.9×/decade on Zipf(1.3) (mid-frequency shingles keep growing
    * into the cut), so the scale-safe dial is the one that holds the
    * candidate WORKLOAD constant and tightens itself as the corpus
    * grows.
    *
    * The budget's unit is shared-shingle pair mass: every LSH
    * candidate pair collides on a band bucket, i.e. agrees on
    * signature slots, i.e. shares at least one KEPT shingle (equal
    * slot values from different shingles need a 2^-61 hash
    * collision), so the number of candidate pairs is bounded above by
    * pairMass(t) = Σ_{h: df_h ≤ t} C(df_h, 2) — the same Σ C(df,2)
    * workload bound [[Dedup.ngramJaccard]]'s maxDf prices. The
    * resolver returns the LARGEST dial t with pairMass(t) ≤ budget
    * (loosest ban that provably holds the budget):
    *
    *   - pairMass(max df) ≤ budget → 0 (banning off — nothing to cut)
    *   - no t ≥ 2 fits → 1 (ban everything shared; df-1 singletons
    *     carry zero pair mass, so the budget can never force an
    *     empty signature input on its own)
    *
    * Deterministic: one aggregation pass over the census (df
    * histogram — O(distinct df values) rows to the driver, bounded
    * by the corpus's max df, in practice thousands), exact integer
    * cumulative sums, no sampling. The same corpus always resolves
    * the same dial, which is what lets [[NearDupIndex]] FREEZE the
    * resolved value in its committed params. Streamed (r17, verdict
    * #4): nothing is materialized — at budgets the corpus fits (dial
    * 0) a pinned census was a pure materialization charge
    * (ov_dedup_minhash_budget ~25 s vs ~19 s for the fixed-dial row
    * at 500k docs), and a banning caller pays one unpinned census
    * evaluation in its anti join instead.
    *
    * `sh` is the pinned (doc_id, sh) shingle-hash frame the caller
    * already holds — the census is over hashes, so the resolved dial
    * is hash-family-agnostic (df of a shingle is the same under xx
    * and portable hashing, collisions aside).
    */
  def resolveSigMaxDf(sh: DataFrame, candidateBudget: Long): Int = {
    require(candidateBudget > 0, "candidateBudget must be positive")
    // df histogram: (df, number of shingles with that df), df >= 2
    // (df=1 shingles pair nothing — C(1,2) = 0)
    val hist = dfCensus(sh)
      .filter(col("df") >= 2)
      .groupBy("df").agg(count(lit(1)).as("n"))
      .select(col("df").cast("long"), col("n").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    if (hist.isEmpty) return 0 // no shared shingle at all
    var cum = 0L
    var best = 1L
    var fitsAll = true
    hist.foreach { case (df, n) =>
      cum += n * (df * (df - 1) / 2)
      if (cum <= candidateBudget) best = df else fitsAll = false
    }
    if (fitsAll) 0 else best.toInt
  }

  /** (bands, sigMaxDf) of a call — the one preamble of every form and
    * of [[NearDupIndex.build]]: an explicit dial and a budget are
    * exclusive, `bands = 0` derives the banding from the verify
    * threshold ([[autoBands]]), and a budget RESOLVES the dial from
    * `sh`'s census. `sh` is by-name: forced only under a budget, after
    * the check.
    */
  private[operators] def dials(sh: => DataFrame, numHashes: Int,
      threshold: Double, bands: Int, sigMaxDf: Int,
      candidateBudget: Long): (Int, Int) = {
    require(candidateBudget <= 0 || sigMaxDf <= 0,
      "pass candidateBudget OR an explicit sigMaxDf, not both — the " +
        "budget RESOLVES the dial (resolveSigMaxDf)")
    (if (bands > 0) bands else autoBands(numHashes, threshold),
      if (candidateBudget > 0) resolveSigMaxDf(sh, candidateBudget)
      else sigMaxDf)
  }

  /** The census ban of a dial, None when it is off. */
  private def banOf(sh: DataFrame, sigMaxDf: Int): Option[DataFrame] =
    if (sigMaxDf > 0) Some(bannedCensus(sh, sigMaxDf)) else None

  /** LSH candidate pairs: documents whose signatures collide in at
    * least one band. Returns distinct (id1 < id2). See [[candidates]]
    * for the `maxBucket` degenerate-bucket cap and [[signatureInput]]
    * for the `sigMaxDf` head-shingle signature cut.
    */
  def candidatePairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      seed: Long = 42L, maxBucket: Int = 0, sigMaxDf: Int = 0,
      portableHash: Boolean = false): DataFrame = {
    val sh0 = hashedShingles(df, idCol, textCol, shingleN, portableHash)
    val sh = if (sigMaxDf > 0) sh0.localCheckpoint() else sh0
    candidates(banded(sh, numHashes, bands, seed, portableHash,
      banOf(sh, sigMaxDf), pinSig = maxBucket > 0), None, maxBucket)
  }

  /** Candidates verified with exact Jaccard ≥ threshold — the full
    * near-dedup output (id1, id2, jaccard). `bands = 0` (the default)
    * derives the banding from the threshold via [[autoBands]], so the
    * candidate recall at the verify boundary is never an accident of
    * a fixed banding tuned for some other threshold. `maxBucket` is
    * the stop-bucket cap of [[candidates]]; `sigMaxDf` the head-shingle
    * signature cut of [[signatureInput]], which `candidateBudget`
    * resolves instead when set ([[resolveSigMaxDf]]).
    */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, shingleN: Int = 3, numHashes: Int = 64,
      bands: Int = 0, seed: Long = 42L, maxBucket: Int = 0,
      sigMaxDf: Int = 0, portableHash: Boolean = false,
      candidateBudget: Long = 0L): DataFrame = {
    // ONE corpus scan: tokenize → shingle → hash → sort each document
    // exactly once, pinned with a localCheckpoint — the band index,
    // BOTH sides of the bucket self-join, and both verify joins read
    // this frame. Without the pin each of those five consumers
    // re-evaluates the whole upstream (round-5's plan scanned the
    // corpus parquet 6× through them). The banded index is NOT pinned
    // (uncapped): the self-join's sides re-run the signature over the
    // pinned hash frame, and that recompute measured CHEAPER than a
    // second checkpoint job (1.71s vs 2.19s full-query at sf0.1) —
    // the 64-permutation loop is fast once shingle hashing is done,
    // while a checkpoint pays a full materialize+read cycle.
    // localCheckpoint (not cache): lineage truncation is the point —
    // at 100 TB this frame is the materialized dedup artifact; on a
    // cluster a persisted artifact table plays this role
    // ([[nearDuplicatesCached]]).
    lazy val sh = hashedShingles(df, idCol, textCol, shingleN,
      portableHash).localCheckpoint()
    val (b, dial) = dials(sh, numHashes, threshold, bands, sigMaxDf,
      candidateBudget)
    val cands = candidates(banded(sh, numHashes, b, seed, portableHash,
      banOf(sh, dial), pinSig = maxBucket > 0), None, maxBucket)
    // verify on the HASHED shingle sets, sorted once per document: the
    // per-candidate cost is one two-pointer kernel pass over two long
    // arrays instead of array_intersect + array_union building hash
    // sets and result arrays per pair (same jaccard integers — the
    // 8-byte shingle hashes stand in for the strings exactly as in
    // Dedup.ngramJaccard, collisions ~n²/2^65).
    verifyPairs(cands, sh, sh, threshold)
  }

  /** Cross-corpus near-duplicate pairs: every (base doc, probe doc)
    * pair with exact Jaccard >= threshold — the train/test
    * contamination sweep and the new-batch-vs-existing-corpus dedup
    * every training-data pipeline runs before adding data. The two
    * corpora are tagged and run as one table through
    * [[nearDuplicatesSplit]]. Returns (id1 = base id, id2 = probe id,
    * jaccard).
    */
  def nearDuplicatesAgainst(base: DataFrame, probe: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.7,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 0,
      seed: Long = 42L, maxBucket: Int = 0, sigMaxDf: Int = 0,
      portableHash: Boolean = false,
      candidateBudget: Long = 0L): DataFrame = {
    def tagged(f: DataFrame, isProbe: Boolean) =
      f.select(col(idCol), col(textCol), lit(isProbe).as("__probe"))
    nearDuplicatesSplit(tagged(base, false).unionByName(tagged(probe, true)),
      idCol, textCol, col("__probe"), threshold, shingleN, numHashes,
      bands, seed, maxBucket, sigMaxDf, portableHash, candidateBudget)
  }

  /** Cross-corpus near duplicates when both corpora live in ONE table
    * and a predicate marks the probe side (the usual shape of "dedup
    * the new crawl batch against the existing corpus" — one
    * batch/source column): the table is scanned, shingled and hashed
    * exactly ONCE behind a localCheckpoint, carrying the side tag.
    * Same sub-quadratic shape as [[nearDuplicates]] — banded
    * signatures, bucket join ACROSS the sides, exact verify.
    *
    * `sigMaxDf` (or the dial `candidateBudget` resolves) bans head
    * shingles using ONE census over the whole table, i.e. the union of
    * the two corpora — the ban set MUST be symmetric: LSH only pairs
    * rows whose signatures agree, so banning a shingle on one side
    * only would desynchronize a true pair's signatures and silently
    * lose it. `maxBucket` caps the COMBINED membership of both sides
    * ([[candidates]]). Returns (id1 = base id, id2 = probe id,
    * jaccard).
    */
  def nearDuplicatesSplit(df: DataFrame, idCol: String, textCol: String,
      probeSide: Column, threshold: Double = 0.7, shingleN: Int = 3,
      numHashes: Int = 64, bands: Int = 0, seed: Long = 42L,
      maxBucket: Int = 0, sigMaxDf: Int = 0,
      portableHash: Boolean = false,
      candidateBudget: Long = 0L): DataFrame = {
    lazy val sh = hashedShingles(df, idCol, textCol, shingleN,
      portableHash, Some(probeSide)).localCheckpoint()
    val (b, dial) = dials(sh, numHashes, threshold, bands, sigMaxDf,
      candidateBudget)
    val bandAll = banded(sh, numHashes, b, seed, portableHash,
      banOf(sh, dial), Some("is_probe"), pinSig = maxBucket > 0)
    def part(f: DataFrame, probe: Boolean) =
      f.filter(col("is_probe") === probe).drop("is_probe")
    verifyPairs(
      candidates(part(bandAll, false), Some(part(bandAll, true)),
        maxBucket),
      part(sh, false), part(sh, true), threshold)
  }

  /** Memoized near-dup pair table per (session, corpusTag, params) —
    * the pair set is a materialized curation artifact like the gold
    * cluster assignments: downstream consumers (connected components,
    * survivor filters, audits) read it; they do not re-run LSH.
    * Capped at 4 corpora per session; evicted pair tables are
    * unpersisted, so a long-lived session cycling through corpora
    * holds a bounded cache footprint.
    */
  private val pairsMemo =
    new graft.sources.SessionMemo[(String, Double, Int), DataFrame](
      maxPerSession = 4, onEvict = _.unpersist(blocking = false))

  def nearDuplicatesCached(df: DataFrame, idCol: String, textCol: String,
      corpusTag: String, threshold: Double = 0.7, shingleN: Int = 3)
      : DataFrame =
    pairsMemo.getOrElseUpdate(df.sparkSession,
      (corpusTag, threshold, shingleN)) {
      val pairs = nearDuplicates(df, idCol, textCol, threshold, shingleN)
        .cache()
      pairs.count() // materialize under the memo lock
      pairs
    }
}
