package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{AtomicLake, CommitStore, HardlinkCommitStore}

/** Persistent near-duplicate index — the 100-TB shape of
  * [[MinHashLsh]]: the corpus's shingle-hash sets and banded LSH
  * buckets are MATERIALIZED as two ACID lake tables at ingest time,
  * so deduplicating a new batch against the corpus never re-reads or
  * re-shingles the corpus text. A crawl pipeline builds the index
  * once, then every incoming batch:
  *
  *   1. shingles/hashes ITSELF (batch-sized work only),
  *   2. joins its banded signatures against the persisted band table
  *      (candidate generation — a key join, no corpus scan),
  *   3. verifies candidates with the exact two-pointer kernel against
  *      the persisted shingle-hash table (reads only the matched ids'
  *      rows via the join),
  *   4. appends its own rows to both tables (one atomic commit each),
  *      becoming part of the corpus the NEXT batch dedups against.
  *
  * The index params (shingle width, hash count, banding, seed) are
  * pinned in the index root and validated on every use — a batch
  * hashed under different params would silently produce an empty
  * candidate set. Params are committed through the same
  * [[CommitStore]] claim primitive as the tables (version 1 of a
  * params pseudo-table), so the index works unchanged on object
  * stores, the params commit is atomic, and it happens BEFORE any
  * table commit: no crash ordering can pair committed tables with
  * absent params, and a rebuild under DIFFERENT params is refused
  * loudly (delete the index root to change params — they describe
  * every committed row, so changing them in place is a full rewrite).
  *
  * Scale notes: the band table is `bands` rows per document of three
  * longs; the sh table one row per document carrying its hash array.
  * Candidate generation shuffles only (band, bucket) keys; the verify
  * join shuffles candidate ids, never all-pairs. Both persisted tables
  * inherit AtomicLake's snapshot isolation: a reader dedup job and a
  * writer append never see torn state, and `compact` keeps file
  * counts bounded as batches accumulate.
  */
object NearDupIndex {

  /** The index's frozen geometry: every persisted hash array, band
    * row and ban-set row is a function of these, so they are pinned in
    * the index root and validated on every use.
    *
    * `sigMaxDf` (r14, the §5.2 two-decade finding): shingles whose
    * BUILD-corpus document frequency exceeds it are banned from the
    * banding signature (the exact verify always scores full sets).
    * The ban set is FROZEN at build time as a third lake table — a
    * probe or append banding under a drifted census would
    * desynchronize signatures from the persisted band rows and
    * silently lose true pairs, so freezing is correctness, not
    * convenience (the stale-IVF-centroids posture: geometry is
    * build-time, rebuild to retrain). 0 = no ban table at all.
    *
    * `portableHash` (r15): hash shingles and band buckets with the
    * engine-portable polynomial pair ([[Dedup.shinglePortableHashes]]
    * + the polynomial bucket fold) instead of xxhash64 — the variant
    * the production-configuration [O] gates replay in DuckDB term by
    * term (an index probed under the other hash family would silently
    * produce zero candidates). Pre-r15 params JSON parses as false —
    * exactly what those indexes were built with.
    *
    * `candidateBudget` (r16): when a build passes a budget instead of
    * an absolute `sigMaxDf`, the dial is RESOLVED from the build
    * corpus's df census ([[MinHashLsh.resolveSigMaxDf]]) and the
    * params freeze BOTH numbers — the budget that was asked for and
    * the dial it resolved to. Recording the budget too means a rebuild
    * attempt whose corpus resolves a DIFFERENT dial (data drifted) or
    * whose caller asks a different budget is refused loudly instead of
    * silently pairing old band rows with a new census. 0 = dial was
    * set absolutely.
    */
  final case class Params(shingleN: Int, numHashes: Int, bands: Int,
      seed: Long, sigMaxDf: Int = 0, portableHash: Boolean = false,
      candidateBudget: Long = 0L)

  private def shRoot(root: String) = s"$root/sh"
  private def bandRoot(root: String) = s"$root/bands"
  private def bannedRoot(root: String) = s"$root/banned"
  private def paramsRoot(root: String) = s"$root/params"

  private def paramsJson(p: Params): String =
    s"""{"shingleN":${p.shingleN},"numHashes":${p.numHashes},"bands":${p.bands},"seed":${p.seed},"sigMaxDf":${p.sigMaxDf},"portableHash":${if (p.portableHash) 1 else 0},"candidateBudget":${p.candidateBudget}}"""

  private def parseParams(s: String): Params = {
    // writes encode booleans as 0/1, but a hand-edited or externally-
    // produced params file may spell "portableHash":true — accept the
    // JSON tokens, and fail NAMING THE KEY (not with a bare
    // NumberFormatException) on anything else (r16 ADVICE)
    def field(k: String): Long = {
      val tail = s.split(s""""$k":""")(1)
      if (tail.startsWith("true")) 1L
      else if (tail.startsWith("false")) 0L
      else {
        val tok = tail.takeWhile(c => c.isDigit || c == '-')
        require(tok.nonEmpty, s"index params: key \"$k\" must be a " +
          s"number or true/false, got '${tail.take(12)}...' in $s")
        tok.toLong
      }
    }
    // sigMaxDf / portableHash absent in pre-r14/r15 params JSON → 0 /
    // false (exact banding, xx hashing) — precisely what those
    // indexes were built with
    def opt(k: String): Long =
      if (s.contains(s""""$k":""")) field(k) else 0L
    Params(field("shingleN").toInt, field("numHashes").toInt,
      field("bands").toInt, field("seed"), opt("sigMaxDf").toInt,
      opt("portableHash") != 0L, opt("candidateBudget"))
  }

  /** Commit `p` as the index's immutable params (version 1 of the
    * params pseudo-table) — or, when already committed, validate that
    * the existing params MATCH and refuse loudly otherwise: every row
    * in the index tables was hashed under the committed params, so a
    * rebuild under different ones is a table rewrite, not an update.
    */
  private def claimParams(root: String, p: Params,
      store: CommitStore): Unit =
    if (!store.tryCommit(paramsRoot(root), 1L, paramsJson(p))) {
      val existing = parseParams(store.readBody(paramsRoot(root), 1L))
      require(existing == p,
        s"index at $root is pinned to $existing; refusing to rebuild " +
          s"with $p — delete the index root to change params")
    }

  /** Whether an index exists at `root` — i.e. its params committed
    * (which [[build]] guarantees happens before any table data).
    */
  def exists(root: String,
      store: CommitStore = HardlinkCommitStore): Boolean =
    store.listVersions(paramsRoot(root)).nonEmpty

  def readParams(root: String,
      store: CommitStore = HardlinkCommitStore): Params = {
    val vs = store.listVersions(paramsRoot(root))
    require(vs.nonEmpty, s"no near-dup index at $root: params never " +
      "committed (build() writes them before any table data)")
    parseParams(store.readBody(paramsRoot(root), vs.max))
  }

  /** The pinned (doc_id, sorted shingle hashes) frame of a corpus or
    * batch under the index's pinned hash family.
    */
  private def shOf(df: DataFrame, idCol: String, textCol: String,
      p: Params): DataFrame =
    MinHashLsh.hashedShingles(df, idCol, textCol, p.shingleN,
      p.portableHash).localCheckpoint()

  /** Band rows of a (doc_id, sh) frame under the index params, through
    * [[MinHashLsh.banded]] — the persisted index can never desynchronize
    * from the in-memory operator's banding. The sh + banned tables hold
    * everything the band table is a function of, which is what makes
    * [[repair]] possible without any source text.
    */
  private def bandsOf(sh: DataFrame, p: Params,
      banned: Option[DataFrame], pinSig: Boolean = false): DataFrame =
    MinHashLsh.banded(sh, p.numHashes, p.bands, p.seed, p.portableHash,
      banned, pinSig = pinSig)

  /** Probe batches whose band-row count (docs × bands) is at or
    * under this broadcast in [[pairsAgainstIndex]] (the ∝-batch
    * probe shape; ~100 MB of (doc, band, bucket) longs); larger
    * batches still broadcast when the index is ≥ 8× the batch (known
    * O(manifest) from the band table's zone-map row counts — no task
    * runs) up to [[broadcastRelativeCeiling]] (~400 MB), else fall
    * back to the shuffle shape.
    */
  private val broadcastMaxBandRows: Long = 4L * 1024 * 1024
  private val broadcastRelativeCeiling: Long = 16L * 1024 * 1024

  /** The frozen ban set for an index, None when p.sigMaxDf == 0. */
  private def readBanned(spark: SparkSession, root: String, p: Params,
      store: CommitStore): Option[DataFrame] =
    if (p.sigMaxDf <= 0) None
    else Some(AtomicLake.read(spark, bannedRoot(root), store))

  /** Docs of `sh` that still have >= 1 unbanned shingle — the docs
    * that legitimately CARRY band rows. A doc whose every shingle is
    * banned (wall-to-wall boilerplate under sigMaxDf) produces zero
    * band rows by contract, so it must never count as a band-table
    * orphan: treating it as one makes [[repair]] report n > 0
    * forever and commit empty band appends on every call (r15
    * ADVICE), which also breaks the [[versionPair]] invariant
    * (bands ∈ {sh, sh-1}) that detects genuinely torn appends.
    */
  private def withSurvivingShingles(sh: DataFrame,
      banned: Option[DataFrame]): DataFrame = banned match {
    case None => sh
    case Some(ban) =>
      sh.join(
        sh.select(col("doc_id"), explode(col("sh")).as("h"))
          .join(ban.select(col("h")), Seq("h"), "left_anti")
          .select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
  }

  /** The sh rows a torn append left without band rows — ban-aware:
    * fully-banned docs are excluded (see [[withSurvivingShingles]]).
    * When the bands table has no commits at all (a build that died
    * between the sh overwrite and the first bands commit), every
    * bandable sh row is an orphan.
    */
  private def orphanSh(spark: SparkSession, root: String, p: Params,
      banned: Option[DataFrame], store: CommitStore): DataFrame = {
    val sh = AtomicLake.read(spark, shRoot(root), store)
    val orphans =
      if (AtomicLake.currentVersion(bandRoot(root), store).isEmpty) sh
      else {
        val bandIds = AtomicLake.read(spark, bandRoot(root), store)
          .select(col("doc_id")).distinct()
        sh.join(bandIds, Seq("doc_id"), "left_anti")
      }
    withSurvivingShingles(orphans, banned)
  }

  /** Build (overwrite) the index for a corpus. `threshold` drives the
    * banding via [[MinHashLsh.autoBands]] exactly like the in-memory
    * operator, so candidate recall at the verify boundary matches.
    * Params are claimed FIRST (atomic, refused on mismatch with an
    * existing index): a crash at any later point leaves params that
    * correctly describe whatever tables exist.
    */
  def build(corpus: DataFrame, idCol: String, textCol: String,
      root: String, threshold: Double = 0.7, shingleN: Int = 3,
      numHashes: Int = 64, seed: Long = 42L, sigMaxDf: Int = 0,
      portableHash: Boolean = false, candidateBudget: Long = 0L,
      store: CommitStore = HardlinkCommitStore): Params = {
    // Resolution precedes the params claim (it needs the corpus
    // census), but the claim still precedes every TABLE commit —
    // a crash between resolution and claim leaves nothing at all.
    // The shingle job runs once: the same pinned frame feeds the
    // resolver, the ban census and the table writes. Both the budget
    // and the dial it resolved freeze in the params, so a rebuild
    // whose corpus resolves differently is refused by claimParams
    // (existing != p), not silently re-banded.
    lazy val sh = MinHashLsh.hashedShingles(corpus, idCol, textCol,
      shingleN, portableHash).localCheckpoint()
    val (bands, dial) = MinHashLsh.dials(sh, numHashes, threshold, 0,
      sigMaxDf, candidateBudget)
    val p = Params(shingleN, numHashes, bands, seed, dial, portableHash,
      candidateBudget)
    claimParams(root, p, store)
    // commit order: params → banned → sh → bands. The ban set is
    // geometry (every band row is a function of it), so it lands
    // before any row hashed under it; a crash after any prefix leaves
    // tables that correctly describe each other.
    val banned =
      if (p.sigMaxDf <= 0) None
      else Some(MinHashLsh.bannedCensus(sh, p.sigMaxDf).localCheckpoint())
    // Staged-write / ordered-commit split (r17, verdict #5, guide
    // §2.6): the three table writes are independent Spark jobs — all
    // derive from the PINNED sh/banned frames, none reads another's
    // table — so their staging runs concurrently from a small thread
    // pool, and the commits then publish in the same crash-order as
    // ever. Staged files are commit-unique names no manifest
    // references, so a crash anywhere before/between the commits
    // still leaves exactly a prefix of (params, banned, sh, bands).
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(pool)
    val commits =
      try Await.result(Future.sequence(Seq(
        banned.map(b => Future(AtomicLake.overwriteStaged(b,
          bannedRoot(root), store = store))),
        Some(Future(AtomicLake.overwriteStaged(sh, shRoot(root),
          store = store))),
        Some(Future(AtomicLake.overwriteStaged(bandsOf(sh, p, banned),
          bandRoot(root), store = store)))).flatten), Duration.Inf)
      finally pool.shutdown()
    commits.foreach(_.apply()) // banned → sh → bands
    p
  }

  /** Near-dup pairs (corpus id1, batch id2, jaccard >= threshold) of a
    * NEW batch against the indexed corpus — the corpus text is never
    * read: candidates come from the persisted band table through
    * [[MinHashLsh.candidates]], verification from the persisted hash
    * table through [[MinHashLsh.verifyPairs]] — one implementation
    * with the in-memory forms, so the index path can never drift.
    * `maxBucket` caps the combined index + batch bucket membership.
    */
  def pairsAgainstIndex(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, root: String, threshold: Double,
      maxBucket: Int = 0,
      store: CommitStore = HardlinkCommitStore): DataFrame =
    probe(spark, batch, idCol, textCol, root, threshold, maxBucket,
      store, None)

  /** [[pairsAgainstIndex]] with the join shape given:
    * `broadcastBatch = None` picks it by the size rule below.
    *
    * THE at-scale design decision of the probe: a sort-merge
    * candidate join would shuffle the ENTIRE index band table
    * (bands × corpus rows) for every batch, and the cap census would
    * shuffle it a second time — per-probe cost ∝ corpus. But
    * candidates only come from (band, bucket) values the BATCH
    * occupies, so when the batch is broadcastable the join runs the
    * other way: broadcast the batch band rows, stream the index band
    * table map-side (one pruned scan, ZERO index shuffle), and scope
    * the cap census to batch-touched buckets. Per-probe cost becomes
    * ∝ batch + matched index rows. Measured at the 500k-doc ov tier
    * (10% batch): capped probe 27.7 → ~8 s, the census alone was
    * 12.7 s of the old shape. Batches too big to broadcast keep the
    * shuffle shape — at that size the "batch" is corpus-scale and the
    * symmetric cross form applies.
    *
    * Broadcasting is only a win when the STREAMED side (the index)
    * is the bigger one: below the absolute cap the index must be at
    * least batch-sized (a tiny index under a ~100 MB batch would have
    * the heuristic broadcast the LARGER join side and hold a
    * pointless broadcast hash table — the shuffle shape moves almost
    * nothing there); above it, up to the relative ceiling, only a
    * strongly index-dominated probe (≥8×) justifies the bigger
    * broadcast. The index row count is O(manifest) from the band
    * table's zone maps — when a store can't provide it (None), the
    * under-cap path keeps the broadcast default (forall), matching
    * the pre-r16 behavior for stores without stats.
    *
    * Pin policy (A/B-measured at the 500k ov tier): uncapped, the
    * batch band rows are consumed ONCE (the join side) and derive
    * from the pinned shingle frame — a band-row checkpoint measured
    * 4.3 s vs a 0.4 s re-derivation; capped, they are consumed by the
    * census and the join, so the batch signatures pin.
    */
  private[graft] def probe(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, root: String, threshold: Double,
      maxBucket: Int, store: CommitStore,
      broadcastBatch: Option[Boolean]): DataFrame = {
    val p = readParams(root, store)
    val shB = shOf(batch, idCol, textCol, p)
    val bB = bandsOf(shB, p, readBanned(spark, root, p, store),
      pinSig = maxBucket > 0)
    val bcast = broadcastBatch.getOrElse {
      val batchBandRows = shB.count() * p.bands
      val idxBandRows = AtomicLake.rowCount(bandRoot(root), store)
      batchBandRows > 0 &&
        ((batchBandRows <= broadcastMaxBandRows &&
            idxBandRows.forall(_ >= batchBandRows)) ||
          (batchBandRows <= broadcastRelativeCeiling &&
            idxBandRows.exists(_ >= 8L * batchBandRows)))
    }
    val cands = MinHashLsh.candidates(
      AtomicLake.read(spark, bandRoot(root), store), Some(bB), maxBucket,
      broadcastB = bcast)
    MinHashLsh.verifyPairs(cands, AtomicLake.read(spark, shRoot(root),
      store), shB, threshold)
  }

  /** Make a batch part of the corpus: append its rows to both index
    * tables (one atomic commit per table — the two commits are not
    * atomic TOGETHER; a reader between them sees the batch's hashes
    * but not yet its buckets, which can only UNDER-generate candidates
    * for that reader, never corrupt results).
    *
    * IDEMPOTENT: doc ids already in the sh table are skipped, so a
    * retry after a partial failure (sh landed, bands didn't; process
    * died mid-append) never duplicates rows — the retry appends
    * nothing to sh and [[repair]]/the band append completes the pair.
    * The skip is an anti join against the sh table's id column only
    * (column pruning keeps the hash arrays out of the exchange).
    *
    * Detection for the straddle window is mechanical: [[versionPair]]
    * (cheap — after build both tables are at v1 and each append
    * commits sh then bands exactly once, so bands ∈ {sh, sh-1};
    * equality means no append is mid-flight or torn) and
    * [[missingBandDocs]] (exact — the doc ids affected). Returns the
    * committed (shVersion, bandsVersion) pair.
    */
  def append(batch: DataFrame, idCol: String, textCol: String,
      root: String, store: CommitStore = HardlinkCommitStore)
      : (Long, Long) = {
    val p = readParams(root, store)
    val spark = batch.sparkSession
    // Params commit FIRST in build() (object-store crash ordering), so
    // a writer that died inside build leaves params with zero table
    // commits. Without this check every retry would throw 'no commits'
    // on the read below — a permanently wedged ingest stream. The
    // batch at hand becomes the initial corpus under the CLAIMED
    // params (which correctly describe whatever tables exist: none).
    if (AtomicLake.currentVersion(shRoot(root), store).isEmpty) {
      // the batch IS the initial corpus: re-freeze the ban set from
      // it (no committed band row was hashed under any other census)
      val sh0 = shOf(batch, idCol, textCol, p)
      val banned0 =
        if (p.sigMaxDf <= 0) None
        else {
          val b = MinHashLsh.bannedCensus(sh0, p.sigMaxDf).localCheckpoint()
          AtomicLake.overwrite(b, bannedRoot(root), store = store)
          Some(b)
        }
      val shV = AtomicLake.overwrite(sh0, shRoot(root), store = store)
      val bandV = AtomicLake.overwrite(bandsOf(sh0, p, banned0),
        bandRoot(root), store = store)
      return (shV, bandV)
    }
    val existing = AtomicLake.read(spark, shRoot(root), store)
      .select(col("doc_id"))
    val sh = shOf(batch.join(existing, batch(idCol) === existing("doc_id"),
      "left_anti"), idCol, textCol, p)
    val banded = bandsOf(sh, p, readBanned(spark, root, p, store))
    // heal a previous torn append BEFORE committing new rows, so the
    // band rows this call derives are exactly its own batch's
    repair(spark, root, store)
    val shV = AtomicLake.append(sh, shRoot(root), store = store)
    val bandV = AtomicLake.append(banded, bandRoot(root), store = store)
    (shV, bandV)
  }

  /** Current (shVersion, bandsVersion) of the index — the mechanical
    * consistency probe for the append straddle window: the protocol
    * commits sh before bands, one commit each, so a reader seeing
    * shVersion == bandsVersion knows no append is torn or mid-flight;
    * shVersion == bandsVersion + 1 is exactly the documented
    * hashes-but-no-buckets window (run [[repair]], or re-read).
    */
  def versionPair(root: String,
      store: CommitStore = HardlinkCommitStore): (Long, Long) =
    (AtomicLake.currentVersion(shRoot(root), store).getOrElse(0L),
      AtomicLake.currentVersion(bandRoot(root), store).getOrElse(0L))

  /** Doc ids present in the sh table but absent from the band table —
    * the EXACT rows a torn append left invisible to candidate
    * generation (they verify fine once candidates name them, but
    * never bucket). Empty on a consistent index. Ban-aware: a doc
    * whose every shingle the frozen ban set covers never bands by
    * contract, so it is not "missing" — a repair-until-empty loop
    * over this frame terminates.
    */
  def missingBandDocs(spark: SparkSession, root: String,
      store: CommitStore = HardlinkCommitStore): DataFrame = {
    val p = readParams(root, store)
    orphanSh(spark, root, p, readBanned(spark, root, p, store), store)
      .select(col("doc_id"))
  }

  /** Regenerate the band rows a torn append failed to commit: the sh
    * table stores the full hash arrays the band table is a pure
    * function of, so repair reads NO source text — it bands exactly
    * the [[missingBandDocs]] rows and appends them in one commit.
    * Returns the number of docs repaired (0 on a consistent index,
    * with no commit made).
    */
  def repair(spark: SparkSession, root: String,
      store: CommitStore = HardlinkCommitStore): Long = {
    val p = readParams(root, store)
    val banned = readBanned(spark, root, p, store)
    // a build/bootstrap that died between the sh overwrite and the
    // FIRST bands commit leaves a bands table with no commits at all:
    // reading it would throw 'no commits' on every retry (a wedged
    // ingest stream). Every bandable sh row is an orphan then — band
    // them all and OVERWRITE so the table exists even when empty.
    val bandsMissing =
      AtomicLake.currentVersion(bandRoot(root), store).isEmpty
    val pinned = orphanSh(spark, root, p, banned, store)
      .localCheckpoint()
    val n = pinned.count()
    // n == 0 on a consistent index → NO commit: an empty append would
    // advance bandsVersion past shVersion, breaking the versionPair
    // torn-append detector (r15 ADVICE). The never-committed bands
    // table is the one exception — it must gain a v1 to unwedge reads.
    if (n > 0 || bandsMissing) {
      val banded = bandsOf(pinned, p, banned)
      if (bandsMissing)
        AtomicLake.overwrite(banded, bandRoot(root), store = store)
      else
        AtomicLake.append(banded, bandRoot(root), store = store)
    }
    n
  }
}
