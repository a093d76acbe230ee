package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFns
import graft.operators.Dedup

/** Text-pipeline query family (SURVEY.md §2 E1, E4, E7-E10) over the
  * `documents` table — each hash-gated against a DuckDB oracle.
  */
object TextQueries {

  /** Per-session memo for the trained quality classifier (driver-side
    * weight vector — tiny): see text_quality_model.
    */
  private val qualityModelMemo = new graft.sources
    .SessionMemo[String, graft.operators.QualityModel.Model]()

  /** The per-session trained quality model (the clustering-
    * assignments / IVF-index pattern): training runs once per (session,
    * dir), the timed queries measure the codegen scoring pass. The
    * canonical training feed (r11) makes the weights bit-reproducible
    * — one sorted partition ⇒ one L-BFGS partial per pass — which is
    * what lets the consuming queries carry pinned oracles.
    */
  private def qualityModelFor(s: org.apache.spark.sql.SparkSession,
      dir: String): graft.operators.QualityModel.Model =
    qualityModelMemo.getOrElseUpdate(s, dir) {
      val labeled = Tables.documents(s, dir).withColumn("label",
        (TextFns.qualityScore(col("text")) >= 0.55).cast("int"))
      graft.operators.QualityModel.trainCanonical(
        graft.operators.QualityModel.featurize(labeled, "text"),
        "label", "doc_id")
    }

  private val langIdModelMemo = new graft.sources
    .SessionMemo[String, graft.operators.LangIdModel.Model]()

  val queries: Map[String, Q] = Map(

    // E7 — marker-token language ID with per-language scores.
    "text_langid" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val scored = TextFns.langMarkers.foldLeft(d) { case (df, (l, _)) =>
        df.withColumn(s"score_$l", TextFns.langScore(col("text"), l))
      }
      scored.select(col("doc_id") +:
        TextFns.langMarkers.map { case (l, _) => col(s"score_$l") } :+
        TextFns.langId(col("text")).as("lang_pred"): _*)
    },

    // E8 — quality scoring components + composite.
    "text_quality" -> { (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        TextFns.wordCount(col("text")).as("n_words"),
        TextFns.punctRatio(col("text")).as("punct_ratio"),
        TextFns.stopwordRatio(col("text")).as("stopword_ratio"),
        TextFns.qualityScore(col("text")).as("quality_score"))
    },

    // E9 — whitespace + BPE-ish token counting.
    "text_tokens" -> { (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextFns.wordCount(col("text")).as("ws_tokens"),
        TextFns.bpeishTokenCount(col("text")).as("bpeish_tokens"))
    },

    // E10 — polynomial rolling-hash fingerprint (arith-only).
    "text_fingerprint" -> { (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextFns.fingerprint(col("text")).as("fingerprint"))
    },

    // H17 — NFC normalization, proven to do real composition work on
    // every row: a decomposed " e<combining acute>" suffix is planted
    // and must come back precomposed. DuckDB's nfc_normalize replays
    // the same Unicode algorithm — any divergence in the kernel's
    // normalization (or the fast path wrongly skipping) mismatches.
    "text_normalize" -> { (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextFns.nfcNormalize(
          concat(col("text"), lit(" e\u0301"))).as("nfc_text"))
    },

    // H20 — HTML strip: each doc wrapped in planted markup (script +
    // style blocks with droppable content, comments, attributes,
    // entities) must come back as clean text — both engines evaluate
    // the identical regexp chain, so any drift in tag/entity/space
    // handling hash-mismatches.
    "text_strip_html" -> { (s, dir) =>
      val html = concat(
        lit("<html><head><style>p{color:red}</style>" +
          "<script>var a=1;</script></head><body><p class=\"x\">"),
        col("text"),
        lit("</p><!-- note --> &amp; &lt;tail&gt;&nbsp;end" +
          "</body></html>"))
      Tables.documents(s, dir).select(col("doc_id"),
        TextFns.stripHtml(html).as("clean_text"))
    },

    // E1 — exact dedup groups (hash → surviving id + copy count).
    "dedup_exact" -> { (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), "text", "doc_id")
    },

    // H19 — trained quality classifier ([R]: L-BFGS over distributed
    // double sums — no engine pins the combine order, so bit-gating
    // is impossible; QualityModelSpec pins separation + the exact
    // scoring form). Weak labels come from the fixed-weight heuristic
    // (E8) — the classifier must re-derive the quality notion from
    // raw features; scoring is a pure codegen column expression.
    "text_quality_model" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.operators.QualityModel
        .score(docs, "text", qualityModelFor(s, dir))
        .select(col("doc_id"), col("quality_prob"))
    },

    // E7 model tier — TRAINED language ID (the CCNet/fastText shape:
    // hashed byte-n-gram features → multinomial linear classifier;
    // the marker heuristic stays as the cheap gate). Trained once per
    // session on the deterministic planted multilingual corpus (the
    // documents table is monolingual word soup — no label diversity
    // to self-train on), then scores every document through the
    // denseArgmax kernel with the weight matrix as a plan literal.
    // [R] rows-gated (L-BFGS carries last-ulp combine noise — the
    // H19/PCA posture); LangIdSpec pins ≥0.95 held-out separation.
    "text_langid_model" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val m = langIdModelMemo.getOrElseUpdate(s, dir) {
        val corpus = graft.operators.LangIdModel
          .syntheticCorpus(s, perLang = 80, seed = 42L)
        // canonical feed: bit-reproducible weights (see H19's note)
        graft.operators.LangIdModel.trainCanonical(corpus, "text",
          "lang", "doc_id",
          graft.operators.LangIdModel.vocab.keys.toSeq.sorted)
      }
      graft.operators.LangIdModel.score(docs, "text", m)
        .select(col("doc_id"), col("lang_model"))
    },

    // Composite training-data pipeline — the operators composed the
    // way a corpus-cleaning job actually chains them: quality gate →
    // exact dedup (keep-first) → near-dup removal (drop the higher id
    // of each MinHash-verified pair among survivors) → per-doc stats.
    // Hash-gated end-to-end: every stage's arithmetic is engine-
    // portable and the near-dup pair set equals the exact-Jaccard set
    // (see dedup_minhash).
    "pipe_clean_corpus" -> { (s, dir) =>
      val q = Tables.documents(s, dir)
        .withColumn("quality_score", TextFns.qualityScore(col("text")))
        .filter(col("quality_score") >= 0.55)
      // pin the gated+deduped corpus: nearDuplicates (via its internal
      // shingle-hash frame) and the survivor anti-join both consume
      // `uniq` — without the pin each consumer re-runs the quality
      // gate + dedup agg + semi-join subtree from the parquet scan
      // (round-5's plan read documents.parquet 6×; at 100 TB that is
      // six corpus scans where one does).
      val uniq = Dedup.exact(q, "text", "doc_id").localCheckpoint()
      val losers = graft.operators.MinHashLsh
        .nearDuplicates(uniq, "doc_id", "text", threshold = 0.5)
        .select(col("id2").as("doc_id")).distinct()
      uniq.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          TextFns.wordCount(col("text")).as("ws_tokens"),
          col("quality_score"))
    },

    // E12c — MODEL-gated curation composition (r11): the TRAINED
    // quality classifier runs IN the pipeline plan (plan-literal
    // sigmoid — no MLlib, no UDF at inference), chained with the
    // heuristic language gate and keep-first exact dedup — the
    // heuristic→classifier upgrade a CCNet-style pipeline makes once
    // a trained model exists, composed the way production runs it
    // (cheap gates first, content dedup last). Hash-gated SF-scoped:
    // the oracle replays the PINNED model probs (the
    // text_quality_model dyadic VALUES), the langid CASE chain, and
    // the sha256 keep-first dedup.
    "pipe_model_curation" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // pin the gated corpus: Dedup.exact consumes its input twice
      // (winner agg + semi-join back) — without the pin the scoring
      // kernels (featurize + langid) run twice per evaluation (the
      // pipe_clean_corpus round-5 lesson; measured 3.0s → pinned
      // ~1.2s at sf0.1).
      // r15 restructure, measured (stage A/B at sf0.1): the r14
      // audit blamed the dedup exchanges (0.22 s); the row's real
      // cost was the SCORING scan — two compounding re-evaluations:
      // (1) the text-form helpers evaluate the marker-counts kernel
      // once per Project (CollapseProject keeps expensive exprs
      // apart, codegen CSE is per-node), fixed by materializing ONE
      // `_tc` counts column every consumer (quality features, langid
      // CASE, post-dedup ws_tokens) reads; (2) PushDownPredicates
      // rewrites the quality/lang filters through the projections,
      // substituting the FULL scoring chains into the pushed
      // predicates — each chain then runs in the filter AND the
      // projection (filtered shape 0.95 s vs 0.32 s with the pin
      // moved before the filters). So the checkpoint lands BEFORE
      // the gates: the scored corpus is the materialized curation
      // artifact (at 100 TB: the persisted score table every
      // downstream gate reads), filters over it are column
      // comparisons, and Dedup.exact's double consumption reads the
      // pinned frame. Row total 1.37 -> ~0.75 s.
      val scored = graft.operators.QualityModel
        .scoreWithCounts(
          docs.withColumn("_tc", TextFns.markerCounts(col("text"))),
          "text", col("_tc"), qualityModelFor(s, dir))
        .withColumn("lang_pred", TextFns.langIdFromCounts(col("_tc")))
        .select(col("doc_id"), col("text"), col("quality_prob"),
          col("lang_pred"), col("_tc"))
        .localCheckpoint()
      val gated = scored.filter(col("quality_prob") >= 0.5 &&
        col("lang_pred") =!= "und")
      Dedup.exact(gated, "text", "doc_id")
        .select(col("doc_id"), col("lang_pred"),
          TextFns.wordCountFromCounts(col("_tc")).as("ws_tokens"),
          col("quality_prob"))
    },

    // Word-repetition quality stats: type-token ratio + top-word
    // ratio per document via the one-pass wordStats kernel — the
    // repetition signals (boilerplate = one token dominating) a
    // corpus quality gate cuts on.
    "text_word_stats" -> { (s, dir) =>
      val base = Tables.documents(s, dir).select(col("doc_id"),
        graft.expressions.NativeKernels.wordStatsCol(col("text")).as("st"))
      val n = element_at(col("st"), 1)
      val d = element_at(col("st"), 2)
      val t = element_at(col("st"), 3)
      base.select(col("doc_id"),
        n.as("n_words"), d.as("n_distinct"), t.as("top_freq"),
        when(n === 0, lit(0.0))
          .otherwise(d.cast("double") / n.cast("double")).as("ttr"),
        when(n === 0, lit(0.0))
          .otherwise(t.cast("double") / n.cast("double")).as("top_ratio"))
    },

    // Benchmark-contamination scoring: fraction of each corpus doc's
    // distinct shingles that appear anywhere in the benchmark set —
    // the n-gram overlap check run before training data ships. The
    // doc_id % 10 == 0 split is a STAND-IN for a real held-out
    // benchmark table, and it is corpus-SCALED (~10% of the corpus's
    // distinct shingles), not bounded the way a real benchmark is —
    // so the broadcast is guarded by a measured row count: under the
    // bound (every real benchmark; this corpus at test SFs) the set
    // broadcasts, past it the join falls back to shuffle instead of
    // OOMing the driver at the 100-TB design point.
    "text_contamination" -> { (s, dir) =>
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("shs"))
        .filter(size(col("shs")) > 0)
      // materialized once: sized for the guard, reused by either path
      val bench = sh.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(explode(col("shs")).as("shingle")).distinct()
        .localCheckpoint(eager = true)
      // ~16 B/element → 2M shingles stays well inside a 64 MB
      // broadcast budget (every REAL benchmark set is far smaller;
      // this stand-in split is corpus-scaled, hence the guard)
      if (bench.count() <= 2000000L) {
        // benchmark-sized: ship the distinct shingle set as ONE
        // sorted array and count each doc's hits MAP-SIDE with the
        // two-pointer merge kernel — no corpus explode, no join, no
        // groupBy; the corpus side of the plan is scan → project
        val benchArr = broadcast(bench.agg(
          sort_array(collect_list(col("shingle"))).as("bench_shs")))
        sh.filter(pmod(col("doc_id"), lit(10)) =!= 0)
          .crossJoin(benchArr)
          .select(col("doc_id"), size(col("shs")).as("n_sh"),
            graft.expressions.NativeKernels.sortedIntersectCountCol(
              sort_array(col("shs")), col("bench_shs")).as("n_hit"))
          .select(col("doc_id"), col("n_sh"), col("n_hit"),
            (col("n_hit").cast("double") / col("n_sh").cast("double"))
              .as("contamination"))
      } else {
        // corpus-scaled benchmark: shuffle join — never build (or
        // broadcast) a single giant array
        sh.filter(pmod(col("doc_id"), lit(10)) =!= 0)
          .select(col("doc_id"), size(col("shs")).as("n_sh"),
            explode(col("shs")).as("shingle"))
          .join(bench.withColumn("hit", lit(1)), Seq("shingle"), "left")
          .groupBy(col("doc_id"), col("n_sh"))
          .agg(count(col("hit")).cast("int").as("n_hit"))
          .select(col("doc_id"), col("n_sh"), col("n_hit"),
            (col("n_hit").cast("double") / col("n_sh").cast("double"))
              .as("contamination"))
      }
    },

    // Cross-corpus near-dedup: new-batch (doc_id % 10 == 0) vs the
    // existing corpus, LSH-bucketed across the two sides, exact
    // verify — the dedup-before-adding-data sweep. Oracle-gated like
    // dedup_minhash: every qualifying pair on this corpus has
    // jaccard >= 0.95, so the 32x2 banding misses one with
    // probability ~(1-0.95^2)^32 ~ 1e-34 — the exact join IS the
    // oracle.
    "dedup_cross" -> { (s, dir) =>
      // both sides live in the documents table → the split form
      // shingles the corpus ONCE (one scan, one checkpoint)
      graft.operators.MinHashLsh.nearDuplicatesSplit(
          Tables.documents(s, dir), "doc_id", "text",
          probeSide = pmod(col("doc_id"), lit(10)) === 0,
          threshold = 0.5)
        .select(col("id1").as("base_id"), col("id2").as("probe_id"),
          col("jaccard"))
    },

    // The PERSISTENT-index form of dedup_cross, proven end-to-end:
    // build the LSH index lake tables from the corpus side, then dedup
    // the probe batch against the INDEX (the corpus text is never
    // re-read — candidates from the persisted band table, verify from
    // the persisted hash table). Output must equal the in-memory
    // cross sweep, so it shares dedup_cross's exact-Jaccard oracle.
    "dedup_index_cross" -> { (s, dir) =>
      import graft.operators.NearDupIndex
      val scratch = graft.Scratch.forDir(dir, "lake_scratch", "neardup")
      val p = new org.apache.hadoop.fs.Path(scratch)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val docs = Tables.documents(s, dir)
      NearDupIndex.build(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id", "text", scratch, threshold = 0.5)
      NearDupIndex.pairsAgainstIndex(s,
          docs.filter(pmod(col("doc_id"), lit(10)) === 0),
          "doc_id", "text", scratch, threshold = 0.5)
        .select(col("id1").as("base_id"), col("id2").as("probe_id"),
          col("jaccard"))
    },

    // E4 — n-gram Jaccard similarity join (3-gram shingles, >= 0.5).
    "dedup_jaccard" -> { (s, dir) =>
      Dedup.ngramJaccard(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.5)
    },

    // E2 — MinHash+LSH near-dedup ([R]: banding uses xxhash64, not
    // expressible in DuckDB; candidate completeness vs exact Jaccard
    // is asserted in NearDupSpec).
    "dedup_minhash" -> { (s, dir) =>
      graft.operators.MinHashLsh.nearDuplicates(
        Tables.documents(s, dir), "doc_id", "text", threshold = 0.5)
    },

    // E3 — SimHash near-dedup, portable-fingerprint variant so the
    // whole pipeline (token hash → votes → chunk buckets → Hamming
    // verify) is hash-gated against a DuckDB replay; the xx-seeded
    // production variant stays spec-gated for parity in NearDupSpec.
    "dedup_simhash" -> { (s, dir) =>
      graft.operators.SimHash.nearDuplicatesPortable(
        Tables.documents(s, dir), "doc_id", "text", maxDist = 3)
    },

    // E2 PRODUCTION configuration gate (r15, the r14 verdict's top
    // item): the capped near-dedup chain — df census → sigMaxDf
    // signature ban → instance-stream min-agg signatures → banding →
    // maxBucket stop-bucket cut → bucket join → exact full-set
    // verify — hash-gated END TO END via the portable polynomial
    // shingle hash (Dedup.shinglePortableHashes): every stage is
    // integer arithmetic DuckDB replays term for term, including
    // WHICH shingles ban and WHICH buckets drop. Dials are
    // fixture-scaled (sigMaxDf=5 bans 29-24.5k shingles, maxBucket=3
    // drops 1-1435 buckets across sf0.001/0.01/0.1 — non-vacuous at
    // every gate SF; production runs 1000/1000 on real Zipf text, the
    // ov bench tier). The gated queries dedup_minhash/dedup_cross
    // keep the uncapped oracle-exact semantics; this row gates the
    // capped CODE PATH the 100-TB deployment ships.
    "dedup_minhash_capped" -> { (s, dir) =>
      graft.operators.MinHashLsh.nearDuplicates(
        Tables.documents(s, dir), "doc_id", "text", threshold = 0.5,
        maxBucket = 3, sigMaxDf = 5, portableHash = true)
    },

    // E2 candidate-budget auto-dial gate (r16, §5.2's production
    // guidance made code): instead of a FIXED sigMaxDf — whose
    // candidate set grew 14.9×/decade on Zipf(1.3) — the dial is
    // RESOLVED from the corpus's df census against a candidate
    // budget (largest dial whose kept shared-shingle pair mass
    // Σ C(df,2) fits), then the capped chain runs under it. The
    // oracle replays the RESOLUTION itself (histogram → cumulative
    // mass → dial) plus the full chain, so a resolver drift is a
    // hash mismatch, not a silent dial change. Budget 13000 resolves
    // dial 4 at all three gate SFs (measured cum mass 12762/12306/
    // 5390 at df=4) — banning non-vacuously at each.
    "dedup_minhash_budget" -> { (s, dir) =>
      graft.operators.MinHashLsh.nearDuplicates(
        Tables.documents(s, dir), "doc_id", "text", threshold = 0.5,
        maxBucket = 3, candidateBudget = 13000L, portableHash = true)
    },

    // G15 production configuration gate: the cross-corpus capped
    // chain — symmetric union census, combined-membership bucket cap
    // — replayed the same way (see dedup_minhash_capped).
    "dedup_cross_capped" -> { (s, dir) =>
      graft.operators.MinHashLsh.nearDuplicatesSplit(
          Tables.documents(s, dir), "doc_id", "text",
          probeSide = pmod(col("doc_id"), lit(10)) === 0,
          threshold = 0.5, maxBucket = 3, sigMaxDf = 5,
          portableHash = true)
        .select(col("id1").as("base_id"), col("id2").as("probe_id"),
          col("jaccard"))
    },

    // G18 production configuration gate (r15): the PERSISTED-index
    // path under the full capped config — portable hash family frozen
    // in the index params, sigMaxDf ban set frozen at BUILD time from
    // the base corpus ONLY (the G18 geometry contract; the symmetric
    // union census above is the in-memory cross form's), probe capped
    // with the combined-membership stop-bucket dial. The whole chain
    // runs through the lake tables (committed sh/band/ban reads) and
    // DuckDB replays it term for term, so the 100-TB repeated
    // operation — dedup a batch against an EXISTING index — is
    // hash-gated in exactly the shape it ships.
    "dedup_index_cross_capped" -> { (s, dir) =>
      import graft.operators.NearDupIndex
      val scratch = graft.Scratch.forDir(dir, "lake_scratch", "neardup_capped")
      val p = new org.apache.hadoop.fs.Path(scratch)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val docs = Tables.documents(s, dir)
      NearDupIndex.build(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id", "text", scratch, threshold = 0.5, sigMaxDf = 5,
        portableHash = true)
      NearDupIndex.pairsAgainstIndex(s,
          docs.filter(pmod(col("doc_id"), lit(10)) === 0),
          "doc_id", "text", scratch, threshold = 0.5, maxBucket = 3)
        .select(col("id1").as("base_id"), col("id2").as("probe_id"),
          col("jaccard"))
    },

    // E3 production configuration gate: word-3-gram features + the
    // hot-bucket cap (the r14 Zipf fixes), portable fingerprint so
    // the n-gram build, votes, 15-bit chunk buckets, cap census and
    // Hamming verify all replay in DuckDB. maxBucket=2 drops >= 1
    // bucket at every gate SF (measured 3/1/57 across
    // sf0.001/0.01/0.1); production runs nGram=3 maxBucket=1000.
    "dedup_simhash_ngram" -> { (s, dir) =>
      graft.operators.SimHash.nearDuplicatesPortable(
        Tables.documents(s, dir), "doc_id", "text", maxDist = 3,
        nGram = 3, maxBucket = 2)
    }
  )

  /** DuckDB replay of the portable polynomial shingle hash
    * ([[graft.operators.Dedup.shinglePortableHashes]]): two rolling
    * hashes over the shingle string's printable-ASCII projection,
    * combined as h1 * 2^30 + h2 — the dedup_simhash per-token
    * arithmetic applied to shingle strings.
    */
  private def portablePoly(v: String, base: Int, mod: Long): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(regexp_extract_all(regexp_replace($v, '[^ -~]', '', 'g'), '.'),
       |        c -> CAST(ascii(c) AS BIGINT))),
       |      (h, c) -> (h * $base + c) % $mod)""".stripMargin

  private def portableHash(v: String): String =
    s"${portablePoly(v, 131, 1000000007L)} * 1073741824\n" +
      s"    + ${portablePoly(v, 137, 998244353L)}"

  /** The MinHash permutation coefficients as a DuckDB VALUES table —
    * interpolated from the SAME generator the kernel uses
    * ([[graft.expressions.NativeKernels.perms]]), so the oracle can
    * never drift from the engine's coefficients.
    */
  private def permsValues(numHashes: Int, seed: Long): String = {
    val ab = graft.expressions.NativeKernels.perms(numHashes, seed)
    (0 until numHashes)
      .map(k => s"($k,${ab(2 * k)},${ab(2 * k + 1)})").mkString(", ")
  }

  /** Shared head of the capped production-config oracles: shingle →
    * portable hash → df census → sigMaxDf ban → per-(doc, perm) min
    * signature → 2-row band buckets (the polynomial slice fold) →
    * maxBucket cut. Every step integer arithmetic; `bb` is the
    * surviving banded index, `sh`/`card` the full verify sets.
    * `censusWhere` scopes the df census (the persisted-index gate
    * freezes its ban set from the BUILD corpus only — G18's
    * frozen-geometry contract — where the symmetric cross form
    * censuses the union).
    */
  private def cappedChainSql(sigMaxDf: Int, maxBucket: Int,
      censusWhere: String = ""): String =
    chainSql(
      s"banned AS (SELECT h FROM sh $censusWhere GROUP BY h HAVING count(*) > $sigMaxDf)",
      maxBucket)

  /** The capped chain with the dial RESOLVED from the census against a
    * candidate budget — the DuckDB replay of
    * [[graft.operators.MinHashLsh.resolveSigMaxDf]], term for term:
    * df histogram (df >= 2), exact integer cumulative pair mass
    * n·C(df,2) ascending, dial = largest df whose mass fits (0 when
    * everything fits = banning off; 1 when nothing >= 2 fits).
    */
  private def budgetChainSql(budget: Long, maxBucket: Int): String =
    chainSql(
      s"""hist AS (SELECT df, count(*) AS n
         |  FROM (SELECT h, count(*) AS df FROM sh GROUP BY h)
         |  WHERE df >= 2 GROUP BY df),
         |cum AS (SELECT df, sum(n * df * (df - 1) // 2)
         |  OVER (ORDER BY df) AS mass FROM hist),
         |dial AS (SELECT CASE
         |  WHEN (SELECT count(*) FROM cum) = 0 THEN 0
         |  WHEN (SELECT max(mass) FROM cum) <= $budget THEN 0
         |  ELSE COALESCE((SELECT max(df) FROM cum WHERE mass <= $budget), 1)
         |  END AS t),
         |banned AS (SELECT h FROM sh GROUP BY h
         |  HAVING (SELECT t FROM dial) > 0
         |     AND count(*) > (SELECT t FROM dial))""".stripMargin,
      maxBucket)

  /** Shared skeleton of the two: everything except HOW the ban set is
    * chosen. `banCte` must define a CTE (chain) ending in
    * `banned(h)`.
    */
  private def chainSql(banCte: String, maxBucket: Int): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |win AS (
       |  SELECT doc_id, w[i.gs] || ' ' || w[i.gs+1] || ' ' || w[i.gs+2] AS s
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1,
       |    greatest(len(w) - 2, 0))) AS gs) i),
       |sh AS (SELECT DISTINCT doc_id,
       |  ${portableHash("s")} AS h
       |  FROM win),
       |card AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |$banCte,
       |inst AS (SELECT doc_id, h FROM sh WHERE h NOT IN (SELECT h FROM banned)),
       |perms AS (SELECT CAST(k AS INT) AS k, CAST(a AS BIGINT) AS a,
       |  CAST(b AS BIGINT) AS b FROM (VALUES ${permsValues(64, 42L)}) t(k, a, b)),
       |sig AS (
       |  SELECT i.doc_id, p.k,
       |    min(((i.h % 2147483647) * p.a + p.b) % 2147483647) AS s
       |  FROM inst i CROSS JOIN perms p GROUP BY 1, 2),
       |bnd AS (
       |  SELECT doc_id, k // 2 AS band,
       |    ((max(CASE WHEN k % 2 = 0 THEN s END) % 1000000007) * 131
       |      + max(CASE WHEN k % 2 = 1 THEN s END)) % 1000000007 AS bucket
       |  FROM sig GROUP BY 1, 2),
       |ok AS (SELECT band, bucket FROM bnd GROUP BY 1, 2
       |       HAVING count(*) <= $maxBucket),
       |bb AS (SELECT b.doc_id, b.band, b.bucket FROM bnd b
       |       JOIN ok USING (band, bucket))""".stripMargin

  private val crossOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    w[i.gs] || ' ' || w[i.gs+1] || ' ' || w[i.gs+2] AS shingle
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1,
      |    greatest(len(w) - 2, 0))) AS gs) i),
      |card AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS base_id, b.doc_id AS probe_id, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle
      |  WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
      |  GROUP BY 1, 2)
      |SELECT base_id, probe_id,
      |  CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) AS jaccard
      |FROM pairs
      |JOIN card ca ON base_id = ca.doc_id
      |JOIN card cb ON probe_id = cb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= 0.5"""
      .stripMargin

  private def tokCount(word: String): String =
    s"len(list_filter(string_split(text, ' '), t -> t = '$word'))"

  private def langScoreSql(lang: String): String =
    TextFns.langMarkers.toMap.apply(lang)
      .map(tokCount).mkString(" + ")

  /** The pinned (doc_id, quality_prob) rows of the canonical-feed
    * quality model at the driver SF, as exact dyadic arithmetic —
    * shared by the text_quality_model gate and the pipe_model_curation
    * composition replay. Regenerate from a verify dump after a model
    * change (see the text_quality_model comment).
    */
  private def qualityProbDyadic: String =
    graft.queries.Pins.at(qualityProbDyadicSf001, qualityProbDyadicSf01,
      qualityProbDyadicSf0001)

  private val qualityProbDyadicSf0001: String =
    Pins.resource("quality_prob_dyadic_sf0001.txt")

  // sf0.1 twin of the pinned canonical-feed quality model probs
  // (r13: fresh-JVM 8/32-thread byte equality proven at sf0.1 too)
  private val qualityProbDyadicSf01: String =
    Pins.resource("quality_prob_dyadic_sf01.txt")

  private val qualityProbDyadicSf001: String =
    Pins.resourceLines("quality_prob_dyadic_sf001.txt")

  val oracles: Map[String, String] = Map(
    // H19 pinned scoring artifact (r11): the canonical training feed
    // makes the L-BFGS fit bit-reproducible (one sorted partition ⇒
    // one gradient partial per pass — verified byte-equal across
    // fresh JVMs at 8 and 32 threads), so the 500 (doc_id,
    // quality_prob) rows pin as VALUES. Exact-FP gate: each prob is
    // emitted as exact dyadic arithmetic (mantissa * power(2, e) —
    // both factors and the product are exactly representable), which
    // sidesteps DuckDB 1.0's off-by-one-ulp decimal float parse.
    // QualityModelSpec still gates separation; this pins the
    // artifact. SF-scoped in check.py.
    // E12c composition replay: pinned model probs (the shared dyadic
    // VALUES) + the langid heuristic CASE chain + sha256 keep-first
    // dedup + the ws-token count — every stage engine-portable or
    // pinned, so the composition hash-gates end-to-end. SF-scoped
    // (the pin is the sf0.01 fit's).
    "pipe_model_curation" -> Pins.sf1Or("pipe_model_curation", {
      val scores = TextFns.langMarkers.map { case (l, _) =>
        s"(${langScoreSql(l)}) AS score_$l"
      }
      val maxE = TextFns.langMarkers
        .map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
      val caseE = TextFns.langMarkers.reverse
        .foldLeft("'und'") { case (acc, (l, _)) =>
          s"CASE WHEN $maxE > 0 AND score_$l = $maxE THEN '$l' ELSE $acc END"
        }
      s"""WITH qp(id, p) AS (VALUES
         |   $qualityProbDyadic),
         |ls AS (
         |  SELECT doc_id, ${scores.mkString(",\n    ")}
         |  FROM documents),
         |lp AS (SELECT doc_id, $caseE AS lang_pred FROM ls),
         |g AS (
         |  SELECT d.doc_id, d.text, CAST(qp.p AS DOUBLE) AS quality_prob,
         |    lp.lang_pred
         |  FROM documents d
         |  JOIN qp ON qp.id = d.doc_id
         |  JOIN lp ON lp.doc_id = d.doc_id
         |  WHERE CAST(qp.p AS DOUBLE) >= 0.5 AND lp.lang_pred <> 'und'),
         |uniq AS (
         |  SELECT doc_id, text, quality_prob, lang_pred FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY sha256(text) ORDER BY doc_id) AS rn FROM g)
         |  WHERE rn = 1)
         |SELECT doc_id, lang_pred,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    t -> len(t) > 0)) AS INT) AS ws_tokens,
         |  quality_prob
         |FROM uniq""".stripMargin
    }),
    "text_quality_model" -> Pins.sf1Or("text_quality_model",
      s"""SELECT CAST(v.id AS BIGINT) AS doc_id,
         |  CAST(v.p AS DOUBLE) AS quality_prob
         |FROM (VALUES
         |   $qualityProbDyadic) v(id, p)""".stripMargin),
    // E7b pinned scoring artifact: same canonical-feed determinism;
    // the predicted labels over `documents` are out-of-domain for the
    // synthetic multilingual model (mostly arbitrary) — the gate pins
    // REPRODUCIBILITY of the featurize→train→plan-literal-argmax
    // chain, while LangIdSpec gates in-domain accuracy (>=0.95).
    "text_langid_model" -> Pins.sf1Or("text_langid_model",
      Pins.at(
      s"""SELECT CAST(v.id AS BIGINT) AS doc_id, v.l AS lang_model
         |FROM (VALUES
         |   (0,'fr'), (1,'fr'), (2,'zh'), (3,'es'), (4,'zh'), (5,'fr'),
         |   (6,'zh'), (7,'fr'), (8,'zh'), (9,'fr'), (10,'zh'), (11,'fr'),
         |   (12,'fr'), (13,'en'), (14,'zh'), (15,'fr'), (16,'fr'),
         |   (17,'fr'), (18,'fr'), (19,'fr'), (20,'zh'), (21,'fr'),
         |   (22,'fr'), (23,'de'), (24,'fr'), (25,'fr'), (26,'fr'),
         |   (27,'fr'), (28,'zh'), (29,'en'), (30,'fr'), (31,'fr'),
         |   (32,'fr'), (33,'es'), (34,'fr'), (35,'fr'), (36,'fr'),
         |   (37,'zh'), (38,'zh'), (39,'fr'), (40,'zh'), (41,'fr'),
         |   (42,'zh'), (43,'fr'), (44,'fr'), (45,'fr'), (46,'fr'),
         |   (47,'fr'), (48,'fr'), (49,'fr'), (50,'zh'), (51,'de'),
         |   (52,'en'), (53,'fr'), (54,'fr'), (55,'fr'), (56,'zh'),
         |   (57,'fr'), (58,'zh'), (59,'es'), (60,'fr'), (61,'fr'),
         |   (62,'fr'), (63,'fr'), (64,'fr'), (65,'fr'), (66,'fr'),
         |   (67,'fr'), (68,'fr'), (69,'fr'), (70,'fr'), (71,'fr'),
         |   (72,'zh'), (73,'es'), (74,'fr'), (75,'fr'), (76,'fr'),
         |   (77,'zh'), (78,'fr'), (79,'en'), (80,'de'), (81,'fr'),
         |   (82,'fr'), (83,'zh'), (84,'es'), (85,'fr'), (86,'fr'),
         |   (87,'zh'), (88,'fr'), (89,'zh'), (90,'zh'), (91,'fr'),
         |   (92,'fr'), (93,'fr'), (94,'es'), (95,'fr'), (96,'fr'),
         |   (97,'fr'), (98,'zh'), (99,'fr'), (100,'fr'), (101,'zh'),
         |   (102,'fr'), (103,'fr'), (104,'fr'), (105,'fr'), (106,'fr'),
         |   (107,'fr'), (108,'fr'), (109,'fr'), (110,'fr'), (111,'fr'),
         |   (112,'fr'), (113,'fr'), (114,'fr'), (115,'fr'), (116,'fr'),
         |   (117,'zh'), (118,'fr'), (119,'en'), (120,'es'), (121,'fr'),
         |   (122,'es'), (123,'zh'), (124,'fr'), (125,'fr'), (126,'fr'),
         |   (127,'fr'), (128,'fr'), (129,'zh'), (130,'fr'), (131,'fr'),
         |   (132,'fr'), (133,'fr'), (134,'zh'), (135,'zh'), (136,'fr'),
         |   (137,'fr'), (138,'fr'), (139,'es'), (140,'fr'), (141,'zh'),
         |   (142,'fr'), (143,'fr'), (144,'fr'), (145,'de'), (146,'fr'),
         |   (147,'en'), (148,'en'), (149,'es'), (150,'fr'), (151,'fr'),
         |   (152,'en'), (153,'es'), (154,'zh'), (155,'fr'), (156,'fr'),
         |   (157,'es'), (158,'zh'), (159,'fr'), (160,'de'), (161,'fr'),
         |   (162,'fr'), (163,'fr'), (164,'fr'), (165,'zh'), (166,'fr'),
         |   (167,'en'), (168,'zh'), (169,'zh'), (170,'zh'), (171,'fr'),
         |   (172,'es'), (173,'fr'), (174,'fr'), (175,'zh'), (176,'es'),
         |   (177,'fr'), (178,'en'), (179,'fr'), (180,'zh'), (181,'zh'),
         |   (182,'fr'), (183,'es'), (184,'fr'), (185,'fr'), (186,'fr'),
         |   (187,'zh'), (188,'fr'), (189,'zh'), (190,'zh'), (191,'es'),
         |   (192,'fr'), (193,'zh'), (194,'fr'), (195,'fr'), (196,'fr'),
         |   (197,'fr'), (198,'es'), (199,'fr'), (200,'fr'), (201,'fr'),
         |   (202,'fr'), (203,'fr'), (204,'fr'), (205,'fr'), (206,'fr'),
         |   (207,'fr'), (208,'fr'), (209,'fr'), (210,'fr'), (211,'zh'),
         |   (212,'fr'), (213,'fr'), (214,'en'), (215,'fr'), (216,'zh'),
         |   (217,'fr'), (218,'fr'), (219,'zh'), (220,'fr'), (221,'fr'),
         |   (222,'en'), (223,'fr'), (224,'zh'), (225,'fr'), (226,'fr'),
         |   (227,'fr'), (228,'fr'), (229,'fr'), (230,'fr'), (231,'fr'),
         |   (232,'fr'), (233,'fr'), (234,'fr'), (235,'de'), (236,'fr'),
         |   (237,'zh'), (238,'fr'), (239,'zh'), (240,'fr'), (241,'fr'),
         |   (242,'fr'), (243,'fr'), (244,'fr'), (245,'zh'), (246,'en'),
         |   (247,'fr'), (248,'fr'), (249,'fr'), (250,'en'), (251,'fr'),
         |   (252,'fr'), (253,'fr'), (254,'fr'), (255,'zh'), (256,'fr'),
         |   (257,'en'), (258,'fr'), (259,'en'), (260,'fr'), (261,'fr'),
         |   (262,'fr'), (263,'zh'), (264,'fr'), (265,'fr'), (266,'fr'),
         |   (267,'fr'), (268,'en'), (269,'fr'), (270,'fr'), (271,'zh'),
         |   (272,'fr'), (273,'fr'), (274,'fr'), (275,'zh'), (276,'fr'),
         |   (277,'fr'), (278,'fr'), (279,'fr'), (280,'fr'), (281,'fr'),
         |   (282,'fr'), (283,'fr'), (284,'es'), (285,'fr'), (286,'fr'),
         |   (287,'en'), (288,'zh'), (289,'fr'), (290,'zh'), (291,'fr'),
         |   (292,'fr'), (293,'zh'), (294,'fr'), (295,'fr'), (296,'fr'),
         |   (297,'zh'), (298,'fr'), (299,'fr'), (300,'fr'), (301,'fr'),
         |   (302,'fr'), (303,'fr'), (304,'fr'), (305,'en'), (306,'en'),
         |   (307,'fr'), (308,'zh'), (309,'zh'), (310,'zh'), (311,'zh'),
         |   (312,'fr'), (313,'es'), (314,'fr'), (315,'fr'), (316,'fr'),
         |   (317,'de'), (318,'fr'), (319,'fr'), (320,'fr'), (321,'fr'),
         |   (322,'zh'), (323,'fr'), (324,'fr'), (325,'fr'), (326,'fr'),
         |   (327,'fr'), (328,'fr'), (329,'fr'), (330,'fr'), (331,'fr'),
         |   (332,'fr'), (333,'fr'), (334,'fr'), (335,'fr'), (336,'fr'),
         |   (337,'fr'), (338,'fr'), (339,'fr'), (340,'zh'), (341,'fr'),
         |   (342,'en'), (343,'es'), (344,'fr'), (345,'fr'), (346,'fr'),
         |   (347,'fr'), (348,'zh'), (349,'es'), (350,'fr'), (351,'fr'),
         |   (352,'fr'), (353,'de'), (354,'fr'), (355,'zh'), (356,'fr'),
         |   (357,'zh'), (358,'es'), (359,'es'), (360,'zh'), (361,'fr'),
         |   (362,'fr'), (363,'fr'), (364,'fr'), (365,'es'), (366,'fr'),
         |   (367,'fr'), (368,'es'), (369,'es'), (370,'es'), (371,'fr'),
         |   (372,'fr'), (373,'fr'), (374,'fr'), (375,'fr'), (376,'fr'),
         |   (377,'zh'), (378,'fr'), (379,'fr'), (380,'fr'), (381,'zh'),
         |   (382,'fr'), (383,'fr'), (384,'de'), (385,'zh'), (386,'fr'),
         |   (387,'fr'), (388,'fr'), (389,'zh'), (390,'fr'), (391,'fr'),
         |   (392,'fr'), (393,'fr'), (394,'zh'), (395,'zh'), (396,'fr'),
         |   (397,'zh'), (398,'fr'), (399,'fr'), (400,'de'), (401,'fr'),
         |   (402,'zh'), (403,'zh'), (404,'fr'), (405,'fr'), (406,'de'),
         |   (407,'fr'), (408,'es'), (409,'fr'), (410,'fr'), (411,'fr'),
         |   (412,'fr'), (413,'fr'), (414,'fr'), (415,'zh'), (416,'fr'),
         |   (417,'fr'), (418,'fr'), (419,'zh'), (420,'fr'), (421,'fr'),
         |   (422,'zh'), (423,'fr'), (424,'fr'), (425,'fr'), (426,'fr'),
         |   (427,'fr'), (428,'fr'), (429,'fr'), (430,'zh'), (431,'fr'),
         |   (432,'zh'), (433,'zh'), (434,'fr'), (435,'fr'), (436,'zh'),
         |   (437,'fr'), (438,'fr'), (439,'es'), (440,'de'), (441,'zh'),
         |   (442,'fr'), (443,'fr'), (444,'fr'), (445,'fr'), (446,'fr'),
         |   (447,'fr'), (448,'fr'), (449,'fr'), (450,'fr'), (451,'fr'),
         |   (452,'fr'), (453,'fr'), (454,'zh'), (455,'fr'), (456,'en'),
         |   (457,'fr'), (458,'zh'), (459,'fr'), (460,'fr'), (461,'fr'),
         |   (462,'zh'), (463,'fr'), (464,'zh'), (465,'zh'), (466,'fr'),
         |   (467,'en'), (468,'fr'), (469,'de'), (470,'fr'), (471,'fr'),
         |   (472,'zh'), (473,'fr'), (474,'fr'), (475,'en'), (476,'fr'),
         |   (477,'fr'), (478,'fr'), (479,'fr'), (480,'fr'), (481,'fr'),
         |   (482,'fr'), (483,'es'), (484,'zh'), (485,'fr'), (486,'fr'),
         |   (487,'fr'), (488,'zh'), (489,'zh'), (490,'fr'), (491,'fr'),
         |   (492,'zh'), (493,'fr'), (494,'fr'), (495,'fr'), (496,'fr'),
         |   (497,'fr'), (498,'fr'), (499,'zh')) v(id, l)""".stripMargin,
      "SELECT CAST(col0 AS BIGINT) AS doc_id, " +
        "col1 AS lang_model FROM (VALUES " +
    Pins.resource("langid_model_sf01.txt") + ") t",
      "SELECT CAST(col0 AS BIGINT) AS doc_id, " +
        "col1 AS lang_model FROM (VALUES " +
    """(0,'fr'),(1,'fr'),(2,'fr'),(3,'zh'),(4,'zh'),(5,'fr'),
      |(6,'fr'),(7,'zh'),(8,'fr'),(9,'de'),(10,'fr'),(11,'fr'),
      |(12,'de'),(13,'fr'),(14,'fr'),(15,'fr'),(16,'fr'),
      |(17,'fr'),(18,'fr'),(19,'zh'),(20,'fr'),(21,'fr'),
      |(22,'fr'),(23,'fr'),(24,'fr'),(25,'fr'),(26,'fr'),
      |(27,'fr'),(28,'zh'),(29,'fr'),(30,'fr'),(31,'fr'),
      |(32,'fr'),(33,'fr'),(34,'fr'),(35,'fr'),(36,'fr'),
      |(37,'de'),(38,'fr'),(39,'fr'),(40,'es'),(41,'fr'),
      |(42,'fr'),(43,'fr'),(44,'fr'),(45,'zh'),(46,'es'),
      |(47,'fr'),(48,'fr'),(49,'zh'),(50,'fr'),(51,'fr'),
      |(52,'fr'),(53,'en'),(54,'zh'),(55,'fr'),(56,'fr'),
      |(57,'fr'),(58,'fr'),(59,'es'),(60,'fr'),(61,'en'),
      |(62,'fr'),(63,'fr'),(64,'fr'),(65,'fr'),(66,'de'),
      |(67,'zh'),(68,'en'),(69,'zh'),(70,'fr'),(71,'zh'),
      |(72,'fr'),(73,'en'),(74,'fr'),(75,'fr'),(76,'fr'),
      |(77,'fr'),(78,'fr'),(79,'es'),(80,'fr'),(81,'es'),
      |(82,'zh'),(83,'zh'),(84,'zh'),(85,'zh'),(86,'fr'),
      |(87,'fr'),(88,'en'),(89,'fr'),(90,'fr'),(91,'fr'),
      |(92,'fr'),(93,'en'),(94,'de'),(95,'zh'),(96,'zh'),
      |(97,'fr'),(98,'fr'),(99,'fr'),(100,'fr'),(101,'fr'),
      |(102,'en'),(103,'zh'),(104,'fr'),(105,'fr'),(106,'fr'),
      |(107,'fr'),(108,'fr'),(109,'zh'),(110,'es'),(111,'fr'),
      |(112,'fr'),(113,'fr'),(114,'fr'),(115,'fr'),(116,'es'),
      |(117,'fr'),(118,'fr'),(119,'fr'),(120,'fr'),(121,'es'),
      |(122,'de'),(123,'es'),(124,'fr'),(125,'fr'),(126,'zh'),
      |(127,'fr'),(128,'fr'),(129,'fr'),(130,'fr'),(131,'fr'),
      |(132,'en'),(133,'fr'),(134,'fr'),(135,'fr'),(136,'fr'),
      |(137,'zh'),(138,'zh'),(139,'fr'),(140,'fr'),(141,'fr'),
      |(142,'fr'),(143,'zh'),(144,'fr'),(145,'es'),(146,'fr'),
      |(147,'en'),(148,'fr'),(149,'fr'),(150,'zh'),(151,'fr'),
      |(152,'en'),(153,'fr'),(154,'fr'),(155,'zh'),(156,'fr'),
      |(157,'fr'),(158,'fr'),(159,'zh'),(160,'fr'),(161,'fr'),
      |(162,'fr'),(163,'fr'),(164,'es'),(165,'fr'),(166,'en'),
      |(167,'fr'),(168,'fr'),(169,'zh'),(170,'fr'),(171,'de'),
      |(172,'fr'),(173,'fr'),(174,'fr'),(175,'en'),(176,'fr'),
      |(177,'fr'),(178,'fr'),(179,'fr'),(180,'zh'),(181,'fr'),
      |(182,'en'),(183,'fr'),(184,'fr'),(185,'fr'),(186,'fr'),
      |(187,'fr'),(188,'fr'),(189,'fr'),(190,'fr'),(191,'fr'),
      |(192,'fr'),(193,'zh'),(194,'fr'),(195,'en'),(196,'en'),
      |(197,'fr'),(198,'fr'),(199,'fr'),(200,'zh'),(201,'fr'),
      |(202,'es'),(203,'zh'),(204,'zh'),(205,'fr'),(206,'zh'),
      |(207,'fr'),(208,'fr'),(209,'fr'),(210,'fr'),(211,'fr'),
      |(212,'fr'),(213,'fr'),(214,'zh'),(215,'fr'),(216,'fr'),
      |(217,'fr'),(218,'zh'),(219,'de'),(220,'de'),(221,'fr'),
      |(222,'fr'),(223,'zh'),(224,'fr'),(225,'fr'),(226,'es'),
      |(227,'fr'),(228,'es'),(229,'fr'),(230,'fr'),(231,'fr'),
      |(232,'fr'),(233,'zh'),(234,'fr'),(235,'fr'),(236,'fr'),
      |(237,'fr'),(238,'fr'),(239,'fr'),(240,'zh'),(241,'es'),
      |(242,'zh'),(243,'fr'),(244,'fr'),(245,'zh'),(246,'fr'),
      |(247,'fr'),(248,'fr'),(249,'fr'),(250,'fr'),(251,'fr'),
      |(252,'zh'),(253,'fr'),(254,'fr'),(255,'fr'),(256,'en'),
      |(257,'de'),(258,'zh'),(259,'fr'),(260,'en'),(261,'fr'),
      |(262,'en'),(263,'fr'),(264,'en'),(265,'zh'),(266,'fr'),
      |(267,'fr'),(268,'zh'),(269,'fr'),(270,'fr'),(271,'zh'),
      |(272,'fr'),(273,'fr'),(274,'fr'),(275,'zh'),(276,'fr'),
      |(277,'fr'),(278,'en'),(279,'fr'),(280,'fr'),(281,'fr'),
      |(282,'fr'),(283,'fr'),(284,'fr'),(285,'fr'),(286,'es'),
      |(287,'fr'),(288,'fr'),(289,'fr'),(290,'fr'),(291,'fr'),
      |(292,'zh'),(293,'zh'),(294,'en'),(295,'fr'),(296,'fr'),
      |(297,'fr'),(298,'fr'),(299,'de'),(300,'fr'),(301,'fr'),
      |(302,'fr'),(303,'fr'),(304,'fr'),(305,'en'),(306,'fr'),
      |(307,'zh'),(308,'zh'),(309,'fr'),(310,'fr'),(311,'de'),
      |(312,'en'),(313,'es'),(314,'zh'),(315,'fr'),(316,'zh'),
      |(317,'en'),(318,'zh'),(319,'zh'),(320,'fr'),(321,'fr'),
      |(322,'fr'),(323,'fr'),(324,'en'),(325,'fr'),(326,'fr'),
      |(327,'zh'),(328,'fr'),(329,'fr'),(330,'fr'),(331,'zh'),
      |(332,'fr'),(333,'de'),(334,'fr'),(335,'fr'),(336,'fr'),
      |(337,'en'),(338,'fr'),(339,'fr'),(340,'fr'),(341,'zh'),
      |(342,'fr'),(343,'en'),(344,'zh'),(345,'fr'),(346,'zh'),
      |(347,'de'),(348,'fr'),(349,'fr'),(350,'fr'),(351,'fr'),
      |(352,'fr'),(353,'zh'),(354,'zh'),(355,'fr'),(356,'fr'),
      |(357,'fr'),(358,'fr'),(359,'fr'),(360,'fr'),(361,'zh'),
      |(362,'en'),(363,'fr'),(364,'fr'),(365,'fr'),(366,'es'),
      |(367,'fr'),(368,'de'),(369,'fr'),(370,'fr'),(371,'fr'),
      |(372,'fr'),(373,'fr'),(374,'fr'),(375,'fr'),(376,'fr'),
      |(377,'es'),(378,'fr'),(379,'fr'),(380,'fr'),(381,'fr'),
      |(382,'zh'),(383,'en'),(384,'fr'),(385,'fr'),(386,'fr'),
      |(387,'fr'),(388,'fr'),(389,'zh'),(390,'fr'),(391,'en'),
      |(392,'fr'),(393,'fr'),(394,'fr'),(395,'en'),(396,'fr'),
      |(397,'fr'),(398,'fr'),(399,'fr'),(400,'fr'),(401,'fr'),
      |(402,'fr'),(403,'zh'),(404,'fr'),(405,'fr'),(406,'fr'),
      |(407,'fr'),(408,'fr'),(409,'fr'),(410,'fr'),(411,'fr'),
      |(412,'zh'),(413,'zh'),(414,'en'),(415,'fr'),(416,'fr'),
      |(417,'zh'),(418,'es'),(419,'fr'),(420,'fr'),(421,'fr'),
      |(422,'fr'),(423,'fr'),(424,'fr'),(425,'fr'),(426,'fr'),
      |(427,'es'),(428,'fr'),(429,'es'),(430,'fr'),(431,'fr'),
      |(432,'fr'),(433,'fr'),(434,'fr'),(435,'fr'),(436,'fr'),
      |(437,'fr'),(438,'fr'),(439,'fr'),(440,'fr'),(441,'fr'),
      |(442,'fr'),(443,'fr'),(444,'fr'),(445,'zh'),(446,'fr'),
      |(447,'fr'),(448,'fr'),(449,'en'),(450,'fr'),(451,'fr'),
      |(452,'fr'),(453,'fr'),(454,'en'),(455,'fr'),(456,'fr'),
      |(457,'fr'),(458,'fr'),(459,'fr'),(460,'fr'),(461,'fr'),
      |(462,'fr'),(463,'zh'),(464,'fr'),(465,'fr'),(466,'zh'),
      |(467,'es'),(468,'fr'),(469,'fr'),(470,'fr'),(471,'de'),
      |(472,'fr'),(473,'fr'),(474,'fr'),(475,'fr'),(476,'es'),
      |(477,'en'),(478,'fr'),(479,'fr'),(480,'es'),(481,'es'),
      |(482,'fr'),(483,'fr'),(484,'es'),(485,'fr'),(486,'fr'),
      |(487,'zh'),(488,'fr'),(489,'fr'),(490,'en'),(491,'fr'),
      |(492,'fr'),(493,'en'),(494,'fr'),(495,'fr'),(496,'fr'),
      |(497,'es'),(498,'fr'),(499,'fr')""".stripMargin.replace("\n", " ") + ") t")),
    "text_langid" -> {
      val scores = TextFns.langMarkers.map { case (l, _) =>
        s"(${langScoreSql(l)}) AS score_$l"
      }
      val maxE = TextFns.langMarkers
        .map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
      val caseE = TextFns.langMarkers.reverse
        .foldLeft("'und'") { case (acc, (l, _)) =>
          s"CASE WHEN $maxE > 0 AND score_$l = $maxE THEN '$l' ELSE $acc END"
        }
      s"""WITH scored AS (
         |  SELECT doc_id, ${scores.mkString(",\n    ")}
         |  FROM documents)
         |SELECT doc_id,
         |  ${TextFns.langMarkers.map { case (l, _) => s"CAST(score_$l AS INT) AS score_$l" }.mkString(", ")},
         |  $caseE AS lang_pred
         |FROM scored""".stripMargin
    },
    "text_quality" -> {
      val nWords = "len(list_filter(string_split(text, ' '), t -> len(t) > 0))"
      val stops = TextFns.stopwords.map(tokCount).mkString(" + ")
      val punct =
        "CASE WHEN len(text) = 0 THEN 0.0 ELSE CAST(len(text) - " +
          "len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) " +
          "/ CAST(len(text) AS DOUBLE) END"
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CAST(len(text) AS INT) AS n_chars,
         |    CAST($nWords AS INT) AS n_words,
         |    $punct AS punct_ratio,
         |    CASE WHEN $nWords = 0 THEN 0.0
         |         ELSE CAST(($stops) AS DOUBLE) / CAST($nWords AS DOUBLE)
         |    END AS stopword_ratio
         |  FROM documents)
         |SELECT doc_id, n_chars, n_words, punct_ratio, stopword_ratio,
         |  (CAST(least(n_words, 100) AS DOUBLE) / 100.0
         |   + least(stopword_ratio * 5.0, 1.0)
         |   + (1.0 - punct_ratio)) / 3.0 AS quality_score
         |FROM base""".stripMargin
    },
    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0))
        |    AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))
        |    AS INT) AS bpeish_tokens
        |FROM documents""".stripMargin,
    "text_strip_html" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><style>p{color:red}</style>' ||
        |    '<script>var a=1;</script></head><body><p class="x">' ||
        |    text ||
        |    '</p><!-- note --> &amp; &lt;tail&gt;&nbsp;end' ||
        |    '</body></html>' AS s
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    s,
        |    '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
        |    '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
        |    '(?s)<!--.*?-->', ' ', 'g'),
        |    '(?s)<[^>]+>', ' ', 'g') AS t
        |  FROM h),
        |d AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  regexp_replace(regexp_replace(regexp_replace(
        |    t,
        |    '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
        |    '&lt;', '<', 'g'), '&gt;', '>', 'g'),
        |    '&quot;', '"', 'g'), '&#39;', CHR(39), 'g'),
        |    '&apos;', CHR(39), 'g') AS t
        |  FROM c)
        |SELECT doc_id,
        |  trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean_text
        |FROM d""".stripMargin,
    "text_normalize" ->
      """SELECT doc_id,
        |  nfc_normalize(text || ' e' || chr(769)) AS nfc_text
        |FROM documents""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        regexp_extract_all(regexp_replace(text, '[^ -~]', '', 'g'), '.'),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 131 + c) % 1000000007) AS fingerprint
        |FROM documents""".stripMargin,
    "dedup_exact" ->
      """SELECT sha256(text) AS text_hash, min(doc_id) AS keep_doc_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "text_word_stats" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS w
        |  FROM documents),
        |freq AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
        |agg AS (SELECT doc_id, sum(c) AS n_words, count(*) AS n_distinct,
        |               max(c) AS top_freq FROM freq GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n_words, 0) AS INT) AS n_words,
        |  CAST(coalesce(a.n_distinct, 0) AS INT) AS n_distinct,
        |  CAST(coalesce(a.top_freq, 0) AS INT) AS top_freq,
        |  CASE WHEN coalesce(a.n_words, 0) = 0 THEN 0.0
        |       ELSE CAST(a.n_distinct AS DOUBLE) / CAST(a.n_words AS DOUBLE)
        |  END AS ttr,
        |  CASE WHEN coalesce(a.n_words, 0) = 0 THEN 0.0
        |       ELSE CAST(a.top_freq AS DOUBLE) / CAST(a.n_words AS DOUBLE)
        |  END AS top_ratio
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,
    // contamination/cross oracles join on shingle STRINGS where the
    // Spark side joins on their xxhash64 values — identical results
    // modulo 64-bit hash collisions (~n_distinct²/2^65, the same
    // contract as dedup_jaccard's hash-gated pair join).
    "text_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    w[i.gs] || ' ' || w[i.gs+1] || ' ' || w[i.gs+2] AS shingle
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1,
        |    greatest(len(w) - 2, 0))) AS gs) i),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0)
        |SELECT s.doc_id, CAST(count(*) AS INT) AS n_sh,
        |  CAST(count(b.shingle) AS INT) AS n_hit,
        |  CAST(count(b.shingle) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS contamination
        |FROM sh s LEFT JOIN bench b ON s.shingle = b.shingle
        |WHERE s.doc_id % 10 <> 0
        |GROUP BY 1""".stripMargin,
    "dedup_cross" -> crossOracleSql,
    // the persistent-index form computes the SAME pair set — one
    // oracle, two execution paths (in-memory sweep vs lake index)
    "dedup_index_cross" -> crossOracleSql,
    "dedup_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    w[i.gs] || ' ' || w[i.gs+1] || ' ' || w[i.gs+2] AS shingle
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1,
        |    greatest(len(w) - 2, 0))) AS gs) i),
        |card AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |  FROM sh a JOIN sh b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id1, id2, inter, ca.n_sh AS n1, cb.n_sh AS n2,
        |  CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) AS jaccard
        |FROM pairs
        |JOIN card ca ON id1 = ca.doc_id
        |JOIN card cb ON id2 = cb.doc_id
        |WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= 0.5""".stripMargin,
    // dedup_minhash is hash-gated against the EXACT high-Jaccard pair
    // set: the LSH banding is only a candidate generator (engine-
    // specific xxhash buckets), but its output is the exact-verified
    // pairs, and on this corpus every qualifying pair has jaccard >=
    // 0.9 — the probability a 16-band/4-row signature misses such a
    // pair is (1 - 0.9^4)^16 ~ 1e-8, so the exact join IS the oracle.
    // Both engines compute jaccard as one double division of the same
    // exact integers (bit-identical).
    // Composite pipeline oracle: the same four stages chained in SQL.
    // The quality formula and ws_tokens mirror the text_quality /
    // text_tokens oracles (both hash-gated, so the 0.55 gate compares
    // bit-identical doubles); near-dup pairs use the exact-Jaccard
    // join (= the MinHash output, see dedup_minhash).
    "pipe_clean_corpus" -> {
      val nWords = "len(list_filter(string_split(text, ' '), t -> len(t) > 0))"
      val stops = TextFns.stopwords.map(tokCount).mkString(" + ")
      val punct =
        "CASE WHEN len(text) = 0 THEN 0.0 ELSE CAST(len(text) - " +
          "len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) " +
          "/ CAST(len(text) AS DOUBLE) END"
      s"""WITH base AS (
         |  SELECT doc_id, text,
         |    (CAST(least($nWords, 100) AS DOUBLE) / 100.0
         |     + least((CASE WHEN $nWords = 0 THEN 0.0
         |              ELSE CAST(($stops) AS DOUBLE) / CAST($nWords AS DOUBLE)
         |              END) * 5.0, 1.0)
         |     + (1.0 - $punct)) / 3.0 AS quality_score
         |  FROM documents),
         |q AS (SELECT * FROM base WHERE quality_score >= 0.55),
         |uniq AS (
         |  SELECT doc_id, text, quality_score FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY sha256(text) ORDER BY doc_id) AS rn FROM q)
         |  WHERE rn = 1),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM uniq),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    w[i.gs] || ' ' || w[i.gs+1] || ' ' || w[i.gs+2] AS shingle
         |  FROM toks, LATERAL (SELECT unnest(generate_series(1,
         |    greatest(len(w) - 2, 0))) AS gs) i),
         |card AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
         |  FROM sh a JOIN sh b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |losers AS (
         |  SELECT DISTINCT id2 FROM pairs
         |  JOIN card ca ON id1 = ca.doc_id
         |  JOIN card cb ON id2 = cb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= 0.5)
         |SELECT u.doc_id,
         |  CAST($nWords AS INT) AS ws_tokens,
         |  u.quality_score
         |FROM uniq u
         |WHERE u.doc_id NOT IN (SELECT id2 FROM losers)""".stripMargin
    },
    // SimHash oracle: replays the portable 60-bit fingerprint exactly —
    // per token two polynomial rolling hashes over the printable-ASCII
    // projection (the text_fingerprint arithmetic, already hash-gated),
    // combined as h1 * 2^30 + h2, then the +1/-1 bit votes, the 15-bit
    // pigeonhole chunk join, and the exact Hamming verify.
    "dedup_simhash" -> {
      def poly(base: Int, mod: Long): String =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |      list_transform(regexp_extract_all(regexp_replace(t, '[^ -~]', '', 'g'), '.'),
           |        c -> CAST(ascii(c) AS BIGINT))),
           |      (h, c) -> (h * $base + c) % $mod)""".stripMargin
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
         |  FROM documents),
         |hs AS (
         |  SELECT doc_id, list_transform(w, t ->
         |    ${poly(131, 1000000007L)} * 1073741824
         |    + ${poly(137, 998244353L)}) AS hh
         |  FROM toks),
         |fp AS (
         |  SELECT doc_id, CAST(COALESCE(list_sum(list_transform(range(60), j ->
         |    CASE WHEN COALESCE(list_sum(list_transform(hh, h ->
         |        CASE WHEN ((h >> CAST(j AS INT)) & 1) = 1 THEN 1 ELSE -1 END)), 0) > 0
         |      THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END)), 0) AS BIGINT) AS fp
         |  FROM hs),
         |ch AS (
         |  SELECT doc_id, fp, i.c AS chunk_idx, (fp >> (i.c * 15)) & 32767 AS chunk_val
         |  FROM fp, LATERAL (SELECT unnest([0, 1, 2, 3]) AS c) i),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.fp AS f1, b.fp AS f2
         |  FROM ch a JOIN ch b
         |    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
         |   AND a.doc_id < b.doc_id)
         |SELECT id1, id2, CAST(bit_count(xor(f1, f2)) AS INT) AS hamming_dist
         |FROM pairs
         |WHERE bit_count(xor(f1, f2)) <= 3""".stripMargin
    },
    // PRODUCTION-config replays (r15): unlike dedup_minhash's
    // exact-pair oracle, these replay the full capped chain — the
    // ban census decides WHICH shingles leave the signature input,
    // the bucket census WHICH buckets drop — so caps that lose pairs
    // are replayed losing exactly those pairs. Verified match at
    // sf0.001/0.01/0.1 during construction (9/9 exact).
    "dedup_minhash_capped" ->
      (cappedChainSql(sigMaxDf = 5, maxBucket = 3) +
        s""",
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           |  FROM bb a JOIN bb b
           |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           |inter AS (
           |  SELECT c.id1, c.id2, count(*) AS inter
           |  FROM cand c JOIN sh x ON x.doc_id = c.id1
           |              JOIN sh y ON y.doc_id = c.id2 AND y.h = x.h
           |  GROUP BY 1, 2)
           |SELECT i.id1, i.id2,
           |  CAST(i.inter AS DOUBLE) / (ca.n_sh + cb.n_sh - i.inter) AS jaccard
           |FROM inter i JOIN card ca ON i.id1 = ca.doc_id
           |             JOIN card cb ON i.id2 = cb.doc_id
           |WHERE CAST(i.inter AS DOUBLE) / (ca.n_sh + cb.n_sh - i.inter) >= 0.5""".stripMargin),
    // r16 auto-dial replay: same tail as dedup_minhash_capped, ban
    // set resolved from the census against the candidate budget
    "dedup_minhash_budget" ->
      (budgetChainSql(budget = 13000L, maxBucket = 3) +
        s""",
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           |  FROM bb a JOIN bb b
           |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           |inter AS (
           |  SELECT c.id1, c.id2, count(*) AS inter
           |  FROM cand c JOIN sh x ON x.doc_id = c.id1
           |              JOIN sh y ON y.doc_id = c.id2 AND y.h = x.h
           |  GROUP BY 1, 2)
           |SELECT i.id1, i.id2,
           |  CAST(i.inter AS DOUBLE) / (ca.n_sh + cb.n_sh - i.inter) AS jaccard
           |FROM inter i JOIN card ca ON i.id1 = ca.doc_id
           |             JOIN card cb ON i.id2 = cb.doc_id
           |WHERE CAST(i.inter AS DOUBLE) / (ca.n_sh + cb.n_sh - i.inter) >= 0.5""".stripMargin),
    "dedup_cross_capped" ->
      (cappedChainSql(sigMaxDf = 5, maxBucket = 3) +
        s""",
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS base_id, b.doc_id AS probe_id
           |  FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket
           |  WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0),
           |inter AS (
           |  SELECT c.base_id, c.probe_id, count(*) AS inter
           |  FROM cand c JOIN sh x ON x.doc_id = c.base_id
           |              JOIN sh y ON y.doc_id = c.probe_id AND y.h = x.h
           |  GROUP BY 1, 2)
           |SELECT i.base_id, i.probe_id,
           |  CAST(i.inter AS DOUBLE) / (ca.n_sh + cb.n_sh - i.inter) AS jaccard
           |FROM inter i JOIN card ca ON i.base_id = ca.doc_id
           |             JOIN card cb ON i.probe_id = cb.doc_id
           |WHERE CAST(i.inter AS DOUBLE) / (ca.n_sh + cb.n_sh - i.inter) >= 0.5""".stripMargin),
    // G18 persisted-index production config: same replay with the ban
    // census scoped to the BUILD corpus (base side) — the frozen-ban
    // G18 geometry — and the combined-membership bucket cap.
    "dedup_index_cross_capped" ->
      (cappedChainSql(sigMaxDf = 5, maxBucket = 3,
        censusWhere = "WHERE doc_id % 10 <> 0") +
        s""",
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS base_id, b.doc_id AS probe_id
           |  FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket
           |  WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0),
           |inter AS (
           |  SELECT c.base_id, c.probe_id, count(*) AS inter
           |  FROM cand c JOIN sh x ON x.doc_id = c.base_id
           |              JOIN sh y ON y.doc_id = c.probe_id AND y.h = x.h
           |  GROUP BY 1, 2)
           |SELECT i.base_id, i.probe_id,
           |  CAST(i.inter AS DOUBLE) / (ca.n_sh + cb.n_sh - i.inter) AS jaccard
           |FROM inter i JOIN card ca ON i.base_id = ca.doc_id
           |             JOIN card cb ON i.probe_id = cb.doc_id
           |WHERE CAST(i.inter AS DOUBLE) / (ca.n_sh + cb.n_sh - i.inter) >= 0.5""".stripMargin),
    // nGram=3 + hot-bucket-cap SimHash (the r14 Zipf production
    // fixes) — the dedup_simhash replay with windowed features
    // (duplicates kept, short docs fall back to the whole token
    // array) and the chunk-bucket cap census.
    "dedup_simhash_ngram" -> {
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
         |  FROM documents),
         |feats AS (
         |  SELECT doc_id, CASE WHEN len(w) >= 3
         |    THEN list_transform(range(1, len(w) - 1),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         |    ELSE [array_to_string(w, ' ')] END AS fs
         |  FROM toks),
         |hs AS (SELECT doc_id, list_transform(fs, t ->
         |    ${portablePoly("t", 131, 1000000007L)} * 1073741824
         |    + ${portablePoly("t", 137, 998244353L)}) AS hh
         |  FROM feats),
         |fp AS (
         |  SELECT doc_id, CAST(COALESCE(list_sum(list_transform(range(60), j ->
         |    CASE WHEN COALESCE(list_sum(list_transform(hh, h ->
         |        CASE WHEN ((h >> CAST(j AS INT)) & 1) = 1 THEN 1 ELSE -1 END)), 0) > 0
         |      THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END)), 0) AS BIGINT) AS fp
         |  FROM hs),
         |ch AS (
         |  SELECT doc_id, fp, i.c AS chunk_idx, (fp >> (i.c * 15)) & 32767 AS chunk_val
         |  FROM fp, LATERAL (SELECT unnest([0, 1, 2, 3]) AS c) i),
         |ok AS (SELECT chunk_idx, chunk_val FROM ch GROUP BY 1, 2
         |       HAVING count(*) <= 2),
         |cc AS (SELECT c.* FROM ch c JOIN ok USING (chunk_idx, chunk_val)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.fp AS f1, b.fp AS f2
         |  FROM cc a JOIN cc b
         |    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
         |   AND a.doc_id < b.doc_id)
         |SELECT id1, id2, CAST(bit_count(xor(f1, f2)) AS INT) AS hamming_dist
         |FROM pairs
         |WHERE bit_count(xor(f1, f2)) <= 3""".stripMargin
    },
    "dedup_minhash" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    w[i.gs] || ' ' || w[i.gs+1] || ' ' || w[i.gs+2] AS shingle
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1,
        |    greatest(len(w) - 2, 0))) AS gs) i),
        |card AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |  FROM sh a JOIN sh b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id1, id2,
        |  CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) AS jaccard
        |FROM pairs
        |JOIN card ca ON id1 = ca.doc_id
        |JOIN card cb ON id2 = cb.doc_id
        |WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= 0.5""".stripMargin
  )
}
