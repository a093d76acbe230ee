package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators over document text: segment-level
  * boilerplate removal (the line-dedup pass of web-crawl pipelines,
  * e.g. RefinedWeb/CCNet remove lines that repeat across many pages)
  * and TF-IDF salient-term extraction.
  *
  * The synthetic corpus is single-line text, so a "line" is
  * generalized to a fixed-width k-token segment — the operator shape
  * (global segment document-frequency → drop segments above a df
  * threshold → reassemble documents) is identical, and on real
  * multi-line data callers pass `split(text, '\n')` segments instead.
  *
  * Scale notes (100 TB):
  *  - the df aggregation exchanges only (segment-hash, doc-id) pairs
  *    (16 B/row), never segment text;
  *  - the boilerplate set (df >= threshold) is tiny next to the
  *    corpus; it broadcasts under a measured count guard so tagging
  *    segments is map-side, with a shuffle-join fallback past the
  *    bound (same discipline as text_contamination's bench set);
  *  - document reassembly is the single corpus-sized exchange,
  *    keyed by doc id.
  */
object Curation {

  /** Non-empty whitespace tokens. */
  private def toks(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /** Consecutive non-overlapping k-token segments of a document; the
    * trailing partial segment is kept. Empty documents yield an empty
    * array (no segments). One native pass per row
    * ([[graft.expressions.NativeKernels.tokenSegments]]); the
    * interpreted HOF form remains as [[segmentsReference]] with
    * parity spec-gated.
    */
  def segments(text: Column, k: Int): Column =
    graft.expressions.NativeKernels.tokenSegmentsCol(text, k)

  /** Declarative reference form of [[segments]]. */
  def segmentsReference(text: Column, k: Int): Column = {
    val w = toks(text)
    val nseg = floor((size(w) + lit(k - 1)).cast("double") / k).cast("int")
    when(size(w) === 0, typedLit(Array.empty[String]))
      .otherwise(transform(sequence(lit(0), nseg - 1),
        i => array_join(slice(w, i * k + 1, lit(k)), " ")))
  }

  /** Remove segments whose document frequency reaches `maxDf` and
    * reassemble each document from its kept segments (in order).
    * Output: (idCol, n_segments, n_removed, clean_text). Documents
    * with no segments (empty text) are dropped; documents whose every
    * segment is boilerplate keep an empty clean_text.
    *
    * Segments are matched by xxhash64 — two distinct segments collide
    * with probability ~n²/2^65 (the dedup_jaccard hash-join contract).
    */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, maxDf: Int = 3, cleanName: String = "clean_text",
      broadcastBound: Long = 2000000L): DataFrame = {
    // pin the exploded segment frame: it feeds BOTH the df count and
    // the tagging join — unpinned, the corpus is scanned and
    // segmented twice per call (the repo's one-scan discipline;
    // measured at sf0.1: 0.84s two-scan → 0.69s pinned, min-of-3)
    val seg = df
      .select(col(idCol), posexplode(segments(col(textCol), k))
        .as(Seq("seg_idx", "seg")))
      .withColumn("seg_h", xxhash64(col("seg")))
      .localCheckpoint()
    // keys-only df count: the exchange carries (hash, id), not text
    val boiler = seg.groupBy(col("seg_h"))
      .agg(countDistinct(col(idCol)).as("seg_df"))
      .filter(col("seg_df") >= maxDf)
      .select(col("seg_h"), lit(1).as("__boiler"))
      .localCheckpoint(eager = true)
    val boilerSide =
      if (boiler.count() <= broadcastBound) broadcast(boiler) else boiler
    seg.join(boilerSide, Seq("seg_h"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_segments"),
        count(col("__boiler")).cast("int").as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(col("__boiler").isNull,
            struct(col("seg_idx"), col("seg"))))),
          s => s.getField("seg")), " ").as(cleanName))
  }

  /** Remove LATER repeats of a segment within the same document — the
    * intra-document repetition trim (generated/boilerplate-padded
    * pages repeat their own content; training corpora cut the repeats
    * and keep the first occurrence). Output: (idCol, n_segments,
    * n_dropped, dedup_text).
    *
    * Scale: two exchanges — the occurrence window keys on
    * (doc, segment) and the reassembly on doc — both corpus-sized but
    * carrying segments exactly once; no join, no global state.
    */
  def dedupWithinDoc(df: DataFrame, idCol: String, textCol: String,
      k: Int = 2, outName: String = "dedup_text"): DataFrame = {
    val seg = df.select(col(idCol),
      posexplode(segments(col(textCol), k)).as(Seq("seg_idx", "seg")))
    val w = Window.partitionBy(col(idCol), col("seg"))
      .orderBy(col("seg_idx"))
    seg.withColumn("occ", row_number().over(w))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_segments"),
        count(when(col("occ") > 1, 1)).cast("int").as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("occ") === 1,
            struct(col("seg_idx"), col("seg"))))),
          s => s.getField("seg")), " ").as(outName))
  }

  /** Top-k salient terms per document by tf-idf. The idf factor is
    * the raw ratio n_docs/df rather than its logarithm: ln is not an
    * IEEE exactly-rounded operation, so log-weighted scores cannot be
    * hash-gated across engines (SURVEY §6 FP policy); the ratio
    * variant keeps every arithmetic step exact-then-one-rounding and
    * preserves the "rarer term, higher weight" ordering for fixed tf.
    *
    * Shape (one corpus-exchange fewer than the classic
    * explode-then-groupBy plan): tf comes from the
    * [[graft.expressions.NativeKernels.termFreqs]] map-side kernel —
    * all of a doc's tokens live in one row by construction, so
    * per-(doc,term) counts need NO exchange at all (the old plan
    * shuffled the full token stream into a groupBy(doc,term), twice,
    * because Catalyst re-plans a self-referenced subtree). df is one
    * term-keyed aggregation of those map-side tf rows (partial
    * combine, skew-safe); n_docs joins in as a broadcast 1-row
    * aggregate; the join back to tf is term-keyed (AQE handles
    * stopword skew at scale, the small dfreq side auto-broadcasts
    * locally); the final rank window gets WindowGroupLimit'd to ≤k
    * rows per doc per task before its exchange.
    */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
      topK: Int = 3): DataFrame = {
    // tf is consumed twice (df aggregation + the scored join back), so
    // Catalyst re-plans the subtree and the corpus is scanned+tokenized
    // twice. Recorded negative result: pinning tf with a
    // localCheckpoint (MinHashLsh.nearDuplicates' shingle-frame pin)
    // measured SLOWER (1.50s vs 0.91s at sf0.1) — the
    // materialize+reread cycle costs more than the second map-side
    // kernel pass, the same trade MinHashLsh.nearDuplicates recorded
    // for its unpinned band rows.
    val tf = df.select(col(idCol),
        explode(graft.expressions.NativeKernels.termFreqsCol(
          col(textCol))).as("t"))
      .select(col(idCol), col("t.term").as("term"),
        col("t.tf").cast("long").as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    // rank key tf/df orders identically to score = tf*n_docs/df
    // (positive constant factor) and is computable BEFORE the n_docs
    // join — so the 1-row broadcast join runs over ≤k rows per doc
    // instead of the whole (doc,term) stream. The oracle ranks by the
    // same tf/df expression so FP near-ties can't diverge.
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("rank_key").desc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .withColumn("rank_key", col("tf").cast("double") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast("double") * col("n_docs") / col("df"))
      .select(col(idCol), col("rank"), col("term"),
        col("tf").cast("int").as("tf"), col("df").cast("int").as("df"),
        col("score"))
  }

  /** Corpus-trained bigram language-model scoring — the
    * perplexity-filter step of web-crawl curation (CCNet filters on a
    * KenLM score; with zero external models the honest form trains an
    * add-α-smoothed bigram LM on the corpus ITSELF and scores each
    * document's average negative log-likelihood under it: outlier
    * docs — gibberish, wrong language, template noise — sit in the
    * tails of the score distribution either way).
    *
    * Model: P(w2 | w1) = (c(w1 w2) + α) / (c(w1·) + α·V) with
    * c(w1·) the history count (= Σ_w2 c(w1 w2), derived from the
    * bigram counts — no separate unigram scan) and V the continuation
    * vocabulary (distinct w2). Output per document:
    * (idCol, n_bigrams, avg_nll) where avg_nll is the mean of
    * -log2 P over the document's bigram occurrences; perplexity =
    * 2^avg_nll. Documents with fewer than 2 tokens carry n_bigrams 0
    * and null avg_nll (nothing to score — callers route them to the
    * length filter instead).
    *
    * Scale (100 TB): the bigram stream is derived once behind a
    * localCheckpoint and feeds training and scoring; counts never
    * broadcast (vocabulary scales with the corpus) — scoring is two
    * key joins, (w1,w2) then (w1), both AQE-skew-handled (the "the"
    * history is a hot key); V is one scalar aggregate. All arithmetic
    * is double; the per-doc sum folds the doc's distinct bigrams in
    * sorted order, so the output is bit-deterministic run to run
    * (pinned-VALUES hash gate at the driver SF) while cross-engine
    * validation stays tolerance-tier (tools/check.py — DuckDB sums
    * in its own order), like the trig-based geo outputs.
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.5): DataFrame = {
    val bigrams = df
      .select(col(idCol), toks(col(textCol)).as("w"))
      .select(col(idCol), explode(zip_with(
          slice(col("w"), lit(1), greatest(size(col("w")) - 1, lit(0))),
          slice(col("w"), lit(2), greatest(size(col("w")) - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .localCheckpoint()
    val biCounts = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    // history counts derived from the bigram counts (keys-only agg),
    // not a second corpus pass
    val histCounts = biCounts.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"))
    val vocab = biCounts.select(col("w2")).distinct()
      .agg(count(lit(1)).as("v"))
    // Per-doc DISTINCT bigrams first (integer counts — order-free),
    // then one nll per distinct bigram, then a per-doc SORTED fold:
    // (w1, w2) is unique within the group, so sort_array imposes a
    // total order and the weighted sum accumulates identically at any
    // CPU count / shuffle fetch order. That bit-determinism is what
    // lets the sf0.01 output pin as an exact VALUES oracle (the
    // pre-r13 shape avg'd over shuffled instance rows — correct, but
    // FP-order-nondeterministic, hence forever tolerance-only).
    // Per-doc state is bounded by the doc's own distinct bigrams
    // (≤ its token count) — same payload class as the text itself.
    //
    // r16 restructure (stage-profiled at the sf10 tier — 27M bigram
    // instances): (1) nll is a function of the DISTINCT bigram, so it
    // is computed on the corpus-stats frame (biCounts ⋈ histCounts ⋈
    // vocab — the small side) and the instance stream pays ONE
    // (w1,w2) join instead of two plus per-instance log arithmetic;
    // (2) the stream is hash-partitioned by doc id FIRST — doc-id
    // partitioning satisfies the (id, w1, w2) agg's clustering
    // (subset rule) AND the final per-doc fold's, so on a vocabulary
    // whose stats frame broadcasts (closed vocab; AQE decides from
    // measured size) the whole chain after the one repartition is
    // exchange-free, and on an open vocabulary the stats join
    // re-shuffles the stream once — one fewer stream-wide exchange
    // than the old shape either way. Same doubles, same sorted fold:
    // bit-identical output (exact VALUES oracle unchanged).
    val stats = biCounts
      .join(histCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        (-log2((col("c2") + lit(alpha)) /
          (col("c1") + lit(alpha) * col("v")))).as("nll"))
    val scored = bigrams
      .repartition(col(idCol))
      .groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      .join(stats, Seq("w1", "w2"))
      .select(col(idCol), col("cnt"), col("nll"), col("w1"), col("w2"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_bigrams"),
        sort_array(collect_list(struct(col("w1"), col("w2"),
          col("cnt"), col("nll")))).as("terms"))
      .select(col(idCol), col("n_bigrams"),
        (aggregate(col("terms"), lit(0.0),
          (acc, t) => acc + t.getField("cnt").cast("double") *
            t.getField("nll")) /
          col("n_bigrams").cast("double")).as("avg_nll"))
    // docs too short to form a bigram still get a row (n_bigrams 0)
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_nll"))
  }

  // ---- Cross-document exact-substring dedup (H13) ------------------
  // The ExactSubstr pass of "Deduplicating Training Data Makes
  // Language Models Better" (Lee et al. 2021): find maximal runs of
  // >= k consecutive tokens shared verbatim BETWEEN documents, then
  // excise the duplicated span from the later document. Differs from
  // ngramJaccard (set overlap, no positions) and MinHash (similarity,
  // not containment): a page quoting 200 tokens of another page is
  // caught here even when overall Jaccard is tiny.

  /** Rolling k-token window hashes of a text column, 0-indexed by
    * window start ([[graft.expressions.NativeKernels.spanHashes]] —
    * engine-portable double polynomial fold the oracle replays).
    */
  def spanHashes(text: Column, k: Int): Column =
    graft.expressions.NativeKernels.spanHashesCol(toks(text), k)

  /** Declarative reference form of [[spanHashes]] (spec parity). */
  def spanHashesReference(text: Column, k: Int): Column = {
    val th = transform(toks(text),
      t => graft.functions.TextFns.fingerprintReference(t))
    when(size(th) < k, typedLit(Array.empty[Long]))
      .otherwise(transform(sequence(lit(1), size(th) - (k - 1)), i =>
        aggregate(slice(th, i, lit(k)), lit(0L),
          (h, t) => (h * lit(10007L) + t) % lit(1000000007L))
          * lit(1000000009L)
          + aggregate(slice(th, i, lit(k)), lit(0L),
            (h, t) => (h * lit(10009L) + t) % lit(1000000009L))))
  }

  /** Maximal cross-document shared token runs: every (id1 < id2) pair
    * of documents sharing >= k consecutive tokens, one row per
    * maximal run — (id1, id2, start1, start2, len_tokens), 0-based
    * token offsets. Runs below `minLen` tokens are dropped.
    *
    * Shape: one corpus scan emits (doc, pos, window-hash) triples;
    * window hashes occurring in > `maxPostings` positions corpus-wide
    * are dropped as boilerplate BEFORE the self-join (the skew guard —
    * a ubiquitous k-gram would otherwise square; the filter set is
    * tiny and the semi-join broadcasts under AQE), as are singleton
    * hashes (nothing to pair with). The self-join on the 8-byte hash
    * yields positional matches; consecutive matches on one diagonal
    * (pos2 - pos1 constant) collapse to maximal runs with the
    * gaps-and-islands trick (pos1 - row_number is constant within a
    * run), and the run aggregation reuses the window's partitioning —
    * (id1,id2,d) hash-satisfies the (id1,id2,d,grp) clustering, so
    * detection costs the window sort's exchange, not two.
    *
    * Scale (100 TB): the exchanges carry (8-byte hash, id, pos)
    * triples — never text; candidate volume is bounded by true
    * sharing plus ~n²/2^60 hash collisions (two independent 30-bit
    * folds — see the kernel's Scaladoc); the posting cap bounds the
    * worst key. Ids must cast to long.
    */
  def sharedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minLen: Int = 8, maxPostings: Int = 1000): DataFrame = {
    require(minLen >= k, s"sharedSpans: minLen ($minLen) < k ($k)")
    val wins = df.select(col(idCol).cast("long").as("doc_id"),
        posexplode(spanHashes(col(textCol), k)).as(Seq("pos", "wh")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("wh"))
    val ok = wins.groupBy("wh").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2 && col("c") <= maxPostings)
      .select("wh")
    val w2 = wins.join(ok, Seq("wh"), "left_semi")
    val m = w2.as("a").join(w2.as("b"),
        col("a.wh") === col("b.wh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.pos").as("pos1"), col("b.pos").as("pos2"))
    m.withColumn("d", col("pos2") - col("pos1"))
      .withColumn("grp", col("pos1") - row_number().over(
        Window.partitionBy("id1", "id2", "d").orderBy("pos1")))
      .groupBy("id1", "id2", "d", "grp")
      .agg(min("pos1").as("start1"), min("pos2").as("start2"),
        (count(lit(1)) + lit(k - 1)).cast("long").as("len_tokens"))
      .filter(col("len_tokens") >= minLen)
      .select("id1", "id2", "start1", "start2", "len_tokens")
  }

  /** Duplicate-n-gram character fraction (the Gopher/RefinedWeb
    * repetition-rule family, distinct from [[graft.expressions
    * .NativeKernels.wordStats]]'s top-word ratio): the fraction of a
    * document's characters covered by n-grams occurring 2+ times
    * within it — the standard filter signal for template/generated
    * pages that loop their own content. One map-side kernel pass.
    */
  def dupNgramFraction(text: Column, n: Int): Column =
    graft.expressions.NativeKernels
      .dupNgramCharFractionCol(toks(text), n)

  /** Excise cross-document duplicated spans: for every shared run
    * found by [[sharedSpans]] (>= `minLen` tokens), the HIGHER-id
    * document loses the covered token range (the first occurrence —
    * lowest id — survives verbatim, the keep-first contract of exact
    * dedup). Returns (idCol, text): untouched documents keep their
    * original text byte-for-byte; trimmed documents are reassembled
    * from surviving tokens single-space joined (a doc whose every
    * token was duplicated keeps an empty string, never null).
    *
    * The per-doc interval set is run-count-sized (collect_list is
    * bounded by the doc's own shared runs); overlap merging and token
    * excision run in one native kernel pass
    * ([[graft.expressions.NativeKernels.removeTokenRanges]]); the
    * corpus pays one left join against the tiny trimmed-doc set.
    */
  def trimSharedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minLen: Int = 20, maxPostings: Int = 1000): DataFrame = {
    val iv = sharedSpans(df, idCol, textCol, k, minLen, maxPostings)
      .select(col("id2").as("__doc"), col("start2").as("s"),
        (col("start2") + col("len_tokens") - 1).as("e"))
      .groupBy("__doc")
      .agg(collect_list(col("s")).as("ss"), collect_list(col("e")).as("es"))
    df.join(iv, df(idCol).cast("long") === iv("__doc"), "left")
      .select(col(idCol),
        when(col("__doc").isNull, col(textCol))
          .otherwise(graft.expressions.NativeKernels.removeTokenRangesCol(
            toks(col(textCol)), col("ss"), col("es")))
          .as(textCol))
  }
}
