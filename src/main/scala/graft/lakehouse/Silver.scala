package graft.lakehouse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{CleanFns, TimeFns}

/** Silver-layer conformance builders (SURVEY.md §2 B3-B6) — the Spark
  * re-expression of the reference's silver SQL
  * (/root/reference/airflow/dags/mobility_ingestion_pipeline.py:201-397,
  * 547-567): dedup mapping dims, surrogate-key dims, cross-join dims,
  * and the multi-dim fact build.
  *
  * Scale notes: every builder is a declarative plan. `dedupMapping` is
  * a single hash aggregation (map-side partial); `dimWithSurrogateKey`
  * sorts once globally — correct only for dimension-sized inputs, which
  * is what surrogate keys are for (the reference's dim_zones is a few
  * thousand rows; never call it on a fact). `buildFact` joins facts to
  * dims with plain equi-joins and lets AQE pick broadcast when a dim
  * fits.
  */
object Silver {

  /** Canonical many→one mapping dim: GROUP BY the source key, MIN as
    * the deterministic representative (reference's unique_mapping CTE,
    * pipeline.py:212-222).
    */
  def dedupMapping(src: DataFrame, srcKey: String, target: String): DataFrame = {
    // TRIM only string keys: trimming a numeric would silently cast it
    // to string (changing the output type and breaking numeric joins).
    def keyed(name: String): Column =
      if (src.schema(name).dataType == org.apache.spark.sql.types.StringType)
        CleanFns.cleanKey(col(name))
      else col(name)
    src
      .filter(col(srcKey).isNotNull && col(target).isNotNull)
      .groupBy(keyed(srcKey).as("src_key"))
      .agg(min(keyed(target)).as("canonical"),
        count(lit(1)).as("n_src_rows"))
  }

  /** Dimension with a dense surrogate key: ROW_NUMBER() OVER (ORDER BY
    * natural key) — reference's zone_id (pipeline.py:236). Global
    * single-partition sort: ONLY for provably bounded dims (the
    * reference's dim_zones is a few thousand rows). Anything that
    * scales with the data goes through [[dimWithDenseKey]].
    *
    * Guarded: above `maxRows` the single-partition window would make
    * one task sort the world, so the call AUTO-SWITCHES to
    * [[dimWithDenseKey]] — same dense 1..N keys for a unique
    * `orderCol` (both forms are tie-nondeterministic otherwise), no
    * global sort. The guard costs one count() of the dim, noise for
    * anything this operator is legitimate for; pass
    * `maxRows = Long.MaxValue` to opt out of both the count and the
    * switch.
    */
  def dimWithSurrogateKey(dim: DataFrame, orderCol: String, skName: String,
      maxRows: Long = 1000000L): DataFrame =
    if (maxRows != Long.MaxValue && dim.count() > maxRows)
      dimWithDenseKey(dim, orderCol, skName)
    else
      dim.withColumn(skName,
        row_number().over(Window.orderBy(col(orderCol))).cast("long"))

  /** Scale-safe dense surrogate keys — same output as
    * `ROW_NUMBER() OVER (ORDER BY orderCol)` for a unique key, with no
    * single-partition global sort: range-partition by the key, sort
    * within each partition (parallel, each task sorts ~N/buckets), and
    * add per-range-bucket offsets to the within-partition position.
    *
    * Entirely Tungsten-native (no RDD round-trip, no Row
    * serialization): `monotonically_increasing_id()` over the sorted
    * plan encodes (range bucket << 33 | position-in-bucket); bucket
    * row counts aggregate to <= `buckets` rows whose cumulative sums
    * broadcast-join back as offsets.
    *
    * The bucketed frame is localCheckpointed ONCE so the count pass
    * and the output pass read the same materialized partitions.
    * Load-bearing: RangePartitioner's sample seed derives from the
    * RDD id, so two separate evaluations of a repartitionByRange can
    * sample DIFFERENT range boundaries (caught at sf0.1: counts
    * disagreed with assignment and the dense ids went wrong) —
    * ReuseExchange is an optimization, never a determinism guarantee.
    * Requires < 2^33 rows per bucket — size `buckets` accordingly at
    * scale (the checkpoint is dim-sized, the same footprint the
    * operator's output needs anyway).
    */
  def dimWithDenseKey(dim: DataFrame, orderCol: String, skName: String,
      buckets: Int = 32): DataFrame = {
    val localMask = (1L << 33) - 1
    val withMid = dim
      .repartitionByRange(buckets, col(orderCol))
      .sortWithinPartitions(orderCol)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__bucket", shiftright(col("__mid"), 33))
      .localCheckpoint(eager = true)
    // O(buckets) rows: each bucket's offset = sum of the counts of all
    // preceding buckets, via a triangular join over the tiny counts
    // table (bounded buckets^2 pairs) — no single-partition Window
    // stage anywhere in the plan.
    val counts = withMid
      .groupBy(col("__bucket"))
      .agg(count(lit(1)).as("__cnt"))
    val offsets = counts.select(col("__bucket"))
      .join(broadcast(counts.select(col("__bucket").as("__b2"),
        col("__cnt"))), col("__b2") < col("__bucket"), "left")
      .groupBy(col("__bucket"))
      .agg(coalesce(sum(col("__cnt")), lit(0L)).as("__offset"))
    withMid
      .join(broadcast(offsets), Seq("__bucket"))
      .withColumn(skName,
        col("__offset") + col("__mid").bitwiseAND(lit(localMask)) + lit(1L))
      .drop("__mid", "__bucket", "__offset")
      .select(dim.columns.map(col) :+ col(skName): _*)
  }

  /** SCD type-2 versioned dimension from a change log: collapse
    * consecutive rows whose attribute tuple did not change per key,
    * then close each surviving version with the next change's
    * timestamp (`valid_to`, null = current). Both windows share one
    * (key) partitioning and one sort order, so the plan pays a single
    * key shuffle + sort and reuses it (no second exchange).
    * `tieCols` must make the ordering total (e.g. a unique change id)
    * — equal-timestamp changes are otherwise nondeterministic.
    */
  def scd2FromChangeLog(log: DataFrame, keyCol: String, tsCol: String,
      tieCols: Seq[String], attrCols: Seq[String]): DataFrame = {
    val ord = (tsCol +: tieCols).map(col)
    val w = Window.partitionBy(col(keyCol)).orderBy(ord: _*)
    val attrs = struct(attrCols.map(col): _*)
    log
      .withColumn("__prev", lag(attrs, 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= attrs)
      .drop("__prev")
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select((keyCol +: attrCols).map(col) ++
        Seq(col("valid_from"), col("valid_to"), col("is_current")): _*)
  }

  /** Every zone × every holiday (reference's dim_zone_holidays,
    * pipeline.py:324-349). The holiday side is bounded (dates of one
    * year) and explicitly broadcast.
    */
  def crossJoinDim(zones: DataFrame, holidays: DataFrame): DataFrame =
    zones.crossJoin(broadcast(holidays))

  /** Memoized silver fact per (session, dir) — the medallion
    * architecture's contract: gold NEVER re-derives silver; it reads
    * the materialized fact table (the reference materializes
    * lakehouse.silver.fact_mobility once and every gold task queries
    * it). Locally the materialization is an in-memory cache; in
    * production it is a [[graft.sources.AtomicLake]] write at
    * ingest time and a lake read here.
    */
  private val factMemo = new graft.sources.SessionMemo[String, DataFrame](
    maxPerSession = 4, onEvict = _.unpersist(blocking = false))

  def factEventsCached(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    factMemo.getOrElseUpdate(spark, dir) {
      import graft.sources.Tables
      buildFactEvents(Tables.events(spark, dir),
        Tables.customer(spark, dir), Tables.nation(spark, dir)).cache()
    }

  /** Fact build (reference's fact_mobility INSERT, pipeline.py:547-567):
    * reconstruct the period timestamp from date + hour, conform the
    * origin/destination zone keys through INNER dim joins, drop rows
    * with null measures, and stamp the partition column.
    *
    * `events.user_id` plays the reference's `origen` (conformed through
    * the customer dim to its nation = origin zone) and the JSON payload
    * key `props.k mod 25` plays `destino` (a deterministic zone code,
    * joined against nation to guarantee referential integrity).
    */
  def buildFactEvents(events: DataFrame, customer: DataFrame,
      nation: DataFrame): DataFrame = {
    val e = events
      .filter(col("value").isNotNull)
      .withColumn("event_date", to_date(col("ts")))
      .withColumn("dest_code",
        get_json_object(col("props"), "$.k").cast("int") % 25)
    e.join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("user_id") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"))),
        col("dest_code") === col("n_nationkey"))
      .select(
        col("event_id"),
        TimeFns.periodTimestamp(col("event_date"), hour(col("ts")))
          .as("period"),
        col("c_nationkey").cast("long").as("origin_zone_id"),
        col("dest_code").cast("long").as("destination_zone_id"),
        col("value").as("trips"),
        col("event_date").as("partition_date"))
  }
}
