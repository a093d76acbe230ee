package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.lakehouse.Silver
import graft.operators.Salt

/** Bronze + scale-hardening query family (SURVEY.md §2 A2-A4, F8, F9):
  * audit lineage, idempotent partition upsert proven end-to-end through
  * the lake, salted aggregation equivalence, approx sketches.
  */
object BronzeQueries {

  /** The year-partitioned orders lake the four `lake_*` gates query —
    * built ONCE per (session, sf dir) and memoized: a real deployment
    * HAS its table; the gate should measure the operator under test,
    * not a repeated rebuild. `o_month`/`o_orderdate` stay zone-mapped
    * DATA columns (the scan gates prune on them), `o_year` is the
    * partition dir. Read-only gates query it directly; mutating gates
    * SHALLOW-CLONE it per run (metadata-only, G29's zero-copy
    * sandbox shape) so the base is never dirtied.
    */
  private val ordersLakeMemo =
    new graft.sources.SessionMemo[String, String]()

  /** On-disk root of the memoized orders lake for a given sf dir —
    * shared with specs so path changes can't silently strand them.
    */
  def ordersLakeRoot(dir: String): String =
    graft.Scratch.forDir(dir, "lake", "orders_base")

  private def ordersLake(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    ordersLakeMemo.getOrElseUpdate(s, dir) {
      val root = ordersLakeRoot(dir)
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val orders = Tables.orders(s, dir)
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
      graft.sources.AtomicLake.upsertPartitions(orders, root,
        Seq("o_year"))
      root
    }

  /** Memo for the synthetic media corpora: generating + PNG-encoding
    * thousands of frames is TEST-FIXTURE cost (production reads
    * binary columns off parquet), so it materializes once per session
    * and the timed queries measure the operator — container parse,
    * frame decode, hashing — not the fixture build.
    */
  private val mediaMemo = new graft.sources.SessionMemo[(String, String),
      org.apache.spark.sql.Dataset[graft.operators.MediaRow]](
    // 6 corpora live today (image/audio/video × id/seeded) — headroom
    // so one more variant can't set off evict-recompute thrash
    maxPerSession = 12, onEvict = _.unpersist(blocking = false))

  private def cachedMedia(s: org.apache.spark.sql.SparkSession,
      key: String, dir: String)(
      build: => org.apache.spark.sql.Dataset[graft.operators.MediaRow])
      : org.apache.spark.sql.Dataset[graft.operators.MediaRow] =
    mediaMemo.getOrElseUpdate(s, (key, dir)) {
      val m = build.cache()
      m.count() // materialize under the memo lock
      m
    }

  // shared synthetic media corpora (each memoized once per session —
  // see [[cachedMedia]]): the id-keyed variants feed the feature/dim
  // gates, the seed-keyed (doc_id % 100) variants plant twins for the
  // near-dup and recall gates
  private def imageIdMedia(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    cachedMedia(s, "image_id", dir)(graft.operators.Multimodal
      .syntheticImages(Tables.documents(s, dir), "doc_id"))

  private def imageSeededMedia(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    cachedMedia(s, "image_seeded", dir) {
      import graft.operators.{MediaRow, Multimodal}
      implicit val enc = org.apache.spark.sql.Encoders.product[MediaRow]
      Tables.documents(s, dir).select(col("doc_id").cast("long"))
        .as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val seed = id % 100
            MediaRow(id, "image", Multimodal.syntheticPng(seed,
              w = 16 + (seed % 17).toInt, h = 12 + (seed % 11).toInt),
              s"""{"id":$id}""")
          }
        }
    }

  private def audioIdMedia(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    cachedMedia(s, "audio_id", dir) {
      import graft.operators.{MediaRow, Multimodal}
      implicit val enc = org.apache.spark.sql.Encoders.product[MediaRow]
      Tables.documents(s, dir).select(col("doc_id").cast("long"))
        .as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .mapPartitions(_.map(id =>
          MediaRow(id, "audio",
            Multimodal.syntheticWav(id, sampleRate = 8000,
              seconds = 0.02 + (id % 5) * 0.01),
            s"""{"id":$id}""")))
    }

  private def audioSeededMedia(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    cachedMedia(s, "audio_seeded", dir) {
      import graft.operators.{MediaRow, Multimodal}
      implicit val enc = org.apache.spark.sql.Encoders.product[MediaRow]
      Tables.documents(s, dir).select(col("doc_id").cast("long"))
        .as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .mapPartitions(_.map(id =>
          MediaRow(id, "audio",
            Multimodal.syntheticWav(id % 100, sampleRate = 8000,
              seconds = 0.1),
            s"""{"id":$id}""")))
    }

  /** One-per-session WARC fixture (A9): the documents corpus exported
    * as real WARC files — three plain, one gzipped — by an
    * executor-side one-file-per-partition writer (the export shape).
    */
  private val warcMemo = new graft.sources.SessionMemo[String, String]()

  private def warcFixture(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    warcMemo.getOrElseUpdate(s, dir) {
      val root = graft.Scratch.forDir(dir, "warc_roundtrip")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val conf = new org.apache.spark.util.SerializableConfiguration(
        s.sparkContext.hadoopConfiguration)
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .repartition(4)
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val ext = if (pid == 3) ".warc.gz" else ".warc"
          val recs = it.map { case (id, text) =>
            graft.sources.WarcIngest.responseRecordBytes(
              s"https://graft.invalid/doc/$id",
              "2024-01-01T00:00:00Z", text.getBytes("UTF-8"))
          }
          Iterator.single(graft.sources.WarcIngest.writeWarcFile(
            conf.value, s"$root/part-$pid$ext", recs))
        }
        .collect()
      root
    }

  /** One-per-session CRAWL WARC fixture (the pipe_crawl_corpus
    * source): the crawl-batch docs (doc_id % 10 == 0) exported as
    * WARC responses with PLANTED mess — every page wrapped in the
    * text_strip_html markup, and every page served TWICE: once at its
    * clean URL, once at a scheme-shouting, port-carrying,
    * trailing-slash, tracking-param variant that canonicalizes to the
    * same key. Three plain files + one gzipped.
    */
  private val crawlWarcMemo = new graft.sources.SessionMemo[String, String]()

  private def crawlWarcFixture(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    crawlWarcMemo.getOrElseUpdate(s, dir) {
      val root = graft.Scratch.forDir(dir, "warc_crawl")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val conf = new org.apache.spark.util.SerializableConfiguration(
        s.sparkContext.hadoopConfiguration)
      import s.implicits._
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .repartition(4)
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val ext = if (pid == 3) ".warc.gz" else ".warc"
          val recs = it.flatMap { case (id, text) =>
            val html = ("<html><head><style>p{color:red}</style>" +
              "<script>var a=1;</script></head><body><p class=\"x\">" +
              text +
              "</p><!-- note --> &amp; &lt;tail&gt;&nbsp;end" +
              "</body></html>").getBytes("UTF-8")
            Seq(
              graft.sources.WarcIngest.responseRecordBytes(
                s"https://crawl.example.com/doc/$id",
                "2024-01-01T00:00:00Z", html,
                httpContentType = "text/html; charset=utf-8"),
              graft.sources.WarcIngest.responseRecordBytes(
                s"HTTPS://CRAWL.example.com:443/doc/$id/" +
                  "?utm_source=feed&gclid=x",
                "2024-01-01T00:00:01Z", html,
                httpContentType = "text/html; charset=utf-8"))
          }
          Iterator.single(graft.sources.WarcIngest.writeWarcFile(
            conf.value, s"$root/part-$pid$ext", recs.toSeq))
        }
        .collect()
      root
    }

  /** One-per-session persisted near-dup index over the EXISTING
    * corpus side (doc_id % 10 != 0) — what a crawl pipeline probes
    * new batches against (G18; the dedup_index_cross geometry).
    */
  private val crawlIdxMemo = new graft.sources.SessionMemo[String, String]()

  private def crawlIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    crawlIdxMemo.getOrElseUpdate(s, dir) {
      val root = graft.Scratch.forDir(dir, "lake", "crawl_neardup")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      graft.operators.NearDupIndex.build(
        Tables.documents(s, dir)
          .filter(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id", "text", root, threshold = 0.5)
      root
    }

  /** A fresh shallow clone of [[ordersLake]] for a mutating gate. */
  private def clonedOrdersLake(s: org.apache.spark.sql.SparkSession,
      dir: String, name: String): String = {
    val dst = graft.Scratch.forDir(dir, "lake", name)
    val dstPath = new org.apache.hadoop.fs.Path(dst)
    dstPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(dstPath, true)
    graft.sources.AtomicLake.clone(ordersLake(s, dir), dst)
    dst
  }

  val queries: Map[String, Q] = Map(

    // A2/A3 — audit lineage over a parquet-read source: the filename
    // comes from input_file_name(), so this also asserts the scan
    // reads exactly the expected file.
    "bronze_audit" -> { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("source_url", lit("synthetic://events"))
        .withColumn("filename",
          regexp_extract(input_file_name(), "([^/]+)$", 1))
        .groupBy(col("source_url"), col("filename"))
        .agg(count(lit(1)).as("n_rows"))
    },

    // A4 — idempotent partition upsert, proven END-TO-END through the
    // ATOMIC manifest-commit lake (AtomicLake — each upsert is one
    // snapshot commit): write all fact partitions, re-upsert one day's
    // partition, read the lake back and aggregate. If the re-upsert
    // duplicated or dropped rows — or the read resolved a torn
    // mid-commit state — the per-partition counts diverge from the
    // oracle (which computes the same aggregate straight from the
    // source).
    "bronze_partition_upsert" -> { (s, dir) =>
      // Scratch is keyed by sf dir and wiped up front: partition
      // upsert only replaces partitions present in the batch, so
      // leftover commits from a previous run on a different sf would
      // survive in the manifest and contaminate the read-back.
      val scratch = graft.Scratch.forDir(dir, "lake", "bronze_upsert")
      val scratchPath = new org.apache.hadoop.fs.Path(scratch)
      scratchPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(scratchPath, true)
      // the memoized silver fact: a real pipeline upserts from the
      // MATERIALIZED fact table, not by re-deriving the 3-way join
      // once per upsert — and so does this query (both upserts below
      // read the same cached frame)
      val fact = Silver.factEventsCached(s, dir)
      // 2 files/partition exercises the multi-file-per-partition path
      // (write parallelism itself comes from the shuffle partitions,
      // not the file count); the single-day re-upsert defaults to one.
      graft.sources.AtomicLake.upsertPartitions(fact, scratch,
        Seq("partition_date"), filesPerPartition = 2)
      graft.sources.AtomicLake.upsertPartitions(
        fact.filter(col("partition_date") === lit("2024-01-05").cast("date")),
        scratch, Seq("partition_date"))
      graft.sources.AtomicLake.read(s, scratch)
        .groupBy(col("partition_date"))
        .agg(count(lit(1)).as("n_rows"), exactSum(col("trips")).as("trips"))
    },

    // G24 — manifest zone-maps + stats-pruned scan, proven END-TO-END:
    // build a year-partitioned orders lake (o_month stays a
    // zone-mapped DATA column), scan a 10-month range
    // through AtomicLake.scan (per-file min/max from the manifest
    // prune every out-of-range month's files DRIVER-side — no task,
    // no footer read; LakeScanSpec asserts the file counts), aggregate
    // the survivors. The oracle computes the same aggregate straight
    // from the source, so any over-pruning (dropped rows) or
    // under-filtering (kept rows outside the range) hash-mismatches.
    "lake_scan_prune" -> { (s, dir) =>
      graft.sources.AtomicLake.scan(s, ordersLake(s, dir))(
          col("o_orderdate") >=
            lit("1995-03-01 00:00:00").cast("timestamp"),
          col("o_orderdate") <
            lit("1996-01-01 00:00:00").cast("timestamp"))
        .groupBy(col("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          exactSum(col("o_totalprice")).as("sum_price"))
    },

    // G27 — the lake on the SQL surface: a view `USING graft-lake`
    // answers a PLAIN SQL query, with the WHERE clause pushed down as
    // sources.Filters into the manifest zone-maps (LakeRelationSpec
    // proves the file accounting) — no graft API inside the query
    // text. The whole statement, aggregation included, is SQL, so
    // this gates the relation's schema, pushdown re-application, and
    // InternalRow handoff end-to-end against DuckDB.
    "lake_sql_scan" -> { (s, dir) =>
      s.read.format("graft-lake")
        .option("path", ordersLake(s, dir)).load()
        .createOrReplaceTempView("lake_orders")
      s.sql("""
        SELECT o_month,
          count(1) AS n_orders,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
            AS sum_price
        FROM lake_orders
        WHERE o_orderdate >= TIMESTAMP '1994-07-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1995-03-01 00:00:00'
        GROUP BY o_month""")
    },

    // G31 — clustered compaction (OPTIMIZE ZORDER BY's linear-order
    // form) proven end-to-end: cluster a shallow clone of the base
    // lake by order key (the rewrite range-partitions within year
    // dirs, so each file holds a tight key slice), then range-scan
    // through the zone maps. The oracle aggregates the source under
    // the same range, so a row lost or duplicated by the clustering
    // rewrite — or over-pruning from a wrong post-cluster bound —
    // hash-mismatches. LakeClusterSpec proves the file-count
    // selectivity gain separately.
    // JSONL round-trip ingest (the LLM-corpus interchange format):
    // export documents as gzip'd JSONL shards, plant malformed lines
    // and a null-required-key record beside them, re-ingest with
    // quarantine. The CLEAN side is the output and its oracle is the
    // documents table itself — a quarantine leak into clean, a lost
    // row, or any JSON round-trip lossiness hash-mismatches; the
    // quarantine side (exactly the planted garbage) is spec-gated.
    "bronze_jsonl_roundtrip" -> { (s, dir) =>
      val out = graft.Scratch.forDir(dir, "jsonl_ingest")
      val outPath = new org.apache.hadoop.fs.Path(out)
      val fs = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(outPath, true)
      val docs = Tables.documents(s, dir)
      graft.operators.Export.writeJsonlShards(docs, "doc_id", 4, out)
      val garbage = new org.apache.hadoop.fs.Path(out, "garbage.jsonl")
      val w = fs.create(garbage, true)
      w.write(("{\"doc_id\": not json at all\n" +
        "{\"text\":\"valid json, doc_id missing\"}\n" +
        "plain text line\n").getBytes("UTF-8"))
      w.close()
      graft.sources.JsonlIngest
        .readWithQuarantine(s, out, docs.schema,
          requiredCols = Seq("doc_id"))
        .clean
    },

    // G36 — the lake-maintenance SQL DDL exercised end-to-end, every
    // statement through spark.sql on a shallow clone: ADD CONSTRAINT,
    // OPTIMIZE ZORDER, RESTORE, DROP CONSTRAINT, then read the commit
    // log back with DESCRIBE HISTORY and the snapshot summary with
    // DESCRIBE LAKE DETAIL. The output is a (item, value) probe table
    // whose every value is DETERMINISTIC across scale factors — the
    // commit-kind sequence, the constraint set after add and after
    // drop, and whether RESTORE's head reproduced the restored
    // version's file set — so a fixed-expectations VALUES oracle
    // hash-gates parse → command → AtomicLake → manifest for each
    // statement (file counts and row counts, which DO vary with sf,
    // are gated by lake_scan_prune/lake_cluster_scan instead).
    "lake_sql_maintenance" -> { (s, dir) =>
      val scratch = clonedOrdersLake(s, dir, "sql_maintenance") // v1 clone
      // >= 0: the generator's key space starts at 0
      s.sql(s"ALTER LAKE '$scratch' ADD CONSTRAINT key_nonneg " +
        "CHECK (o_orderkey >= 0)").collect() // v2 constraint
      val afterAdd = s.sql(s"DESCRIBE LAKE DETAIL '$scratch'")
        .select(concat_ws(",", col("constraints"))).head().getString(0)
      s.sql(s"OPTIMIZE '$scratch' ZORDER BY (o_orderkey)")
        .collect() // v3 compact
      s.sql(s"RESTORE '$scratch' TO VERSION 2").collect() // v4 restore
      s.sql(s"ALTER LAKE '$scratch' DROP CONSTRAINT key_nonneg")
        .collect() // v5 constraint
      val afterDrop = s.sql(s"DESCRIBE LAKE DETAIL '$scratch'")
        .select(concat_ws(",", col("constraints"))).head().getString(0)
      val hist = s.sql(s"DESCRIBE HISTORY '$scratch'")
        .select(col("version"), col("kind"), col("n_files"))
        .collect().sortBy(_.getLong(0))
      val kinds = hist.map(_.getString(1)).mkString(",")
      // RESTORE semantics: v4's file count equals v2's (metadata-only
      // rollback re-references the same files)
      val restoreOk = hist(3).getInt(2) == hist(1).getInt(2)
      import s.implicits._
      Seq(
        ("constraints_after_add", afterAdd),
        ("constraints_after_drop", afterDrop),
        ("hist_kinds", kinds),
        ("restore_files_match", restoreOk.toString)
      ).toDF("item", "value")
    },

    // G40/G41 — schema evolution DDL effects, hash-gated like
    // lake_sql_maintenance: a rename (metadata-only, column-mapped),
    // time travel to the pre-rename names, a generated-column
    // declaration + a write that materializes it (planted date ⇒
    // fixed quarter), declaration drop, and a column drop whose
    // tombstone must carry the PHYSICAL (pre-rename) name — all
    // probed as deterministic (item, value) rows vs a
    // fixed-expectations VALUES oracle.
    "lake_schema_evolution" -> { (s, dir) =>
      val scratch = clonedOrdersLake(s, dir, "schema_evolution")
      val L = graft.sources.AtomicLake
      val v1 = L.currentVersion(scratch).get
      s.sql(s"ALTER LAKE '$scratch' RENAME COLUMN o_orderpriority " +
        "TO o_priority").collect()
      val afterRename = L.read(s, scratch).columns.mkString(",")
      val ttCols = L.readVersion(s, scratch, v1).columns.mkString(",")
      s.sql(s"ALTER LAKE '$scratch' ADD COLUMN o_quarter " +
        "GENERATED ALWAYS AS (quarter(o_orderdate))").collect()
      val genDecl = L.currentSnapshot(scratch).get.generated.toSeq
        .sorted.map { case (k, v) => s"$k:$v" }.mkString(";")
      // a write that OMITS the generated column: one copied row with
      // a planted date — o_quarter must materialize as 2
      val base = L.read(s, scratch)
      // plant the date in the column's OWN type (the physical parquet
      // timestamp flavor varies across testdata generations)
      val one = base
        .orderBy(col("o_orderkey")).limit(1)
        .withColumn("o_orderkey", lit(-1L))
        .withColumn("o_orderdate", lit("1997-05-15 00:00:00")
          .cast(base.schema("o_orderdate").dataType))
      L.append(one, scratch, Seq("o_year"))
      val cur = L.read(s, scratch)
      val qVal = cur.filter(col("o_orderkey") === -1L)
        .select(col("o_quarter").cast("string")).head().getString(0)
      val oldNulls = cur.filter(col("o_orderkey") =!= -1L)
        .filter(col("o_quarter").isNull).count() ==
        cur.count() - 1
      s.sql(s"ALTER LAKE '$scratch' DROP GENERATED COLUMN o_quarter")
        .collect()
      s.sql(s"ALTER LAKE '$scratch' DROP COLUMN o_priority").collect()
      val snap = L.currentSnapshot(scratch).get
      import s.implicits._
      Seq(
        ("cols_after_rename", afterRename),
        ("timetravel_cols", ttCols),
        ("generated_decl", genDecl),
        ("generated_value", qVal),
        ("old_rows_quarter_null", oldNulls.toString),
        ("dropped_tombstones", snap.dropped.toSeq.sorted.mkString(",")),
        ("generated_after_drop",
          snap.generated.keys.toSeq.sorted.mkString(",")),
        ("cols_final", L.read(s, scratch).columns.mkString(","))
      ).toDF("item", "value")
    },

    // G39 — per-file bloom indexes: point lookups on the
    // high-cardinality order key, where every year-partition file
    // spans the whole key domain (zone maps prune nothing), route
    // through indexBloom's sidecar probe — only files whose bloom
    // admits a key are read. The oracle filters the source parquet,
    // so a false NEGATIVE (wrongly pruned file) loses rows and
    // hash-mismatches; false positives only cost IO. Built on a
    // shallow clone: the index job covers the clone's absolutely-
    // referenced source files without copying them.
    "lake_bloom_lookup" -> { (s, dir) =>
      val scratch = clonedOrdersLake(s, dir, "bloom_lookup")
      graft.sources.AtomicLake.indexBloom(s, scratch,
        Seq("o_orderkey"), fpp = 0.001)
      graft.sources.AtomicLake.scan(s, scratch)(
          col("o_orderkey").isin(7L, 68L, 129L, 4000L, 9988L))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"))
    },

    "lake_cluster_scan" -> { (s, dir) =>
      val scratch = clonedOrdersLake(s, dir, "cluster_scan")
      graft.sources.AtomicLake.cluster(s, scratch, Seq("o_orderkey"),
        filesPerPartition = 2)
      graft.sources.AtomicLake.scan(s, scratch)(
          col("o_orderkey") >= 10000L && col("o_orderkey") < 50000L)
        .groupBy(col("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          exactSum(col("o_totalprice")).as("sum_price"))
    },

    // G31b — Hilbert-curve clustered rewrite, proven end-to-end: the
    // layout changes (OPTIMIZE HILBERT BY on a shallow clone), the
    // answers must not — a 2-D box aggregate over the re-laid table
    // vs DuckDB on the untouched source. The filter box sits inside
    // the key space of EVERY testdata scale factor (o_orderkey tops
    // out at 1499 / 14999 / 149999 and o_custkey at 149 / 1499 /
    // 14999 for sf0.001/0.01/0.1), so the gate is never vacuous: it
    // matches 730 / 75 / 8 rows respectively — a round-9 box of
    // [20000,60000)x[1000,5000) matched ZERO rows at the driver's
    // correctness SF and the green hash proved nothing.
    "lake_hilbert_scan" -> { (s, dir) =>
      val scratch = clonedOrdersLake(s, dir, "hilbert_scan")
      s.sql(s"OPTIMIZE '$scratch' HILBERT BY (o_orderkey, o_custkey)")
        .collect()
      graft.sources.AtomicLake.scan(s, scratch)(
          col("o_orderkey") >= 200L && col("o_orderkey") < 1200L &&
            col("o_custkey") >= 10L && col("o_custkey") < 120L)
        .groupBy(col("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          exactSum(col("o_totalprice")).as("sum_price"))
    },

    // G25 — row-level DELETE, proven end-to-end: build a
    // year-partitioned orders lake, delete a key-modulo predicate
    // restricted to a date range through a deletion vector (zone maps
    // prune the out-of-range years' files before any read; only files
    // with actual matches gain a vector — LakeDvSpec proves the file
    // accounting), aggregate what's left. The oracle aggregates
    // orders under NOT(predicate), so a lost row, a resurrected row,
    // or a survivor the vector over-reaches all hash-mismatch.
    "lake_delete_where" -> { (s, dir) =>
      // delete on a SHALLOW CLONE (G29): the vector lands under the
      // clone, the shared base is never touched — zero data copied
      val scratch = clonedOrdersLake(s, dir, "delete_where")
      // one dirty year out of 7: the zone maps prune the candidate
      // set to the in-range year's file, and only it is read — the
      // bounded shape a 100-TB retention sweep needs (a wide-open
      // predicate would read half the table and prove nothing about
      // scoping)
      graft.sources.AtomicLake.deleteWhereDV(s, scratch)(
        col("o_orderkey") % 7 === 0 &&
          col("o_orderdate") >=
            lit("1995-06-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") <
            lit("1995-09-01 00:00:00").cast("timestamp"))
      graft.sources.AtomicLake.read(s, scratch)
        .groupBy(col("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          exactSum(col("o_totalprice")).as("sum_price"))
    },

    // G25b — row-level DELETE as DELETION VECTORS (merge-on-read): two
    // chained dv commits mark positions in sidecars — no data file is
    // rewritten — and the read drops them; the aggregate equals the
    // doubly-NOT-filtered source. Chained vectors, the driver-held
    // position predicate, and rowCount's subtraction all sit under
    // this gate.
    "lake_delete_dv" -> { (s, dir) =>
      val scratch = clonedOrdersLake(s, dir, "delete_dv")
      graft.sources.AtomicLake.deleteWhereDV(s, scratch)(
        col("o_orderkey") % 11 === 0 &&
          col("o_orderdate") >=
            lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") <
            lit("1996-07-01 00:00:00").cast("timestamp"))
      graft.sources.AtomicLake.deleteWhereDV(s, scratch)(
        col("o_orderkey") % 3 === 0 &&
          col("o_orderdate") >=
            lit("1996-04-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") <
            lit("1996-10-01 00:00:00").cast("timestamp"))
      graft.sources.AtomicLake.read(s, scratch)
        .groupBy(col("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          exactSum(col("o_totalprice")).as("sum_price"))
    },

    // G25c — row-level UPDATE (merge-on-read): matched rows are
    // deleted through a deletion vector and their price-doubled images
    // staged, in one commit; zone maps scope the positions pass to the
    // in-range year's files. Oracle rebuilds with CASE.
    "lake_update_where" -> { (s, dir) =>
      val scratch = clonedOrdersLake(s, dir, "update_where")
      graft.sources.AtomicLake.updateWhere(s, scratch,
        Seq("o_totalprice" -> (col("o_totalprice") * 2)))(
        col("o_orderkey") % 13 === 0 &&
          col("o_orderdate") >=
            lit("1994-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") <
            lit("1994-07-01 00:00:00").cast("timestamp"))
      graft.sources.AtomicLake.read(s, scratch)
        .groupBy(col("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          exactSum(col("o_totalprice")).as("sum_price"))
    },

    // G26 — keyed MERGE (upsert), merge-on-read: every 5th order key
    // of a three-month window gets an updated row (price doubled) and
    // a shifted-key sibling gets inserted; the merged lake is
    // aggregated by month. The oracle rebuilds the same table
    // relationally (CASE for updates, UNION ALL for inserts), so
    // double-applied updates, dropped unmatched rows, lost inserts, or
    // a deletion vector that misses or over-reaches all hash-mismatch.
    "lake_merge_upsert" -> { (s, dir) =>
      // merge into a SHALLOW CLONE of the shared base (zero-copy): the
      // deletion vector and the staged source land under the clone
      val scratch = clonedOrdersLake(s, dir, "merge_upsert")
      val orders = graft.sources.AtomicLake.read(s, scratch)
      // a date-localized change set: its keys live only in the
      // in-range months' files, so the merge's semi-join deletes rows
      // in just those files — the incremental-correction shape (keys
      // are NOT date-correlated here, so the key-bounds zone-map cut
      // stays wide and the semi-join does the real scoping; the
      // candidate pass reads the key column only)
      val hit = orders.filter(col("o_orderkey") % 5 === 0 &&
        col("o_orderdate") >=
          lit("1995-03-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") <
          lit("1995-06-01 00:00:00").cast("timestamp"))
      val src = hit
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(hit
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
          .withColumn("o_totalprice", col("o_totalprice") + 1))
      // driven through the SQL spelling (r16, G26's last gap: the
      // reference operates its lakehouse entirely via con.sql) — the
      // gate now exercises parse → command → AtomicLake.merge
      // end-to-end; LakeSqlSpec proves SQL ≡ API on planted data
      src.createOrReplaceTempView("graft_merge_upsert_src")
      s.sql(s"MERGE INTO LAKE '$scratch' USING graft_merge_upsert_src " +
        "ON (o_orderkey) WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *").collect()
      graft.sources.AtomicLake.read(s, scratch)
        .groupBy(col("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          exactSum(col("o_totalprice")).as("sum_price"))
    },

    // F9 — salted two-phase aggregation; decimal routing makes it
    // bit-identical to the plain single-phase plan, so DuckDB's plain
    // GROUP BY is a valid oracle for the salted plan.
    "salt_agg" -> { (s, dir) =>
      Salt.saltedSumCount(Tables.events(s, dir),
        keys = Seq("event_type"), valueCol = "value",
        saltOn = Seq("event_id"), buckets = 16)
    },

    // F8 — approx sketches ([R]: HLL/KLL internals are engine-
    // specific; tolerance vs exact is asserted in ApproxSpec).
    // Percentiles are projected to scalar columns — the grading
    // harness' pandas compare cannot sort array cells.
    "approx_stats" -> { (s, dir) =>
      Tables.events(s, dir).agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        percentile_approx(col("value"), array(lit(0.5), lit(0.95)),
          lit(10000)).as("value_p50_p95"))
        .select(col("approx_users"),
          col("value_p50_p95").getItem(0).as("value_p50"),
          col("value_p50_p95").getItem(1).as("value_p95"))
    },

    // E11 — multimodal decode identity, hash-gated (r12; was [R]).
    // The image leg is REAL: one synthetic PNG per document id (real
    // PNG encoder), decoded by javax.imageio into true width/height
    // plus a position-weighted integer checksum over the FULL decoded
    // pixel grid — every pixel is pinned LCG arithmetic and PNG
    // round-trips losslessly, so DuckDB replays decode-and-checksum
    // exactly (HUGEINT LCG, the mm_image_embed machinery). Container
    // bytes (n_bytes / payload CRC) stay spec-only in MultimodalSpec:
    // no SQL engine can re-encode a PNG container.
    "mm_features" -> { (s, dir) =>
      import graft.operators.Multimodal
      Multimodal.decodedChecksums(imageIdMedia(s, dir))
        .toDF()
        .select(col("media_id"), col("kind"), col("width"),
          col("height"), col("n_frames"), col("decoded_checksum"))
    },

    // E11 embedding twin, hash-gated: the 8-cell grid-luminance
    // embedding exposed as columns. Every pixel is pinned integer
    // arithmetic (syntheticPng's LCG), PNG+ImageIO round-trip is
    // lossless, and the per-cell mean accumulates in pixel order —
    // so DuckDB replays the whole decode-and-embed path exactly:
    // HUGEINT emulates the wrapping 64-bit LCG, an ordered
    // list_reduce replays the summation order, and a FLOAT cast
    // replays the .toFloat rounding. The [R] mm_features keeps the
    // full row (n_bytes/checksum cover the PNG container bytes,
    // which no SQL engine can re-encode).
    "mm_image_embed" -> { (s, dir) =>
      import graft.operators.Multimodal
      Multimodal.extractFeatures(imageIdMedia(s, dir))
        .toDF()
        .select(Seq(col("media_id"), col("width"), col("height")) ++
          (0 until 8).map(i => element_at(col("embedding"), i + 1)
            .cast("double").as(s"c$i")): _*)
    },

    // E11 audio leg, hash-gated (r12; was [R]): one synthetic WAV per
    // document (real RIFF encoder), decoded by javax.sound.sampled
    // into TRUE sample rate / channels / frame count plus a
    // position-weighted integer checksum over the decoded int16 PCM
    // stream. The samples are a pinned formula (two sines, int16
    // truncation — the quantization absorbs cross-libm sin ulps, the
    // mm_audio_embed bet), s16/32768 round-trips float losslessly,
    // so DuckDB replays generation, decode, and checksum exactly.
    // RIFF container bytes stay spec-only.
    "mm_audio_features" -> { (s, dir) =>
      import graft.operators.Multimodal
      Multimodal.decodedChecksums(audioIdMedia(s, dir))
        .toDF()
        .select(col("media_id"), col("kind"),
          col("width").as("sample_rate"), col("height").as("channels"),
          col("n_frames"), col("decoded_checksum"))
    },

    // E11 audio embedding twin, hash-gated: the 8-window RMS envelope
    // as columns. The WAV samples are a pinned formula (two sines,
    // amplitude-keyed segments, int16 truncation — the quantization
    // absorbs cross-libm sin ulps), PCM decode is exact integer math,
    // and the envelope accumulates squares in sample order — DuckDB
    // replays generation, decode, and RMS bit-for-bit (sqrt IS
    // correctly rounded under IEEE 754, unlike exp/log).
    "mm_audio_embed" -> { (s, dir) =>
      import graft.operators.Multimodal
      Multimodal.extractFeatures(audioIdMedia(s, dir))
        .toDF()
        .select(Seq(col("media_id"), col("n_frames")) ++
          (0 until 8).map(i => element_at(col("embedding"), i + 1)
            .cast("double").as(s"e$i")): _*)
    },

    // Perceptual audio near-dedup end-to-end. Hash-gated (r11) via
    // the pinned seed-level pair relation (seedPairOracle — the
    // decode has no DuckDB replay, but the pair set factors through
    // the 100 fixed payloads): one synthetic WAV per doc seeded by
    // doc_id % 100, so ids congruent mod 100 are sample-identical
    // twin recordings; the seed-derived 16-segment loudness pattern
    // separates different seeds. Envelope fingerprints are
    // volume-invariant (spec-gated); decode + hash map-side, only
    // (chunk, bucket, id) triples shuffle — the audio twin of
    // mm_image_dups.
    "mm_audio_dups" -> { (s, dir) =>
      graft.operators.Multimodal
        .nearDuplicateAudio(audioSeededMedia(s, dir), maxDist = 1)
    },

    // Perceptual image near-dedup end-to-end. Hash-gated (r11) via
    // the pinned seed-level pair relation (seedPairOracle): one
    // synthetic PNG per doc seeded by
    // doc_id % 100, so ids congruent mod 100 are pixel-identical
    // twins. maxDist=1 keeps the pair set to the planted twins (the
    // generator's one gradient family puts some cross-seed cousins at
    // Hamming 2-4 — real perceptual neighbors, but the gate wants the
    // deterministic twin set). Decode + hash are map-side; only
    // (chunk, bucket, id) triples shuffle.
    "mm_image_dups" -> { (s, dir) =>
      graft.operators.Multimodal
        .nearDuplicateImages(imageSeededMedia(s, dir), maxDist = 1)
    },

    // A9 [O] — WARC crawl-archive ingest, round-tripped end-to-end:
    // the documents corpus exports as REAL WARC files (stored
    // HTTP/1.1 responses; one of the four files gzipped, exercising
    // the streaming inflate path), then WarcIngest stream-parses the
    // records and the recovered (doc_id, text) set must hash-match
    // the source table — framing, Content-Length accounting, HTTP
    // header split, and byte-exact body recovery all gate at once.
    "bronze_warc_roundtrip" -> { (s, dir) =>
      val root = warcFixture(s, dir)
      graft.sources.WarcIngest.responses(s, s"$root/part-*")
        .filter(col("http_status") === 200)
        .select(regexp_extract(col("target_uri"), "(\\d+)$", 1)
          .cast("long").as("doc_id"), col("text"))
    },

    // A9∘H20∘H18∘E1∘G18 [O] — the crawl pipeline END-TO-END, one hash
    // gate: WARC files (HTML-wrapped pages, every page also served at
    // a tracking-param URL variant) → stream-parse → stripHtml →
    // canonical-URL exact dedup (the duplicate fetch collapses) →
    // probe the PERSISTED near-dup index of the existing corpus (the
    // corpus text is never re-read) → surviving genuinely-new docs.
    // The oracle replays every stage declaratively from `documents`:
    // the strip chain, the canonical key, and the exact-Jaccard loser
    // set (integer-rational — no float margin to bet on).
    "pipe_crawl_corpus" -> { (s, dir) =>
      import graft.functions.TextFns
      val warcRoot = crawlWarcFixture(s, dir)
      val idxRoot = crawlIndex(s, dir)
      val resp = graft.sources.WarcIngest
        .responses(s, s"$warcRoot/part-*")
        .filter(col("http_status") === 200)
      val cleaned = resp.select(
        TextFns.canonicalUrl(col("target_uri")).as("canon_url"),
        TextFns.stripHtml(col("text")).as("text"))
      // E1 at the URL key: both fetches of a page carry identical
      // text by construction; min() keeps the collapse deterministic
      // regardless. Pinned: the index probe and the anti join both
      // consume `uniq` — without the checkpoint each would re-run
      // the WARC parse + strip + dedup subtree.
      val uniq = cleaned.groupBy(col("canon_url"))
        .agg(min(col("text")).as("text"))
        .withColumn("doc_id",
          regexp_extract(col("canon_url"), "(\\d+)$", 1).cast("long"))
        .localCheckpoint()
      val losers = graft.operators.NearDupIndex
        .pairsAgainstIndex(s, uniq, "doc_id", "text", idxRoot,
          threshold = 0.5)
        .select(col("id2").as("doc_id")).distinct()
      uniq.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("canon_url"),
          TextFns.wordCount(col("text")).as("ws_tokens"))
    },

    // E11 [O] — planted-twin RECALL of the perceptual image dedup,
    // hash-gated at every SF: docs seeded by doc_id % 100 are
    // pixel-identical, so the exact twin pair set is a formula over
    // `documents` (all same-residue pairs, Hamming 0) and the gate
    // proves decode → grid-luminance pHash → chunk-bucket LSH →
    // verify finds EVERY planted twin with the right distance — a
    // missed bucket, a nondeterministic hash bit, or a broken decode
    // all drop/shift rows. The full pair set (with cross-seed
    // perceptual cousins) stays [R] as mm_image_dups.
    "mm_image_twin_recall" -> { (s, dir) =>
      graft.operators.Multimodal
        .nearDuplicateImages(imageSeededMedia(s, dir), maxDist = 1)
        .filter(pmod(col("id1"), lit(100)) === pmod(col("id2"), lit(100)))
    },

    // E11 [O] — the audio twin of mm_image_twin_recall: same planted
    // structure (seed = doc_id % 100 ⇒ sample-identical WAVs), so the
    // RMS-envelope fingerprint pipeline must recover exactly the
    // same-residue pairs at Hamming 0.
    "mm_audio_twin_recall" -> { (s, dir) =>
      graft.operators.Multimodal
        .nearDuplicateAudio(audioSeededMedia(s, dir), maxDist = 1)
        .filter(pmod(col("id1"), lit(100)) === pmod(col("id2"), lit(100)))
    },

    // E11 [O] — the DECODED image dimensions, hash-gated: the
    // synthetic corpus pins w = 16 + id%17, h = 12 + id%11
    // (Multimodal.syntheticImages), so a formula oracle over
    // `documents` checks the full encode → ImageIO decode loop for
    // every asset — a wrong stride, a swapped axis, or a truncated
    // payload shifts a dimension and hash-mismatches. (The pixel
    // embedding stays [R]: no PNG codec in DuckDB.)
    "mm_image_dims" -> { (s, dir) =>
      import graft.operators.Multimodal
      Multimodal.extractFeatures(imageIdMedia(s, dir))
        .toDF()
        .select(col("media_id"), col("kind"), col("width"),
          col("height"), col("n_frames"))
    },

    // E11 [O] — planted-twin recall through the VIDEO path: videos
    // seeded by doc_id % 100 are frame-identical, so container parse
    // → frame sample → per-frame decode → mean-pooled aHash →
    // pigeonhole LSH → Hamming verify must recover every same-residue
    // pair at distance 0 (the video sibling of mm_image_twin_recall).
    "mm_video_twin_recall" -> { (s, dir) =>
      import graft.operators.{MediaRow, Multimodal}
      implicit val enc = org.apache.spark.sql.Encoders.product[MediaRow]
      val media = cachedMedia(s, "video_seeded", dir) {
        val ids = Tables.documents(s, dir)
          .select(col("doc_id").cast("long"))
          .as[Long](org.apache.spark.sql.Encoders.scalaLong)
        ids.mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val seed = id % 100
            val (w, h) = (16 + (seed % 13).toInt, 12 + (seed % 9).toInt)
            val frames = (0 until 2 + (seed % 7).toInt)
              .map(f => Multimodal.syntheticPng(seed * 131 + f, w, h))
            MediaRow(id, "video", Multimodal.packVideo(frames),
              s"""{"id":$id}""")
          }
        }
      }
      Multimodal.nearDuplicateVideos(media, maxDist = 1)
        .filter(pmod(col("id1"), lit(100)) === pmod(col("id2"), lit(100)))
    },

    // E11 [O] — the DECODED video container parameters, hash-gated:
    // the GVID generator pins frames = 2 + id%7 and frame dims
    // 16+id%13 × 12+id%9, so a formula oracle proves container parse
    // → uniform-stride frame sample → per-frame ImageIO decode for
    // every asset (the frame COUNT comes from the container header,
    // the dims from an actually-decoded sampled frame — both legs of
    // the video path must work to match).
    "mm_video_dims" -> { (s, dir) =>
      import graft.operators.Multimodal
      val media = cachedMedia(s, "video_id", dir)(
        Multimodal.syntheticVideos(Tables.documents(s, dir), "doc_id"))
      Multimodal.extractFeatures(media)
        .toDF()
        .select(col("media_id"), col("kind"), col("width"),
          col("height"), col("n_frames"))
    },

    // E11 [O] — the DECODED audio stream parameters, hash-gated: the
    // WAV generator pins rate 8000 Hz mono with
    // 160 + (id%5)*80 PCM frames (seconds = 0.02 + (id%5)*0.01), so
    // a formula oracle checks RIFF encode → javax.sound decode for
    // every asset: header misparse, wrong sample width, or dropped
    // frames all shift a value. (RMS envelope stays [R].)
    "mm_audio_dims" -> { (s, dir) =>
      graft.operators.Multimodal.extractFeatures(audioIdMedia(s, dir))
        .toDF()
        .select(col("media_id"), col("kind"),
          col("width").as("sample_rate"), col("height").as("channels"),
          col("n_frames"))
    }
  )


  /** Oracle for the perceptual near-dup pair sets: the seeded media
    * corpora key every payload by doc_id % 100, so the FULL pair
    * relation (planted twins at Hamming 0 plus cross-seed perceptual
    * cousins) factors through a pinned SEED-level relation — ~100
    * rows derived from the 100 fixed payloads, proven identical
    * across fresh JVMs and valid at EVERY SF (DuckDB expands it over
    * `documents` by residue). This converts the [R] dups gates to
    * exact hash gates without pinning the O(n²) id-level pairs.
    */
  private def seedPairOracle(pairs: Seq[(Int, Int, Int)]): String = {
    val vals = pairs.map { case (a, b, d) => s"($a,$b,$d)" }
      .mkString(", ")
    s"""WITH sp(s1, s2, d) AS (VALUES $vals)
       |SELECT CAST(a.doc_id AS BIGINT) AS id1,
       |  CAST(b.doc_id AS BIGINT) AS id2,
       |  CAST(sp.d AS INT) AS hamming_dist
       |FROM documents a JOIN documents b ON a.doc_id < b.doc_id
       |JOIN sp ON (a.doc_id % 100 = sp.s1 AND b.doc_id % 100 = sp.s2)
       |        OR (a.doc_id % 100 = sp.s2 AND b.doc_id % 100 = sp.s1)"""
      .stripMargin
  }

  val oracles: Map[String, String] = Map(
    // F8 — hash-gated r13: the HLL register-max merge and the
    // percentile_approx summaries both proved bit-deterministic
    // across fresh 8- and 32-thread JVMs (the quantile values are
    // actual data elements), so the single row pins exactly (dyadic
    // doubles). SF-scoped to sf0.01 in check.py; the exact-answer
    // tolerance cross-check (10% band) stays in TOLERANCE_ORACLES.
    //
    // STALE-PIN CAVEAT (ADVICE r13): QuantileSummaries merge results
    // also depend on the input PARTITION LAYOUT (file split count,
    // spark.sql.files.maxPartitionBytes), not just thread count — an
    // innocuous read-config change can flip the pinned bits at the
    // pinned SFs. If this gate fails after such a change, diagnose
    // as a stale pin (re-pin via tools/pingen.py) rather than a
    // correctness bug; the 10% tolerance cross-check carries the
    // semantic guarantee either way.
    "approx_stats" -> Pins.sf1Or("approx_stats", Pins.at(
      "SELECT CAST(151 AS BIGINT) AS approx_users, " +
        "4868109722210796*power(2.0,-47) AS value_p50, " +
        "5181954321243177*power(2.0,-45) AS value_p95",
      "SELECT CAST(1400 AS BIGINT) AS approx_users, " +
        "4892035095231201*power(2.0,-47) AS value_p50, " +
        "5243878816119521*power(2.0,-45) AS value_p95",
      "SELECT CAST(15 AS BIGINT) AS approx_users, " +
        "5013069335216783*power(2.0,-47) AS value_p50, " +
        "5049309238468280*power(2.0,-45) AS value_p95")),

    "mm_image_dups" -> seedPairOracle(Seq(
      (0,0,0), (1,1,0), (2,2,0), (3,3,0), (4,4,0), (5,5,0), (6,6,0),
      (7,7,0), (8,8,0), (9,9,0), (10,10,0), (11,11,0), (12,12,0),
      (12,43,1), (13,13,0), (14,14,0), (15,15,0), (16,16,0),
      (17,17,0), (18,18,0), (19,19,0), (19,25,1), (20,20,0),
      (21,21,0), (22,22,0), (23,23,0), (24,24,0), (25,25,0),
      (26,26,0), (27,27,0), (28,28,0), (29,29,0), (30,30,0),
      (31,31,0), (31,49,1), (32,32,0), (33,33,0), (34,34,0),
      (35,35,0), (36,36,0), (37,37,0), (38,38,0), (39,39,0),
      (40,40,0), (41,41,0), (42,42,0), (43,43,0), (44,44,0),
      (45,45,0), (46,46,0), (47,47,0), (48,48,0), (49,49,0),
      (50,50,0), (51,51,0), (52,52,0), (53,53,0), (54,54,0),
      (55,55,0), (56,56,0), (57,57,0), (58,58,0), (59,59,0),
      (60,60,0), (61,61,0), (62,62,0), (63,63,0), (64,64,0),
      (65,65,0), (66,66,0), (67,67,0), (68,68,0), (69,69,0),
      (70,70,0), (71,71,0), (72,72,0), (73,73,0), (74,74,0),
      (75,75,0), (76,76,0), (77,77,0), (78,78,0), (79,79,0),
      (80,80,0), (81,81,0), (82,82,0), (83,83,0), (83,86,1),
      (84,84,0), (85,85,0), (86,86,0), (87,87,0), (88,88,0),
      (89,89,0), (90,90,0), (91,91,0), (92,92,0), (93,93,0),
      (94,94,0), (95,95,0), (96,96,0), (97,97,0), (98,98,0), (99,99,0)
    )),
    "mm_audio_dups" -> seedPairOracle(Seq(
      (0,0,0), (1,1,0), (2,2,0), (3,3,0), (4,4,0), (5,5,0), (6,6,0),
      (7,7,0), (8,8,0), (9,9,0), (10,10,0), (11,11,0), (12,12,0),
      (13,13,0), (14,14,0), (15,15,0), (16,16,0), (17,17,0),
      (18,18,0), (19,19,0), (20,20,0), (21,21,0), (22,22,0),
      (23,23,0), (24,24,0), (25,25,0), (26,26,0), (27,27,0),
      (28,28,0), (29,29,0), (30,30,0), (31,31,0), (32,32,0),
      (33,33,0), (34,34,0), (35,35,0), (36,36,0), (37,37,0),
      (38,38,0), (39,39,0), (40,40,0), (41,41,0), (42,42,0),
      (43,43,0), (44,44,0), (45,45,0), (46,46,0), (47,47,0),
      (48,48,0), (49,49,0), (50,50,0), (51,51,0), (52,52,0),
      (53,53,0), (54,54,0), (55,55,0), (56,56,0), (57,57,0),
      (58,58,0), (59,59,0), (60,60,0), (61,61,0), (62,62,0),
      (63,63,0), (64,64,0), (65,65,0), (66,66,0), (67,67,0),
      (68,68,0), (69,69,0), (70,70,0), (71,71,0), (72,72,0),
      (73,73,0), (74,74,0), (75,75,0), (76,76,0), (77,77,0),
      (78,78,0), (79,79,0), (80,80,0), (81,81,0), (82,82,0),
      (83,83,0), (84,84,0), (85,85,0), (86,86,0), (87,87,0),
      (88,88,0), (89,89,0), (90,90,0), (91,91,0), (92,92,0),
      (93,93,0), (94,94,0), (95,95,0), (96,96,0), (97,97,0),
      (98,98,0), (99,99,0)
    )),
    "bronze_jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    // formula oracles for the multimodal dims: the synthetic
    // generators pin every decoded dimension as a function of the id
    // (see the query comments), so the oracle derives them from
    // `documents` without any codec
    "bronze_warc_roundtrip" ->
      "SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents",
    // the crawl pipeline replayed stage by stage: strip chain (the
    // text_strip_html oracle), canonical key from the URL formula,
    // exact-Jaccard cross losers (the dedup_cross oracle geometry —
    // corpus side raw text, probe side CLEANED text)
    "pipe_crawl_corpus" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><style>p{color:red}</style>' ||
        |    '<script>var a=1;</script></head><body><p class="x">' ||
        |    text ||
        |    '</p><!-- note --> &amp; &lt;tail&gt;&nbsp;end' ||
        |    '</body></html>' AS s
        |  FROM documents WHERE doc_id % 10 = 0),
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
        |  FROM c),
        |batch AS (SELECT doc_id,
        |  trim(regexp_replace(t, '\s+', ' ', 'g')) AS text FROM d),
        |toksB AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM batch),
        |shB AS (
        |  SELECT DISTINCT doc_id,
        |    w[i.gs] || ' ' || w[i.gs+1] || ' ' || w[i.gs+2] AS shingle
        |  FROM toksB, LATERAL (SELECT unnest(generate_series(1,
        |    greatest(len(w) - 2, 0))) AS gs) i),
        |toksC AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id % 10 <> 0),
        |shC AS (
        |  SELECT DISTINCT doc_id,
        |    w[i.gs] || ' ' || w[i.gs+1] || ' ' || w[i.gs+2] AS shingle
        |  FROM toksC, LATERAL (SELECT unnest(generate_series(1,
        |    greatest(len(w) - 2, 0))) AS gs) i),
        |cardB AS (SELECT doc_id, count(*) AS n_sh FROM shB GROUP BY 1),
        |cardC AS (SELECT doc_id, count(*) AS n_sh FROM shC GROUP BY 1),
        |pairs AS (
        |  SELECT c.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |  FROM shC c JOIN shB b ON c.shingle = b.shingle
        |  GROUP BY 1, 2),
        |losers AS (
        |  SELECT DISTINCT id2 FROM pairs
        |  JOIN cardC ca ON id1 = ca.doc_id
        |  JOIN cardB cb ON id2 = cb.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter)
        |    >= 0.5)
        |SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
        |  'https://crawl.example.com/doc/' || b.doc_id AS canon_url,
        |  CAST(len(list_filter(string_split(b.text, ' '),
        |    x -> len(x) > 0)) AS INT) AS ws_tokens
        |FROM batch b
        |WHERE b.doc_id NOT IN (SELECT id2 FROM losers)""".stripMargin,
    "mm_image_twin_recall" ->
      """SELECT CAST(a.doc_id AS BIGINT) AS id1,
        |  CAST(b.doc_id AS BIGINT) AS id2,
        |  CAST(0 AS INT) AS hamming_dist
        |FROM documents a JOIN documents b
        |  ON a.doc_id < b.doc_id AND a.doc_id % 100 = b.doc_id % 100"""
        .stripMargin,
    "mm_audio_twin_recall" ->
      """SELECT CAST(a.doc_id AS BIGINT) AS id1,
        |  CAST(b.doc_id AS BIGINT) AS id2,
        |  CAST(0 AS INT) AS hamming_dist
        |FROM documents a JOIN documents b
        |  ON a.doc_id < b.doc_id AND a.doc_id % 100 = b.doc_id % 100"""
        .stripMargin,
    "mm_image_embed" ->
      """WITH dims AS (
          |  SELECT doc_id,
          |    CAST(16 + doc_id % 17 AS INT) AS w,
          |    CAST(12 + doc_id % 11 AS INT) AS h
          |  FROM documents),
          |py AS (
          |  SELECT doc_id, w, h, UNNEST(generate_series(0, h - 1)) AS y FROM dims),
          |px AS (
          |  SELECT doc_id, w, h, y, UNNEST(generate_series(0, w - 1)) AS x FROM py),
          |rgb AS (
          |  SELECT doc_id, w, h, y, x,
          |    (CAST(doc_id AS HUGEINT) * 6364136223846793005 +
          |     CAST(y * w + x AS HUGEINT) * 1442695040888963407) %
          |      CAST('18446744073709551616' AS HUGEINT) AS m
          |  FROM px),
          |lum AS (
          |  SELECT doc_id, w, h, y, x,
          |    CAST('0.299' AS DOUBLE) * CAST(((m // 8589934592) % 256 + (x * 255) // w) // 2 AS BIGINT)
          |    + CAST('0.587' AS DOUBLE) * CAST(((m // 2199023255552) % 256 + (y * 255) // h) // 2 AS BIGINT)
          |    + CAST('0.114' AS DOUBLE) * CAST((m // 562949953421312) % 256 AS BIGINT) AS l,
          |    CAST(least((y * 2) // h, 1) * 4 + least((x * 4) // w, 3) AS INT) AS c
          |  FROM rgb),
          |agg AS (
          |  SELECT doc_id, c,
          |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(l ORDER BY y, x)),
          |      (a, v) -> a + v) AS s,
          |    count(*) AS n
          |  FROM lum GROUP BY doc_id, c),
          |emb AS (
          |  SELECT doc_id, c, CAST(CAST(s / n AS FLOAT) AS DOUBLE) AS v FROM agg)
          |SELECT CAST(doc_id AS BIGINT) AS media_id,
          |  CAST(16 + doc_id % 17 AS INT) AS width,
          |  CAST(12 + doc_id % 11 AS INT) AS height,
          |  MAX(CASE WHEN c = 0 THEN v END) AS c0,
          |  MAX(CASE WHEN c = 1 THEN v END) AS c1,
          |  MAX(CASE WHEN c = 2 THEN v END) AS c2,
          |  MAX(CASE WHEN c = 3 THEN v END) AS c3,
          |  MAX(CASE WHEN c = 4 THEN v END) AS c4,
          |  MAX(CASE WHEN c = 5 THEN v END) AS c5,
          |  MAX(CASE WHEN c = 6 THEN v END) AS c6,
          |  MAX(CASE WHEN c = 7 THEN v END) AS c7
          |FROM emb GROUP BY doc_id""".stripMargin,
    "mm_audio_embed" ->
      """WITH params AS (
          |  SELECT doc_id,
          |    CAST(160 + (doc_id % 5) * 80 AS INT) AS n,
          |    CAST(180 + doc_id % 200 AS DOUBLE) AS f1,
          |    CAST(500 + (doc_id // 128) % 700 AS DOUBLE) AS f2,
          |    CAST(((CAST(doc_id AS HUGEINT) * 6364136223846793005 +
          |      1442695040888963407) % CAST('18446744073709551616' AS HUGEINT))
          |      % 65536 AS BIGINT) AS bits16
          |  FROM documents),
          |smp0 AS (
          |  SELECT doc_id, n, f1, f2, bits16,
          |    UNNEST(generate_series(0, n - 1)) AS i
          |  FROM params),
          |smp AS (
          |  SELECT doc_id, n, i,
          |    CAST(least((i * 16) // n, 15) AS INT) AS seg,
          |    CAST(i AS DOUBLE) / CAST('8000' AS DOUBLE) AS t,
          |    f1, f2, bits16
          |  FROM smp0),
          |v AS (
          |  SELECT doc_id, n, i,
          |    (CASE WHEN ((bits16 >> seg) & 1) = 1
          |      THEN CAST('0.95' AS DOUBLE) ELSE CAST('0.25' AS DOUBLE) END) *
          |    (CAST('0.6' AS DOUBLE) * sin(2 * pi() * f1 * t)
          |     + CAST('0.3' AS DOUBLE) * sin(2 * pi() * f2 * t)) AS val
          |  FROM smp),
          |s16 AS (
          |  SELECT doc_id, n, i,
          |    CAST(CAST(trunc(val * CAST('32767' AS DOUBLE)) AS INT) AS DOUBLE)
          |      / CAST('32768' AS DOUBLE) AS sraw
          |  FROM v),
          |sf AS (
          |  SELECT doc_id, n, i,
          |    CAST(CAST(sraw AS FLOAT) AS DOUBLE) AS s,
          |    CAST(least((i * 8) // n, 7) AS INT) AS w
          |  FROM s16),
          |agg AS (
          |  SELECT doc_id, w,
          |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(s * s ORDER BY i)),
          |      (a, x) -> a + x) AS ss,
          |    count(*) AS cnt
          |  FROM sf GROUP BY doc_id, w),
          |env AS (
          |  SELECT doc_id, w,
          |    CAST(CAST(sqrt(ss / cnt) AS FLOAT) AS DOUBLE) AS e
          |  FROM agg)
          |SELECT CAST(doc_id AS BIGINT) AS media_id,
          |  CAST(160 + (doc_id % 5) * 80 AS INT) AS n_frames,
          |  MAX(CASE WHEN w = 0 THEN e END) AS e0,
          |  MAX(CASE WHEN w = 1 THEN e END) AS e1,
          |  MAX(CASE WHEN w = 2 THEN e END) AS e2,
          |  MAX(CASE WHEN w = 3 THEN e END) AS e3,
          |  MAX(CASE WHEN w = 4 THEN e END) AS e4,
          |  MAX(CASE WHEN w = 5 THEN e END) AS e5,
          |  MAX(CASE WHEN w = 6 THEN e END) AS e6,
          |  MAX(CASE WHEN w = 7 THEN e END) AS e7
          |FROM env GROUP BY doc_id""".stripMargin,
    // decode-identity twin of mm_image_embed: same HUGEINT LCG pixel
    // replay, but gated as a position-weighted integer checksum over
    // the FULL RGB grid (exact BIGINT arithmetic, no float anywhere)
    "mm_features" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    CAST(16 + doc_id % 17 AS INT) AS w,
        |    CAST(12 + doc_id % 11 AS INT) AS h
        |  FROM documents),
        |py AS (
        |  SELECT doc_id, w, h, UNNEST(generate_series(0, h - 1)) AS y FROM dims),
        |px AS (
        |  SELECT doc_id, w, h, y, UNNEST(generate_series(0, w - 1)) AS x FROM py),
        |rgb AS (
        |  SELECT doc_id, w, h, y, x,
        |    (CAST(doc_id AS HUGEINT) * 6364136223846793005 +
        |     CAST(y * w + x AS HUGEINT) * 1442695040888963407) %
        |      CAST('18446744073709551616' AS HUGEINT) AS m
        |  FROM px),
        |chan AS (
        |  SELECT doc_id, w, h, y, x,
        |    CAST(((m // 8589934592) % 256 + (x * 255) // w) // 2 AS BIGINT) AS r,
        |    CAST(((m // 2199023255552) % 256 + (y * 255) // h) // 2 AS BIGINT) AS g,
        |    CAST((m // 562949953421312) % 256 AS BIGINT) AS b
        |  FROM rgb)
        |SELECT CAST(doc_id AS BIGINT) AS media_id, 'image' AS kind,
        |  CAST(16 + doc_id % 17 AS INT) AS width,
        |  CAST(12 + doc_id % 11 AS INT) AS height,
        |  CAST(1 AS INT) AS n_frames,
        |  CAST(SUM((r * 65536 + g * 256 + b) *
        |    (y * w + x + 1)) AS BIGINT) AS decoded_checksum
        |FROM chan GROUP BY doc_id""".stripMargin,
    // decode-identity twin of mm_audio_embed: same sample-formula
    // replay, gated as sum(s16(i) * (i+1)) — pure integer once the
    // int16 truncation lands
    "mm_audio_features" ->
      """WITH params AS (
        |  SELECT doc_id,
        |    CAST(160 + (doc_id % 5) * 80 AS INT) AS n,
        |    CAST(180 + doc_id % 200 AS DOUBLE) AS f1,
        |    CAST(500 + (doc_id // 128) % 700 AS DOUBLE) AS f2,
        |    CAST(((CAST(doc_id AS HUGEINT) * 6364136223846793005 +
        |      1442695040888963407) % CAST('18446744073709551616' AS HUGEINT))
        |      % 65536 AS BIGINT) AS bits16
        |  FROM documents),
        |smp0 AS (
        |  SELECT doc_id, n, f1, f2, bits16,
        |    UNNEST(generate_series(0, n - 1)) AS i
        |  FROM params),
        |smp AS (
        |  SELECT doc_id, n, i,
        |    CAST(least((i * 16) // n, 15) AS INT) AS seg,
        |    CAST(i AS DOUBLE) / CAST('8000' AS DOUBLE) AS t,
        |    f1, f2, bits16
        |  FROM smp0),
        |v AS (
        |  SELECT doc_id, n, i,
        |    (CASE WHEN ((bits16 >> seg) & 1) = 1
        |      THEN CAST('0.95' AS DOUBLE) ELSE CAST('0.25' AS DOUBLE) END) *
        |    (CAST('0.6' AS DOUBLE) * sin(2 * pi() * f1 * t)
        |     + CAST('0.3' AS DOUBLE) * sin(2 * pi() * f2 * t)) AS val
        |  FROM smp)
        |SELECT CAST(doc_id AS BIGINT) AS media_id, 'audio' AS kind,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(1 AS INT) AS channels,
        |  CAST(MAX(n) AS INT) AS n_frames,
        |  CAST(SUM(CAST(trunc(val * CAST('32767' AS DOUBLE)) AS BIGINT)
        |    * (i + 1)) AS BIGINT) AS decoded_checksum
        |FROM v GROUP BY doc_id""".stripMargin,
    "mm_image_dims" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id, 'image' AS kind,
        |  CAST(16 + doc_id % 17 AS INT) AS width,
        |  CAST(12 + doc_id % 11 AS INT) AS height,
        |  CAST(1 AS INT) AS n_frames
        |FROM documents""".stripMargin,
    "mm_video_twin_recall" ->
      """SELECT CAST(a.doc_id AS BIGINT) AS id1,
        |  CAST(b.doc_id AS BIGINT) AS id2,
        |  CAST(0 AS INT) AS hamming_dist
        |FROM documents a JOIN documents b
        |  ON a.doc_id < b.doc_id AND a.doc_id % 100 = b.doc_id % 100"""
        .stripMargin,
    "mm_video_dims" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id, 'video' AS kind,
        |  CAST(16 + doc_id % 13 AS INT) AS width,
        |  CAST(12 + doc_id % 9 AS INT) AS height,
        |  CAST(2 + doc_id % 7 AS INT) AS n_frames
        |FROM documents""".stripMargin,
    "mm_audio_dims" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id, 'audio' AS kind,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(1 AS INT) AS channels,
        |  CAST(160 + (doc_id % 5) * 80 AS INT) AS n_frames
        |FROM documents""".stripMargin,
    // fixed expectations: every probe value is deterministic across
    // scale factors (commit-kind sequence, constraint sets, restore
    // file-set equality) — the DDL effects are the oracle
    "lake_sql_maintenance" ->
      """SELECT * FROM (VALUES
        |  ('constraints_after_add', 'key_nonneg'),
        |  ('constraints_after_drop', ''),
        |  ('hist_kinds', 'clone,constraint,compact,restore,constraint'),
        |  ('restore_files_match', 'true')
        |) AS t(item, value)""".stripMargin,
    "bronze_audit" ->
      """SELECT 'synthetic://events' AS source_url,
        |  'events.parquet' AS filename, count(*) AS n_rows
        |FROM events""".stripMargin,
    "bronze_partition_upsert" ->
      """SELECT CAST(ts AS DATE) AS partition_date, count(*) AS n_rows,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS trips
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n
        |  ON CAST(json_extract_string(e.props, '$.k') AS INT) % 25 = n.n_nationkey
        |WHERE e.value IS NOT NULL
        |GROUP BY 1""".stripMargin,
    "lake_scan_prune" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-03-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,
    "lake_sql_scan" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1994-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1995-03-01 00:00:00'
        |GROUP BY 1""".stripMargin,
    "lake_schema_evolution" ->
      """SELECT * FROM (VALUES
        |  ('cols_after_rename',
        |   'o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_priority,o_month,o_year'),
        |  ('timetravel_cols',
        |   'o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_orderpriority,o_month,o_year'),
        |  ('generated_decl', 'o_quarter:quarter(o_orderdate)'),
        |  ('generated_value', '2'),
        |  ('old_rows_quarter_null', 'true'),
        |  ('dropped_tombstones', 'o_orderpriority'),
        |  ('generated_after_drop', ''),
        |  ('cols_final',
        |   'o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_month,o_quarter,o_year')
        |) t(item, value)""".stripMargin,
    "lake_bloom_lookup" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderkey IN (7, 68, 129, 4000, 9988)""".stripMargin,
    "lake_hilbert_scan" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |WHERE o_orderkey >= 200 AND o_orderkey < 1200
        |  AND o_custkey >= 10 AND o_custkey < 120
        |GROUP BY 1""".stripMargin,
    "lake_cluster_scan" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |WHERE o_orderkey >= 10000 AND o_orderkey < 50000
        |GROUP BY 1""".stripMargin,
    "lake_delete_where" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |WHERE NOT (o_orderkey % 7 = 0
        |  AND o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1995-09-01 00:00:00')
        |GROUP BY 1""".stripMargin,
    "lake_delete_dv" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |WHERE NOT (o_orderkey % 11 = 0
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00')
        |AND NOT (o_orderkey % 3 = 0
        |  AND o_orderdate >= TIMESTAMP '1996-04-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00')
        |GROUP BY 1""".stripMargin,
    "lake_update_where" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(
        |    CASE WHEN o_orderkey % 13 = 0
        |      AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
        |      AND o_orderdate < TIMESTAMP '1994-07-01 00:00:00'
        |    THEN o_totalprice * 2 ELSE o_totalprice END
        |    AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY 1""".stripMargin,
    "lake_merge_upsert" ->
      """WITH hit AS (
        |  SELECT * FROM orders
        |  WHERE o_orderkey % 5 = 0
        |    AND o_orderdate >= TIMESTAMP '1995-03-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1995-06-01 00:00:00'
        |), merged AS (
        |  SELECT o.o_orderdate,
        |    CASE WHEN h.o_orderkey IS NOT NULL THEN o.o_totalprice * 2
        |         ELSE o.o_totalprice END AS o_totalprice
        |  FROM orders o LEFT JOIN hit h ON o.o_orderkey = h.o_orderkey
        |  UNION ALL
        |  SELECT o_orderdate, o_totalprice + 1 AS o_totalprice
        |  FROM hit
        |)
        |SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price
        |FROM merged
        |GROUP BY 1""".stripMargin,
    "salt_agg" ->
      """SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |  count(*) AS n_rows
        |FROM events GROUP BY 1""".stripMargin
  )
}
