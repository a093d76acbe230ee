package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ad-hoc timer for the ANN scaling ladder (SURVEY §5.3) — the vector
  * family's decade curve, measured the way the dedup family's §5.2
  * ladder is: cold one-pass rows on generated tiers
  * (tools/gen_sf.py --emb-only; testdata/vec100k and vec1m), runnable
  * on the raw compiled classes via tools/jrun.sh without the sbt
  * lock.
  *
  *   tools/jrun.sh graft.tools.VecBench <dir> [rowName ...]
  *
  * Rows: the brute-force exact baseline, then build + probe for the
  * persisted IVF / residual-PQ / SQ8 tiers, and the incremental
  * append. Probe rows also report RECALL@10 against the brute-force
  * answer on the same probe batch — an ANN timing without its recall
  * is not a measurement.
  *
  * Geometry scales with the corpus (the FAISS production posture):
  * nlist ~ sqrt(n) rounded to a power of two (256 at 100k, 1024 at
  * 1M — the 65536-vector canonical training cap still gives >= 64
  * training points per cell at 1024), nprobe = nlist/16 by default
  * (SPARK_GRAFT_VEC_NPROBE overrides for recall-curve sweeps).
  */
object VecBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/testdata/vec100k")
    val only = args.drop(1).toSet
    val spark = graft.GraftSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-vecbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_VEC_SPLIT_MB: cap parquet split bytes for the run.
    // The tier corpus is ONE snappy file (250 MB at 1M vectors), so
    // the default 128 MB maxPartitionBytes yields 2 scan splits — and
    // the brute-force row (64 flops × corpus per query row, CPU-dense)
    // runs on 2 of 32 cores. Bytes-based splitting underestimates
    // CPU-dense scans; at 100 TB the file COUNT provides parallelism,
    // on a one-file fixture the split size must. Measured: the 1M
    // brute row 1370 s at default splits vs the re-run below.
    sys.env.get("SPARK_GRAFT_VEC_SPLIT_MB").foreach(mb =>
      spark.conf.set("spark.sql.files.maxPartitionBytes",
        (mb.toLong << 20).toString))
    import graft.operators.{Codec, Similarity, VectorIndex}
    import spark.implicits._

    def emb() = graft.sources.Tables.embeddings(spark, dir)
    val n = emb().count()
    val nlist = math.max(16,
      Integer.highestOneBit(math.sqrt(n.toDouble).toInt))
    val nprobe = sys.env.get("SPARK_GRAFT_VEC_NPROBE").map(_.toInt)
      .getOrElse(math.max(3, nlist / 16))
    // restart dial for the quantizer fits (see Similarity.coarseCentroids):
    // the ladder's default keeps the production best-of-10 discipline;
    // SPARK_GRAFT_VEC_NINIT=1 prices the FAISS-default single fit
    val nInit = sys.env.get("SPARK_GRAFT_VEC_NINIT").map(_.toInt)
      .getOrElse(10)
    val k = 10
    // deterministic ~256-query probe batch spread over the id range
    val qStep = math.max(1L, n / 256L)
    def queries() = emb().filter(pmod(col("vec_id"), lit(qStep)) === 0)
    val nq = queries().count()
    println(s"corpus=$n queries=$nq nlist=$nlist nprobe=$nprobe " +
      s"k=$k nInit=$nInit")

    val idxRoot = s"/root/repo/target/vecbench_idx_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    def fresh(sub: String): String = {
      val r = s"$idxRoot/$sub"
      val p = new org.apache.hadoop.fs.Path(r)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      r
    }
    val (ivfRoot, pqRoot, sqRoot) =
      (s"$idxRoot/ivf", s"$idxRoot/pq", s"$idxRoot/sq")

    // exact answer for the probe batch — the recall referee AND the
    // brute-force baseline row (E5's role: the correct-by-
    // construction path you fall back to below index-worthy scale)
    var exact: Map[Long, Set[Long]] = Map.empty
    def topSets(df: DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id").cast("long"),
          col("cand_id").cast("long"))
        .as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    def recall(got: Map[Long, Set[Long]]): Double = {
      val per = exact.map { case (q, ex) =>
        got.get(q).map(g => (g & ex).size.toDouble / ex.size)
          .getOrElse(0.0)
      }
      per.sum / per.size
    }

    // a 10k-vector append batch: fresh ids above the corpus range,
    // deterministic hash-derived vectors (the index unit-normalizes
    // for assignment and the cosine is norm-correct either way)
    def appendBatch(): DataFrame = {
      val d = 64
      spark.range(10000).select((col("id") + n + 1000000L).as("vec_id"),
        transform(sequence(lit(0), lit(d - 1)), j =>
          (pmod(xxhash64(col("id") * lit(d) + j), lit(100000L))
            .cast("double") / 50000.0 - 1.0).cast("float"))
          .as("embedding"))
    }

    val rows: Seq[(String, () => (Long, String))] = Seq(
      // diagnostic: the SCORING half of the brute row alone (cross
      // join + dot/cosine + count, no top-k window) — attributes the
      // brute wall between the O(nq·n) scoring sweep and the
      // 257M-row window sort downstream
      "vec_brute_score" -> (() => {
        import graft.functions.VectorFns
        val q = queries().select(col("vec_id").as("query_id"),
          col("embedding").as("qv"),
          VectorFns.norm(col("embedding")).as("qn"))
        val c = emb().select(col("vec_id").as("cand_id"),
          col("embedding").as("cv"),
          VectorFns.norm(col("embedding")).as("cn"))
        val nOut = c.crossJoin(broadcast(q))
          .filter(col("cand_id") =!= col("query_id"))
          .select(col("query_id"), col("cand_id"),
            VectorFns.cosine(VectorFns.dot(col("qv"), col("cv")),
              col("qn"), col("cn")).as("cosine"))
          .filter(col("cosine") > 2.0) // never true: forces full eval
          .count()
        (nOut, "scoring only")
      }),
      "vec_brute_topk" -> (() => {
        val out = Similarity.bruteForceTopK(emb(), queries(),
          "vec_id", "embedding", k)
        exact = topSets(out)
        (exact.size.toLong * k, "recall=1.000 (definition)")
      }),
      // corpusTag (r17, verdict #8 / §5.3 finding 2): the three build
      // rows share ONE memoized coarse-quantizer fit per (corpus,
      // geometry) — ivf_build pays the fit, pq/sq_build price their
      // own training (books/bounds) + encode + commit. Params stay
      // bit-identical to fresh fits (deterministic canonical feed).
      "vec_ivf_build" -> (() => {
        fresh("ivf")
        VectorIndex.build(emb(), "vec_id", "embedding", ivfRoot,
          nlist = nlist, nInit = nInit, corpusTag = dir)
        (graft.sources.AtomicLake.read(spark, s"$ivfRoot/cells")
          .count(), "")
      }),
      "vec_ivf_probe" -> (() => {
        val got = topSets(VectorIndex.topK(spark, queries(), "vec_id",
          "embedding", ivfRoot, k = k, nprobe = nprobe))
        (got.size.toLong * k, f"recall=${recall(got)}%.3f")
      }),
      "vec_pq_build" -> (() => {
        fresh("pq")
        VectorIndex.build(emb(), "vec_id", "embedding", pqRoot,
          nlist = nlist, nInit = nInit, corpusTag = dir,
          codec = Codec.Pq(m = 8, ks = 16, residual = true))
        (graft.sources.AtomicLake.read(spark, s"$pqRoot/codes")
          .count(), "")
      }),
      "vec_pq_probe" -> (() => {
        val got = topSets(VectorIndex.topK(spark, queries(), "vec_id",
          "embedding", pqRoot, k = k, nprobe = nprobe, refine = 4,
          corpus = Some(emb())))
        (got.size.toLong * k, f"recall=${recall(got)}%.3f")
      }),
      "vec_sq_build" -> (() => {
        fresh("sq")
        VectorIndex.build(emb(), "vec_id", "embedding", sqRoot,
          nlist = nlist, nInit = nInit, corpusTag = dir,
          codec = Codec.Sq8())
        (graft.sources.AtomicLake.read(spark, s"$sqRoot/sq_codes")
          .count(), "")
      }),
      "vec_sq_probe" -> (() => {
        val got = topSets(VectorIndex.topK(spark, queries(), "vec_id",
          "embedding", sqRoot, k = k, nprobe = nprobe, refine = 4,
          corpus = Some(emb())))
        (got.size.toLong * k, f"recall=${recall(got)}%.3f")
      }),
      "vec_ivf_append10k" -> (() => {
        val v = VectorIndex.append(spark, appendBatch(), "vec_id",
          "embedding", ivfRoot)
        (v, "")
      }))

    val selected = rows.filter { case (nm, _) =>
      only.isEmpty || only(nm) }
    // probe/recall rows need their index and the exact referee even
    // in a filtered run — build them untimed
    if (selected.exists(_._1.endsWith("_probe")) && exact.isEmpty &&
        !selected.exists(_._1 == "vec_brute_topk")) {
      println("[prepare] brute-force referee (untimed)")
      exact = topSets(Similarity.bruteForceTopK(emb(), queries(),
        "vec_id", "embedding", k))
    }
    selected.foreach { case (name, f) =>
      val t0 = System.nanoTime()
      val (out, note) = f()
      val cold = (System.nanoTime() - t0) / 1e9
      println(f"$name%-22s cold $cold%8.2f s  out=$out%-10d $note")
      System.gc()
    }
    spark.stop()
  }
}
