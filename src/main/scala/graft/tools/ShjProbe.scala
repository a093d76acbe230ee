package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Adversarial pricing of the r16 shuffled-hash-join dials (r17,
  * verdict #7): `preferSortMergeJoin=false` +
  * `adaptive.maxShuffledHashJoinLocalMapThreshold=64m`.
  *
  * The risk being priced (r16 ADVICE): the STATIC planner's SHJ
  * pick trusts plan-time size estimates, and a build side whose hot
  * partition exceeds the 64 MB threshold cannot be saved by AQE —
  * OptimizeSkewedJoin splits only STREAM-side partitions of an SHJ,
  * and the build-side hash map does not spill. Two deliberately
  * nasty sf10 shapes, each timed under the engine dials AND under
  * forced SMJ (runtime conf), executed plans dumped for plans/r17:
  *
  *   - build-heavy: build side (orders-derived, 15M rows) with 30%
  *     of its rows on ONE key → a ~10× median hash-map partition,
  *     far past 64 MB serialized. The static planner still picks SHJ
  *     from the table-level estimate. Completion + wall clock vs SMJ
  *     is the verdict on the dial.
  *   - stream-heavy: the common case — skew on the PROBE side (30%
  *     of 60M lineitem rows on one key), build side uniform. AQE
  *     skew-split must fire for the SHJ (stream-side splits are
  *     supported) and the dial should win or tie vs SMJ.
  *
  * Both joins key the hot mass on a value the OTHER side never
  * carries, so the output is join-selective (no pair explosion) and
  * the cost measured is the join machinery, not a cartesian blowup.
  * Timing via the noop sink (guide §1.4).
  *
  *   tools/jrun.sh graft.tools.ShjProbe [sf10dir] [outPlanDir]
  */
object ShjProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption
      .getOrElse(graft.Scratch.path("testdata", "sf10"))
    val outDir = args.drop(1).headOption
      .getOrElse(graft.Scratch.path("plans", "r17"))
    val spark = graft.GraftSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-shjprobe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outDir))

    def orders = graft.sources.Tables.orders(spark, dir)
    def lineitem = graft.sources.Tables.lineitem(spark, dir)

    // hot key -1L: 30% of the carrying side's rows, matched by
    // NOTHING on the other side (its keys are >= 0)
    def skewed(keyCol: String, df: DataFrame): DataFrame =
      df.withColumn("k",
        when(pmod(col(keyCol), lit(10)) < 3, lit(-1L))
          .otherwise(col(keyCol)))

    def buildHeavy(): DataFrame = {
      val build = skewed("o_orderkey", orders)
        .select(col("k"), col("o_totalprice").as("bv"))
      val probe = lineitem
        .select(col("l_orderkey").as("k"),
          col("l_extendedprice").as("pv"))
      probe.join(build, "k").select(col("k"), col("bv") + col("pv"))
    }

    def streamHeavy(): DataFrame = {
      val build = orders
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").as("bv"))
      val probe = skewed("l_orderkey", lineitem)
        .select(col("k"), col("l_extendedprice").as("pv"))
      probe.join(build, "k").select(col("k"), col("bv") + col("pv"))
    }

    def setDials(shj: Boolean): Unit = {
      spark.conf.set("spark.sql.join.preferSortMergeJoin",
        (!shj).toString)
      spark.conf.set(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        if (shj) "67108864" else "0")
    }

    def run(name: String, mk: () => DataFrame): Unit = {
      for (shj <- Seq(true, false)) {
        val tag = if (shj) "shj" else "smj"
        setDials(shj)
        val df = mk()
        spark.sparkContext.setJobDescription(s"$name [$tag]")
        // warmup then min-of-2 (the bench discipline)
        def once(): Double = {
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        once()
        val s = math.min(once(), once())
        // executed (AQE-final) plan — the committed evidence that the
        // join strategy and any skew split are what we claim. The
        // noop write above executes its OWN QueryExecution, so the
        // dataset's plan would still read isFinalPlan=false here —
        // run the dataset's own physical plan once (untimed, RDD
        // count: no driver collect) so AQE finalizes it.
        df.queryExecution.toRdd.count()
        val plan = df.queryExecution.executedPlan.toString
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"shj_${name}_$tag.txt"),
          (f"# $name [$tag] min-of-2 = $s%.2f s\n" + plan)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val joinNodes = plan.linesIterator
          .filter(l => l.contains("SortMergeJoin") ||
            l.contains("ShuffledHashJoin") ||
            l.contains("skewed="))
          .map(_.trim.take(100)).mkString(" | ")
        println(f"[shjprobe] $name%-13s $tag%3s  $s%7.2f s   $joinNodes")
      }
      setDials(shj = true) // restore the engine dials
    }

    run("buildheavy", () => buildHeavy())
    run("streamheavy", () => streamHeavy())
    spark.stop()
  }
}
