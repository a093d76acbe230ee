package perfbench

/** count() against full materialization on the consultation mix: the
  * catalog forms of the daily_refresh workload's requests, each timed
  * both ways (min of three warm runs). count() lets column pruning drop
  * every projection and aggregate it does not need, so it under-times
  * the query; the benchmark's timing helper runs the whole plan.
  * Usage: CountGap <dir with gen_sf tables>; prints one JSON line per
  * query and a total.
  */
object CountGap {
  val Mix = Seq("consult_top_gaps", "gold_hourly_profile",
    "gold_weekday_weekend", "gold_tier_summary", "gold_od_matrix",
    "gold_pivot_profile", "q3_topn", "q5_join", "q18_having",
    "sess_gap_sessions")

  private def best(body: => Unit): Double = {
    body // warm
    (1 to 3).map { _ =>
      val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
    }.min
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(Main.Cores)
    try {
      val rows = Mix.map { q =>
        val df = () => graft.SparkEntry.queries(q)(spark, args(0))
        val c = best(df().count())
        val m = best(Main.materialize(df()))
        println(Report.json(Map("query" -> q, "count_s" -> c,
          "materialize_s" -> m, "ratio" -> m / c)))
        (c, m)
      }
      val (c, m) = (rows.map(_._1).sum, rows.map(_._2).sum)
      println(Report.json(Map("query" -> "total", "count_s" -> c,
        "materialize_s" -> m, "ratio" -> m / c)))
    } finally spark.stop()
  }
}
