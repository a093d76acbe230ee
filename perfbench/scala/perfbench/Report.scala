package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

/** The JVM side's result file: raw op latencies and set-up times for the
  * end-to-end metrics, and — in the traced run — the per-layer metrics
  * derived from the spans and their Spark counters.
  */
object Report {
  private def java(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      m.map { case (k, x) => k.toString -> java(x) }.asJava
    case s: Seq[_] => s.map(java).asJava
    case d: Double => Double.box(d)
    case l: Long => Long.box(l)
    case i: Int => Int.box(i)
    case b: Boolean => Boolean.box(b)
    case x: AnyRef => x
  }

  def json(v: Any): String = new ObjectMapper().writeValueAsString(java(v))

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def build(workload: String, setupS: Double, timed: Seq[Timed],
      phaseS: Double, outputBytes: Long, extra: Map[String, Double],
      tr: Tracer): String = {
    val ops = timed.map(t => Map("i" -> t.op.index, "name" -> t.op.name,
      "s" -> t.seconds, "write" -> t.write))
    json(Map("workload" -> workload, "setup_s" -> setupS,
      "phase_s" -> phaseS, "output_bytes" -> outputBytes,
      "peak_rss_mb" -> peakRssMb, "ops" -> ops, "extra" -> extra,
      "layers" -> (if (tr.enabled) layers(tr, timed) else Map.empty)))
  }

  /** Per-layer metrics of the traced run. Span timings are medians per
    * call in seconds; Spark counters are means per timed op.
    */
  def layers(tr: Tracer, timed: Seq[Timed]): Map[String, Double] = {
    val spans = tr.spans.toSeq
    val self = Span.selfTimes(spans)
    val opIds = timed.map(_.op.index).toSet
    val inOps = spans.filter(s => opIds.contains(s.op))
    val roots = inOps.filter(_.parent == -1)
    val n = math.max(roots.size, 1).toDouble
    val wallNs = roots.map(_.dur).sum.toDouble
    val byOp = inOps.groupBy(_.op)
    def total(f: Counters => Double): Double =
      inOps.map(s => f(tr.counters(s))).sum
    // driver time: op wall minus the part where any task was running
    val driverNs = roots.map { r =>
      val iv = byOp(r.op).flatMap(s => tr.counters(s).taskIntervals)
        .map { case (a, b) =>
          (math.max(a, r.startMs), math.min(b, r.endMs)) }
      r.dur - Span.unionLength(iv) * 1000000L
    }.sum
    val plans = timed.flatMap(t => tr.opPlans.get(t.op.index))
    def planMean(f: ((Long, Long, Long, Long)) => Long) =
      plans.map(f).sum / n
    val spark = Map(
      "spark.jobs" -> total(_.jobs) / n,
      "spark.stages" -> total(_.stages) / n,
      "spark.tasks" -> total(_.tasks) / n,
      "spark.task_busy_s" -> total(_.busyNs) / 1e9 / n,
      "spark.core_util" ->
        (if (wallNs == 0) 0.0 else total(_.busyNs) / (wallNs * Main.Cores)),
      "spark.driver_s" -> driverNs / 1e9 / n,
      "spark.shuffle_write_bytes" -> total(_.shuffleWrite) / n,
      "spark.shuffle_read_bytes" -> total(_.shuffleRead) / n,
      "spark.spill_bytes" -> total(_.spill) / n,
      "spark.gc_s" -> total(_.gcMs) / 1e3 / n,
      "spark.input_bytes" -> total(_.input) / n,
      "spark.output_bytes" -> total(_.output) / n,
      "spark.agg_fallback_tasks" -> planMean(_._4),
      "spark.shj_joins" -> planMean(_._1),
      "spark.smj_joins" -> planMean(_._2),
      "spark.bhj_joins" -> planMean(_._3))
    // median duration per call of each named span in the timed ops; a
    // span that only the set-up opens (the K-Means fit) from the set-up
    val named = spans.filterNot(_.name.startsWith("op."))
      .filter(s => s.op == -1 || opIds.contains(s.op))
      .groupBy(_.name).map { case (k, ss) =>
        val timedOnes = ss.filter(_.op != -1)
        s"${k}_s" -> median((if (timedOnes.nonEmpty) timedOnes else ss)
          .map(_.dur / 1e9)) }
    // self time per layer, per timed op: where an op's time goes
    val layerSelf = inOps.groupBy(_.name.takeWhile(_ != '.'))
      .map { case (layer, ss) =>
        s"$layer.self_s" -> ss.map(s => self(s.id)).sum / 1e9 / n }
    spark ++ named ++ layerSelf
  }

  def spans(tr: Tracer): String = {
    val self = Span.selfTimes(tr.spans.toSeq)
    json(tr.spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.start,
      "end_ns" -> s.end, "self_ns" -> self(s.id))))
  }
}
