package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.GraftSession

/** One op of the stream: its fields from ops.tsv and its position. */
final case class Op(index: Int, fields: Vector[String]) {
  def name: String = fields(0)
  def arg(i: Int): String = fields(i + 1)
}

/** Result of one timed op: `write` marks ops that commit to a lake or
  * an index; every other op only reads.
  */
final case class Timed(op: Op, seconds: Double, write: Boolean)

/** A workload: set-up (fixtures, memo fills, warm pass) and the ops it
  * runs, with the untimed work that checks them.
  */
trait Workload {
  def setup(spark: SparkSession): Unit
  /** Runs `op` inside `timed`, which times exactly the op's own work.
    * Returns whether the op commits to a lake or index.
    */
  def run(spark: SparkSession, op: Op, timed: (=> Unit) => Unit): Boolean
  /** First op of each round of the stream. The timed phase runs whole
    * rounds, so every run times the same mix of op kinds.
    */
  def roundStart(op: Op): Boolean
  /** Nominal length of one round, measured on a 4-core machine: it turns
    * the run's seconds into a fixed number of rounds.
    */
  def roundSeconds: Double
  /** Untimed work after the timed phase: dumps for the checks. */
  def finish(spark: SparkSession): Unit
  /** Extra end-to-end figures this workload reports. */
  def extra: Map[String, Double] = Map.empty
}

object Main {
  val Cores = 4

  /** Full materialization of a read: the noop sink runs every operator
    * of the plan, unlike count(), whose column pruning drops any
    * projection or aggregate it does not need.
    */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Runs independent set-up tasks on Cores - 1 threads; the first
    * failure fails the set-up.
    */
  def parallel(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Cores - 1)
    try {
      val fs = tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() }))
      fs.foreach(_.get())
    } finally pool.shutdown()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, work, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val tracer = new Tracer(traceArg == "1")
    val out = Paths.get(work, "out")
    val ops = Files.readAllLines(Paths.get(work, "ops.tsv")).asScala
      .filter(_.nonEmpty).zipWithIndex
      .map { case (l, i) => Op(i, l.split("\t", -1).toVector) }.toVector
    val wl: Workload = workload match {
      case "daily_refresh" => new DailyRefresh(work, tracer)
      case "curation" => new Curation(work, tracer)
    }
    // set-up runs from JVM start to the first timed op
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(Cores)
    tracer.attach(spark)
    wl.setup(spark)
    System.gc() // the timed phase starts from a collected heap
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val outputBytes = new java.util.concurrent.atomic.AtomicLong
    val bytesListener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          outputBytes.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(bytesListener)

    // timed phase: closed loop, one client; each op's latency covers only
    // the op's own work. The loop runs a number of whole rounds fixed by
    // `seconds` alone, never by measured latency; op kinds come in the
    // same order for every seed, so every run times the same mix.
    val rounds = math.max(1, math.ceil(seconds / wl.roundSeconds).toInt)
    val timed = mutable.ArrayBuffer.empty[Timed]
    var started = 0
    val phaseStart = System.nanoTime()
    val it = ops.iterator.buffered
    while (it.hasNext && (started < rounds || !wl.roundStart(it.head))) {
      val op = it.next()
      if (wl.roundStart(op)) started += 1
      var lat = 0.0
      val wrote = wl.run(spark, op, body => {
        val t = System.nanoTime()
        tracer.op(op.index, op.name)(body)
        lat += (System.nanoTime() - t) / 1e9
      })
      tracer.endOp(op.index)
      timed += Timed(op, lat, wrote)
    }
    val phaseS = (System.nanoTime() - phaseStart) / 1e9
    org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
    // the checks' dumps are neither traced nor counted as lake writes
    val written = outputBytes.get
    spark.sparkContext.removeSparkListener(bytesListener)
    tracer.detach()
    wl.finish(spark)
    val report = Report.build(workload, setupS, timed.toSeq, phaseS,
      written, wl.extra, tracer)
    Files.write(out.resolve("jvm.json"), report.getBytes("UTF-8"))
    if (tracer.enabled)
      Files.write(out.resolve("spans.json"),
        Report.spans(tracer).getBytes("UTF-8"))
    spark.stop()
  }
}
