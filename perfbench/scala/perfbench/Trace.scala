package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `parent` is the id of
  * the enclosing span (-1 for an op's root span); spans of one op share
  * `op`. Times are System.nanoTime.
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Int, val start: Long) {
  var end: Long = start
  // wall clock, to line up with Spark's task launch and finish times
  val startMs: Long = System.currentTimeMillis()
  var endMs: Long = startMs
  def dur: Long = end - start
}

object Span {
  /** Self time of every span: its duration minus the union of the
    * intervals its direct children cover (children may overlap when a
    * layer runs work on several threads).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> (s.dur - covered)
    }.toMap
  }

  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((a, b) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark counters of one span, attributed through the job group the
  * span sets on the calling thread (inherited by threads the layer
  * starts).
  */
final class Counters {
  var jobs, stages, tasks = 0L
  var busyNs, shuffleWrite, shuffleRead, spill, gcMs, input, output = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
}

/** Collects task metrics per job group, and the executed plans'
  * join strategies and aggregate fallbacks per op. Registered only in
  * the traced run.
  */
final class TraceListener extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  // plan counters since the last drain
  var shj, smj, bhj, fallbacks = 0L

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    group(e.properties).foreach { g =>
      byGroup.getOrElseUpdate(g, new Counters).jobs += 1
      e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(g =>
        byGroup.getOrElseUpdate(g, new Counters).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = byGroup.getOrElseUpdate(g, new Counters)
      c.tasks += 1
      c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        c.busyNs += m.executorRunTime * 1000000L
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    val plan = qe.executedPlan
    shj += collect(plan) { case j: ShuffledHashJoinExec => j }.size
    smj += collect(plan) { case j: SortMergeJoinExec => j }.size
    bhj += collect(plan) { case j: BroadcastHashJoinExec => j }.size
    fallbacks += collect(plan) { case a: ObjectHashAggregateExec =>
      a.metrics.get("numTasksFallBacked").map(_.value).getOrElse(0L)
    }.sum
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      e: Exception): Unit = ()

  def drainPlans(): (Long, Long, Long, Long) = synchronized {
    val r = (shj, smj, bhj, fallbacks)
    shj = 0; smj = 0; bhj = 0; fallbacks = 0
    r
  }
}

/** Spans kept in memory and written out when the run ends. With
  * tracing off, [[span]] only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new TraceListener
  private var stack: List[Span] = Nil
  private var op = -1
  private var spark: SparkSession = _
  // spans nest on one stack: work the set-up spreads over other threads
  // counts toward the span that started it
  private var owner: Thread = _
  // per-op plan counters (shj, smj, bhj, fallbacks), drained at op end
  val opPlans = mutable.Map.empty[Int, (Long, Long, Long, Long)]

  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    owner = Thread.currentThread()
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(listener)
  }

  def detach(): Unit = if (enabled && spark != null) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
    spark = null
  }

  /** Runs `body` as op `id`'s root span. */
  def op(id: Int, name: String)(body: => Unit): Unit = {
    op = id
    span(s"op.$name")(body)
  }

  /** After op `id`, outside its timing: waits for the listener bus so
    * the op's events are all attributed before the next op starts.
    */
  def endOp(id: Int): Unit = if (enabled) {
    drain()
    opPlans(id) = listener.drainPlans()
  }

  def span[A](name: String)(body: => A): A =
    if (spark == null || (Thread.currentThread() ne owner)) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id)
        .getOrElse(-1), op, System.nanoTime())
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setJobGroup(Tracer.GroupPrefix + s.id, name)
      try body
      finally {
        s.end = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Waits until the listener bus has delivered every posted event. */
  private def drain(): Unit =
    org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)

  def counters(s: Span): Counters =
    listener.synchronized(listener.byGroup.getOrElse(
      Tracer.GroupPrefix + s.id, new Counters))
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
}
