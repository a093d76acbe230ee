package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, Sum}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Self-tests of the benchmark's JVM side:
  *  - the timing helper materializes full results: the executed plan of
  *    a timed q1_agg still computes its SUM aggregates and the COUNT its
  *    averages divide by, which a count() plan prunes away;
  *  - a span's self time plus the part its children cover equals its
  *    duration, on a synthetic tree and on spans the tracer records.
  * Usage: SelfTest <dir with gen_sf tables>. Exit code 1 on a failure.
  */
object SelfTest extends AdaptiveSparkPlanHelper {
  private var failures = 0

  private def check(name: String, ok: Boolean, detail: => String): Unit = {
    println(s"${if (ok) "pass" else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  /** Aggregate functions the executed plans of `run` compute. */
  private def aggregatesOf(spark: SparkSession)(run: => Unit): Set[String] = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      run
      org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    plans.synchronized(plans.toSeq).flatMap(p => collect(p) {
      case a: BaseAggregateExec => a.aggregateExpressions.map(_.aggregateFunction)
    }.flatten).collect {
      case _: Sum => "sum"
      case _: Count => "count"
    }.toSet
  }

  private def materializes(spark: SparkSession, base: String): Unit = {
    val q1 = graft.SparkEntry.queries("q1_agg")
    val timed = aggregatesOf(spark)(Main.materialize(q1(spark, base)))
    check("timed q1_agg computes its SUM and COUNT aggregates",
      timed == Set("sum", "count"), s"aggregates in the plan: $timed")
    val counted = aggregatesOf(spark)(q1(spark, base).count())
    check("count() of q1_agg prunes its SUMs (the gap the helper closes)",
      !counted.contains("sum"), s"aggregates in the plan: $counted")
  }

  private def selfTimes(spark: SparkSession): Unit = {
    def span(id: Int, parent: Int, a: Long, b: Long) = {
      val s = new Span(id, s"s$id", parent, 0, a)
      s.end = b
      s
    }
    // children overlap (a layer running work on several threads)
    val tree = Seq(span(0, -1, 0, 100), span(1, 0, 10, 30),
      span(2, 0, 20, 50), span(3, 0, 60, 70), span(4, 2, 25, 45))
    val self = Span.selfTimes(tree)
    check("synthetic tree self times", self == Map(0 -> 50L, 1 -> 20L,
      2 -> 10L, 3 -> 10L, 4 -> 20L), s"got $self")

    val tr = new Tracer(true)
    tr.attach(spark)
    tr.op(0, "nested") {
      tr.span("outer") {
        tr.span("inner.a")(spark.range(1000).selectExpr("sum(id)").collect())
        Thread.sleep(20)
        tr.span("inner.b")(spark.range(10).collect())
      }
    }
    tr.endOp(0)
    tr.detach()
    val spans = tr.spans.toSeq
    val st = Span.selfTimes(spans)
    val kids = spans.groupBy(_.parent)
    val bad = spans.filterNot { s =>
      val covered = kids.getOrElse(s.id, Nil).map(_.dur).sum
      st(s.id) + covered == s.dur
    }
    check("recorded span self time + children = duration", bad.isEmpty,
      s"mismatched spans: ${bad.map(_.name)}")
    check("recorded spans nest", spans.map(_.name) ==
      Seq("op.nested", "outer", "inner.a", "inner.b"),
      s"got ${spans.map(_.name)}")
    check("Spark work is attributed to the inner span",
      tr.counters(spans(2)).jobs > 0 && tr.counters(spans(0)).jobs == 0,
      "job counts " + spans.map(s => s.name -> tr.counters(s).jobs))
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(Main.Cores)
    try {
      materializes(spark, args(0))
      selfTimes(spark)
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
