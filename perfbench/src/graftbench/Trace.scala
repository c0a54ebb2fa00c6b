package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the program. Times are seconds since the
  * benchmark's `main` was entered; `parent` is the enclosing span's id
  * (-1 at top level). Spark jobs started while a span is innermost run
  * under the job group `span-<id>`, so the listener can bill them. */
final case class Span(id: Int, name: String, parent: Int, start: Double,
                      var end: Double = Double.NaN) {
  def seconds: Double = end - start
}

/** Per-span Spark counters, filled by [[Trace]]'s listener. */
final class SpanStats {
  var jobs = 0; var stages = 0; var tasks = 0
  var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputBytes = 0L; var peakExecMem = 0L
  /** [submit, end] epoch-ms interval of every job of the span. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Analysis + optimization + planning seconds of its SQL actions. */
  var planS = 0.0
  /** Executed plan of the last SQL action that ran under the span. */
  var plan: Option[SparkPlan] = None
}

/** Spans and their Spark counters.
  *
  * With tracing off, spans are still recorded (they are the
  * benchmark's own timers) but no listener is registered and no job
  * group is set, so the program runs exactly as a user would run it. */
final class Trace(spark: SparkSession, val enabled: Boolean,
                  val mainEpochMs: Long, mainNs: Long) {
  val runId: String = java.util.UUID.randomUUID().toString
  val spans = mutable.ArrayBuffer.empty[Span]
  val stats = mutable.Map.empty[Int, SpanStats]
  private var stack = List.empty[Span]
  private val sc = spark.sparkContext

  def now: Double = (System.nanoTime() - mainNs) / 1e9

  def span[T](name: String)(body: => T): (T, Span) = {
    val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), now)
    spans += s
    stack = s :: stack
    setGroup()
    try (body, s)
    finally {
      s.end = now
      stack = stack.tail
      setGroup()
    }
  }

  private def setGroup(): Unit =
    if (enabled) stack.headOption match {
      case Some(s) => sc.setJobGroup(s"span-${s.id}", s.name)
      case None => sc.clearJobGroup()
    }

  private def statsOf(group: String): Option[SpanStats] =
    Option(group).filter(_.startsWith("span-"))
      .map(g => stats.synchronized(
        stats.getOrElseUpdate(g.stripPrefix("span-").toInt, new SpanStats)))

  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, (String, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobGroup(e.jobId) = (g, e.time)
      e.stageIds.foreach(stageGroup(_) = g)
      statsOf(g).foreach(_.jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobGroup.remove(e.jobId).foreach { case (g, t0) =>
        statsOf(g).foreach(_.jobIntervals += ((t0, e.time)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageGroup.get(e.stageInfo.stageId).flatMap(statsOf).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageGroup.get(e.stageId).flatMap(statsOf).foreach { s =>
        s.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          s.taskRunMs += m.executorRunTime
          s.taskCpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
          s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
        }
      }
  }

  /** SQL actions report their QueryExecution on the listener bus; the
    * action's span is the innermost one open when the action ran,
    * which the main thread records in [[sqlSpan]] before forcing. */
  @volatile private var sqlSpan = -1
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      if (sqlSpan >= 0) statsOf(s"span-$sqlSpan").foreach { s =>
        val phases = qe.tracker.phases
        s.planS += Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum / 1e3
        s.plan = Some(qe.executedPlan)
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Run an action inside `span`, billing its SQL plan to that span. */
  def action[T](name: String)(body: => T): (T, Span) =
    span(name) {
      sqlSpan = stack.head.id
      try body finally { drain(); sqlSpan = -1 }
    }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = if (enabled) org.apache.spark.graftbench.Bus.drain(sc)

  /** Counters of a span and all its descendants. */
  def rollup(root: Span): SpanStats = {
    val ids = mutable.Set(root.id)
    spans.foreach(s => if (ids(s.parent)) ids += s.id)
    val out = new SpanStats
    ids.toSeq.sorted.flatMap(stats.get).foreach { s =>
      out.jobs += s.jobs; out.stages += s.stages; out.tasks += s.tasks
      out.taskRunMs += s.taskRunMs; out.taskCpuNs += s.taskCpuNs
      out.gcMs += s.gcMs; out.shuffleWrite += s.shuffleWrite
      out.shuffleRead += s.shuffleRead; out.spill += s.spill
      out.inputBytes += s.inputBytes
      out.peakExecMem = math.max(out.peakExecMem, s.peakExecMem)
      out.jobIntervals ++= s.jobIntervals
      out.planS += s.planS
      if (s.plan.isDefined) out.plan = s.plan
    }
    out
  }

  /** Seconds of `span` during which none of its Spark jobs ran. */
  def idleSeconds(s: Span, st: SpanStats): Double = {
    val t0 = mainEpochMs + (s.start * 1e3).toLong
    val t1 = mainEpochMs + (s.end * 1e3).toLong
    var busy = 0L; var cursor = t0
    st.jobIntervals.sortBy(_._1).foreach { case (a, b) =>
      val lo = math.max(a, cursor); val hi = math.min(b, t1)
      if (hi > lo) { busy += hi - lo; cursor = hi }
    }
    math.max(0.0, s.seconds - busy / 1e3)
  }

  /** Spans as one JSON document. */
  def json(extra: Map[String, String]): String = {
    def q(s: String) = Json.str(s)
    val rows = spans.map { s =>
      val st = stats.get(s.id)
      val counters = st.fold("") { c =>
        s""","jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks}""" +
          s""","task_run_s":${c.taskRunMs / 1e3},"shuffle_write_bytes":${c.shuffleWrite}""" +
          s""","shuffle_read_bytes":${c.shuffleRead},"plan_s":${c.planS}""" +
          c.plan.fold("")(p => s""","plan":${PlanCounts.json(p)}""")
      }
      s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},""" +
        s""""run":${q(runId)},"start":${s.start},"end":${s.end}$counters}"""
    }
    val head = extra.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")
    s"""{$head,"spans":[${rows.mkString(",\n")}]}"""
  }
}

/** Operator counts of an executed plan, looking through adaptive
  * query stages. */
object PlanCounts extends AdaptiveSparkPlanHelper {
  val Names: Seq[String] =
    Seq("exchanges", "broadcasts", "sort_merge_joins", "windows", "sorts", "cached_scans")

  def apply(plan: SparkPlan): Map[String, Int] = {
    def n(pf: PartialFunction[SparkPlan, Unit]): Int = collect(plan)(pf).size
    Map(
      "exchanges" -> n { case _: ShuffleExchangeLike => },
      "broadcasts" -> n { case _: BroadcastExchangeLike => },
      "sort_merge_joins" -> n { case _: SortMergeJoinExec => },
      "windows" -> n { case _: WindowExec => },
      "sorts" -> n { case _: SortExec => },
      // session artifacts: persisted frames and localCheckpoint snapshots
      "cached_scans" -> n { case _: InMemoryTableScanExec | _: RDDScanExec => })
  }

  def json(plan: SparkPlan): String =
    apply(plan).toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
