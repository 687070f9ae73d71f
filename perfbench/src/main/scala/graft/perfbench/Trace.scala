package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** One timed call into a layer: who caused it (`parent`, 0 at the top),
  * and which run it belongs to. Times are nanoseconds from the tracer's
  * start. */
final case class Span(id: Long, name: String, parent: Long, run: String, start: Long, var end: Long = -1L)

/** Executor-side totals of one stage, summed over its finished tasks. */
final class StageRec(val stageId: Int, val span: Long) {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inRecords = 0L
  var inBytes = 0L
  var outBytes = 0L
  var shWriteRecords = 0L
  var shWriteBytes = 0L
  var shReadRecords = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  /** (launch, finish) epoch millis of each task, for wall-time coverage. */
  val taskWindows = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Sums over a set of stages plus the job count that produced them. */
final case class Agg(jobs: Long, stages: Seq[StageRec]) {
  def tasks: Long = stages.map(_.tasks).sum
  def execCpuS: Double = stages.map(_.cpuNs).sum / 1e9
  def gcS: Double = stages.map(_.gcMs).sum / 1e3
  def inRecords: Long = stages.map(_.inRecords).sum
  def inBytes: Long = stages.map(_.inBytes).sum
  def outBytes: Long = stages.map(_.outBytes).sum
  def shWriteRecords: Long = stages.map(_.shWriteRecords).sum
  def shWriteBytes: Long = stages.map(_.shWriteBytes).sum
  def fetchWaitMs: Long = stages.map(_.fetchWaitMs).sum
  def spillBytes: Long = stages.map(_.spillBytes).sum
}

/** The benchmark's tracer: spans around its own calls into each layer, a
  * Spark job group per span, and a listener that attributes every job,
  * stage and task to the span whose thread submitted it. Spans and stage
  * records stay in memory and are written out once, at the end.
  *
  * With `enabled = false` a span only runs its body: untraced runs pay
  * no job-group or bookkeeping cost at the call sites. */
final class Tracer(spark: SparkSession, val run: String) extends SparkListener {
  @volatile var enabled = false
  private val t0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private var stack: List[Span] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val stageRecs = new ConcurrentHashMap[Int, StageRec]()

  private def groupOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-")).map(_.drop(3).toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobSpan.put(e.jobId, groupOf(e.properties))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageRecs.putIfAbsent(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId, groupOf(e.properties)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = stageRecs.get(e.stageId)
    val m = e.taskMetrics
    if (rec != null && m != null) rec.synchronized {
      rec.tasks += 1
      rec.runMs += m.executorRunTime
      rec.cpuNs += m.executorCpuTime
      rec.gcMs += m.jvmGCTime
      rec.inRecords += m.inputMetrics.recordsRead
      rec.inBytes += m.inputMetrics.bytesRead
      rec.outBytes += m.outputMetrics.bytesWritten
      rec.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
      rec.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      rec.shReadRecords += m.shuffleReadMetrics.recordsRead
      rec.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      rec.taskMs += m.executorRunTime
      rec.taskWindows += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  /** Time `body` as a span named `name`, nested under the current span.
    * Jobs it submits carry the span's id as their job group. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0L)
      val s = Span(ids.incrementAndGet(), name, parent, run, System.nanoTime() - t0)
      spans.synchronized(spans += s)
      stack = s :: stack
      setGroup(Some(s))
      try body
      finally {
        s.end = System.nanoTime() - t0
        stack = stack.tail
        setGroup(stack.headOption)
      }
    }

  private def setGroup(s: Option[Span]): Unit = s match {
    case Some(x) => spark.sparkContext.setJobGroup(s"pb-${x.id}", x.name, interruptOnCancel = false)
    case None => spark.sparkContext.clearJobGroup()
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)

  def seconds(s: Span): Double = (s.end - s.start) / 1e9

  /** The latest span called `name`. */
  def last(name: String): Span =
    spans.synchronized(spans.findLast(_.name == name))
      .getOrElse(throw new NoSuchElementException(s"no span named $name"))

  /** `s` and every span below it. */
  def subtree(s: Span): Set[Long] = {
    val kids = spans.synchronized(spans.toList).groupBy(_.parent)
    def go(id: Long): Set[Long] = kids.getOrElse(id, Nil).flatMap(k => go(k.id)).toSet + id
    go(s.id)
  }

  /** Jobs and stages attributed to any span in `ids`. */
  def agg(ids: Set[Long]): Agg = {
    drain()
    Agg(jobSpan.values().asScala.count(ids.contains).toLong,
      stageRecs.values().asScala.filter(r => ids.contains(r.span)).toSeq.sortBy(_.stageId))
  }

  /** Share of the span's wall time during which no task of its own jobs
    * was running: the driver-only part of the call. */
  def driverShare(s: Span): Double = {
    val a = agg(subtree(s))
    val lo = epochMs0 + s.start / 1000000
    val hi = epochMs0 + s.end / 1000000
    val windows = a.stages.flatMap(r => r.synchronized(r.taskWindows.toList))
      .map { case (b, e) => (math.max(b, lo), math.min(e, hi)) }
      .filter { case (b, e) => e > b }.sortBy(_._1)
    var covered = 0L
    var curB = -1L
    var curE = -1L
    windows.foreach { case (b, e) =>
      if (b > curE) { if (curE > curB) covered += curE - curB; curB = b; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curB) covered += curE - curB
    val wall = math.max(hi - lo, 1L)
    math.max(0.0, 1.0 - covered.toDouble / wall)
  }

  /** Spans and per-stage records, for the trace file. */
  def dump(): Map[String, Any] = {
    drain()
    Map(
      "run" -> run,
      "spans" -> spans.synchronized(spans.toList).map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start_ms" -> s.start / 1e6, "end_ms" -> s.end / 1e6)),
      "stages" -> stageRecs.values().asScala.toSeq.sortBy(_.stageId).map(r => Map(
        "stage" -> r.stageId, "span" -> r.span, "tasks" -> r.tasks,
        "run_ms" -> r.runMs, "cpu_ms" -> r.cpuNs / 1e6, "gc_ms" -> r.gcMs,
        "in_records" -> r.inRecords, "in_bytes" -> r.inBytes, "out_bytes" -> r.outBytes,
        "shuffle_write_records" -> r.shWriteRecords, "shuffle_write_bytes" -> r.shWriteBytes,
        "shuffle_read_records" -> r.shReadRecords, "fetch_wait_ms" -> r.fetchWaitMs,
        "spill_bytes" -> r.spillBytes)))
  }
}

/** Reads SQL metrics out of an executed physical plan, looking through
  * adaptive execution, query stages and cached relations. */
object PlanMetrics {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def metric(df: DataFrame, node: SparkPlan => Boolean, name: String): Long =
    nodes(df.queryExecution.executedPlan).filter(node)
      .flatMap(_.metrics.get(name)).map(_.value).sum
}
