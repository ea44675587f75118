package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed interval at a layer boundary and the span that
  * caused it. Times are `System.nanoTime` nanoseconds. */
final case class Span(id: Int, parent: Int, name: String, start: Long,
    end: Long)

/** In-memory span recorder; a disabled tracer records nothing. */
final class Tracer(val on: Boolean) {
  private val buf = mutable.ArrayBuffer[Span]()
  private var next = 0
  /** Converts listener / query-tracker epoch milliseconds to nanoTime. */
  private val epochToNano: Long =
    System.nanoTime() - System.currentTimeMillis() * 1000000L

  def fromEpochMs(ms: Long): Long = ms * 1000000L + epochToNano

  def add(parent: Int, name: String, start: Long, end: Long): Int =
    if (!on) -1 else { next += 1; buf += Span(next, parent, name, start, end); next }

  /** Times `body` as a span; the body receives the span's id as parent. */
  def span[T](parent: Int, name: String)(body: Int => T): T =
    if (!on) body(-1)
    else {
      next += 1
      val id = next
      val t0 = System.nanoTime()
      try body(id)
      finally buf += Span(id, parent, name, t0, System.nanoTime())
    }

  def spans: Seq[Span] = buf.toSeq

  /** The span `root` and all its descendants. */
  def subtree(root: Int): Seq[Span] = {
    val kids = buf.groupBy(_.parent)
    def walk(id: Int): Seq[Span] =
      kids.getOrElse(id, Nil).toSeq.flatMap(s => s +: walk(s.id))
    buf.filter(_.id == root).toSeq ++ walk(root)
  }
}

object Tracer {
  /** Seconds of self time per span name: each span's duration minus the
    * part of its interval that its children cover (children may overlap,
    * e.g. concurrent stages, so their union is subtracted). */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a })
        (s.end - s.start - covered).max(0L)
      }.sum / 1e9
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur: (Long, Long) = null
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (cur == null) cur = (a, b)
      else if (a <= cur._2) cur = (cur._1, math.max(cur._2, b))
      else { total += cur._2 - cur._1; cur = (a, b) }
    }
    if (cur != null) total += cur._2 - cur._1
    total
  }
}

/** Per-stage totals gathered from task-end events. */
final class StageAcc(val stageId: Int, val jobId: Int, val tag: String) {
  var submitMs = 0L
  var completeMs = 0L
  var tasks = 0
  var maxTaskMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inRecords = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
}

final class JobAcc(val jobId: Int, val tag: String, val startMs: Long) {
  var endMs = 0L
}

/** The job/stage/task listener. Jobs carry the local property
  * `perfbench.tag` set around each build and action, so every stage and
  * task is attributed to the query sample and phase that caused it. */
final class StageListener extends SparkListener {
  val jobs = mutable.ArrayBuffer[JobAcc]()
  val stages = mutable.LinkedHashMap[Int, StageAcc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p =>
      Option(p.getProperty(StageListener.TagKey))).getOrElse("")
    jobs += new JobAcc(e.jobId, tag, e.time)
    e.stageIds.foreach(s =>
      if (!stages.contains(s)) stages(s) = new StageAcc(s, e.jobId, tag))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.jobId == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
        s.completeMs = e.stageInfo.completionTime.getOrElse(0L)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      s.maxTaskMs = math.max(s.maxTaskMs, e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inRecords += m.inputMetrics.recordsRead
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Removes and returns everything recorded under `tag`. */
  def drainTag(tag: String): (Seq[JobAcc], Seq[StageAcc]) = synchronized {
    val js = jobs.filter(_.tag == tag).toSeq
    val ss = stages.values.filter(_.tag == tag).toSeq
    jobs --= js
    ss.foreach(s => stages.remove(s.stageId))
    (js, ss)
  }
}

object StageListener {
  val TagKey = "perfbench.tag"
}

/** Keeps the last successfully executed QueryExecution: the benchmark
  * runs one action at a time, so after an action and a drained listener
  * bus this is that action's execution. */
final class LastExecution extends QueryExecutionListener {
  @volatile var last: QueryExecution = _
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
    last = qe
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    ()
}

/** Counts over a finished physical plan, descending into adaptive query
  * stages and subqueries. */
object PlanStats extends AdaptiveSparkPlanHelper {
  final case class Stats(nodes: Int, exchanges: Int, sorts: Int, scans: Int,
      scanBytes: Long, joinRowsOut: Long, written: Map[String, Long])

  private def wrapper(p: SparkPlan): Boolean = p match {
    case _: AdaptiveSparkPlanExec | _: QueryStageExec => true
    case p => p.nodeName == "WholeStageCodegen" || p.nodeName == "InputAdapter"
  }

  def of(plan: SparkPlan): Stats = {
    val all = collectWithSubqueries(plan) { case p => p }
    def metric(p: SparkPlan, k: String): Long =
      p.metrics.get(k).map(_.value).getOrElse(0L)
    val written = collectFirst(plan) { case w: DataWritingCommandExec =>
      w.cmd.metrics.map { case (k, m) => k -> m.value }.toMap
    }.getOrElse(Map.empty)
    Stats(
      nodes = all.count(p => !wrapper(p)),
      exchanges = all.count(_.isInstanceOf[Exchange]),
      sorts = all.count(_.isInstanceOf[SortExec]),
      scans = all.count(_.isInstanceOf[FileSourceScanLike]),
      scanBytes = all.collect { case s: FileSourceScanLike =>
        metric(s, "filesSize") }.sum,
      joinRowsOut = all.collect { case j: BaseJoinExec =>
        metric(j, "numOutputRows") }.sum,
      written = written)
  }
}
