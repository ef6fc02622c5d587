package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One span; `parent` is -1 for a root, `end` is -1 while open. */
final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long) {
  def dur: Long = end - start
}

/** Spans recorded around the calls the benchmark makes into each layer,
  * kept in memory and written out when the run ends. All times are
  * epoch nanoseconds on one clock (the JVM's nanoTime, anchored to the
  * wall clock once), so listener events stamped in wall-clock
  * milliseconds can be placed inside the spans. */
final class Tracer(val runId: String) {

  private val anchor = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = anchor + System.nanoTime()

  val spans = new ArrayBuffer[Span]()
  private var stack: List[Int] = Nil

  def open(name: String): Int = {
    val s = Span(spans.size, stack.headOption.getOrElse(-1), name, now(), -1L)
    spans += s
    stack = s.id :: stack
    s.id
  }

  def close(id: Int): Unit = {
    require(stack.headOption.contains(id), s"span ${spans(id).name} closed out of order")
    spans(id).end = now()
    stack = stack.tail
  }

  def span[T](name: String)(f: => T): T = {
    val id = open(name)
    try f finally close(id)
  }

  /** A finished span whose boundaries were observed, not bracketed. */
  def add(name: String, parent: Int, start: Long, end: Long): Int = {
    spans += Span(spans.size, parent, name, start, end)
    spans.size - 1
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Duration minus the part of it that child spans cover. */
  def selfTime(id: Int): Long = {
    val s = spans(id)
    val cs = children(id).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = s.start
    cs.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    s.dur - covered
  }

  /** The innermost span that contains an instant. */
  def innermost(at: Long): Option[Span] =
    spans.filter(s => s.start <= at && at <= s.end).minByOption(_.dur)

  def ancestors(s: Span): List[Span] =
    if (s.parent < 0) List(s) else s :: ancestors(spans(s.parent))

  def toJson: java.util.Map[String, AnyRef] = Json.obj(
    "run_id" -> runId,
    "spans" -> Json.arr(spans.toSeq.map(s => Json.obj(
      "id" -> Int.box(s.id), "parent" -> Int.box(s.parent), "name" -> s.name,
      "start_ns" -> Long.box(s.start), "end_ns" -> Long.box(s.end),
      "self_ns" -> Long.box(selfTime(s.id))))))
}

/** A listener on the benchmark's session. It records what the scheduler
  * and executors did, with the instant each job and task ended, so the
  * counts can be charged to the span that was open at that instant (one
  * client thread makes that unambiguous). It also records the start of
  * every SQL execution and each QueryExecution that completed, which
  * the query workloads use to check that an action reused the plan
  * whose Catalyst phases were timed. */
final class SparkTap extends SparkListener with QueryExecutionListener {
  import SparkTap._

  val tasks = new ArrayBuffer[TaskRec]()
  val jobEnds = new ArrayBuffer[Long]()
  val stageEnds = new ArrayBuffer[Long]()
  val sqlStarts = new ArrayBuffer[SqlStart]()
  private val finished = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += TaskRec(e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobEnds += e.time }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageEnds += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlStarts += SqlStart(s.time, s.physicalPlanDescription)
    }
    case _ =>
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    finished.synchronized { finished.add(qe) }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def ran(qe: QueryExecution): Boolean = finished.synchronized { finished.contains(qe) }
  def forget(): Unit = finished.synchronized { finished.clear() }
}

object SparkTap {
  final case class TaskRec(endMs: Long, runMs: Long, cpuNs: Long, shuffleRead: Long,
                           shuffleWrite: Long, spill: Long, peakMem: Long,
                           recordsRead: Long, bytesWritten: Long)
  final case class SqlStart(ms: Long, plan: String)

  /** Blocks until the listener bus has delivered every posted event. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
