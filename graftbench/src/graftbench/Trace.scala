package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one op share `op`. */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. While disabled, `span` only runs its body, so
  * untraced ops pay nothing beyond the call. */
final class Tracer(var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def span[T](op: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Seconds spent in `name` spans, summed. */
  def total(name: String, ops: Set[String] = Set.empty): Double =
    spans.iterator.filter(s => s.name == name && (ops.isEmpty || ops(s.op)))
      .map(_.seconds).sum

  /** Self time per span name: duration minus the time its children cover. */
  def selfTimes: Map[String, Double] = {
    val childSum = spans.groupMapReduce(_.parent)(_.seconds)(_ + _)
    spans.groupMapReduce(_.name)(s => s.seconds - childSum.getOrElse(s.id, 0.0))(_ + _)
  }
}

/** Task/stage/job counters of one job group. */
final class GroupCounters {
  val jobs = new LongAdder
  val stages = new LongAdder
  val tasks = new LongAdder
  val runMs = new LongAdder
  val cpuNs = new LongAdder
  val gcMs = new LongAdder
  val shuffleWrite = new LongAdder
  val shuffleRead = new LongAdder
  val fetchWaitMs = new LongAdder
  val spill = new LongAdder
  val inputRows = new LongAdder
  val inputBytes = new LongAdder
  /** max/median task time of each completed stage with 2+ tasks */
  val skews = new java.util.concurrent.ConcurrentLinkedQueue[Double]
}

/** Spark listener that files every job, stage and task under the job group
  * the client thread set when it submitted the job. */
final class GroupListener extends SparkListener {
  val groups = new ConcurrentHashMap[String, GroupCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageTaskMs = new ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
  val events = new AtomicLong

  private def counters(g: String) = groups.computeIfAbsent(g, _ => new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    counters(g).jobs.increment()
    e.stageIds.foreach(id => stageGroup.put(id, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val id = e.stageInfo.stageId
    val c = counters(stageGroup.getOrDefault(id, "none"))
    c.stages.increment()
    Option(stageTaskMs.remove(id)).map(_.asScala.toSeq.sorted).foreach { ts =>
      if (ts.size >= 2) {
        val med = ts(ts.size / 2).toDouble
        if (med > 0) c.skews.add(ts.last / med)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val c = counters(stageGroup.getOrDefault(e.stageId, "none"))
    c.tasks.increment()
    stageTaskMs.computeIfAbsent(e.stageId, _ => new java.util.concurrent.ConcurrentLinkedQueue[Long])
      .add(e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.add(m.executorRunTime)
      c.cpuNs.add(m.executorCpuTime)
      c.gcMs.add(m.jvmGCTime)
      c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      c.fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
      c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.inputRows.add(m.inputMetrics.recordsRead)
      c.inputBytes.add(m.inputMetrics.bytesRead)
    }
  }

  /** Block until no listener event has arrived for `quietMs` (the listener
    * bus delivers asynchronously), at most `maxMs`. */
  def drain(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = events.get()
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
           System.currentTimeMillis() - quietSince < quietMs) {
      Thread.sleep(50)
      val now = events.get()
      if (now != last) { last = now; quietSince = System.currentTimeMillis() }
    }
  }
}

/** Counts SQL executions whose analyzed plan reads a file under `watched`
  * — how often the ops re-scan the directories they ingest. */
final class ScanListener(watched: String) extends QueryExecutionListener {
  val scans = new AtomicLong

  private def reads(qe: QueryExecution): Boolean =
    qe.analyzed.collectLeaves().exists {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.exists(_.toString.contains(watched))
        case _ => false
      }
      case _ => false
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (reads(qe)) scans.incrementAndGet()

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (reads(qe)) scans.incrementAndGet()
}
