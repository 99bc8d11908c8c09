package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a module, as seen from outside the module. */
final case class Span(id: Int, name: String, parent: Int, traceId: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work counted at a span boundary (all tasks of the jobs that ran
  * while the span was the innermost open one). */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var taskNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var peakTaskMem = 0L
  var spillBytes = 0L
  /** [launch, finish) of every task, epoch milliseconds. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** The benchmark's own listener. Jobs are attributed by their job group,
  * which [[Tracer.span]] sets to the span name; stages inherit the group
  * of the job that submitted them. */
final class WorkListener extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Work]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def work(group: String): Work = byGroup.getOrElseUpdate(group, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val w = work(group)
    w.jobs += 1
    e.stageIds.foreach(stageGroup(_) = group)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageGroup.getOrElse(e.stageId, ""))
    w.tasks += 1
    w.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.taskNs += m.executorRunTime * 1000000L
      w.gcMs += m.jvmGCTime
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      w.outputBytes += m.outputMetrics.bytesWritten
      w.outputRecords += m.outputMetrics.recordsWritten
      w.peakTaskMem = math.max(w.peakTaskMem, m.peakExecutionMemory)
    }
  }

  def get(group: String): Work = synchronized(byGroup.getOrElse(group, new Work))
}

/** Spans kept in memory for one traced run. Each span sets the Spark job
  * group to its name (after `groupPrefix`) for its duration and restores
  * the enclosing one. Tracers on one context with different prefixes
  * count their jobs apart. */
final class Tracer(val sc: SparkContext, val traceId: String, groupPrefix: String = "") {
  val listener = new WorkListener
  sc.addSparkListener(listener)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack[(Int, String)]((0, "root"))
  private val rootStart = System.nanoTime()
  private var nextId = 1

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.top._1
    open.push((id, name))
    sc.setJobGroup(groupPrefix + name, name)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      open.pop()
      if (open.size > 1) sc.setJobGroup(groupPrefix + open.top._2, open.top._2)
      else sc.clearJobGroup()
      spans += Span(id, name, parent, traceId, t0, t1)
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.graftbridge.ListenerDrain.drain(sc)

  /** Closes the root span and returns every span, root first. */
  def finish(): Seq[Span] = {
    drain()
    Span(0, "root", -1, traceId, rootStart, System.nanoTime()) +:
      spans.sortBy(_.startNs).toSeq
  }

  def seconds(name: String): Double =
    spans.filter(_.name == name).map(_.seconds).sum
}

object Tracer {

  /** Self time of every span, keyed by span id. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> Stats.selfTime(s.startNs, s.endNs,
        children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
    }.toMap
  }
}
