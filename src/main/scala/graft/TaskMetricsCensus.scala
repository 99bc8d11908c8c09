package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Sums executor task metrics so each measured query's runs can be
  * attributed to the MEMORY REGIME they executed in, not just wall
  * time: spill bytes (the number that explains a local >1 time exponent
  * over measured-linear work), shuffle IO, GC, and the peak single-task
  * execution memory. Counters reset at each measurement boundary after
  * a listener-bus drain ([[org.apache.spark.graftbridge.ListenerDrain]]),
  * so deltas are exact per query.
  *
  * `gcMs` sums per-task jvmGCTime: concurrent tasks in one local JVM
  * share each GC pause, so the sum reads as GC-pressure-weighted task
  * time (an upper bound on wall GC), not wall seconds.
  *
  * Used by [[Bench]] for its `.metrics.json` sidecar, so every
  * committed number is produced by the one census implementation.
  */
private[graft] final class TaskMetricsCensus extends SparkListener {
  val diskSpill = new AtomicLong
  val memSpill = new AtomicLong
  val shufWrite = new AtomicLong
  val shufRead = new AtomicLong
  val gcMs = new AtomicLong
  val peakTaskMem = new AtomicLong
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      diskSpill.addAndGet(m.diskBytesSpilled)
      memSpill.addAndGet(m.memoryBytesSpilled)
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      gcMs.addAndGet(m.jvmGCTime)
      peakTaskMem.getAndAccumulate(m.peakExecutionMemory, Math.max(_, _))
    }
  }
  def reset(): Unit =
    Seq(diskSpill, memSpill, shufWrite, shufRead, gcMs, peakTaskMem)
      .foreach(_.set(0L))
}
