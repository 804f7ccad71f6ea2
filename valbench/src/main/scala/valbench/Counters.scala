package valbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Totals of the Spark events between two [[Counters.settle]] calls. */
final case class Snapshot(
    jobsStarted: Long,
    jobsEnded: Long,
    stages: Long,
    tasks: Long,
    shuffleWriteBytes: Long,
    shuffleReadBytes: Long,
    spillBytes: Long,
    executorCpuNs: Long,
    gcMs: Long,
    /** (submission, completion) wall-clock ms of each completed stage */
    stageIntervals: Seq[(Long, Long)]) {

  /** Milliseconds of [from, to] that no stage covered. */
  def uncoveredMs(from: Long, to: Long): Long = {
    var covered = 0L
    var end = from
    stageIntervals.map { case (s, c) => (math.max(s, from), math.min(c, to)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
      .foreach { case (s, c) =>
        if (c > end) { covered += c - math.max(s, end); end = c }
      }
    (to - from) - covered
  }
}

/** A listener that sums task metrics. With `full` off it keeps only what
  * the untraced runs report (shuffle-write bytes) and the job counts
  * needed to know the bus is drained; with `full` on it keeps every
  * counter of [[Snapshot]].
  *
  * Task input bytes are not used: the parquet reader reads through a
  * path that Hadoop's per-thread file statistics do not count, so Spark
  * reports little more than the footers. [[Host.readBytes]] counts reads
  * at the OS instead. */
final class Counters extends SparkListener {
  @volatile var full = false
  private var jobsStarted, jobsEnded, stages, tasks = 0L
  private var shuffleWrite, shuffleRead, spill = 0L
  private var cpuNs, gcMs = 0L
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobsStarted += 1 }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { jobsEnded += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (full) synchronized {
      stages += 1
      val si = e.stageInfo
      for (s <- si.submissionTime; c <- si.completionTime)
        intervals += ((s, c))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      if (full) {
        tasks += 1
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
      }
    }
  }

  def snapshot: Snapshot = synchronized {
    Snapshot(jobsStarted, jobsEnded, stages, tasks, shuffleWrite,
      shuffleRead, spill, cpuNs, gcMs, intervals.toList)
  }

  def reset(): Unit = synchronized {
    jobsStarted = 0; jobsEnded = 0; stages = 0; tasks = 0
    shuffleWrite = 0; shuffleRead = 0; spill = 0
    cpuNs = 0; gcMs = 0
    intervals.clear()
  }
}

object Counters {
  private val TimeoutMs = 60000L

  def register(sc: SparkContext): Counters = {
    val c = new Counters
    sc.addSparkListener(c)
    c
  }

  /** Reads `c` once Spark has delivered every event of the work already
    * done: the bus is empty, every started job has ended, and a second
    * drain changes nothing. */
  def settle(sc: SparkContext, c: Counters): Snapshot = {
    val deadline = System.currentTimeMillis() + TimeoutMs
    BenchBus.drain(sc, TimeoutMs)
    var prev = c.snapshot
    while (true) {
      BenchBus.drain(sc, TimeoutMs)
      val now = c.snapshot
      if (now == prev && now.jobsStarted == now.jobsEnded) return now
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"listener counters did not settle: $now")
      prev = now
      Thread.sleep(2)
    }
    prev
  }
}
