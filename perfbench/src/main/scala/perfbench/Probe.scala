package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the engine's Spark execution through public listener APIs.
  *
  * Every event is kept with its own timestamp, so an evaluation's counts
  * are read by time window after the asynchronous listener bus has been
  * drained ([[drain]]), never by arrival order. With `full = false` only
  * jobs and block-store updates are recorded (the untraced run); the
  * traced run adds stages, tasks and Catalyst phase times.
  */
final class Probe(spark: SparkSession, full: Boolean) extends SparkListener {
  import Probe._

  private val jobStarts = new ConcurrentLinkedQueue[(Int, Long)]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val stageSubmits = new ConcurrentLinkedQueue[(Int, Int, Long)]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()

  // block store: RDD blocks only (persist/cache/localCheckpoint), the
  // bytes the engine pins; broadcast pieces are freed by GC timing
  private val blocks = scala.collection.mutable.HashMap.empty[String, Long]
  private val inWindow = scala.collection.mutable.HashSet.empty[String]
  private var windowOpen = false
  private var windowBytes = 0L
  private var windowPeak = 0L

  spark.sparkContext.addSparkListener(this)
  if (full) spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val end = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
      phases.add(PhaseRec(end, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add((e.jobId, e.time))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add((e.jobId, e.time))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (full) {
      val s = e.stageInfo
      stageSubmits.add((s.stageId, s.attemptNumber(),
        s.submissionTime.getOrElse(System.currentTimeMillis())))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (full && m != null) {
      val i = e.taskInfo
      tasks.add(TaskRec(e.stageId, e.stageAttemptId, i.launchTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.diskBytesSpilled, m.peakExecutionMemory))
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val id = info.blockId.name
      val bytes =
        if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val before = blocks.getOrElse(id, 0L)
      if (bytes == 0L) blocks.remove(id) else blocks(id) = bytes
      if (windowOpen) {
        if (before == 0L && bytes > 0L) inWindow += id
        if (inWindow.contains(id)) {
          windowBytes += bytes - before
          windowPeak = math.max(windowPeak, windowBytes)
          if (bytes == 0L) inWindow -= id
        }
      }
    }
  }

  /** Waits until the asynchronous bus has delivered every event posted
    * so far. A job's start, task ends and end are posted before its
    * action returns, so after this an evaluation's events are all here. */
  def drain(): Unit = org.apache.spark.ListenerBusDrain(spark.sparkContext)

  /** Opens a block-store window: only blocks first stored after this
    * call count toward [[closeBlockWindow]]'s peak. */
  def openBlockWindow(): Unit = synchronized {
    inWindow.clear(); windowBytes = 0L; windowPeak = 0L; windowOpen = true
  }

  /** Peak bytes pinned by blocks stored since [[openBlockWindow]]. */
  def closeBlockWindow(): Long = synchronized { windowOpen = false; windowPeak }

  /** Job count and Spark execution totals of the window [t0, t1] (epoch
    * ms, inclusive), read after [[drain]]. */
  def window(t0: Long, t1: Long): Window = {
    def in(t: Long) = t >= t0 && t <= t1
    val intervals = jobIntervals(t0, t1)
    val submits = stageSubmits.asScala.map(s => (s._1, s._2) -> s._3).toMap
    val ts = tasks.asScala.filter(t => in(t.launch)).toSeq
    val ps = phases.asScala.filter(p => in(p.end)).toSeq
    Window(
      jobs = intervals.size,
      jobCoveredMs = unionLength(intervals.map { case (a, b) => (a.toDouble, b.toDouble.min(t1)) }),
      stages = stageSubmits.asScala.count(s => in(s._3)),
      tasks = ts.size,
      taskWaitMs = ts.map(t => submits.get((t.stage, t.attempt)).map(s => (t.launch - s).max(0L)).getOrElse(0L)).sum.toDouble,
      taskRunMs = ts.map(_.runMs).sum.toDouble,
      taskCpuNs = ts.map(_.cpuNs).sum.toDouble,
      gcMs = ts.map(_.gcMs).sum.toDouble,
      shuffleWriteBytes = ts.map(_.shuffleWrite).sum.toDouble,
      shuffleReadBytes = ts.map(_.shuffleRead).sum.toDouble,
      spillBytes = ts.map(_.spill).sum.toDouble,
      peakExecMemBytes = if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max.toDouble,
      analysisMs = ps.map(_.analysis).sum,
      optimizationMs = ps.map(_.optimization).sum,
      planningMs = ps.map(_.planning).sum)
  }

  /** Jobs started inside [t0, t1] whose end has not been delivered. */
  def openJobs(t0: Long, t1: Long): Int = {
    val ended = jobEnds.asScala.map(_._1).toSet
    jobStarts.asScala.count(j => j._2 >= t0 && j._2 <= t1 && !ended(j._1))
  }

  /** (start, end) epoch ms of every job started inside [t0, t1]. */
  def jobIntervals(t0: Long, t1: Long): Seq[(Long, Long)] = {
    val ends = jobEnds.asScala.toMap
    jobStarts.asScala.filter(j => j._2 >= t0 && j._2 <= t1).toSeq
      .map { case (id, s) => (s, ends.getOrElse(id, t1)) }.sorted
  }
}

object Probe {
  final case class TaskRec(stage: Int, attempt: Int, launch: Long, runMs: Long,
                           cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                           shuffleRead: Long, spill: Long, peakMem: Long)
  final case class PhaseRec(end: Long, analysis: Double, optimization: Double,
                            planning: Double)
  final case class Window(jobs: Int, jobCoveredMs: Double, stages: Int, tasks: Int,
                          taskWaitMs: Double, taskRunMs: Double, taskCpuNs: Double,
                          gcMs: Double, shuffleWriteBytes: Double,
                          shuffleReadBytes: Double, spillBytes: Double,
                          peakExecMemBytes: Double, analysisMs: Double,
                          optimizationMs: Double, planningMs: Double)

  /** Length of the union of intervals (same unit as the input). */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- iv.sortBy(_._1)) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
