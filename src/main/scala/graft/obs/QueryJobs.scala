package graft.obs

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One Spark job: event-time start and end in ms (end is -1 while it
  * runs), its stage and task counts, and the first `graft.` frame of its
  * call site ("" for a job started outside graft). */
final case class Job(id: Int, startMs: Long, endMs: Long, stages: Int,
                     tasks: Int, frame: String) {
  def wallMs: Long = endMs - startMs
}

/** The shared per-query job counter. Eager driver-side jobs (collects
  * during plan construction, cache fills, pivot-value probes) are
  * invisible in wall time alone; at cluster scale each is a full pass
  * over the data, so the per-query job list is a first-class efficiency
  * measure.
  *
  * Listener events arrive asynchronously, so [[take]] first drains
  * Spark's listener bus: when it returns, every job started before the
  * call is recorded, and a query's late events cannot be billed to the
  * next one. */
final class QueryJobs private (sc: SparkContext) extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, Job]

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val stages = js.stageInfos
    // a stage's details field holds the action's full call-site stack
    val frame = stages.iterator.flatMap(_.details.linesIterator)
      .find(l => l.contains("graft.") && !l.contains("GraftSession") &&
        !l.contains("graft.tools"))
      .map(_.trim).getOrElse("")
    jobs.put(js.jobId, Job(js.jobId, js.time, -1L, stages.size,
      stages.map(_.numTasks).sum, frame))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(je.jobId, (_, j) => j.copy(endMs = je.time))

  /** The jobs started since the previous call (or since [[QueryJobs.attach]]),
    * in id order; they are forgotten here. */
  def take(): Seq[Job] = {
    GraftBusDrain(sc)
    val out = jobs.values.asScala.toSeq.sortBy(_.id)
    out.foreach(j => jobs.remove(j.id))
    out
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object QueryJobs {
  def attach(spark: SparkSession): QueryJobs = {
    val q = new QueryJobs(spark.sparkContext)
    spark.sparkContext.addSparkListener(q)
    q
  }

  /** `f`'s result and the jobs it ran. */
  def of[A](spark: SparkSession)(f: => A): (A, Seq[Job]) = {
    val q = attach(spark)
    try {
      q.take()
      val r = f
      (r, q.take())
    } finally q.close()
  }
}
