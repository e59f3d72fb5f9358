package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job as the listener saw it: the span that launched it, the call
  * site Spark names its last stage after, wall time, and task counters
  * summed over all its tasks.
  */
final class JobRec(val id: Int, val span: String, val site: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  /** Output bytes per task, for partition skew of writing jobs. */
  val taskOutputBytes = mutable.ArrayBuffer[Long]()

  def wallS: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1e3
  def writesOutput: Boolean = outputBytes > 0
  def writesShuffle: Boolean = shuffleWriteBytes > 0
}

/** A SparkListener the benchmark registers itself: per-job shuffle, spill
  * and output counters, each job tagged with the benchmark span that
  * launched it (a thread-local Spark property, inherited by the streaming
  * threads a span starts).
  */
final class JobProbe extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(JobProbe.SpanKey))).getOrElse("")
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    jobs.put(e.jobId, new JobRec(e.jobId, span, site, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val job = Option(stageToJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    if (m != null) job.foreach { j =>
      j.synchronized {
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.outputBytes += m.outputMetrics.bytesWritten
        if (m.outputMetrics.bytesWritten > 0) j.taskOutputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  /** Completed jobs so far, after the listener bus has drained. */
  def finished(sc: SparkContext): Seq[JobRec] = {
    org.apache.spark.graftbench.ListenerBusBridge.waitUntilEmpty(sc)
    jobs.values.asScala.filter(_.endMs >= 0).toSeq.sortBy(_.id)
  }
}

object JobProbe {
  val SpanKey = "graftbench.span"
}

/** Spans around calls into the program's public functions. A span always
  * accumulates its wall time; when tracing is on it also tags every Spark job
  * started inside it, so the JobProbe can attribute the job.
  */
final class Spans(sc: SparkContext, tagJobs: Boolean) {
  private val totalNs = new ConcurrentHashMap[String, java.lang.Long]()

  def apply[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(JobProbe.SpanKey)
    if (tagJobs) sc.setLocalProperty(JobProbe.SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      totalNs.merge(name, System.nanoTime() - t0, (a, b) => a + b)
      if (tagJobs) sc.setLocalProperty(JobProbe.SpanKey, prev)
    }
  }

  def reset(): Unit = totalNs.clear()

  def seconds(name: String): Double =
    Option(totalNs.get(name)).map(_.longValue / 1e9).getOrElse(0.0)
}
