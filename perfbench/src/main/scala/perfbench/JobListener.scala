package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Work one Spark job did, summed over its tasks. */
final class JobRecord(val jobId: Int, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Sums of job records over a set of jobs. */
final case class JobTotals(jobs: Int, stages: Int, tasks: Int, wallMs: Double, taskRunMs: Long,
    inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

object JobTotals {
  def of(jobs: Seq[JobRecord]): JobTotals = JobTotals(jobs.size, jobs.map(_.stages).sum,
    jobs.map(_.tasks).sum, jobs.map(j => (j.endMs - j.startMs).toDouble).sum,
    jobs.map(_.taskRunMs).sum, jobs.map(_.inputBytes).sum, jobs.map(_.shuffleReadBytes).sum,
    jobs.map(_.shuffleWriteBytes).sum, jobs.map(_.spillBytes).sum)
}

/** Listener the traced run registers on the benchmark's SparkContext:
  * one [[JobRecord]] per job, with task metrics folded in through the
  * stage → job map. Event times are the scheduler's epoch milliseconds.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageToJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRecord(e.jobId, e.time)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageToJob.get(e.stageId); j <- jobs.get(jobId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskRunMs += m.executorRunTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Every job recorded so far, once the listener bus has drained. */
  def drained(sc: SparkContext): Seq[JobRecord] = {
    org.apache.spark.perfbench.ListenerBusAccess.waitUntilEmpty(sc)
    synchronized(jobs.values.toList)
  }
}
