package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** The traced run's Spark-side recorder, registered by the benchmark
  * (nothing in the engine knows about it). It keeps one record per job
  * and per stage attempt, with the stage's task metrics summed as the
  * tasks end. Events arrive on Spark's listener thread after the
  * work they describe, so [[drained]] is read only once the run ends. */
final class Recorder extends SparkListener {
  final class Job(val id: Int, val group: String, val start: Long) {
    var end: Long = -1L
  }
  final class Stage(val id: Int, val attempt: Int, val job: Int) {
    var submit: Long = -1L; var end: Long = -1L
    var tasks = 0L; var busyMs = 0L; var waitMs = 0L; var gcMs = 0L
    var inRecords = 0L; var inBytes = 0L; var outBytes = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  private var events = 0L

  private def stage(id: Int, attempt: Int): Option[Stage] =
    stageJob.get(id).map(j => stages.getOrElseUpdate((id, attempt), new Stage(id, attempt, j)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, group, e.time)
    // a stage listed by several jobs runs in the first; later jobs skip it
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    events += 1
    val i = e.stageInfo
    stage(i.stageId, i.attemptNumber()).foreach(_.submit = i.submissionTime.getOrElse(-1L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val i = e.stageInfo
    stage(i.stageId, i.attemptNumber()).foreach { s =>
      if (s.submit < 0) s.submit = i.submissionTime.getOrElse(-1L)
      s.end = i.completionTime.getOrElse(-1L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    stage(e.stageId, e.stageAttemptId).foreach { s =>
      s.tasks += 1
      if (s.submit >= 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submit)
      val m = e.taskMetrics
      if (m != null) {
        s.busyMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.inRecords += m.inputMetrics.recordsRead
        s.inBytes += m.inputMetrics.bytesRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Waits until no event has arrived for half a second (at most
    * `maxMs`), then returns the recorded jobs and stages. */
  def drained(maxMs: Long = 10000L): (Seq[Job], Seq[Stage]) = {
    var last = -1L; var waited = 0L
    while (synchronized(events) != last && waited < maxMs) {
      last = synchronized(events); Thread.sleep(500); waited += 500
    }
    synchronized((jobs.values.toList, stages.values.toList))
  }
}

