package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Task totals of one stage attempt. */
final class StageRec(val stageId: Int, val attempt: Int) {
  @volatile var name: String = ""
  @volatile var startMs: Long = -1L
  @volatile var endMs: Long = -1L
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val schedDelayMs = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val inputBytes = new AtomicLong
  val inputRecords = new AtomicLong
  val outputBytes = new AtomicLong
}

/** One Spark job as the listener saw it. */
final class JobRec(val jobId: Int, val startMs: Long, val group: String,
    val desc: String, val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
  @volatile var ok: Boolean = true
}

/** The benchmark's SparkListener. It always sums executor task CPU, which
  * the untraced end-to-end metrics need. With `tracing` on it also keeps
  * every job and stage attempt in memory, to be written as spans when the
  * run ends.
  */
final class Meter extends SparkListener {
  val cpuNs = new AtomicLong
  @volatile var tracing: Boolean = false
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]()

  private def stage(id: Int, attempt: Int): StageRec =
    stages.computeIfAbsent((id, attempt), _ => new StageRec(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (tracing) {
      val p = e.properties
      def prop(k: String) = if (p == null) null else p.getProperty(k)
      jobs.put(e.jobId, new JobRec(e.jobId, e.time,
        prop("spark.jobGroup.id"), prop("spark.job.description"),
        e.stageIds)): Unit
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) {
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (tracing) {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.name = e.stageInfo.name.takeWhile(_ != '\n').take(80)
      s.startMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stages.get((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
    if (s != null)
      s.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime): Unit
      if (tracing) {
        val s = stages.get((e.stageId, e.stageAttemptId))
        if (s != null) {
          s.tasks.incrementAndGet()
          s.cpuNs.addAndGet(m.executorCpuTime)
          // scheduler delay as Spark's UI defines it: task wall time not
          // spent deserializing, running or serializing the result
          val info = e.taskInfo
          val delay = info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime
             else 0L)
          s.schedDelayMs.addAndGet(math.max(0L, delay))
          s.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          s.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          s.inputBytes.addAndGet(m.inputMetrics.bytesRead)
          s.inputRecords.addAndGet(m.inputMetrics.recordsRead)
          s.outputBytes.addAndGet(m.outputMetrics.bytesWritten): Unit
        }
      }
    }
  }

  /** Jobs recorded so far, by submission time. */
  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.startMs)

  /** Stage attempts that ran, keyed by stage id. */
  def stageList: Seq[StageRec] =
    stages.values.asScala.toSeq.filter(_.startMs >= 0).sortBy(_.startMs)
}
