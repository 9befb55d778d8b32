package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

final case class JobRec(id: Int, start: Long, stages: Seq[Int]) {
  @volatile var end: Long = -1L
}
final case class StageRec(id: Int, submit: Long, end: Long, tasks: Int)
final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, deserMs: Long,
                         shufWrite: Long, shufRead: Long, fetchWaitMs: Long,
                         spill: Long, inBytes: Long, outBytes: Long)

/** Bench-owned listener: keeps every job, stage and task record of the
  * traced phase in memory (times are Spark's own event times, epoch ms),
  * plus storage memory per op. Block updates carry no time, so they are
  * filed under [[tag]], the op the harness is running; the harness drains
  * the bus before it moves the tag on.
  */
class TraceListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  @volatile var tag: Int = Int.MinValue
  private val memOf = new java.util.HashMap[String, java.lang.Long]()
  @volatile private var cur = 0L
  val peakByTag = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  val evictByTag = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = JobRec(e.jobId, e.time, e.stageIds)
    jobById.put(e.jobId, j); jobs.add(j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages.add(StageRec(i.stageId, s, c, i.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val t = e.taskInfo
    if (m != null && t != null) {
      val sr = m.shuffleReadMetrics
      tasks.add(TaskRec(e.stageId, t.launchTime, t.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.executorDeserializeTime, m.shuffleWriteMetrics.bytesWritten,
        sr.remoteBytesRead + sr.localBytesRead, sr.fetchWaitTime,
        m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten))
    }
  }

  // storage memory held by cached blocks and broadcasts; an eviction to
  // disk is a block whose memory copy went away while its level stayed
  // valid (a deliberate unpersist invalidates the level instead)
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    val valid = info.storageLevel.isValid
    val newMem = if (valid) info.memSize else 0L
    val old = if (valid) memOf.put(info.blockId.name, newMem)
      else memOf.remove(info.blockId.name)
    val oldMem = if (old == null) 0L else old.longValue
    cur += newMem - oldMem
    val k = tag
    peakByTag.merge(k, cur, (a, b) => math.max(a, b))
    if (valid && oldMem > 0 && newMem == 0 && info.diskSize > 0)
      evictByTag.merge(k, 1L, (a, b) => a + b)
  }

  def storageNow: Long = cur

  def snapshot: (Seq[JobRec], Seq[StageRec], Seq[TaskRec]) =
    (jobs.asScala.toSeq, stages.asScala.toSeq, tasks.asScala.toSeq)
}
