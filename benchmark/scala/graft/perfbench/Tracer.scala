package graft.perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Job, stage and task records from the Spark listener bus, grouped by the
  * job group the harness sets around each timed call
  * (`<query>::construct`, `<query>::plan`, `<query>::action`). */
final class Tracer extends SparkListener {
  final case class Job(id: Int, group: String, start: Long, var end: Long,
                       stageIds: Seq[Int])
  final case class Stage(id: Int, jobId: Int, submit: Long, end: Long,
                         tasks: Int, runMs: Long, cpuNs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long,
                         input: Long, gcMs: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private var failedTasks = mutable.Map.empty[Int, Int].withDefaultValue(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, group, e.time, e.time, e.stageIds)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != org.apache.spark.Success) failedTasks(e.stageId) += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val submit = i.submissionTime.getOrElse(0L)
    stages += Stage(i.stageId, stageJob.getOrElse(i.stageId, -1), submit,
      i.completionTime.getOrElse(submit), i.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.jvmGCTime)
  }

  /** Jobs whose group satisfies `p`, with their completed stages. */
  def jobsWhere(p: String => Boolean): Seq[(Job, Seq[Stage])] = synchronized {
    jobs.values.filter(j => p(j.group)).toSeq.map { j =>
      (j.copy(), stages.filter(_.jobId == j.id).toSeq)
    }
  }

  def taskFailures(stageIds: Iterable[Int]): Int = synchronized {
    stageIds.iterator.map(failedTasks).sum
  }

  def clear(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); stages.clear()
    failedTasks = mutable.Map.empty[Int, Int].withDefaultValue(0)
  }
}

object Tracer {
  /** Length of the union of the intervals, each clipped to [lo, hi]. */
  def unionLength(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
