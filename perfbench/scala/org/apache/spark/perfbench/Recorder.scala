package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One Spark job, attributed to the benchmark call and phase that were set
  * as local properties on the submitting thread. Times are epoch ms. */
final case class JobRec(id: Int, call: String, phase: String, start: Long,
    var end: Long, stages: Seq[Int])

/** Task totals of one stage. */
final class StageRec(val id: Int, val job: Int) {
  var submit = 0L; var end = 0L; var tasks = 0
  var runMs = 0L; var gcMs = 0L; var schedMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
}

/** Collects job, stage and task metrics for the traced passes. Read only
  * after [[Recorder.drain]]: listener events arrive asynchronously.
  */
final class Recorder extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val jobById = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val j = JobRec(e.jobId, prop(Recorder.CallKey), prop(Recorder.PhaseKey), e.time, -1L, e.stageIds)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, new StageRec(s, e.jobId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId, -1))
    s.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(
      _.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId, -1))
    s.tasks += 1
    if (s.submit > 0) s.schedMs += math.max(0L, e.taskInfo.launchTime - s.submit)
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Jobs submitted under the given call id, with the stages they ran. */
  def forCall(call: String): (Seq[JobRec], Seq[StageRec]) = synchronized {
    val js = jobs.filter(_.call == call).toSeq
    val ids = js.map(_.id).toSet
    (js, stages.values.filter(s => ids(s.job)).toSeq)
  }
}

object Recorder {
  val CallKey = "perfbench.call"
  val PhaseKey = "perfbench.phase"

  /** Waits until every posted listener event has been delivered
    * (`listenerBus` is private to the spark package). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Ids of the persisted RDDs that carry checkpoint data (the operators'
    * per-round `localCheckpoint`s), apart from plain persists. */
  def checkpointed(sc: SparkContext): Set[Int] =
    sc.getPersistentRDDs.collect { case (id, rdd) if rdd.checkpointData.isDefined => id }.toSet

  /** Σ janino compile milliseconds Spark has recorded so far. The
    * histogram keeps every sample while fewer than its reservoir size
    * (1,028) were taken; past that the sum is estimated from the mean. */
  def codegenMs(): Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val values = snap.getValues
    if (h.getCount <= values.length) values.sum.toDouble else snap.getMean * h.getCount
  }
}
