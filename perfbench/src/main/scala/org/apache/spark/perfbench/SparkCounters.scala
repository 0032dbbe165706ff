package org.apache.spark.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one job group. */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, taskMs: Long = 0, shuffleReadBytes: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0, outputBytes: Long = 0) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages, taskMs + o.taskMs,
    shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, outputBytes + o.outputBytes)
}

/** Folds job, stage and task events into [[Counts]] per job group (the
  * `spark.jobGroup.id` local property of the thread that submitted the job).
  * Read counts only after [[SparkCounters.drain]]: events arrive on the
  * listener bus thread, after the action that caused them has returned. */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, Counts]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def add(group: String, c: Counts): Unit =
    byGroup(group) = byGroup.getOrElse(group, Counts()) + c

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = group)
    add(group, Counts(jobs = 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(add(_, Counts(stages = 1)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageGroup.get(e.stageId).foreach(add(_, Counts(
      taskMs = m.executorRunTime,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.diskBytesSpilled,
      outputBytes = m.outputMetrics.bytesWritten)))
  }

  def counts(group: String): Counts = synchronized { byGroup.getOrElse(group, Counts()) }
}

/** Reads of driver state that Spark keeps `private[spark]`. */
object SparkCounters {

  /** Block until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Highest stage id the status store knows; stages created later have
    * larger ids. */
  def lastStageId(sc: SparkContext): Int = {
    drain(sc)
    sc.statusStore.stageList(null).map(_.stageId).foldLeft(-1)(math.max)
  }

  /** Shuffle bytes written by the stages created after `mark`, from the
    * status store Spark always runs (no listener of the benchmark's own). */
  def shuffleWriteBytesAfter(sc: SparkContext, mark: Int): Long = {
    drain(sc)
    sc.statusStore.stageList(null).filter(_.stageId > mark).map(_.shuffleWriteBytes).sum
  }
}
