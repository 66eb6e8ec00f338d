package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Outside-in event recorder, fed only by Spark's public listener APIs.
  *
  * Jobs are tied to a query by the job group the harness sets around
  * each traced query (`q<qid>`) and around each probe run; jobs without
  * a group (the untraced passes) are ignored. Stage metrics are the per-stage task-metric
  * aggregates Spark reports at stage completion. Stored RDD blocks are
  * kept with their RDD id, which the harness maps to a query by the RDD
  * id range the query created. Planning phases come from each query
  * execution's tracker, as absolute wall-clock intervals.
  *
  * Listener callbacks run on Spark's listener-bus thread, so every sink
  * is a concurrent collection; the harness reads them after [[settle]].
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val open = TrieMap[Int, (String, Long, Seq[Int])]()
  private val stageGroup = TrieMap[Int, String]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val blocks = new ConcurrentLinkedQueue[Block]()
  private val phases = new ConcurrentLinkedQueue[Phase]()
  @volatile private var lastEventNanos = System.nanoTime()

  private def touch(): Unit = lastEventNanos = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group != null) {
      open(e.jobId) = (group, e.time, e.stageIds)
      e.stageIds.foreach(stageGroup(_) = group)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch()
    open.remove(e.jobId).foreach { case (g, t0, st) =>
      jobs.add(Job(e.jobId, g, t0, e.time, st.size))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    val si = e.stageInfo
    stageGroup.remove(si.stageId).foreach { g =>
      val m = si.taskMetrics
      if (m != null) stages.add(Stage(g, si.stageId, si.numTasks,
        m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    touch()
    val info = e.blockUpdatedInfo
    info.blockId match {
      case RDDBlockId(rdd, _) if info.storageLevel.isValid =>
        blocks.add(Block(rdd, info.memSize + info.diskSize))
      case _ => ()
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    touch()
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add(Phase(name, p.startTimeMs, p.endTimeMs))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    touch()

  /** Wait until the listener bus has been quiet for `quietMs` (bounded
    * by `maxMs`), so every event of the finished work has been seen. */
  def settle(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() < deadline &&
      (open.nonEmpty || System.nanoTime() - lastEventNanos < quietMs * 1000000L))
      Thread.sleep(25)
  }

  def jobList: Seq[Job] = jobs.asScala.toSeq
  def stageList: Seq[Stage] = stages.asScala.toSeq
  def blockList: Seq[Block] = blocks.asScala.toSeq
  def phaseList: Seq[Phase] = phases.asScala.toSeq
}

object Recorder {
  final case class Job(id: Int, group: String, startMs: Long, endMs: Long, nStages: Int)
  final case class Stage(group: String, id: Int, tasks: Int, cpuNs: Long, runMs: Long,
    gcMs: Long, shuffleReadBytes: Long, fetchWaitMs: Long, shuffleWriteBytes: Long,
    spillBytes: Long, inputBytes: Long, outputBytes: Long)
  final case class Block(rdd: Int, bytes: Long)
  final case class Phase(name: String, startMs: Long, endMs: Long)
}
