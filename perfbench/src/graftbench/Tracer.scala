package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId
import scala.collection.mutable

/** Spark work counted for one (operation, phase) pair. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var taskWaitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var emptyTasks = 0L
  var failedTasks = 0L
  var rddBytes = 0L

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_cpu_ms" -> taskCpuNs / 1000000L, "task_wait_ms" -> taskWaitMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "empty_tasks" -> emptyTasks,
    "failed_tasks" -> failedTasks, "rdd_bytes" -> rddBytes)
}

/** Context-level listener. It always tracks the bytes held in RDD blocks
  * (cached frames and local checkpoints, memory plus disk) and their
  * peak. With `perOp` it also attributes jobs, stages, tasks, shuffle and
  * block bytes to the operation and phase named by the job's local
  * properties [[Tracer.OpKey]] and [[Tracer.PhaseKey]].
  *
  * All callbacks run on the listener-bus thread; readers drain the bus
  * first (see `org.apache.spark.PerfbenchAccess`).
  */
final class Tracer(perOp: Boolean) extends SparkListener {
  import Tracer._

  private val byKey = mutable.HashMap.empty[(String, String), Counters]
  private val stageKey = mutable.HashMap.empty[Int, (String, String)]
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]
  private val blocks = mutable.HashMap.empty[RDDBlockId, Long]
  private var stored = 0L
  private var peak = 0L
  /** The operation and phase block updates are charged to; block events
    * carry no job properties, so the benchmark thread publishes its own,
    * and drains the bus before it clears this at the end of a phase. */
  @volatile var current: (String, String) = null

  def peakStoredBytes: Long = peak

  def counters(op: String): Map[String, Counters] =
    byKey.collect { case ((o, ph), c) if o == op => ph -> c }.toMap

  private def counter(k: (String, String)) = byKey.getOrElseUpdate(k, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (perOp) {
    val props = Option(e.properties)
    val op = props.map(_.getProperty(OpKey)).orNull
    if (op != null) {
      val k = (op, Option(props.get.getProperty(PhaseKey)).getOrElse("other"))
      counter(k).jobs += 1
      e.stageIds.foreach(id => stageKey(id) = k)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (perOp) {
    val si = e.stageInfo
    stageKey.get(si.stageId).foreach { k =>
      counter(k).stages += 1
      stageSubmit((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageSubmit.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (perOp) {
    stageKey.get(e.stageId).foreach { k =>
      val c = counter(k)
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { t =>
        c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t)
      }
      val m = e.taskMetrics
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
          c.emptyTasks += 1
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val info = e.blockUpdatedInfo
        val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        val before = blocks.getOrElse(id, 0L)
        if (now == 0L) blocks.remove(id) else blocks(id) = now
        stored += now - before
        peak = math.max(peak, stored)
        val cur = current
        if (perOp && cur != null && now > before) counter(cur).rddBytes += now - before
      case _ =>
    }

  /** Unpersisting an RDD drops its blocks without per-block updates. */
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = {
    val gone = blocks.keys.filter(_.rddId == e.rddId).toSeq
    gone.foreach(id => stored -= blocks.remove(id).getOrElse(0L))
  }
}

object Tracer {
  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"
}
