package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spark counters taken from outside the program: jobs with their group and
  * call site, per-task metrics per stage, block-manager storage in use, and
  * (when registered as a [[QueryExecutionListener]]) executed-plan string
  * sizes. Events arrive on Spark's listener thread; readers call
  * `Bus.drain` first, so the synchronized accessors see complete data. */
final class Listener extends SparkListener with QueryExecutionListener {
  import Listener._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val stageToJob = mutable.HashMap.empty[Int, Job]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  /** block key -> (RDD id, bytes in memory) */
  private val blocks = mutable.HashMap.empty[String, (Int, Long)]
  private var excluded = Set.empty[Int]
  private var storageInUse = 0L
  private var storagePeak = 0L
  private var planChars = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    // the result stage (highest id) is named after the action's call site
    val callSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val j = Job(e.jobId, group.getOrElse(""), callSite, e.time, -1L)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(s => stageToJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageToJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
      }
    }
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
  }

  /** Memory held by RDD blocks (caches, pins, checkpoints) outside the
    * excluded RDDs. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.filterNot(b => excluded.contains(b.rddId)).foreach { b =>
      val key = info.blockManagerId.toString + "/" + b.name
      val mem = if (info.storageLevel.isValid) info.memSize else 0L
      storageInUse += mem - blocks.get(key).map(_._2).getOrElse(0L)
      if (mem == 0L) blocks.remove(key) else blocks(key) = (b.rddId, mem)
      storagePeak = math.max(storagePeak, storageInUse)
    }
  }

  /** Removing an RDD drops its blocks without a block update per block. */
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.filterInPlace { case (_, (rdd, mem)) =>
      if (rdd == e.rddId) storageInUse -= mem
      rdd != e.rddId
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val n = qe.executedPlan.toString.length
    synchronized { planChars += n }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Leave these RDDs (the benchmark's own input pins) out of storage. */
  def exclude(rddIds: Set[Int]): Unit = synchronized {
    excluded = rddIds
    blocks.filterInPlace { case (_, (rdd, mem)) =>
      if (rddIds.contains(rdd)) storageInUse -= mem
      !rddIds.contains(rdd)
    }
  }

  /** Start a measurement window: forget earlier jobs and restart the
    * storage peak from what is in use now. */
  def mark(): Unit = synchronized {
    jobs.clear(); jobById.clear(); stageToJob.clear(); stageTasks.clear()
    planChars = 0L
    storagePeak = storageInUse
  }

  def storageNow: Long = synchronized(storageInUse)

  def jobsSinceMark: Seq[Job] = synchronized(jobs.map(_.copy()).toSeq)

  def storagePeakSinceMark: Long = synchronized(storagePeak)

  def planCharsSinceMark: Long = synchronized(planChars)

  /** Worst stage's longest task over its median task, among stages with at
    * least `minTasks` tasks and `minBusyMs` of task time in total; 1 when no
    * stage qualifies. */
  def taskSkew(minTasks: Int, minBusyMs: Long): Double = synchronized {
    val ratios = stageTasks.values.collect {
      case ds if ds.length >= minTasks && ds.sum >= minBusyMs =>
        ds.max.toDouble / math.max(1.0, Stats.median(ds.map(_.toDouble).toSeq))
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

object Listener {
  final case class Job(id: Int, group: String, callSite: String, start: Long,
                       var end: Long, var tasks: Long = 0L, var cpuNs: Long = 0L,
                       var shuffleWrite: Long = 0L, var shuffleRead: Long = 0L,
                       var spill: Long = 0L) {
    def interval: (Long, Long) = (start, if (end < 0) start else end)
  }
}
