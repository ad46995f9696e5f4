package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side work done by the jobs of one operation. */
final class TaskTotals {
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Time intervals in epoch milliseconds, and the length of their union. */
object Intervals {
  def unionMs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** The traced run's recorder: one SparkListener plus QueryExecutionListener
  * registered by the benchmark, never by the program. Jobs are attributed
  * to the operation named in the driver thread's [[Recorder.OpKey]] local
  * property, which Spark copies into every job's properties (including
  * jobs started from its broadcast and subquery threads). Stages, tasks,
  * shuffle and spill roll up to the operation of the job that ran them.
  * Query planning phases are attributed by time to the span they start in.
  * Storage is the bytes of RDD blocks held (memory plus disk), tracked from
  * block-update and unpersist events, with its running peak.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap[Int, (String, Long, Long)]()
  private val stageOp = mutable.HashMap[Int, String]()
  private val totals = mutable.HashMap[String, TaskTotals]()
  private val phases = mutable.ArrayBuffer[(Long, Long)]()
  private val seenPhases = mutable.HashSet[(Int, String, Long)]()
  private val blocks = mutable.HashMap[(Int, Int), Long]()
  private var held = 0L
  private var peak = 0L

  /** Register with the session and start a fresh pass record. Storage
    * already held is seeded per RDD from Spark's storage status.
    */
  def start(spark: SparkSession): Unit = {
    synchronized {
      jobs.clear(); stageOp.clear(); totals.clear(); phases.clear(); blocks.clear()
      held = 0L
      spark.sparkContext.getRDDStorageInfo.foreach { i =>
        val bytes = i.memSize + i.diskSize
        if (bytes > 0) { blocks((i.id, -1)) = bytes; held += bytes }
      }
      peak = held
    }
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def stop(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Snapshot of (op, startMs, endMs) for every finished job. */
  def jobIntervals: Seq[(String, Long, Long)] = synchronized {
    jobs.values.filter(_._3 >= 0).toSeq
  }
  def totalsFor(op: String): TaskTotals = synchronized {
    totals.getOrElse(op, new TaskTotals)
  }
  def planPhases: Seq[(Long, Long)] = synchronized { phases.toSeq }
  def storageHeld: Long = synchronized { held }
  def storagePeak: Long = synchronized { peak }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.OpKey)))
      .getOrElse(Recorder.NoOp)
    jobs(e.jobId) = (op, e.time, -1L)
    e.stageIds.foreach(stageOp(_) = op)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (op, start, _) => jobs(e.jobId) = (op, start, e.time) }
  }

  private def opTotals(stageId: Int): TaskTotals =
    totals.getOrElseUpdate(stageOp.getOrElse(stageId, Recorder.NoOp), new TaskTotals)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    opTotals(e.stageInfo.stageId).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = opTotals(e.stageId)
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id =>
      val key = (id.rddId, id.splitIndex)
      held -= blocks.getOrElse(key, 0L)
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      if (bytes > 0) blocks(key) = bytes else blocks.remove(key)
      held += bytes
      peak = math.max(peak, held)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.keys.filter(_._1 == e.rddId).toSeq.foreach { k => held -= blocks.remove(k).get }
  }

  // a Dataset keeps its QueryExecution across actions, so its analysis
  // phase is reported again with every action: count each phase once
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val id = System.identityHashCode(qe.tracker)
      qe.tracker.phases.foreach { case (name, p) =>
        if (seenPhases.add((id, name, p.startTimeMs))) phases += ((p.startTimeMs, p.endTimeMs))
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Recorder {
  val OpKey = "perfbench.op"
  val NoOp = "(none)"

  def drain(sc: SparkContext): Unit = org.apache.spark.BenchAccess.drainListenerBus(sc)
}
