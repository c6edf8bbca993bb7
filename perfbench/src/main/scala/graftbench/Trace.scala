package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed operation: its wall interval and the three phases the
  * benchmark drives from outside (construct = the operator call,
  * plan = forcing the physical plan, action = the materializing job).
  * Times are epoch milliseconds on the benchmark's own clock.
  */
final case class Op(id: Int, pass: Int, name: String, kind: String,
    start: Double, end: Double, phases: Seq[(String, Double, Double)],
    ok: Boolean, error: String) {
  def wallS: Double = (end - start) / 1e3
  def phaseS(p: String): Double =
    phases.collect { case (n, a, b) if n == p => (b - a) / 1e3 }.sum
}

/** Epoch-millisecond clock with nanoTime resolution, so op phases and
  * Spark's event timestamps (epoch ms) share one time base.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Records Spark's public listener events for the traced run. Only
  * registered when tracing is on; every event stays in memory and is
  * attributed to ops and passes when the run ends.
  */
final class Recorder extends SparkListener with QueryExecutionListener {

  final class StageRec(val id: Int) {
    var start = 0.0; var end = 0.0
    val taskDur = mutable.ArrayBuffer.empty[Double]
    var runMs = 0.0; var cpuNs = 0.0; var gcMs = 0.0
    var shWrite = 0.0; var shRead = 0.0; var fetchWaitMs = 0.0; var spill = 0.0
    var inBytes = 0.0; var inRows = 0.0; var inTasks = 0
    var outBytes = 0.0
  }
  final case class JobRec(id: Int, start: Double, var end: Double, stages: Seq[Int])
  final case class QeRec(at: Double, analysisS: Double, optimizerS: Double,
      physicalS: Double, files: Long)
  final case class CacheRec(at: Double, bytes: Long)

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val qes = mutable.ArrayBuffer.empty[QeRec]
  val cache = mutable.ArrayBuffer.empty[CacheRec]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var cacheNow = 0L

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time.toDouble, e.time.toDouble, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.start = e.stageInfo.submissionTime.getOrElse(0L).toDouble
    s.end = e.stageInfo.completionTime.getOrElse(0L).toDouble
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    val s = stage(e.stageId)
    s.taskDur += e.taskInfo.duration.toDouble
    s.runMs += m.executorRunTime
    s.cpuNs += m.executorCpuTime
    s.gcMs += m.jvmGCTime
    s.shWrite += m.shuffleWriteMetrics.bytesWritten
    s.shRead += m.shuffleReadMetrics.totalBytesRead
    s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
    s.inBytes += m.inputMetrics.bytesRead
    s.inRows += m.inputMetrics.recordsRead
    if (m.inputMetrics.bytesRead > 0) s.inTasks += 1
    s.outBytes += m.outputMetrics.bytesWritten
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId.name
    val now = if (info.storageLevel.useMemory) info.memSize else 0L
    cacheNow += now - blockBytes.getOrElse(id, 0L)
    if (now == 0L) blockBytes.remove(id) else blockBytes(id) = now
    cache += CacheRec(Clock.nowMs, cacheNow)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def s(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    val files = qe.executedPlan.collect { case w: DataWritingCommandExec =>
      w.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    // the listener runs on the bus thread, later than the query: date
    // the query by its own planning phases instead
    val at = if (ph.isEmpty) Clock.nowMs else ph.values.map(_.endTimeMs).max.toDouble
    synchronized { qes += QeRec(at, s("analysis"), s("optimization"), s("planning"), files) }
  }
}
