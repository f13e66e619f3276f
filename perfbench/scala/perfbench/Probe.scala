package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters of one op, for the jobs of one phase. */
final class PhaseCounts {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, shuffleWriteB, shuffleReadB, spillB, inputB, inputRecords = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "run_s" -> runMs / 1e3, "cpu_s" -> cpuNs / 1e9,
    "shuffle_write_mb" -> shuffleWriteB / 1048576.0,
    "shuffle_read_mb" -> shuffleReadB / 1048576.0,
    "spill_mb" -> spillB / 1048576.0, "scan_mb" -> inputB / 1048576.0,
    "scan_records" -> inputRecords)
}

/** The traced run's listeners. Jobs are attributed to the layer call that
  * launched them through the `perfbench.phase` local property, which Spark
  * copies to the threads that run broadcasts, subqueries and micro-batches.
  * Events arrive on listener-bus threads; readers drain the bus first
  * (`PerfbenchBus.drain`) and every access is synchronized. */
final class Probe extends SparkListener with QueryExecutionListener {
  private val phases = mutable.Map.empty[String, PhaseCounts]
  private val stagePhase = mutable.Map.empty[Int, String]
  private val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var catalystMs = 0L
  private val progress = mutable.ArrayBuffer.empty[Map[String, Double]]

  private def counts(p: String) = phases.getOrElseUpdate(p, new PhaseCounts)

  /** Starts a fresh op; stage → phase entries survive because a stage of
    * an earlier job can be re-submitted by a later one. */
  def reset(): Unit = synchronized {
    phases.clear(); taskIntervals.clear(); progress.clear()
    catalystMs = 0L
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties).flatMap(pr => Option(pr.getProperty("perfbench.phase")))
      .getOrElse("other")
    counts(p).jobs += 1
    e.stageIds.foreach(stagePhase(_) = p)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counts(stagePhase.getOrElse(e.stageInfo.stageId, "other")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stagePhase.getOrElse(e.stageId, "other"))
    c.tasks += 1
    taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputB += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { catalystMs += qe.tracker.phases.values.map(_.durationMs).sum }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
        progress += Map(
          "input_rows" -> p.numInputRows.toDouble,
          "trigger_s" -> ms("triggerExecution"), "add_batch_s" -> ms("addBatch"),
          "plan_s" -> ms("queryPlanning"),
          "log_s" -> (ms("walCommit") + ms("commitOffsets")))
      }
  }

  def streamInputRows: Double = synchronized(progress.map(_("input_rows")).sum)

  /** The op's counters, read after the bus has been drained. `startMs` and
    * `endMs` bound the op in wall-clock time, for the idle-time union. */
  def snapshot(startMs: Long, endMs: Long): Map[String, Any] = synchronized {
    // union of task run intervals, clipped to the op
    val iv = taskIntervals.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busyMs = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busyMs += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busyMs += curB - curA
    val batches = progress.count(_("input_rows") > 0)
    def prog(k: String) = progress.map(_(k)).sum
    Map(
      "phase" -> phases.map { case (k, v) => k -> v.toMap }.toMap,
      "busy_s" -> busyMs / 1e3,
      "catalyst_s" -> catalystMs / 1e3,
      "stream" -> Map(
        "batches" -> batches, "input_rows" -> prog("input_rows"),
        "trigger_s" -> prog("trigger_s"), "add_batch_s" -> prog("add_batch_s"),
        "plan_s" -> prog("plan_s"), "log_s" -> prog("log_s")))
  }
}
