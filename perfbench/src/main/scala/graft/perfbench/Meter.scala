package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw engine counters of one job group, or of the whole run. */
final class Counters(val v: Array[Long] = new Array[Long](Counters.Names.size)) {
  def minus(o: Counters): Counters = new Counters(v.indices.map(i => v(i) - o.v(i)).toArray)
  def copy(): Counters = new Counters(v.clone())
  def json: String =
    Counters.Names.indices.map(i => s""""${Counters.Names(i)}":${v(i)}""").mkString("{", ",", "}")
}

object Counters {
  val Names: Vector[String] = Vector("jobs", "stages", "stages_submitted", "tasks",
    "sched_delay_ms", "run_ms", "cpu_ns", "gc_ms", "shuffle_bytes", "shuffle_records",
    "shuffle_write_ns", "fetch_wait_ms", "spill_bytes", "scan_bytes", "scan_records",
    "output_bytes", "plan_ms")
  private def at(n: String): Int = Names.indexOf(n)
  val Jobs = at("jobs"); val Stages = at("stages"); val Submitted = at("stages_submitted")
  val Tasks = at("tasks"); val SchedDelay = at("sched_delay_ms"); val Run = at("run_ms")
  val Cpu = at("cpu_ns"); val Gc = at("gc_ms"); val ShBytes = at("shuffle_bytes")
  val ShRecords = at("shuffle_records"); val ShWrite = at("shuffle_write_ns")
  val FetchWait = at("fetch_wait_ms"); val Spill = at("spill_bytes")
  val ScanBytes = at("scan_bytes"); val ScanRecords = at("scan_records")
  val OutBytes = at("output_bytes"); val Plan = at("plan_ms")
}

/** One listener for the whole run. Task, stage and job events are summed
  * into the run total and into the counters of the job group the job ran
  * under (the tracer sets one group per span); finished queries add their
  * planning phases (`qe.tracker`) to the run total. Planning has no job
  * group, so it is only counted per run.
  */
final class Meter extends SparkListener with QueryExecutionListener {
  import Counters._

  private val total = new Counters
  private val groups = mutable.Map[String, Counters]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stageSubmitted = mutable.Map[Int, Long]()
  private var windowPeak = 0L

  private def add(group: String, k: Int, x: Long): Unit = {
    total.v(k) += x
    if (group != null) groups.getOrElseUpdate(group, new Counters).v(k) += x
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    // a stage belongs to the first job that lists it; later jobs that
    // list it again skip it
    e.stageInfos.foreach(s => stageGroup.getOrElseUpdate(s.stageId, g))
    add(g, Jobs, 1)
    add(g, Stages, e.stageInfos.size.toLong)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    stageSubmitted(s.stageId) = s.submissionTime.getOrElse(System.currentTimeMillis())
    add(stageGroup.getOrElse(s.stageId, null), Submitted, 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val g = stageGroup.getOrElse(e.stageId, null)
      add(g, Tasks, 1)
      stageSubmitted.get(e.stageId).foreach(t0 =>
        add(g, SchedDelay, math.max(0L, e.taskInfo.launchTime - t0)))
      add(g, Run, m.executorRunTime)
      add(g, Cpu, m.executorCpuTime)
      add(g, Gc, m.jvmGCTime)
      add(g, ShBytes, m.shuffleWriteMetrics.bytesWritten)
      add(g, ShRecords, m.shuffleWriteMetrics.recordsWritten)
      add(g, ShWrite, m.shuffleWriteMetrics.writeTime)
      add(g, FetchWait, m.shuffleReadMetrics.fetchWaitTime)
      add(g, Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
      add(g, ScanBytes, m.inputMetrics.bytesRead)
      add(g, ScanRecords, m.inputMetrics.recordsRead)
      add(g, OutBytes, m.outputMetrics.bytesWritten)
      windowPeak = math.max(windowPeak, m.peakExecutionMemory)
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    add(null, Plan, qe.tracker.phases.values.map(_.durationMs).sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  def snapshot(): Counters = synchronized(total.copy())
  def group(name: String): Counters = synchronized(groups.get(name).map(_.copy()).getOrElse(new Counters))

  /** Largest per-task peak execution memory since the previous call. */
  def takePeak(): Long = synchronized { val p = windowPeak; windowPeak = 0L; p }
}
