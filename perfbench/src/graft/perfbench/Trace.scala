package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed call into graft (or one untimed check/maintenance call). */
final class OpRec(val id: Int, val kind: String, val layer: String, val fn: String) {
  var startMs = 0L
  var endMs = 0L
  var startNs = 0L
  var endNs = 0L
  var ok = true
  var err = ""
  var rowsIn = 0L
  var rowsOut = 0L
  def seconds: Double = (endNs - startNs) / 1e9
  def name: String = s"$layer.$fn"
  def fail(msg: String): Unit = if (ok) { ok = false; err = msg.take(300) }
}

/** Per-op Spark execution counters, summed over the op's tasks. */
final class ExecAgg {
  var stages, skippedStages, tasks = 0L
  var cpuNs, gcMs, inputBytes, inputRecords, shuffleRead, shuffleWrite,
      outputBytes, spill, peakMem = 0L
}

final case class JobRec(id: Int, op: Int, start: Long, var end: Long, stages: Seq[Int])
final case class PlanRec(action: String, phases: Map[String, (Long, Long)],
    files: Long, bytes: Long)

/** Spark-side tracing for the traced run: a SparkListener that attributes
  * jobs, stages and tasks to ops through a per-op job tag, and a
  * QueryExecutionListener that records each action's planning phases
  * (attributed to ops later by time, since its callbacks run late).
  * Events arrive on the listener bus; [[drain]] waits for delivery
  * before anything reads them. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  val TagPrefix = "perfbench-op-"
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val submitted = mutable.HashSet.empty[Int]
  private val agg = mutable.HashMap.empty[Int, ExecAgg]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(",")).collectFirst {
        case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toInt
      }.getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    jobs(e.jobId) = JobRec(e.jobId, op, e.time, -1L, e.stageIds)
    e.stageIds.foreach(s => if (!stageOp.contains(s)) stageOp(s) = op)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      val a = agg.getOrElseUpdate(j.op, new ExecAgg)
      a.skippedStages += j.stages.count(s => !submitted(s))
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    agg.getOrElseUpdate(stageOp.getOrElse(e.stageInfo.stageId, -1), new ExecAgg).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = agg.getOrElseUpdate(stageOp.getOrElse(e.stageId, -1), new ExecAgg)
    a.tasks += 1
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.outputBytes += m.outputMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }

  private def record(action: String, qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    // write commands report their output through SQL metrics
    var files, bytes = 0L
    try qe.executedPlan.foreach { p =>
      p.metrics.get("numFiles").foreach(m => files += m.value)
      p.metrics.get("numOutputBytes").foreach(m => bytes += m.value)
    } catch { case scala.util.control.NonFatal(_) => () }
    plans += PlanRec(action, ph, files, bytes)
  }
  override def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit =
    record(action, qe)
  override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit =
    record(action, qe)

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = Tracer.drain(sc)

  def snapshot(): (Seq[JobRec], Map[Int, ExecAgg], Seq[PlanRec]) = synchronized {
    (jobs.values.toSeq, agg.toMap, plans.toSeq)
  }
}

object Tracer {
  /** `listenerBus` is private[spark] (public in bytecode), so the wait is
    * reflective; any surprise falls back to a short sleep. */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .foreach(_.invoke(bus))
    } catch { case scala.util.control.NonFatal(_) => Thread.sleep(500) }

  /** Total length of the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.filter(x => x._2 >= x._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open) { curS = s; curE = e; open = true }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (open) total += curE - curS
    total
  }
}
