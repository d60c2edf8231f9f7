package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer, in epoch milliseconds (fractional) so
  * it lines up with the listener's job and stage times. `parent` is the
  * id of the enclosing span, or -1. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    startMs: Double, endMs: Double) {
  def layer: String = name.takeWhile(_ != '.')
  def durMs: Double = endMs - startMs
}

/** Records spans in memory when enabled; a disabled tracer only runs the
  * body, so the untraced run pays nothing for it. */
final class Tracer {
  var enabled = false
  var op = -1
  private val epoch0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val open = mutable.Stack.empty[Int]
  private val buf = mutable.ArrayBuffer.empty[Span]

  def nowMs: Double = epoch0Ms + (System.nanoTime() - nano0) / 1e6
  def spans: Seq[Span] = buf.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = buf.length
      buf += Span(id, name, op, open.headOption.getOrElse(-1), nowMs, Double.NaN)
      open.push(id)
      try body
      finally {
        open.pop()
        buf(id) = buf(id).copy(endMs = nowMs)
      }
    }
}

/** Spark runtime and Catalyst counters, kept per op. Jobs carry their op
  * id in the `perfbench.op` local property; stages and tasks inherit it
  * from their job. Events arrive on the listener bus thread, so readers
  * drain the bus first ([[org.apache.spark.perfbench.Bus]]). */
final class Recorder extends SparkListener with QueryExecutionListener {

  final class StageRec(val op: Int) {
    var done = false
    var numTasks, tasks = 0
    var submitMs, completeMs = 0L
    var runMs, gcMs, cpuNs = 0L
    var shuffleWriteB, shuffleWriteRecs, shuffleReadRecs = 0L
    var spillB, inputB = 0L
  }
  final case class JobRec(id: Int, op: Int, startMs: Long, var endMs: Long)
  final case class Phases(startMs: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val sqlExecStartsMs = mutable.ArrayBuffer.empty[Long]
  val catalyst = mutable.ArrayBuffer.empty[Phases]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = JobRec(e.jobId, op, e.time, -1L)
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, new StageRec(op)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.done = true
      s.numTasks = e.stageInfo.numTasks
      s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
      s.completeMs = e.stageInfo.completionTime.getOrElse(0L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecs += m.shuffleWriteMetrics.recordsWritten
      s.shuffleReadRecs += m.shuffleReadMetrics.recordsRead
      s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputB += m.inputMetrics.bytesRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlExecStartsMs += s.time }
    case _ => ()
  }

  private def phases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    ph.get("analysis").foreach { a =>
      synchronized {
        catalyst += Phases(a.startTimeMs, ms("analysis"), ms("optimization"), ms("planning"))
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
}

/** Interval arithmetic for self time and driver gaps. */
object Intervals {
  /** Length of the union of `xs` clipped to [lo, hi]. */
  def covered(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
