package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the id of the enclosing span,
  * -1 at the top; times are `System.nanoTime`. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long, runId: String) {
  def durNs: Long = endNs - startNs
}

/** Spans of one run, kept in memory and written with the record when the
  * run ends. When disabled, [[span]] only runs its body. */
final class Tracer(val enabled: Boolean, val runId: String) {
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, t0, System.nanoTime(), runId)
        open = open.tail
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** The layer a span belongs to: `sinks.<Sink>` or the first name part. */
  def layer(s: Span): String = s.name.split('.') match {
    case Array("sinks", sink, _*) => s"sinks.$sink"
    case parts                    => parts.head
  }

  /** Seconds per layer not covered by the layer's child spans. Children of
    * one span never overlap: every span runs on the driver thread. */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.toSeq
      .groupBy(layer)
      .map { case (l, ss) => l -> ss.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e9 }
  }
}

/** Jobs, tasks and query-planning phases seen while a [[SparkProbe]] is
  * attached. Events arrive on Spark's listener thread; read them only after
  * the bus has drained (`SparkContext.stop` drains it). */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  final case class Task(finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long, readB: Long, writeB: Long, spillB: Long)
  val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  val jobEnd = scala.collection.mutable.Map.empty[Int, Long]
  val tasks = ArrayBuffer.empty[Task]
  val phases = ArrayBuffer.empty[(String, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStart(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobEnd(e.jobId) = e.time }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(
        e.taskInfo.finishTime,
        m.executorRunTime,
        m.executorCpuTime,
        m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) => phases += ((name, p.startTimeMs, p.endTimeMs)) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Layer metrics of the wall-clock window `[fromMs, toMs]` on `cores` cores. */
  def window(fromMs: Long, toMs: Long, cores: Int): Map[String, Double] = synchronized {
    def in(t: Long) = t >= fromMs && t <= toMs
    val ts = tasks.filter(t => in(t.finishMs))
    val jobs = jobStart.filter { case (_, t) => in(t) }
    // union of the job intervals, clipped to the window
    val intervals = jobs.toSeq
      .map { case (id, s) => (s, math.min(jobEnd.getOrElse(id, toMs), toMs)) }
      .sortBy(_._1)
    var covered = 0L
    var reach = fromMs
    intervals.foreach { case (s, e) =>
      val a = math.max(s, reach)
      if (e > a) { covered += e - a; reach = e }
    }
    val spanS = (toMs - fromMs) / 1e3
    val runS = ts.map(_.runMs).sum / 1e3
    def phase(n: String) = phases.filter(p => p._1 == n && in(p._2)).map(p => p._3 - p._2).sum.toDouble
    Map(
      "spark.exec.jobs" -> jobs.size.toDouble,
      "spark.exec.tasks" -> ts.size.toDouble,
      "spark.exec.executor_run_s" -> runS,
      "spark.exec.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.exec.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.exec.shuffle_read_bytes" -> ts.map(_.readB).sum.toDouble,
      "spark.exec.shuffle_write_bytes" -> ts.map(_.writeB).sum.toDouble,
      "spark.exec.spill_bytes" -> ts.map(_.spillB).sum.toDouble,
      "spark.exec.driver_gap_s" -> (spanS - covered / 1e3),
      "spark.exec.core_util" -> (if (spanS > 0) runS / (spanS * cores) else 0.0),
      "spark.catalyst.analysis_ms" -> phase("analysis"),
      "spark.catalyst.optimization_ms" -> phase("optimization"),
      "spark.catalyst.planning_ms" -> phase("planning"))
  }
}
