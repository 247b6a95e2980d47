package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Half-open [start, end) intervals in nanoseconds. */
object Intervals {

  /** Length of the union: overlapping or touching intervals count
    * once, so jobs that run concurrently are not double counted. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }

  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }
}

/** One timed call into a layer. `unit` groups the spans of one timed
  * unit (a request, a pipeline pass, a drain); -1 is set-up. */
final case class Span(id: Int, parent: Int, unit: Int, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. Disabled, it only runs the body. Spans
  * stay in memory and are written out once, when the run ends. */
final class Tracer(var enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  var unit: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, System.nanoTime()) :: stack
      try body
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        done += Span(id, parent, unit, name, start, System.nanoTime())
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Self time of every span: its duration minus the part of it that
    * its children's union covers. */
  def selfTimes: Map[Int, Long] = {
    val kids = done.groupBy(_.parent)
    done.map { s =>
      val covered = Intervals.unionLength(Intervals.clip(
        kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)).toSeq, s.start, s.end))
      s.id -> (s.dur - covered)
    }.toMap
  }
}

/** What the engine did, from Spark's public listener APIs only: jobs,
  * stages and tasks from a SparkListener, Catalyst phases from a
  * QueryExecutionListener. Listener events arrive asynchronously, so
  * every record carries Spark's own timestamps and is assigned to a
  * unit by time, not by arrival. Times are converted to the
  * System.nanoTime frame of the spans. */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  /** nanoTime = epochMs * 1e6 - offset */
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nanos(epochMs: Long): Long = epochMs * 1000000L - offset

  import Recorder._

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Long] // completion times
  val tasks = ArrayBuffer.empty[Task]
  val phases = ArrayBuffer.empty[Phases]
  @volatile private var lastEvent = System.nanoTime()
  @volatile private var open = 0

  private def touch(): Unit = lastEvent = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, nanos(e.time), Long.MaxValue); open += 1; touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = nanos(e.time)); open -= 1; touch()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += nanos(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())); touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(nanos(e.taskInfo.finishTime), m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled)
    touch()
  }

  /** Phases come from the QueryExecution the listener receives: an
    * action such as a noop write runs its own QueryExecution, whose
    * tracker holds all three phases, while the DataFrame's tracker
    * holds only analysis. */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
    val at = p.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(System.currentTimeMillis())
    phases += Phases(nanos(at), System.identityHashCode(qe.tracker), p.keySet,
      ms("analysis"), ms("optimization"), ms("planning"))
    touch()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait until every started job has ended and no listener event has
    * arrived for `quietMs` (bounded by `maxMs`). */
  def settle(quietMs: Long = 60, maxMs: Long = 3000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() < deadline &&
      (open > 0 || System.nanoTime() - lastEvent < quietMs * 1000000L)) Thread.sleep(10)
  }

  /** Engine work inside [lo, hi). */
  def window(lo: Long, hi: Long): Window = synchronized {
    val js = jobs.filter(j => j.start >= lo && j.start < hi).toSeq
    val ts = tasks.filter(t => t.end >= lo && t.end < hi).toSeq
    // one tracker counted once even if several actions reuse it
    val ps = phases.filter(p => p.at >= lo && p.at < hi).toSeq
    val distinct = ps.groupBy(_.tracker).values.map(_.head).toSeq
    Window(hi - lo,
      Intervals.unionLength(js.map(j => (j.start, math.min(j.end, hi)))),
      js.length, stages.count(s => s >= lo && s < hi), ts.length,
      ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9, ts.map(_.gcMs).sum / 1e3,
      ts.map(_.shuffleWrite).sum, ts.map(_.shuffleRead).sum, ts.map(_.spill).sum,
      distinct.map(_.analysis).sum, distinct.map(_.optimization).sum,
      distinct.map(_.planning).sum)
  }
}

object Recorder {
  final case class Job(id: Int, start: Long, var end: Long)
  final case class Task(end: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)
  final case class Phases(at: Long, tracker: Int, names: Set[String], analysis: Long,
      optimization: Long, planning: Long)
}

/** Engine totals over one time window. `jobUnionNs` is the union of
  * job intervals, so driver-only time is wall minus that union. */
final case class Window(wallNs: Long, jobUnionNs: Long, jobs: Int, stages: Int, tasks: Int,
    runS: Double, cpuS: Double, gcS: Double, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long) {
  def driverOnlyS: Double = (wallNs - jobUnionNs) / 1e9
}
