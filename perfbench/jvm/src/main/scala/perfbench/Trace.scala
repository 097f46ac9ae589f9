package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Epoch milliseconds with sub-millisecond resolution: one wall-clock
  * anchor plus the monotonic clock, so span times are comparable with
  * the epoch-millisecond times Spark stamps on its listener events. */
object Clock {
  private val e0 = System.currentTimeMillis()
  private val n0 = System.nanoTime()
  def ms: Double = e0 + (System.nanoTime() - n0) / 1e6
}

/** Spans opened around the benchmark's calls into graft, on the one
  * thread the benchmark runs on. Always on: the end-to-end metrics
  * are read from these spans. With `traced`, each span also publishes
  * its id as a Spark local property, so [[JobTap]] can attach the jobs
  * a call submits to the innermost open span. */
final class Recorder(sc: SparkContext, traced: Boolean) {
  final class Span(val id: Int, val parent: Int, val name: String,
                   val tags: Map[String, Any], val t0: Double) {
    var t1: Double = Double.NaN
    var error: String = null
  }
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  /** Nanoseconds the recorder itself spent on the benchmark thread. */
  var ownNs = 0L

  def span[T](name: String, tags: (String, Any)*)(f: => T): T = {
    val a = System.nanoTime()
    val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name,
      tags.toMap, Clock.ms)
    spans += s
    stack = s :: stack
    if (traced) sc.setLocalProperty(Recorder.Prop, s.id.toString)
    ownNs += System.nanoTime() - a
    try f
    catch {
      case e: Throwable =>
        if (s.error == null) s.error = Recorder.describe(e)
        throw e
    } finally {
      val b = System.nanoTime()
      s.t1 = Clock.ms
      stack = stack.tail
      if (traced)
        sc.setLocalProperty(Recorder.Prop, stack.headOption.map(_.id.toString).orNull)
      ownNs += System.nanoTime() - b
    }
  }

  /** Like [[span]], but a failure is recorded on the span and reported
    * as `false` instead of ending the run. */
  def attempt(name: String, tags: (String, Any)*)(f: => Unit): Boolean =
    try { span(name, tags: _*)(f); true }
    catch { case _: Throwable => false }

  def json: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "t0" -> s.t0, "t1" -> s.t1, "error" -> s.error) ++ s.tags
  }
}

object Recorder {
  val Prop = "perfbench.span"
  def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
}

/** Spark jobs and their task counts, keyed by the benchmark span (or the
  * streaming batch) that was current on the submitting thread. */
final class JobTap extends SparkListener {
  final class Job(val id: Int, val span: Int, val batch: Long, val t0: Long) {
    var t1: Long = -1L
    var tasks = 0
  }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  @volatile var ownNs = 0L

  private def prop(e: SparkListenerJobStart, k: String): Option[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val a = System.nanoTime()
    jobs(e.jobId) = new Job(e.jobId,
      prop(e, Recorder.Prop).fold(-1)(_.toInt),
      prop(e, "streaming.sql.batchId").fold(-1L)(_.toLong), e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
    ownNs += System.nanoTime() - a
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = System.nanoTime()
    stageJob.get(e.stageId).flatMap(jobs.get).foreach(_.tasks += 1)
    ownNs += System.nanoTime() - a
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val a = System.nanoTime()
    jobs.get(e.jobId).foreach(_.t1 = e.time)
    ownNs += System.nanoTime() - a
  }

  def ended(jobId: Int): Boolean = synchronized(jobs.get(jobId).exists(_.t1 >= 0))

  def json: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map(j => Map("id" -> j.id, "span" -> j.span,
      "batch" -> j.batch, "t0" -> j.t0, "t1" -> j.t1, "tasks" -> j.tasks))
  }
}

/** Catalyst phase intervals (analysis, optimization, planning) of every
  * executed query, from `QueryExecution.tracker`. The listener does not
  * know the submitting thread, so phases are attached to spans by time. */
final class PlanTap extends QueryExecutionListener {
  private val phases = mutable.ArrayBuffer[Map[String, Any]]()
  @volatile var ownNs = 0L

  private def add(qe: QueryExecution): Unit = synchronized {
    val a = System.nanoTime()
    qe.tracker.phases.foreach { case (name, p) =>
      phases += Map("phase" -> name, "t0" -> p.startTimeMs, "t1" -> p.endTimeMs)
    }
    ownNs += System.nanoTime() - a
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)

  def json: Seq[Map[String, Any]] = synchronized(phases.toSeq)
}
