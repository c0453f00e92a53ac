package abrbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is -1 for a root; spans of one
  * operation share `op`.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      t0Ns: Long, t1Ns: Long, t0Ms: Long, t1Ms: Long) {
  def seconds: Double = (t1Ns - t0Ns) / 1e9
  def covers(ms: Long): Boolean = ms >= t0Ms && ms <= t1Ms
}

/** A finished Spark task, as the listener saw it. */
final case class TaskRec(stage: Int, launchMs: Long, durationMs: Long,
                         cpuNs: Long, gcMs: Long, schedDelayMs: Long,
                         shuffleWrite: Long, spill: Long, inBytes: Long,
                         inRecords: Long, outBytes: Long)

/** A finished query execution: its start, duration, planning time and
  * every SQL metric of its executed plan, summed per `Node.metric`.
  */
final case class QueryRec(func: String, startMs: Long, durationNs: Long,
                          planningMs: Long, metrics: Map[String, Long]) {
  def m(k: String): Long = metrics.getOrElse(k, 0L)
}

/** The Spark work attributed to a set of spans. */
final case class Slice(jobs: Int, tasks: Seq[TaskRec], queries: Seq[QueryRec]) {
  def sum(f: TaskRec => Long): Long = tasks.map(f).sum
}

/** Spans kept in memory plus the Spark events observed while they were
  * open. Installed from outside the program: a [[SparkListener]] and a
  * [[QueryExecutionListener]] registered on the session, and spans opened
  * around calls into the layers' public functions.
  */
final class Tracer {
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  val jobs = mutable.ArrayBuffer.empty[Long]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val stageTasks = mutable.Map.empty[Int, Int]
  val queries = mutable.ArrayBuffer.empty[QueryRec]

  def spans: Seq[Span] = synchronized(spanBuf.toSeq)

  /** Run `f` inside a span; `f` gets the span's id for its children. */
  def span[A](name: String, parent: Int = -1, op: Int = 0)(f: Int => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f(id)
    finally {
      val t1 = System.nanoTime()
      val m1 = System.currentTimeMillis()
      synchronized(spanBuf += Span(id, name, parent, op, t0, t1, m0, m1))
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized(jobs += e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized(
        stageTasks(e.stageInfo.stageId) = e.stageInfo.numTasks)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null) {
        val delay = math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
        val rec = TaskRec(e.stageId, i.launchTime, i.duration,
          m.executorCpuTime, m.jvmGCTime, delay,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten)
        Tracer.this.synchronized(tasks += rec)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      val start =
        if (phases.nonEmpty) phases.map(_.startTimeMs).min
        else System.currentTimeMillis() - durationNs / 1000000L
      val rec = QueryRec(func, start, durationNs,
        phases.map(_.durationMs).sum, Tracer.planMetrics(qe.executedPlan))
      Tracer.this.synchronized(queries += rec)
    }
    override def onFailure(func: String, qe: QueryExecution,
                           e: Exception): Unit = ()
  }

  /** Everything attributed to the given spans: tasks by launch time,
    * jobs by submission time, queries by the start of their first phase.
    */
  def slice(ss: Seq[Span]): Slice = synchronized {
    def in(ms: Long) = ss.exists(_.covers(ms))
    Slice(jobs.count(in), tasks.filter(t => in(t.launchMs)).toSeq,
      queries.filter(q => in(q.startMs)).toSeq)
  }

  def clearEvents(): Unit = synchronized {
    jobs.clear(); tasks.clear(); queries.clear()
  }

  /** Spans as JSON lines, written when the benchmark ends. */
  def write(p: Path): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""op":${s.op},"start_ns":${s.t0Ns},"end_ns":${s.t1Ns}}"""
    }.mkString("", "\n", "\n"))
  }
}

object Tracer extends AdaptiveSparkPlanHelper {

  /** Every SQL metric of a physical plan, through adaptive stages,
    * summed per `NodeClass.metricName`.
    */
  def planMetrics(plan: SparkPlan): Map[String, Long] = {
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    collectWithSubqueries(plan) { case p => p }.foreach { p =>
      val node = p.getClass.getSimpleName.stripSuffix("$")
      p.metrics.foreach { case (k, v) => acc(s"$node.$k") += v.value }
    }
    acc.toMap
  }
}
