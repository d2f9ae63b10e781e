package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SparkPlan, QueryExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval with the span that caused it (-1: none). */
final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Spans kept in memory and written once, at the end of the traced run. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicInteger()
  def all: Seq[Span] = synchronized(buf.toSeq)

  /** Runs `f` inside a new span; `f` gets the span's id, for child spans. */
  def apply[T](name: String, parent: Int = -1)(f: Int => T): (T, Span) = {
    val id = ids.incrementAndGet()
    val start = System.currentTimeMillis().toDouble
    val r = f(id)
    val s = Span(id, name, parent, start, System.currentTimeMillis().toDouble)
    synchronized(buf += s)
    (r, s)
  }

  def jsonl: String = all.map(s => Common.json(Seq("id" -> s.id, "name" -> s.name,
    "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs))).mkString("\n")
}

/** Task metrics summed over the tasks of one key. */
final class Totals {
  var cpuNs, gcMs, shuffleWrite, spill, bytesRead, recordsWritten, tasks = 0L
  val jobs = mutable.Set.empty[Int]
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    tasks += 1
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      bytesRead += m.inputMetrics.bytesRead
      recordsWritten += m.outputMetrics.recordsWritten
    }
  }
}

/** A job as seen by [[TaskLog]]. */
final case class JobRec(id: Int, key: String, startMs: Long, var endMs: Long)

/** SparkListener that attributes task metrics to the streaming query (by its
  * id) or the job group that ran them, and keeps every job's interval so
  * that spans can claim the jobs that ran inside them.
  */
final class TaskLog extends SparkListener {
  private val stageKey = new ConcurrentHashMap[Int, (String, Int)]()
  val byKey = new ConcurrentHashMap[String, Totals]()
  val byJob = new ConcurrentHashMap[Int, Totals]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()

  private def keyOf(p: java.util.Properties): String =
    Option(p).flatMap(pp => Option(pp.getProperty("sql.streaming.queryId"))
      .orElse(Option(pp.getProperty("spark.jobGroup.id")))).getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = keyOf(e.properties)
    e.stageIds.foreach(s => stageKey.put(s, (k, e.jobId)))
    jobs.put(e.jobId, JobRec(e.jobId, k, e.time, e.time))
    val t = byKey.computeIfAbsent(k, _ => new Totals)
    t.synchronized(t.jobs += e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { case (k, job) =>
      byKey.computeIfAbsent(k, _ => new Totals).add(e.taskMetrics)
      byJob.computeIfAbsent(job, _ => new Totals).add(e.taskMetrics)
    }

  def totals(keys: String*): Totals = {
    val t = new Totals
    keys.flatMap(k => Option(byKey.get(k))).foreach { x =>
      t.cpuNs += x.cpuNs; t.gcMs += x.gcMs; t.shuffleWrite += x.shuffleWrite
      t.spill += x.spill; t.bytesRead += x.bytesRead; t.recordsWritten += x.recordsWritten
      t.tasks += x.tasks; t.jobs ++= x.jobs
    }
    t
  }

  /** Jobs of `key` that started inside the span. */
  def jobsIn(key: String, s: Span): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.key == key && j.startMs >= s.startMs && j.startMs <= s.endMs)
      .toSeq.sortBy(_.id)
}

/** QueryExecutionListener keeping each batch query's per-operator SQL
  * metrics (non-zero values only), tagged with `tag()` at delivery; the
  * caller drains the listener bus after each query so the tag still holds.
  */
final class OperatorLog(tag: () => String) extends QueryExecutionListener {
  val rows = mutable.ArrayBuffer.empty[Seq[(String, Any)]]

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val g = tag()
    val recs = nodes(qe.executedPlan).flatMap { n =>
      n.metrics.toSeq.filter(_._2.value != 0).map { case (k, m) =>
        Seq("query" -> g, "operator" -> n.nodeName, "metric" -> k, "value" -> m.value) }
    }
    synchronized(rows ++= recs)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jsonl: String = synchronized(rows.map(r => Common.json(r)).mkString("\n"))
}
