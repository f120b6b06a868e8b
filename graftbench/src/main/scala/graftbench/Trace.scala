package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded by the benchmark around its calls into graft, plus the
  * Spark jobs and stages those calls launched. Spans stay in memory and are
  * written once, at exit. Jobs link to the span that caused them through
  * the job group the benchmark sets before each call (`span-<id>`).
  *
  * With `traced = false` only span timings the workload itself needs are
  * kept and no Spark listener is registered. */
final class Trace(val traced: Boolean) {
  val epoch0: Long = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private val ids = new AtomicInteger(0)
  private val spans = ArrayBuffer.empty[Map[String, Any]]

  def nowMs: Double = (System.nanoTime() - nano0) / 1e6
  def epochToRel(epochMs: Long): Double = (epochMs - epoch0).toDouble

  /** Run `body` as a span; the body receives the span's id. */
  def span[T](name: String, kind: String, parent: Int,
      attrs: Map[String, Any] = Map.empty)(body: Int => T): T = {
    val id = ids.incrementAndGet()
    val t0 = nowMs
    try body(id)
    finally record(id, parent, name, kind, t0, nowMs, attrs)
  }

  def record(id: Int, parent: Int, name: String, kind: String,
      start: Double, end: Double, attrs: Map[String, Any] = Map.empty): Unit =
    if (traced) spans.synchronized {
      spans += Map("id" -> id, "parent" -> parent, "name" -> name, "kind" -> kind,
        "start_ms" -> start, "end_ms" -> end) ++ attrs
    }

  /** Make the calling thread's Spark jobs children of span `id`. */
  def tag(sc: SparkContext, id: Int): Unit =
    sc.setJobGroup(s"span-$id", s"span-$id", interruptOnCancel = false)

  val jobs = new JobProbe(this)
  val queries = new QueryProbe

  def install(sc: SparkContext): Unit = if (traced) sc.addSparkListener(jobs)

  /** Every session has its own execution listeners: register on each. */
  def watch(spark: org.apache.spark.sql.SparkSession): Unit =
    if (traced) spark.listenerManager.register(queries)

  /** Spans of jobs and stages, as children of the spans that caused them. */
  def allSpans: Seq[Map[String, Any]] = spans.synchronized(spans.toList) ++ jobs.spans
}

/** Jobs and stages seen by a `SparkListener`, with the task metrics of
  * each stage. */
final class JobProbe(trace: Trace) extends SparkListener {
  private case class Job(id: Int, group: Int, start: Long, var end: Long)
  private val jobsById = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageRows = new ConcurrentHashMap[Int, Map[String, Any]]()
  private val stagePeak = new ConcurrentHashMap[Int, java.lang.Long]()

  private def groupSpan(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt).getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsById.put(e.jobId, Job(e.jobId, groupSpan(e.properties), e.time, -1L))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobsById.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      stagePeak.merge(e.stageId, m.peakExecutionMemory, (a, b) => math.max(a, b))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val row = Map[String, Any](
      "stage" -> s.stageId,
      "tasks" -> s.numTasks,
      "start" -> s.submissionTime.getOrElse(0L),
      "end" -> s.completionTime.getOrElse(0L),
      "failed" -> s.failureReason.isDefined) ++ (if (m == null) Map.empty else Map(
      "run_ms" -> m.executorRunTime,
      "cpu_ms" -> m.executorCpuTime / 1e6,
      "gc_ms" -> m.jvmGCTime,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
    stageRows.put(s.stageId, row)
  }

  def stages: Seq[Map[String, Any]] = stageRows.asScala.toSeq.sortBy(_._1).map {
    case (sid, row) =>
      row ++ Map("job" -> stageJob.getOrDefault(sid, -1),
        "peak_exec_mem_bytes" -> Option(stagePeak.get(sid)).map(_.longValue).getOrElse(0L))
  }

  def jobCount: Int = jobsById.size

  /** Job spans (children of the tagging span) and stage spans (children of
    * their job). Ids are negative so they never collide with bench spans. */
  def spans: Seq[Map[String, Any]] = {
    val js = jobsById.values.asScala.toSeq.sortBy(_.id).map { j =>
      Map[String, Any]("id" -> -(j.id + 1) * 2, "parent" -> j.group, "name" -> s"job ${j.id}",
        "kind" -> "job", "start_ms" -> trace.epochToRel(j.start),
        "end_ms" -> trace.epochToRel(if (j.end < 0) j.start else j.end))
    }
    val ss = stages.filter(_("end") != 0L).map { s =>
      val job = s("job").asInstanceOf[Int]
      Map[String, Any]("id" -> (-(s("stage").asInstanceOf[Int] + 1) * 2 - 1),
        "parent" -> -(job + 1) * 2, "name" -> s"stage ${s("stage")}", "kind" -> "stage",
        "start_ms" -> trace.epochToRel(s("start").asInstanceOf[Long]),
        "end_ms" -> trace.epochToRel(s("end").asInstanceOf[Long]))
    }
    js ++ ss
  }
}

/** Physical-operator figures of executed queries, from a
  * `QueryExecutionListener`: SQL metrics of the adaptive final plan. */
final class QueryProbe extends QueryExecutionListener {
  private val done = new ConcurrentHashMap[Long, Map[String, Any]]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    done.put(qe.id, QueryProbe.operators(qe.executedPlan) + ("duration_ms" -> durationNs / 1e6))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    done.put(qe.id, Map("failed" -> true))

  /** The record for `df`'s last action; waits for the listener bus. */
  def await(df: DataFrame, timeoutMs: Long = 3000): Map[String, Any] = {
    val id = df.queryExecution.id
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!done.containsKey(id) && System.currentTimeMillis() < deadline) Thread.sleep(2)
    Option(done.remove(id)).getOrElse(Map("missing" -> true))
  }
}

object QueryProbe {
  /** Every node of a physical plan, through adaptive wrappers, query
    * stages and subqueries. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  private def timeMs(p: SparkPlan, names: String*): Double =
    p.metrics.collect {
      case (k, m) if names.contains(k) =>
        if (m.metricType == "nsTiming") m.value / 1e6 else m.value.toDouble
    }.sum

  /** Operator time by kind, broadcast bytes and CodegenFallback count. */
  def operators(plan: SparkPlan): Map[String, Any] = {
    val ns = nodes(plan)
    def kind(p: SparkPlan) = p.getClass.getSimpleName
    Map(
      "scan_ms" -> ns.map(timeMs(_, "scanTime")).sum,
      "exchange_ms" -> ns.map(timeMs(_, "shuffleWriteTime", "fetchWaitTime")).sum,
      "aggregate_ms" -> ns.filter(kind(_).contains("Aggregate")).map(timeMs(_, "aggTime")).sum,
      "sort_ms" -> ns.filter(kind(_) == "SortExec").map(timeMs(_, "sortTime")).sum,
      "join_ms" -> ns.filter(p => kind(p).contains("Join") || p.isInstanceOf[BroadcastExchangeExec])
        .map(timeMs(_, "buildTime")).sum,
      "broadcast_bytes" -> ns.collect { case b: BroadcastExchangeExec =>
        b.metrics.get("dataSize").map(_.value).getOrElse(0L) }.sum,
      "codegen_breaks" -> codegenBreaks(ns))
  }

  def codegenBreaks(ns: Seq[SparkPlan]): Int =
    ns.map(_.expressions.map(_.collect { case e: CodegenFallback => e }.size).sum).sum
}
