package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the enclosing span (0 = root);
  * spans of one request share `req`. Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, name: String, req: Long,
                      startNs: Long, endNs: Long)

/** In-memory span recorder and per-layer counters for the traced run.
  *
  * Spans are taken by the benchmark around each call into a layer, and by
  * the Spark listeners below for jobs. The id of the innermost open span
  * rides on the Spark local property [[SpanProp]], so a job (and every
  * task of it) is attributed to the benchmark call that submitted it.
  * Nothing is written until [[write]] at the end of the run. With tracing
  * off, [[span]] is a plain call and no listener is registered.
  */
object Trace {
  @volatile var enabled = false
  val SpanProp = "perfbench.span"

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile private var sc: SparkContext = _
  // listener event times are epoch milliseconds; spans are nanoTime
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  /** Executor CPU (ns) per span id, from task ends. */
  val spanCpuNs = new ConcurrentHashMap[Long, DoubleAdder]()
  val progress = new ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()

  def add(key: String, v: Double): Unit =
    counters.computeIfAbsent(key, _ => new DoubleAdder).add(v)
  def get(key: String): Double =
    Option(counters.get(key)).map(_.sum()).getOrElse(0.0)
  def resetCounters(): Unit = { counters.clear(); spanCpuNs.clear(); progress.clear() }

  def newId(): Long = nextId.incrementAndGet()

  def span[T](name: String, req: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val outer = stack.get
      stack.set(id :: outer)
      val prevProp = if (sc != null) sc.getLocalProperty(SpanProp) else null
      if (sc != null) sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, outer.headOption.getOrElse(0L), name, req, t0, System.nanoTime()))
        stack.set(outer)
        if (sc != null) sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Analysis runs when a DataFrame is built, under the DataFrame's own
    * query execution, which the listener never sees for a write. */
  def noteAnalysis(df: org.apache.spark.sql.DataFrame): Unit =
    if (enabled) df.queryExecution.tracker.phases.get("analysis")
      .foreach(p => add("planning.analysis_ms", p.durationMs))

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Spans whose name satisfies `p`, e.g. every query span. */
  def spansNamed(p: String => Boolean): Seq[Span] = allSpans.filter(s => p(s.name))

  /** Wall time of `s` not covered by its direct children, in ns. */
  def selfNs(s: Span, children: Map[Long, Seq[Span]]): Long = {
    val iv = children.getOrElse(s.id, Nil)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs) - covered
  }

  /** Per span name: count, total ms and self ms. */
  def selfTimes(): Seq[(String, Long, Double, Double)] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.size.toLong, ss.map(s => s.endNs - s.startNs).sum / 1e6,
        ss.map(s => selfNs(s, children)).sum / 1e6)
    }.sortBy(-_._4)
  }

  def write(path: String, header: Seq[(String, Any)]): Unit = {
    val sb = new StringBuilder
    sb.append(Json.obj(header :+ ("self_times" -> selfTimes().map {
      case (n, c, tot, self) =>
        Map("name" -> n, "count" -> c, "total_ms" -> tot, "self_ms" -> self)
    }))).append('\n')
    allSpans.sortBy(_.startNs).foreach { s =>
      sb.append(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "req" -> s.req, "start_ns" -> s.startNs, "end_ns" -> s.endNs))).append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }

  /** Register the Spark listeners that feed the per-layer counters. */
  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    enabled = true
    sc.addSparkListener(new ExecListener)
    spark.listenerManager.register(new PlanListener)
    spark.streams.addListener(new StreamListener)
  }

  /** Block until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toLong).getOrElse(0L)

  /** Jobs, stages and task metrics (executor run/CPU, shuffle, spill, GC). */
  private final class ExecListener extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, (Long, Long)]()
    private val stageSpan = new ConcurrentHashMap[Int, Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = spanOf(e.properties)
      jobs.put(e.jobId, (e.time, sp))
      e.stageIds.foreach(id => stageSpan.put(id, sp))
      add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { case (t0, sp) =>
        spans.add(Span(newId(), sp, "spark.job", 0L,
          t0 * 1000000L + epochToNano, e.time * 1000000L + epochToNano))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      if (e.reason != Success) add("exec.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_run_ms", m.executorRunTime)
        add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        add("exec.scheduler_delay_ms", math.max(0L, e.taskInfo.duration -
          m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime))
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("exec.shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("exec.gc_ms", m.jvmGCTime)
        add("scan.input_bytes", m.inputMetrics.bytesRead)
        val sp = stageSpan.getOrDefault(e.stageId, 0L)
        spanCpuNs.computeIfAbsent(sp, _ => new DoubleAdder).add(m.executorCpuTime)
      }
    }
  }

  /** Planning phases (QueryPlanningTracker), per-rule time and invocation
    * counts, and file-scan metrics of every executed query. */
  private final class PlanListener extends QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("qe.count", 1)
      val phases = qe.tracker.phases
      phases.get("analysis").foreach(p => add("planning.analysis_ms", p.durationMs))
      phases.get("optimization").foreach(p => add("planning.optimization_ms", p.durationMs))
      phases.get("planning").foreach(p => add("planning.physical_ms", p.durationMs))
      qe.tracker.rules.foreach { case (name, r) =>
        if (name.startsWith("graft.")) {
          add("plans.graft_rule_ms", r.totalTimeNs / 1e6)
          add("plans.graft_rule_runs", r.numInvocations)
          add("plans.graft_rule_effective", r.numEffectiveInvocations)
        } else add("plans.spark_rule_ms", r.totalTimeNs / 1e6)
      }
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        .foreach { s =>
          def metric(k: String) = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
          add("scan.scans", 1)
          add("scan.files_read", metric("numFiles"))
          add("scan.metadata_ms", metric("metadataTime"))
          add("scan.files_total", s.relation.location.inputFiles.length)
        }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      add("qe.failures", 1)
  }

  private final class StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((System.nanoTime(), e.progress))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
