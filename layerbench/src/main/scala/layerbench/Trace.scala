package layerbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.layerbench.SparkBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `parent` is 0 for a root
  * span; spans of one op share their root's id as `root`.
  */
final class Span(val id: Long, val name: String, val parent: Long,
                 val root: Long, val thread: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  private val extra = new ConcurrentHashMap[String, Double]()
  def put(counter: String, v: Double): Unit = extra.put(counter, v)
  def extras: Map[String, Double] = extra.asScala.toMap
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder plus Spark's public listeners (SparkListener,
  * QueryExecutionListener, StreamingQueryListener).
  *
  * Attribution: while a span is open on a thread, that thread's Spark job
  * group is `lbspan-<id>`, so every job (and SQL execution) it launches
  * carries the span id in its properties. Micro-batch jobs run on the
  * stream's own thread; they carry `streaming.sql.batchId`, which the
  * client binds to its open `streaming.trigger` span. Listener events only
  * record raw facts; they are resolved to spans once, after the listener
  * bus has drained at the end of the run.
  *
  * With `enabled = false` spans are not recorded and no listener is
  * registered, so the untraced run pays nothing for the trace.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val GroupPrefix = "lbspan-"
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val gauges = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()

  // ---- raw listener facts ----
  private final case class JobFact(group: Option[String], batch: Option[Long],
                                   exec: Option[Long], stages: Seq[Int])
  private final class StageAgg {
    var tasks, runMs, cpuNs, gcMs, inBytes, shufBytes, spillBytes = 0L
  }
  private final case class ExecFact(planMs: Double, filesRead: Long)
  private val jobs = new ConcurrentHashMap[Int, JobFact]()
  private val stageAggs = new ConcurrentHashMap[Int, StageAgg]()
  private val execGroups = new ConcurrentHashMap[Long, String]()
  private val execFacts = new ConcurrentHashMap[Long, ExecFact]() // by QueryExecution id
  private val queryExecs = new ConcurrentHashMap[Long, Long]() // QueryExecution id -> execution id
  private val batchProgress = new ConcurrentHashMap[Long, Map[String, Long]]()
  private val batchSpans = new ConcurrentHashMap[Long, Long]()

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.put(e.jobId, JobFact(
        prop("spark.jobGroup.id").filter(_.startsWith(GroupPrefix)),
        prop("streaming.sql.batchId").map(_.toLong),
        prop("spark.sql.execution.id").map(_.toLong),
        e.stageIds))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageAggs.computeIfAbsent(e.stageId, _ => new StageAgg)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.inBytes += m.inputMetrics.bytesRead
          a.shufBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.filter(_.startsWith(GroupPrefix))
          .foreach(g => execGroups.put(s.executionId, g))
      case end: SparkListenerSQLExecutionEnd =>
        SparkBridge.queryExecutionId(end).foreach(q => queryExecs.put(q, end.executionId))
      case _ =>
    }
  }

  private object Queries extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values
        .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      val files = collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      execFacts.put(qe.id, ExecFact(planMs, files))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object Streams extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      batchProgress.put(e.progress.batchId,
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Queries)
    spark.streams.addListener(Streams)
  }

  /** Time `body` as span `name`, nested under the thread's open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val outer = stack.get()
      val parent = outer.headOption
      val id = ids.incrementAndGet()
      val sp = new Span(id, name, parent.map(_.id).getOrElse(0L),
        parent.map(_.root).getOrElse(id), Thread.currentThread.getName,
        System.nanoTime())
      stack.set(sp :: outer)
      sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
      try body
      finally {
        sp.endNs = System.nanoTime()
        spans.add(sp)
        stack.set(outer)
        parent match {
          case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** The innermost open span on this thread, if any. */
  def current: Option[Span] = if (enabled) stack.get().headOption else None

  /** Attribute micro-batch `batchId`'s jobs to the thread's open span. */
  def bindBatch(batchId: Long): Unit =
    current.foreach(s => batchSpans.put(batchId, s.id))

  /** Record one sample of a layer gauge (reported as the median). */
  def gauge(name: String, v: Double): Unit =
    if (enabled)
      gauges.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)

  /** Drain the listener bus, then resolve every fact to its span. */
  def resolve(): Trace = {
    if (enabled) SparkBridge.drainListenerBus(spark.sparkContext)
    val all = spans.asScala.toSeq.sortBy(_.startNs)
    val byGroup = all.map(s => (GroupPrefix + s.id) -> s.id).toMap
    def jobSpan(j: JobFact): Option[Long] =
      j.group.flatMap(byGroup.get)
        .orElse(j.batch.flatMap(b => Option(batchSpans.get(b)).map(_.longValue)))
    val jobsBySpan = jobs.asScala.toSeq.sortBy(_._1)
      .flatMap { case (_, j) => jobSpan(j).map(_ -> j) }
    // a stage shared by several jobs ran its tasks once: count it once
    val seenStages = scala.collection.mutable.Set.empty[Int]
    val counters = scala.collection.mutable.Map.empty[Long, Map[String, Double]]
    def add(sid: Long, kv: (String, Double)*): Unit = {
      val m = counters.getOrElse(sid, Map.empty[String, Double])
      counters(sid) = kv.foldLeft(m) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0.0) + v) }
    }
    jobsBySpan.foreach { case (sid, j) =>
      add(sid, "jobs" -> 1.0)
      j.stages.filter(seenStages.add).flatMap(s => Option(stageAggs.get(s))).foreach { a =>
        add(sid, "tasks" -> a.tasks.toDouble, "exec_run_ms" -> a.runMs.toDouble,
          "exec_cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs.toDouble,
          "input_bytes" -> a.inBytes.toDouble, "shuffle_bytes" -> a.shufBytes.toDouble,
          "spill_bytes" -> a.spillBytes.toDouble)
      }
    }
    // SQL executions: by their own job group, else by any job they ran
    val execSpan = scala.collection.mutable.Map.empty[Long, Long]
    jobsBySpan.foreach { case (sid, j) => j.exec.foreach(e => execSpan.getOrElseUpdate(e, sid)) }
    execGroups.asScala.foreach { case (e, g) => byGroup.get(g).foreach(execSpan(e) = _) }
    execFacts.asScala.foreach { case (q, f) =>
      Option(queryExecs.get(q)).flatMap(e => execSpan.get(e.longValue))
        .foreach(sid => add(sid, "plan_ms" -> f.planMs, "files_read" -> f.filesRead.toDouble))
    }
    batchSpans.asScala.foreach { case (b, sid) =>
      Option(batchProgress.get(b)).foreach { d =>
        add(sid, "add_batch_ms" -> d.getOrElse("addBatch", 0L).toDouble,
          "planning_ms" -> d.getOrElse("queryPlanning", 0L).toDouble,
          "wal_commit_ms" -> d.getOrElse("walCommit", 0L).toDouble)
      }
    }
    Trace(all, counters.toMap, gauges.asScala.map { case (k, q) => k -> q.asScala.toSeq }.toMap)
  }
}

/** A resolved trace: spans, the counters attributed to each span id, and
  * gauge samples.
  */
final case class Trace(spans: Seq[Span], counters: Map[Long, Map[String, Double]],
                       gauges: Map[String, Seq[Double]]) {

  /** Self time: a span's duration minus the part its children cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    ((s.endNs - s.startNs) - covered) / 1e6
  }

  /** Every counter of one span instance, including derived ones. */
  def instance(s: Span, cores: Int): Map[String, Double] = {
    val c = counters.getOrElse(s.id, Map.empty) ++ s.extras
    val base = Tracing.Counters.map(k => k -> c.getOrElse(k, 0.0)).toMap
    base ++ c ++ Map("ms" -> s.ms, "self_ms" -> selfMs(s),
      "busy_ratio" -> (if (s.ms > 0) c.getOrElse("exec_run_ms", 0.0) / (s.ms * cores) else 0.0))
  }

  /** Per-layer metrics: each counter of each named span as the median over
    * that span's instances; gauges as the median of their samples. A span
    * or gauge the workload never reaches reports 0.
    */
  def perLayer(cores: Int): Map[String, Double] = {
    val bySpan = spans.groupBy(_.name)
    val fromSpans = Tracing.Spans.flatMap { name =>
      val inst = bySpan.getOrElse(name, Nil).map(instance(_, cores))
      val keys = Tracing.Counters ++ Tracing.Extras.getOrElse(name, Nil)
      keys.map(k => s"$name.$k" -> Stats.median(inst.map(_.getOrElse(k, 0.0))))
    }
    val fromGauges = Tracing.Gauges.map(g => g -> Stats.median(gauges.getOrElse(g, Nil)))
    (fromSpans ++ fromGauges).toMap
  }

  /** Spans as JSON lines: name, start/end (ms since the first span), ids. */
  def spanLines: Seq[String] = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.map { s =>
      val c = counters.getOrElse(s.id, Map.empty) ++ s.extras
      Json.render(Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "root" -> s.root,
        "thread" -> s.thread, "start_ms" -> (s.startNs - t0) / 1e6,
        "end_ms" -> (s.endNs - t0) / 1e6, "self_ms" -> selfMs(s),
        "counters" -> Json.obj(c.toSeq.sortBy(_._1)))))
    }
  }
}

/** The span, counter and gauge names the traced run reports. */
object Tracing {
  val Spans: Seq[String] = Seq(
    "pipeline.prepare", "pipeline.evaluate", "ml.rf_fit", "operators.fusion",
    "similarity.search_plan", "similarity.search_exec", "streaming.trigger",
    "dedup.compact", "similarity.build_index", "dedup.seed_state")
  val Counters: Seq[String] = Seq("ms", "self_ms", "jobs", "tasks", "exec_run_ms",
    "exec_cpu_ms", "gc_ms", "busy_ratio", "plan_ms", "input_bytes",
    "shuffle_bytes", "spill_bytes")
  val Extras: Map[String, Seq[String]] = Map(
    "similarity.search_exec" -> Seq("files_read"),
    "streaming.trigger" -> Seq("add_batch_ms", "planning_ms", "wal_commit_ms"),
    "dedup.compact" -> Seq("bytes_rewritten"))
  val Gauges: Seq[String] = Seq("dedup.state_files", "dedup.state_bytes",
    "dedup.survivor_ratio")

  /** Every per-layer metric name, in the order BENCHMARK.json lists them. */
  def perLayerNames: Seq[String] =
    Spans.flatMap(s => (Counters ++ Extras.getOrElse(s, Nil)).map(c => s"$s.$c")) ++ Gauges

  def unit(metric: String): String = metric.split('.').last match {
    case "jobs" | "tasks" | "files_read" | "state_files" => "count"
    case "busy_ratio" | "survivor_ratio" => "ratio"
    case c if c.endsWith("bytes") || c == "bytes_rewritten" => "B"
    case _ => "ms"
  }
}
