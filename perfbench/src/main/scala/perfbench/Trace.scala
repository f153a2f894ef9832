package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is the id of the span that caused it
  * (0 = none); times are epoch milliseconds.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Double, endMs: Double, attrs: Map[String, Any])

/** Spans and counts at each layer boundary of one run:
  * pass → key/twin → {construct, execute} → SQL query → job → stage.
  *
  * The benchmark's client thread opens the pass, key and step spans
  * around its calls into the program and tags every job it submits
  * with the step's span id (a Spark local property, inherited by the
  * threads a streaming query starts). Listeners record the rest. The
  * client drains the listener bus at the end of every step, so every
  * event a step caused is counted in that step. Everything stays in
  * memory until `spans` is written out at the end of the run.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val cores = sc.defaultParallelism
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private def newId(): Long = synchronized { nextId += 1; nextId }
  private def record(s: Span): Unit = synchronized { spanBuf += s }
  def spans: Seq[Span] = synchronized(spanBuf.toList)

  // --- per-step counters -------------------------------------------------
  /** Counts of one client step (construct or execute of one key, or one
    * streaming twin), keyed by metric name. */
  final class Step(val id: Long, val key: String, val phase: String, val rddMark: Int) {
    val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = synchronized { c(k) += v }
    def max(k: String, v: Double): Unit = synchronized { c(k) = math.max(c(k), v) }
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val steps = mutable.Map.empty[Long, Step]
  @volatile private var current: Option[Step] = None
  private val allJobs = new java.util.concurrent.atomic.AtomicLong()
  /** Jobs started while attached, whichever step (if any) they belong to. */
  def jobsSeen: Long = allJobs.get()
  private val stageStep = mutable.Map.empty[Int, Step]
  private val stageJob = mutable.Map.empty[Int, Long]
  private val jobSpan = mutable.Map.empty[Int, (Long, Double, Step)]
  private val sqlSpan = mutable.Map.empty[Long, (Long, Double, Step)]
  private val other = new Step(0, "_other", "none", 0)
  private def stepOf(props: java.util.Properties): Step =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .flatMap(id => synchronized(steps.get(id.toLong))).getOrElse(other)

  /** Runs `body` as a client step span under `parent`; jobs it submits
    * are tagged with the step's id. */
  def step[T](parent: Long, key: String, phase: String)(body: => T): (T, Step) = {
    val s = new Step(newId(), key, phase, PerfbenchShim.rddIdMark(sc))
    synchronized { steps(s.id) = s }
    val t0 = nowMs
    val prior = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    current = Some(s)
    try {
      val out = body
      PerfbenchShim.drainListenerBus(sc)
      (out, s)
    } finally {
      current = None
      sc.setLocalProperty(Tracer.SpanProp, prior)
      record(Span(s.id, parent, phase, key, t0, nowMs, Map.empty))
    }
  }

  /** A client span with no counters of its own (pass, key). */
  def span[T](parent: Long, kind: String, name: String)(body: Long => T): T = {
    val id = newId()
    val t0 = nowMs
    try body(id) finally record(Span(id, parent, kind, name, t0, nowMs, Map.empty))
  }

  /** Sums every counter of the given steps; the task-time union over the
    * interval [fromMs, toMs] gives `scheduler.nontask_s`. */
  def aggregate(of: Seq[Step], fromMs: Double, toMs: Double): Map[String, Double] = {
    val sum = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    of.foreach(s => s.synchronized {
      s.c.foreach { case (k, v) =>
        sum(k) = if (k == "executor.peak_exec_mb") math.max(sum(k), v) else sum(k) + v
      }
    })
    val intervals = of.flatMap(s => s.synchronized(s.taskIntervals.toList))
      .map { case (a, b) => (math.max(a.toDouble, fromMs), math.min(b.toDouble, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var (lo, hi) = (Double.NaN, Double.NaN)
    intervals.foreach { case (a, b) =>
      if (hi.isNaN || a > hi) { if (!hi.isNaN) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (!hi.isNaN) covered += hi - lo
    val wallS = (toMs - fromMs) / 1e3
    sum("scheduler.nontask_s") = wallS - covered / 1e3
    sum("scheduler.core_util") = sum("executor.task_run_s") / (wallS * cores)
    sum("scheduler.tasks_per_stage") =
      if (sum("scheduler.stages") > 0) sum("scheduler.tasks") / sum("scheduler.stages") else 0.0
    sum.toMap
  }

  // --- listeners ----------------------------------------------------------
  private val MiB = 1024.0 * 1024.0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      allJobs.incrementAndGet()
      val s = stepOf(e.properties)
      val id = newId()
      Tracer.this.synchronized {
        e.stageIds.foreach { st => stageStep(st) = s; stageJob(st) = id }
        jobSpan(e.jobId) = (id, e.time.toDouble, s)
      }
      s.add("scheduler.jobs", 1)
      if (s.phase == "construct") s.add("registry.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized(jobSpan.remove(e.jobId)).foreach { case (id, t0, s) =>
        record(Span(id, s.id, "job", s"job ${e.jobId}", t0, e.time.toDouble, Map.empty))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val (s, job) = Tracer.this.synchronized(
        (stageStep.getOrElse(info.stageId, other), stageJob.getOrElse(info.stageId, 0L)))
      s.add("scheduler.stages", 1)
      record(Span(newId(), job, "stage", s"stage ${info.stageId}",
        info.submissionTime.getOrElse(0L).toDouble, info.completionTime.getOrElse(0L).toDouble,
        Map("tasks" -> info.numTasks,
          "run_s" -> info.taskMetrics.executorRunTime / 1e3,
          "shuffle_write_mb" -> info.taskMetrics.shuffleWriteMetrics.bytesWritten / MiB)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = Tracer.this.synchronized(stageStep.getOrElse(e.stageId, other))
      s.add("scheduler.tasks", 1)
      s.synchronized { s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime)) }
      val m = e.taskMetrics
      if (m != null) {
        s.add("executor.task_run_s", m.executorRunTime / 1e3)
        s.add("executor.task_cpu_s", m.executorCpuTime / 1e9)
        s.add("executor.gc_s", m.jvmGCTime / 1e3)
        s.max("executor.peak_exec_mb", m.peakExecutionMemory / MiB)
        s.add("scan.mb", m.inputMetrics.bytesRead / MiB)
        s.add("scan.rows", m.inputMetrics.recordsRead)
        s.add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MiB)
        s.add("shuffle.records", m.shuffleWriteMetrics.recordsWritten)
        s.add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MiB)
        s.add("shuffle.spill_mb", m.diskBytesSpilled / MiB)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case st: SparkListenerSQLExecutionStart =>
        current.foreach { s =>
          Tracer.this.synchronized(sqlSpan(st.executionId) = (newId(), st.time.toDouble, s))
        }
      case en: SparkListenerSQLExecutionEnd =>
        Tracer.this.synchronized(sqlSpan.remove(en.executionId)).foreach { case (id, t0, s) =>
          s.add("planner.sql_queries", 1)
          record(Span(id, s.id, "sql", s"sql ${en.executionId}", t0, en.time.toDouble, Map.empty))
        }
      case _ =>
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      current.foreach(s => Tracer.planStats(qe, s.rddMark).foreach { case (k, v) => s.add(k, v) })
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      current.foreach { s =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }.withDefaultValue(0.0)
        s.add("streaming.plan_s", d("queryPlanning"))
        s.add("streaming.add_batch_s", d("addBatch"))
        s.add("streaming.commit_s", d("walCommit") + d("commitOffsets"))
        s.add("streaming.batches", 1)
        // state size is a level, not a flow: keep the newest reading
        s.synchronized {
          s.c("streaming.state_rows") = p.stateOperators.map(_.numRowsTotal).sum.toDouble
          s.c("streaming.state_mb") = p.stateOperators.map(_.memoryUsedBytes).sum / MiB
        }
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + d("triggerExecution") * 1e3
        record(Span(newId(), s.id, "microbatch", s"batch ${p.batchId}",
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, end,
          Map("input_rows" -> p.numInputRows)))
      }
    }
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    attached = true
  }
  def detach(): Unit = if (attached) {
    PerfbenchShim.drainListenerBus(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Every node of an executed plan: the final adaptive plan, query
    * stages, command and subquery plans; a reused exchange is not
    * walked twice. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children ++ other.subqueries ++
        other.innerChildren.collect { case c: SparkPlan => c }
    }
    Iterator.single(p) ++ kids.iterator.flatMap(nodes)
  }

  /** Driver phase times and plan-shape counts of one executed query;
    * `rddMark` is the first RDD id of the step that ran it. */
  def planStats(qe: QueryExecution, rddMark: Int): Seq[(String, Double)] = {
    val phases = qe.tracker.phases
    def phase(n: String) = phases.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
    val plan = nodes(qe.executedPlan).toList
    def count(f: SparkPlan => Boolean) = plan.count(f).toDouble
    Seq(
      "planner.analysis_s" -> phase("analysis"),
      "planner.optimization_s" -> phase("optimization"),
      "planner.planning_s" -> phase("planning"),
      "planner.exchanges" -> count(_.isInstanceOf[ShuffleExchangeLike]),
      "planner.broadcast_joins" -> count(_.isInstanceOf[BroadcastHashJoinExec]),
      "planner.shuffled_hash_joins" -> count(_.isInstanceOf[ShuffledHashJoinExec]),
      "planner.sort_merge_joins" -> count(_.isInstanceOf[SortMergeJoinExec]),
      "planner.broadcast_mb" -> plan.collect { case b: BroadcastExchangeExec =>
        b.metrics.get("dataSize").map(_.value).getOrElse(0L) / (1024.0 * 1024.0) }.sum,
      // graft.Materialized serves every memo as a local checkpoint, so a
      // memo hit is a scan of a checkpointed RDD made before this step
      // (a checkpoint the step made itself is part of its own work)
      "materialized.hits" -> count {
        case r: RDDScanExec => r.rdd.id < rddMark
        case _ => false
      },
      "scan.files_mb" -> plan.filter(_.getClass.getSimpleName == "FileSourceScanExec")
        .map(_.metrics.get("filesSize").map(_.value).getOrElse(0L) / (1024.0 * 1024.0)).sum)
  }
}
