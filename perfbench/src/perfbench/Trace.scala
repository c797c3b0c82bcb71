package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (0 at top level); all spans of one pass share `pass`. */
final case class Span(id: Int, parent: Int, pass: Int, layer: String,
    name: String, startNs: Long, endNs: Long)

/** Spans and engine counters for the traced passes. Spans are kept in
  * memory and written out once, after the last pass; with tracing off
  * `span` only runs its body. The harness drives Spark from one thread, so
  * the span stack needs no locking; the listener callbacks arrive on
  * Spark's listener thread and go through `Counters`. */
object Trace {
  @volatile var on = false
  var pass = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[A](layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, pass, layer, name, t0, System.nanoTime())
      }
    }

  /** Local property that tags every Spark job with the operation that ran
    * it, so task metrics can be attributed to a DAG stage or a gate. */
  val ScopeKey = "perfbench.scope"

  def scoped[A](spark: SparkSession, scope: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(ScopeKey, scope)
    try body finally sc.setLocalProperty(ScopeKey, null)
  }
}

/** Thread-safe named sums and maxima, plus the trigger latencies. */
final class Counters {
  private val sums = mutable.Map.empty[String, Double]
  private val triggers = mutable.ArrayBuffer.empty[Double]
  private val stateRows = mutable.Map.empty[java.util.UUID, Double]

  def add(k: String, v: Double): Unit = synchronized {
    sums(k) = sums.getOrElse(k, 0.0) + v
  }
  def max(k: String, v: Double): Unit = synchronized {
    sums(k) = math.max(sums.getOrElse(k, 0.0), v)
  }
  def trigger(ms: Double): Unit = synchronized { triggers += ms }
  /** Latest total state rows of one stream query (the last trigger wins). */
  def state(id: java.util.UUID, rows: Double): Unit = synchronized {
    stateRows(id) = rows
  }

  /** Returns and clears everything gathered since the last call. */
  def drain(): (Map[String, Double], Seq[Double]) = synchronized {
    val out = sums.toMap + ("streaming.state_rows" -> stateRows.values.sum)
    val ts = triggers.toList
    sums.clear(); triggers.clear(); stateRows.clear()
    (out, ts)
  }
}

/** Task, stage and job counts from the scheduler; per-operation counts are
  * keyed by the job's [[Trace.ScopeKey]]. */
final class EngineListener(c: Counters) extends SparkListener {
  private val stageScope = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    c.add("spark.jobs", 1)
    val scope = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.ScopeKey)))
      .getOrElse("other")
    e.stageIds.foreach(stageScope.put(_, scope))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (e.stageInfo.submissionTime.isDefined) c.add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val scope = Option(stageScope.get(e.stageId)).getOrElse("other")
    c.add("spark.tasks", 1)
    c.add(s"scope.$scope.tasks", 1)
    if (e.taskInfo.failed || e.taskInfo.killed) c.add("spark.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val shuffleW = m.shuffleWriteMetrics.bytesWritten.toDouble
      val spill = (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
      c.add("spark.task_run_s", m.executorRunTime / 1e3)
      c.add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      c.add("spark.gc_s", m.jvmGCTime / 1e3)
      c.add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      c.add("spark.shuffle_write_bytes", shuffleW)
      c.add("spark.spill_bytes", spill)
      c.max("spark.peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
      c.add("sources.rows_read", m.inputMetrics.recordsRead.toDouble)
      c.add("sources.bytes_read", m.inputMetrics.bytesRead.toDouble)
      c.add("write.bytes_written", m.outputMetrics.bytesWritten.toDouble)
      c.add(s"scope.$scope.rows_out", m.outputMetrics.recordsWritten.toDouble)
      c.add(s"scope.$scope.shuffle_bytes", shuffleW)
      c.add(s"scope.$scope.spill_bytes", spill)
    }
  }
}

/** Planning time and plan shape of every finished query, including the
  * queries behind eager gate construction and writes. */
final class PlanListener(c: Counters) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    c.add("plans.queries", 1)
    val phases = qe.tracker.phases
    c.add("plans.planning_ms", Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum)
    nodes(qe.executedPlan).foreach { p =>
      p match {
        case _: WholeStageCodegenExec => c.add("plans.codegen_stages", 1)
        case s: FileSourceScanExec =>
          s.metrics.get("scanTime").foreach(m => c.add("sources.scan_s", m.value / 1e3))
        case w: DataWritingCommandExec =>
          w.cmd.metrics.get("numFiles").foreach(m => c.add("write.files_written", m.value.toDouble))
        case _ =>
      }
      p.expressions.foreach(_.foreach { e =>
        if (e.isInstanceOf[CodegenFallback] || e.isInstanceOf[HigherOrderFunction])
          c.add("plans.interpreted_nodes", 1)
        if (e.getClass.getName.startsWith("graft.plans.")) c.add("plans.native_nodes", 1)
      })
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    c.add("plans.failed_queries", 1)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** Phase times and state size of every micro-batch. */
final class StreamListener(c: Counters) extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    c.add("streaming.triggers", 1)
    val d = p.durationMs
    Option(d.get("triggerExecution")).foreach(v => c.trigger(v.doubleValue))
    Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset")
      .foreach(k => Option(d.get(k)).foreach(v => c.add(s"streaming.${k}_ms", v.doubleValue)))
    c.state(p.id, p.stateOperators.map(_.numRowsTotal.toDouble).sum)
    p.stateOperators.foreach { s =>
      c.max("streaming.state_memory_bytes", s.memoryUsedBytes.toDouble)
      c.add("streaming.state_commit_ms", s.commitTimeMs.toDouble)
    }
  }
}

/** Registers the three listeners for one traced pass. */
final class Listeners(spark: SparkSession) {
  val counters = new Counters
  private val engine = new EngineListener(counters)
  private val plans = new PlanListener(counters)
  private val streams = new StreamListener(counters)

  def register(): Unit = {
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }

  /** Waits for queued events, unregisters, and returns the pass's counts. */
  def unregister(): (Map[String, Double], Seq[Double]) = {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(engine)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
    counters.drain()
  }
}
