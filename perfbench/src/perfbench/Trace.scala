package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters accumulated by listeners that the benchmark registers
  * for the traced pass only. Task and stage figures come from a
  * SparkListener, planning phases and plan shape from a
  * QueryExecutionListener, micro-batch durations from a
  * StreamingQueryListener. Every counter is a running total; spans store
  * the difference between two snapshots. */
final class Counters(spark: SparkSession) {
  private val totals = mutable.LinkedHashMap.empty[String, Double]
  private val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def add(k: String, v: Double): Unit = totals.synchronized {
    totals(k) = totals.getOrElse(k, 0.0) + v
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.sched.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("spark.sched.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val info = e.taskInfo
      add("spark.sched.tasks", 1)
      if (e.reason != Success) add("spark.task.failed", 1)
      totals.synchronized { taskIntervals += ((info.launchTime, info.finishTime)) }
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task.run_s", m.executorRunTime / 1e3)
        add("spark.task.cpu_s", m.executorCpuTime / 1e9)
        add("spark.task.gc_s", m.jvmGCTime / 1e3)
        add("spark.task.deser_s", m.executorDeserializeTime / 1e3)
        add("spark.shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spark.shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("spark.scan.bytes", m.inputMetrics.bytesRead.toDouble)
        add("spark.scan.rows", m.inputMetrics.recordsRead.toDouble)
        // the UI's scheduler delay: task wall time not spent running,
        // deserializing, serializing the result or fetching it
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + info.gettingResultTime
        add("spark.sched.delay_s", math.max(0L, info.duration - busy) / 1e3)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def phase(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      add("spark.plan.analysis_s", phase("analysis"))
      add("spark.plan.optimizer_s", phase("optimization"))
      add("spark.plan.planning_s", phase("planning"))
      val nodes = try planNodes(qe.executedPlan) catch { case _: Exception => Nil }
      add("spark.plan.exchanges", nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      })
      add("spark.plan.scans", nodes.count {
        case _: FileSourceScanExec | _: DataSourceV2ScanExecBase => true
        case _ => false
      })
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("streaming.batches", 1)
      Seq("triggerExecution", "addBatch", "queryPlanning", "walCommit", "commitOffsets")
        .foreach(k => add(s"streaming.${k}_ms", Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      add("streaming.state_rows", p.stateOperators.map(_.numRowsTotal.toDouble).sum)
    }
  }

  /** Every physical node of a plan, through AQE stages and subqueries. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Blocks until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  def snapshot(): Map[String, Double] = {
    drain()
    totals.synchronized {
      totals.toMap ++ Map(
        "spark.codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
        "spark.codegen.compile_s" -> WholeStageCodegenExec.codeGenTime / 1e9)
    }
  }

  /** Seconds of [startMs, endMs] during which no task was running. */
  def idleSeconds(startMs: Long, endMs: Long): Double = {
    val spans = totals.synchronized(taskIntervals.toList)
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var (curA, curB) = (-1L, -1L)
    spans.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy += curB - curA
    (endMs - startMs - busy) / 1e3
  }
}

/** One timed region of the traced run. `counters` holds the change of
  * every Spark counter between the span's start and end. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, endNs: Long, counters: Map[String, Double],
                      attrs: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest by call structure; nothing is
  * written until the run ends ([[Json.span]]). */
final class Tracer(runId: String, counters: Counters) {
  private var lastId = 0
  private var stack: List[Int] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]

  def apply[T](name: String)(body: => T): T = {
    lastId += 1
    val id = lastId
    val parent = stack.headOption.getOrElse(0)
    val before = counters.snapshot()
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      val after = counters.snapshot()
      val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
      spans += Span(id, name, parent, runId, t0, t1, delta, Map.empty)
    }
  }

  /** Attaches measured attributes (rows, shares) to the latest span named `name`. */
  def annotate(name: String, attrs: Map[String, Double]): Unit = {
    val i = spans.lastIndexWhere(_.name == name)
    if (i >= 0) spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
  }
}
