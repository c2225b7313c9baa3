package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.BenchListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call into one layer. `parent` is the enclosing span's id (-1 at
  * the top); every span of one op carries that op's id.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, op: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded on the op thread, kept in memory until the run ends. When
  * disabled, `span` only runs its body.
  */
final class Tracer {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  private var op = -1

  def startOp(id: Int): Unit = { op = id; open = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val start = System.nanoTime()
      try body
      finally {
        open = open.tail
        spans += Span(id, name, start, System.nanoTime(), parent, op)
      }
    }

  /** Seconds spent in spans of `name` during op `opId`. */
  def seconds(opId: Int, name: String): Double =
    spans.iterator.filter(s => s.op == opId && s.name == name).map(_.seconds).sum

  def all: Seq[Span] = spans.toSeq
}

/** Highest heap use right after a GC, from the JVM's GC notifications. */
object HeapMonitor {
  private val peak = new AtomicLong
  @volatile private var lastAfterGc = 0L

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(new NotificationListener {
      override def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          lastAfterGc = used
          peak.accumulateAndGet(used, math.max)
        }
    }, null, null)
    case _ =>
  }

  /** Starts a window; the peak of an op without a GC is the heap the
    * previous GC left live.
    */
  def begin(): Unit = peak.set(lastAfterGc)

  def peakMb: Double = peak.get / (1024.0 * 1024.0)
}

/** Process CPU seconds: every thread of the JVM, including GC and JIT. */
object ProcessCpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def seconds: Double = os.getProcessCpuTime / 1e9
}

/** Engine counters for one op, from a SparkListener, a
  * QueryExecutionListener, CodegenMetrics and the code generator's log.
  * Attached only around traced ops.
  */
final class SparkCollector(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val counters: Map[String, LongAdder] = Seq("jobs", "stages", "tasks",
    "executor_run_ms", "executor_cpu_ns", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "analysis_ms", "optimization_ms", "planning_ms", "codegen_compile_us",
    "sort_merge_joins", "broadcast_joins", "sort_aggregates", "sorts", "exchanges",
    "reused_exchanges").map(_ -> new LongAdder).toMap
  private def c(name: String): LongAdder = counters(name)
  private val peakExecMem = new AtomicLong
  private val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private var compilesAtStart = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = c("jobs").increment()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c("stages").increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      c("tasks").increment()
      taskIntervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        c("executor_run_ms").add(m.executorRunTime)
        c("executor_cpu_ns").add(m.executorCpuTime)
        c("gc_ms").add(m.jvmGCTime)
        c("shuffle_write_bytes").add(m.shuffleWriteMetrics.bytesWritten)
        c("shuffle_read_bytes").add(m.shuffleReadMetrics.totalBytesRead)
        c("spill_bytes").add(m.memoryBytesSpilled + m.diskBytesSpilled)
        peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach(s => c(s"${p}_ms").add(s.durationMs))
      }
      planCounts(qe.executedPlan).foreach { case (k, v) => c(k).add(v) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val CodeGenerated = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val codegenAppender =
    new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case CodeGenerated(ms) => c("codegen_compile_us").add((ms.toDouble * 1000).toLong)
        case _ =>
      }
    }

  def attach(): Unit = {
    compilesAtStart = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    codegenAppender.start()
    lc.addAppender(codegenAppender, Level.INFO, null)
    ctx.getConfiguration.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
  }

  /** Detaches and returns the op's counters; `wallStartMs`..`wallEndMs` is
    * the op's window, used for the time no task was running.
    */
  def detach(wallStartMs: Long, wallEndMs: Long): Map[String, Double] = {
    BenchListenerBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.removeLogger(codegenLogger)
    ctx.updateLoggers()
    codegenAppender.stop()

    val busyMs = unionMs(taskIntervals.asScala.toSeq, wallStartMs, wallEndMs)
    def v(k: String): Double = counters(k).sum.toDouble
    Map(
      "spark.jobs" -> v("jobs"),
      "spark.stages" -> v("stages"),
      "spark.tasks" -> v("tasks"),
      "spark.analysis_ms" -> v("analysis_ms"),
      "spark.optimization_ms" -> v("optimization_ms"),
      "spark.planning_ms" -> v("planning_ms"),
      "spark.codegen_compiles" ->
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compilesAtStart).toDouble,
      "spark.codegen_compile_ms" -> v("codegen_compile_us") / 1000.0,
      "spark.driver_only_s" -> math.max(0L, (wallEndMs - wallStartMs) - busyMs) / 1000.0,
      "spark.executor_run_s" -> v("executor_run_ms") / 1000.0,
      "spark.executor_cpu_s" -> v("executor_cpu_ns") / 1e9,
      "spark.gc_s" -> v("gc_ms") / 1000.0,
      "spark.shuffle_write_bytes" -> v("shuffle_write_bytes"),
      "spark.shuffle_read_bytes" -> v("shuffle_read_bytes"),
      "spark.spill_bytes" -> v("spill_bytes"),
      "spark.peak_exec_mem_mb" -> peakExecMem.get / (1024.0 * 1024.0),
      "plan.sort_merge_joins" -> v("sort_merge_joins"),
      "plan.broadcast_joins" -> v("broadcast_joins"),
      "plan.sort_aggregates" -> v("sort_aggregates"),
      "plan.sorts" -> v("sorts"),
      "plan.exchanges" -> v("exchanges"),
      "plan.reused_exchanges" -> v("reused_exchanges"))
  }

  /** Milliseconds of [from, to] covered by at least one interval. */
  private def unionMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var covered = 0L
    var end = from
    intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { covered += e - math.max(s, end); end = e }
      }
    covered
  }

  /** Operator counts of a final (post-AQE) physical plan, subqueries and
    * query stages included; a reused exchange counts once as reused.
    */
  private def planCounts(root: SparkPlan): Map[String, Long] = {
    val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def visit(p: SparkPlan): Unit = if (seen.add(p)) p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case s: QueryStageExec => visit(s.plan)
      case _: ReusedExchangeExec => counts("reused_exchanges") += 1
      case other =>
        other match {
          case _: SortMergeJoinExec => counts("sort_merge_joins") += 1
          case _: BroadcastHashJoinExec => counts("broadcast_joins") += 1
          case _: SortAggregateExec => counts("sort_aggregates") += 1
          case _: SortExec => counts("sorts") += 1
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => counts("exchanges") += 1
          case _ =>
        }
        (other.children ++ other.innerChildren.collect { case q: SparkPlan => q }).foreach(visit)
    }
    visit(root)
    counts.toMap
  }
}
