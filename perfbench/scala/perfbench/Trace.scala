package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one span name, summed over every call made under it. */
final class Layer {
  val c: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(
    "calls" -> 0.0, "wall_ms" -> 0.0, "actions" -> 0.0, "action_ms" -> 0.0,
    "plan_ms" -> 0.0, "jobs" -> 0.0, "stages" -> 0.0, "tasks" -> 0.0,
    "task_cpu_ms" -> 0.0, "gc_ms" -> 0.0, "shuffle_mb" -> 0.0, "spill_mb" -> 0.0,
    "files_written" -> 0.0)
  def add(k: String, v: Double): Unit = c(k) = c(k) + v
  /** Action time not spent optimizing and planning. */
  def execMs: Double = math.max(0.0, c("action_ms") - c("plan_ms"))
  /** Span time outside every Spark action: listing, leases, file-system
    * calls, DataFrame construction, driver-side loops. */
  def driverGapMs: Double = math.max(0.0, c("wall_ms") - c("action_ms"))
  def toMap: Map[String, Double] =
    c.toMap ++ Map("exec_ms" -> execMs, "driver_gap_ms" -> driverGapMs)
}

/** Spans around the calls the benchmark makes into the program. With
  * tracing on, a SparkListener and a QueryExecutionListener attribute
  * every job, stage, task and action to the span in flight; the bus is
  * drained at each span boundary, so attribution is exact as long as
  * spans run one at a time. With tracing off only span wall times are
  * kept and no listener is registered. Spans nest: an inner span's
  * events count only toward the inner one. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  val layers: mutable.LinkedHashMap[String, Layer] = mutable.LinkedHashMap()
  @volatile private var current = "untraced"
  private def layer(name: String): Layer = layers.synchronized(layers.getOrElseUpdate(name, new Layer))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = layer(current).add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      layer(current).add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val l = layer(current)
      l.add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        l.add("task_cpu_ms", m.executorCpuTime / 1e6)
        l.add("gc_ms", m.jvmGCTime.toDouble)
        l.add("shuffle_mb", (m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead) / 1048576.0)
        l.add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      }
    }
  }

  private def writtenFiles(plan: SparkPlan): Double = {
    var n = 0.0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case c: CommandResultExec => walk(c.commandPhysicalPlan)
      case w: DataWritingCommandExec =>
        n += w.cmd.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0)
        w.children.foreach(walk)
      case other => other.children.foreach(walk)
    }
    walk(plan)
    n
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val l = layer(current)
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      l.add("actions", 1)
      l.add("action_ms", durationNs / 1e6)
      l.add("plan_ms", ms("optimization") + ms("planning"))
      l.add("files_written", writtenFiles(qe.executedPlan))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var attached = false
  /** Registers the listeners (when tracing is on); spans record events
    * only while attached. */
  def attach(): Unit = if (on && !attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qel)
    attached = true
  }
  def detach(): Unit = if (attached) {
    flush()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
    attached = false
  }
  attach()

  private def flush(): Unit = if (attached) org.apache.spark.perfbench.BusFlush(spark.sparkContext)

  /** Runs `body` under span `name` and returns its result and wall ms. */
  def span[T](name: String)(body: => T): (T, Double) = {
    flush()
    val outer = current
    current = name
    val t0 = System.nanoTime()
    try {
      val r = body
      val ms = (System.nanoTime() - t0) / 1e6
      flush()
      val l = layer(name)
      l.add("calls", 1)
      l.add("wall_ms", ms)
      (r, ms)
    } finally {
      flush()
      current = outer
    }
  }

  def dump: Map[String, Map[String, Double]] =
    layers.synchronized(layers.map { case (k, v) => k -> v.toMap }.toMap)
}
