package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._

/** Cumulative Spark and JVM counters, fed by a SparkListener and a
  * QueryExecutionListener that exist only while attached.
  */
final class Counters(spark: SparkSession) {
  private val jobs, tasks, taskBusyMs, shuffleBytes, spillBytes = new AtomicLong
  private val queries, planMs = new AtomicLong

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskBusyMs.addAndGet(m.executorRunTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val planPhases = Seq(QueryPlanningTracker.ANALYSIS,
    QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      queries.incrementAndGet()
      val phases = qe.tracker.phases
      planMs.addAndGet(planPhases.flatMap(phases.get)
        .map(p => p.endTimeMs - p.startTimeMs).sum)
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(): Unit = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Current totals, after the listener bus has delivered queued events. */
  def snapshot(): Map[String, Double] = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    Map(
      "jobs" -> jobs.get.toDouble,
      "tasks" -> tasks.get.toDouble,
      "task_busy_s" -> taskBusyMs.get / 1e3,
      "shuffle_bytes" -> shuffleBytes.get.toDouble,
      "spill_bytes" -> spillBytes.get.toDouble,
      "queries" -> queries.get.toDouble,
      "plan_s" -> planMs.get / 1e3,
      "gc_s" -> gcMs / 1e3,
      "codegen_compiles" -> PerfbenchBridge.codegenCompiles.toDouble,
    )
  }
}

/** In-memory span recorder: one record per layer call (name, run id,
  * parent, start, end), with the counter deltas over the span and
  * free-form attributes. Disabled, `span` only runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private final class Open(val id: Int, val name: String, val run: String,
      val parent: Int, val start: Long, val before: Map[String, Double]) {
    val attrs = ArrayBuffer.empty[(String, Double)]
  }

  private val origin = System.nanoTime()
  private val counters = new Counters(spark)
  private val done = ArrayBuffer.empty[JObject]
  private var stack: List[Open] = Nil
  private var nextId = 0

  def attach(): Unit = if (enabled) counters.attach()
  def detach(): Unit = if (enabled) counters.detach()

  /** Run `body` inside a span nested under the innermost open one. */
  def span[T](name: String, run: String)(body: => T): T = {
    if (!enabled) return body
    val before = counters.snapshot()
    val open = new Open(nextId, name, run, stack.headOption.map(_.id).getOrElse(-1),
      System.nanoTime(), before)
    nextId += 1
    stack = open :: stack
    try body
    finally {
      val end = System.nanoTime()
      val after = counters.snapshot()
      stack = stack.tail
      val deltas = after.map { case (k, v) => k -> JDouble(v - before(k)) }
      done += JObject(
        "id" -> JInt(open.id),
        "name" -> JString(name),
        "run" -> JString(run),
        "parent" -> JInt(open.parent),
        "start" -> JDouble((open.start - origin) / 1e9),
        "end" -> JDouble((end - origin) / 1e9),
        "counters" -> JObject(deltas.toList),
        "attrs" -> JObject(open.attrs.map { case (k, v) => k -> JDouble(v) }.toList),
      )
    }
  }

  /** Attach a named value to the innermost open span. */
  def attr(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_.attrs += key -> value)

  /** All closed spans, in closing order. */
  def spans: JArray = JArray(done.toList)
}
