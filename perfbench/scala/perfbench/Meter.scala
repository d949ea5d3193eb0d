package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters, read at operation and span boundaries. */
final case class Counters(wallNs: Long, cpuNs: Long, runMs: Long, shuffleWrite: Long,
                          tasks: Long, jobs: Long, stages: Long, planMs: Long,
                          codegenNs: Long, gcMs: Long, procCpuNs: Long) {
  def -(o: Counters): Counters = Counters(wallNs - o.wallNs, cpuNs - o.cpuNs, runMs - o.runMs,
    shuffleWrite - o.shuffleWrite, tasks - o.tasks, jobs - o.jobs, stages - o.stages,
    planMs - o.planMs, codegenNs - o.codegenNs, gcMs - o.gcMs, procCpuNs - o.procCpuNs)

  def toMap: Map[String, Any] = Map(
    "wall_s" -> wallNs / 1e9, "cpu_s" -> cpuNs / 1e9, "proc_cpu_s" -> procCpuNs / 1e9,
    "run_s" -> runMs / 1e3,
    "shuffle_mb" -> shuffleWrite / 1e6, "tasks" -> tasks, "jobs" -> jobs, "stages" -> stages,
    "plan_s" -> planMs / 1e3, "codegen_s" -> codegenNs / 1e9, "gc_s" -> gcMs / 1e3)
}

/** The benchmark's own listener: Spark task metrics, job and stage counts,
  * Catalyst phase times (analysis + optimization + planning), whole-JVM
  * codegen compile time, GC time and process CPU time (every thread of
  * the JVM: driver, executor tasks, JIT compiler and collector). One instance lives for the whole
  * run and is attached to every session the run creates.
  */
class Meter extends SparkListener with QueryExecutionListener {
  private val cpuNs, runMs, shuffleWrite, tasks, jobs, stages, planMs = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** Counters after every event posted so far has been delivered; the
    * wall clock is read after the wait, and callers time their own
    * intervals so the wait is not in them. */
  def read(spark: SparkSession): Counters = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    Counters(System.nanoTime(), cpuNs.get, runMs.get, shuffleWrite.get, tasks.get, jobs.get,
      stages.get, planMs.get, CodeGenerator.compileTime, gcBeans.map(_.getCollectionTime.max(0L)).sum,
      Meter.processCpuNs())
  }
}

object Meter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM process since it started, all threads. */
  def processCpuNs(): Long = os.getProcessCpuTime
}

/** In-memory spans (name, parent, start, end) with the counters at both
  * boundaries; written out once, when the run ends.
  */
final case class Span(id: Int, parent: Int, name: String, round: Int, delta: Counters)

class Tracer(meter: Meter) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  var round: Int = -1

  def span[T](spark: SparkSession, name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val c0 = meter.read(spark)
    val t0 = System.nanoTime()
    try body
    finally {
      val wallNs = System.nanoTime() - t0
      val d = (meter.read(spark) - c0).copy(wallNs = wallNs)
      stack.pop()
      spans += Span(id, parent, name, round, d)
    }
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "round" -> s.round) ++ s.delta.toMap)
}
