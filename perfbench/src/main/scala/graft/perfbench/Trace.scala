package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, so spans
  * and Spark's stage timestamps (epoch ms) share one time line. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed call: `parent` is the id of the enclosing span (0 = none). */
final case class Span(id: Int, parent: Int, name: String, t0: Double, t1: Double)

/** Spans around the benchmark's calls into each layer, kept in memory and
  * written out when the run ends. While [[on]] is false, [[span]] runs the
  * body and records nothing. The benchmark drives one client, so one
  * parent stack suffices. */
final class Spans {
  var on = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = Clock.nowMs
      try body
      finally {
        stack.pop()
        done += Span(id, parent, name, t0, Clock.nowMs)
      }
    }

  def all: Seq[Span] = done.toSeq
}

/** Stage intervals and task counters from the scheduler, plus planning
  * phase times from every executed query. Installed only for traced passes. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  val plans = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile var jobs = 0L
  private val taskSums = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  // per stage attempt: tasks, run s, cpu s, gc s, shuffle write, shuffle
  // read, fetch wait s, spill bytes, scan bytes, scan rows
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = taskSums.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Array[Double](10))
      a.synchronized {
        a(0) += 1
        a(1) += m.executorRunTime / 1e3
        a(2) += m.executorCpuTime / 1e9
        a(3) += m.jvmGCTime / 1e3
        a(4) += m.shuffleWriteMetrics.bytesWritten
        a(5) += m.shuffleReadMetrics.totalBytesRead
        a(6) += m.shuffleReadMetrics.fetchWaitTime / 1e3
        a(7) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(8) += m.inputMetrics.bytesRead
        a(9) += m.inputMetrics.recordsRead
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val a = Option(taskSums.remove((i.stageId, i.attemptNumber()))).getOrElse(new Array[Double](10))
    for (t0 <- i.submissionTime; t1 <- i.completionTime)
      stages.add(Map("t0" -> t0, "t1" -> t1, "tasks" -> a(0), "run_s" -> a(1),
        "cpu_s" -> a(2), "gc_s" -> a(3), "shuffle_write" -> a(4), "shuffle_read" -> a(5),
        "fetch_wait_s" -> a(6), "spill" -> a(7), "scan_bytes" -> a(8), "scan_rows" -> a(9)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def sec(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    plans.add(Map("analysis_s" -> sec("analysis"), "optimize_s" -> sec("optimization"),
      "physical_s" -> sec("planning")))
  }

  def install(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(this)
    s.listenerManager.register(this)
  }

  /** Detach after the listener bus has delivered every pending event. */
  def uninstall(s: SparkSession): Unit = {
    org.apache.spark.perfbench.Bus.drain(s.sparkContext)
    s.sparkContext.removeSparkListener(this)
    s.listenerManager.unregister(this)
  }

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages.asScala.toSeq, "plans" -> plans.asScala.toSeq)
}

/** The result file's JSON form. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
