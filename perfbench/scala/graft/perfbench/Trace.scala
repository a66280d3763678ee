package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters summed by a listener the benchmark registers. Reading
  * them is only exact after the listener bus drains ([[Snap.take]]).
  */
final class Counters(cores: Int) extends SparkListener {
  val jobs, tasks, failedTasks, runMs, shuffleWrite, shuffleRead, spill, narrowMs =
    new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (!e.taskInfo.successful) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    ()
  }

  // a stage with fewer tasks than cores leaves cores idle for its whole wall
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    if (i.numTasks < cores)
      for (s <- i.submissionTime; c <- i.completionTime) narrowMs.addAndGet(c - s)
    ()
  }
}

/** Point-in-time reading of every counter a span reports. */
final case class Snap(wallNs: Long, jobs: Long, tasks: Long, failedTasks: Long,
    runMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    narrowMs: Long, gcMs: Long, codegenMs: Double) {

  /** Span metrics from `this` (start) to `end`, with `cores` task slots. */
  def to(end: Snap, cores: Int): Map[String, Double] = {
    val wall = (end.wallNs - wallNs) / 1e9
    Map(
      "wall_s" -> wall,
      "spark.jobs" -> (end.jobs - jobs).toDouble,
      "spark.tasks" -> (end.tasks - tasks).toDouble,
      "spark.failed_tasks" -> (end.failedTasks - failedTasks).toDouble,
      "spark.task_busy_frac" ->
        (if (wall > 0) (end.runMs - runMs) / 1e3 / (wall * cores) else 0.0),
      "spark.narrow_stage_s" -> (end.narrowMs - narrowMs) / 1e3,
      "spark.shuffle_write_bytes" -> (end.shuffleWrite - shuffleWrite).toDouble,
      "spark.shuffle_read_bytes" -> (end.shuffleRead - shuffleRead).toDouble,
      "spark.spill_bytes" -> (end.spill - spill).toDouble,
      "spark.gc_s" -> (end.gcMs - gcMs) / 1e3,
      "spark.codegen_compile_s" -> (end.codegenMs - codegenMs) / 1e3)
  }
}

object Snap {
  /** Total whole-JVM GC time (driver and local executors share the JVM). */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Cumulative codegen compile time: Spark keeps a histogram of per-class
    * compile millis; count x mean approximates the sum (the histogram's
    * reservoir is sampled, so this is an estimate).
    */
  def codegenMs(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }

  def take(sc: SparkContext, c: Counters): Snap = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    Snap(System.nanoTime(), c.jobs.get, c.tasks.get, c.failedTasks.get, c.runMs.get,
      c.shuffleWrite.get, c.shuffleRead.get, c.spill.get, c.narrowMs.get, gcMs(), codegenMs())
  }
}

/** One closed span: a named layer call with its parent and counters. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long,
                      metrics: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; only the traced run constructs one, so the
  * untraced timings carry no tracing cost.
  */
final class Tracer(sc: SparkContext, counters: Counters, cores: Int) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[String]

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse("")
    stack.push(name)
    val s0 = Snap.take(sc, counters)
    try body
    finally {
      val s1 = Snap.take(sc, counters)
      stack.pop()
      spans += Span(name, parent, s0.wallNs, s1.wallNs, s0.to(s1, cores))
    }
  }

  def toJson: String = spans.map { s =>
    val ms = s.metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${Json.num(v)}""" }
    s"""{"name": ${Json.str(s.name)}, "parent": ${Json.str(s.parent)}, """ +
      s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, ${ms.mkString(", ")}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Live heap: what is still in use after a full collection. Collected
  * twice: the first collection lets Spark's context cleaner see the
  * dropped plans and release their blocks, the second frees those.
  */
object LiveHeap {
  def mb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Json {
  def str(s: String): String = graft.core.Json.quote(s)
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
