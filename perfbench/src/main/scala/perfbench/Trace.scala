package perfbench

import java.lang.management.ManagementFactory
import java.util.Properties

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into graft, plus (traced mode only)
  * Spark listener counts attributed to them.
  *
  * Every call the workloads make into a graft layer runs inside
  * [[span]]; the span records its wall time. In traced mode the span name
  * also rides a thread-local Spark property, so each job, stage and task
  * the call launches is counted against it, and each stage's executor CPU
  * is also counted against the graft module whose frame is deepest in the
  * stage's call site. Nothing inside the program is instrumented.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  private val durations = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val counters = mutable.HashMap.empty[String, Counters]
  private val moduleCpuNs = mutable.HashMap.empty[String, Long]
  private val stageOwner = mutable.HashMap.empty[Int, (String, String)]
  private val stageTaskMs = mutable.HashMap.empty[Int, ArrayBuffer[Long]]
  private val lock = new Object // guards the listener-fed maps
  @volatile private var recording = false
  @volatile private var planningMs = 0L
  private var spent = 0.0

  /** Starts counting (timed phase) or stops. Drains the listener bus first
    * so events of the previous phase land in the previous phase.
    */
  def record(on: Boolean): Unit = {
    if (enabled) org.apache.spark.BenchBus.drain(sc)
    recording = on
    if (enabled) sc.setLocalProperty(TimedKey, if (on) "1" else null)
  }

  def span[T](name: String)(body: => T): T = {
    if (enabled) sc.setLocalProperty(SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val d = (System.nanoTime() - t0) / 1e9
      if (enabled) sc.setLocalProperty(SpanKey, null)
      spent += d
      if (recording) durations.getOrElseUpdate(name, ArrayBuffer.empty) += d
    }
  }

  /** Seconds spent inside spans since the last call. */
  def takeSpent(): Double = { val s = spent; spent = 0.0; s }

  def calls(name: String): Int = durations.get(name).fold(0)(_.size)

  /** The median wall time of each span's calls, summed over the spans. */
  def medianSum(spans: Seq[String]): Double =
    spans.map(s => durations.get(s).fold(0.0)(ds => median(ds.toSeq))).sum

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      private def owner(p: Properties): Option[String] =
        Option(p).filter(_.getProperty(TimedKey) == "1").flatMap(q => Option(q.getProperty(SpanKey)))

      override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
        owner(e.properties).foreach(s => counters.getOrElseUpdate(s, new Counters).jobs += 1)
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
        owner(e.properties).foreach { s =>
          counters.getOrElseUpdate(s, new Counters).stages += 1
          stageOwner(e.stageInfo.stageId) = (s, moduleOf(e.stageInfo.details, s))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
        stageOwner.get(e.stageId).foreach { case (s, module) =>
          val c = counters(s)
          c.tasks += 1
          stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
          Option(e.taskMetrics).foreach { m =>
            c.cpuNs += m.executorCpuTime
            c.runMs += m.executorRunTime
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            moduleCpuNs(module) = moduleCpuNs.getOrElse(module, 0L) + m.executorCpuTime
          }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
        val id = e.stageInfo.stageId
        for ((s, _) <- stageOwner.get(id); ms <- stageTaskMs.remove(id) if ms.size > 1) {
          val sorted = ms.sorted
          val med = sorted(sorted.size / 2).max(1L)
          val c = counters(s)
          c.maxSkew = math.max(c.maxSkew, sorted.last.toDouble / med)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (recording) planningMs += qe.tracker.phases.values.map(_.durationMs).sum
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Per-layer metrics of the timed phase. `iterations` is its count. */
  def layerMetrics(iterations: Int): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(sc)
    val (cs, mcpu) = lock.synchronized((counters.toMap, moduleCpuNs.toMap))
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (s <- SpanNames) {
      val n = calls(s).max(1).toDouble
      val c = cs.getOrElse(s, new Counters)
      out(s"${s}_s") = durations.get(s).fold(0.0)(v => median(v.toSeq))
      out(s"$s.jobs") = c.jobs / n
      out(s"$s.stages") = c.stages / n
      out(s"$s.tasks") = c.tasks / n
      out(s"$s.executor_cpu_s") = c.cpuNs / 1e9 / n
      out(s"$s.executor_run_s") = c.runMs / 1e3 / n
      out(s"$s.shuffle_write_mb") = c.shuffleWriteBytes / 1e6 / n
      out(s"$s.spill_mb") = c.spillBytes / 1e6 / n
      out(s"$s.max_task_over_median") = c.maxSkew
    }
    for (m <- Modules)
      out(s"$m.executor_cpu_s") = mcpu.getOrElse(m, 0L) / 1e9 / iterations
    out("plans.planning_s") = planningMs / 1e3 / iterations
    out.toMap
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  val TimedKey = "perfbench.timed"

  /** Every span the workloads open, named `<graft module>.<call>`. */
  val SpanNames: Seq[String] = Seq(
    "pipelines.backfill_day", "sources.warehouse_load",
    "operators.pq_append", "streaming.ann_grow",
    "operators.bm25_append", "streaming.bm25_grow",
    "operators.ann_probe", "operators.bm25_probe")

  /** graft modules that start Spark jobs. `functions` and `plans` are
    * column expressions and planner rules: their cost lands in the stages
    * of the module that runs them.
    */
  val Modules: Seq[String] = Seq("sources", "operators", "pipelines", "streaming")

  private val Frame = """^\s*(?:at\s+)?graft\.([A-Za-z]+)[.$]""".r.unanchored

  /** The module of the deepest `graft.<module>` frame of a stage's call
    * site; a stage started from the benchmark's own code (a collect or a
    * write of a frame graft returned) goes to the module of its span.
    */
  def moduleOf(details: String, span: String): String =
    Option(details).iterator.flatMap(_.linesIterator)
      .collectFirst { case Frame(m) if Modules.contains(m) => m }
      .getOrElse(span.takeWhile(_ != '.'))

  final class Counters {
    var jobs, stages, tasks, cpuNs, runMs, shuffleWriteBytes, spillBytes = 0L
    var maxSkew = 0.0
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def processCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def jitSeconds(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Heap in use after full collections, in MB. Spark's context cleaner
    * frees unreferenced checkpoints, broadcasts and shuffles on its own
    * thread once a collection has found them, so collect, let it work, and
    * collect again.
    */
  def liveHeapMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}
