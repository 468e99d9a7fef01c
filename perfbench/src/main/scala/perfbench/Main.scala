package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import graft.GraftSession

/** One benchmark run in one JVM: timed set-up (input generation, session
  * start, warm-up iterations), then closed-loop iterations until the run
  * length is used up, then the records the checkers read. Writes
  * `result.json` into the work directory; `run.py` turns it into the line
  * the benchmark prints.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --launched-ms EPOCH_MS
  */
object Main {

  /** Task slots: one core of a 4-core machine stays free for planning and
    * scheduling, JIT and GC, so iteration times do not queue behind them.
    */
  val Master = "local[3]"

  /** Untimed iterations before timing starts (counted in setup_s). */
  val WarmUp: Map[String, Int] = Map("daily_backfill" -> 2, "index_grow" -> 2)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work"))
    val launchedMs = opt("launched-ms").toLong
    require(WarmUp.contains(workload), s"unknown workload $workload")

    val s0 = System.nanoTime()
    val spark = GraftSession.builder(master = Master).getOrCreate()
    val sessionStartS = (System.nanoTime() - s0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark, traced)
    val ctx = Ctx(spark, work, seed, trace)
    val wl: Workload = workload match {
      case "daily_backfill" => new DailyBackfill(ctx)
      case "index_grow"     => new IndexGrow(ctx)
    }
    val g0 = System.nanoTime()
    wl.setup()
    val inputsS = (System.nanoTime() - g0) / 1e9
    var i = 0
    val warm = ArrayBuffer.empty[Double]
    while (i < WarmUp(workload)) {
      val w0 = System.nanoTime(); wl.iteration(i); i += 1
      warm += (System.nanoTime() - w0) / 1e9
    }
    val setupS = (System.currentTimeMillis() - launchedMs) / 1e3
    System.err.println(f"[perfbench] set-up $setupS%.2f s: session $sessionStartS%.2f s, " +
      f"inputs $inputsS%.2f s, warm-up ${warm.map(x => f"$x%.2f").mkString(" ")} s")

    trace.record(true)
    val (jit0, gc0) = (Trace.jitSeconds(), Trace.gcSeconds())
    val (cg0, cgNs0) = (codegenCount(), codegenNs())
    val iters, cpus = ArrayBuffer.empty[Double]
    var attempted, failed = 0L
    val start = System.nanoTime()
    while (iters.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
      val c0 = Trace.processCpuSeconds()
      trace.takeSpent()
      attempted += wl.opsPerIteration
      try failed += wl.iteration(i)
      catch {
        case e: Exception =>
          System.err.println(s"iteration $i failed: $e")
          failed += wl.opsPerIteration
      }
      // an iteration's time is its time inside graft calls: resetting the
      // base state and the benchmark's own bookkeeping are left out
      iters += trace.takeSpent()
      cpus += Trace.processCpuSeconds() - c0
      i += 1
    }
    trace.record(false)
    val n = iters.size.max(1)
    val layers = if (!traced) Map.empty[String, Double] else
      trace.layerMetrics(n) ++ Map(
        "plans.codegen_compiles" -> (codegenCount() - cg0).toDouble / n,
        "plans.codegen_compile_s" -> (codegenNs() - cgNs0) / 1e9 / n,
        "runtime.jit_compile_s" -> (Trace.jitSeconds() - jit0) / n,
        "runtime.gc_s" -> (Trace.gcSeconds() - gc0) / n,
        "GraftSession.session_start_s" -> sessionStartS)
    val liveHeapMb = Trace.liveHeapMb()
    wl.finish()
    val med = (xs: Seq[Double]) => if (xs.isEmpty) 0.0 else Trace.median(xs)
    val result = Json.obj(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "iterations" -> iters.size, "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> Map(
        "setup_s" -> setupS,
        "iter_s" -> med(iters.toSeq),
        "write_s" -> trace.medianSum(wl.writeSpans),
        "cpu_s" -> med(cpus.toSeq),
        "live_heap_mb" -> liveHeapMb),
      "per_layer" -> (layers ++ (if (traced) wl.layerExtras else Map.empty)),
      "iteration_s" -> iters.toSeq)
    Files.write(new File(work, "result.json").toPath, result.getBytes("UTF-8"))
    spark.stop()
  }

  private def codegenCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def codegenNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}
