package org.apache.spark {
  /** The listener bus's drain, which `SparkContext` keeps package-private:
    * once it returns, every event posted before the call has reached every
    * listener.
    */
  object ListenerDrain {
    def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft {

  import scala.collection.mutable
  import scala.collection.mutable.ArrayBuffer

  import org.apache.spark.ListenerDrain
  import org.apache.spark.scheduler._
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec, SparkPlan, WholeStageCodegenExec}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
  import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
  import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
  import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
  import org.apache.spark.sql.execution.window.WindowExec
  import org.apache.spark.sql.util.QueryExecutionListener

  /** The Spark work of one window a caller asks for, recorded from outside
    * the code it runs: a `SparkListener` attached for the window only, plus
    * the window's `QueryExecution`s. Counts carry perfbench's names, so a
    * query's record and perfbench's outside trace compare number for
    * number. Everything the context runs in the window is counted, eager
    * `localCheckpoint` and `collect` sub-queries of a DataFrame's
    * construction included (each runs as its own SQL execution).
    */
  object QueryTrace {

    final case class Job(id: Int, site: String, wallS: Double, taskRunS: Double, tasks: Int)
    final case class Stage(id: Int, name: String, wallS: Double, taskRunS: Double, tasks: Int,
        readRecords: Long, maxTaskReadRecords: Long, maxTaskMs: Long)
    /** One SQL execution: its action, the node counts of its executed plan
      * (keys [[ShapeKeys]]), its unpartitioned windows, its operators'
      * `numOutputRows` and its planning phases in seconds.
      */
    final case class Execution(action: String, shape: Map[String, Int], bareWindows: Seq[String],
        ops: Seq[(Long, String)], phasesS: Map[String, Double])

    final case class Record(buildS: Double, runS: Double, jobs: Seq[Job], stages: Seq[Stage],
        executions: Seq[Execution], counts: Seq[(String, Double)]) {
      def wallS: Double = buildS + runS
      def count(name: String): Double = counts.find(_._1 == name).fold(0.0)(_._2)
      def shape: Seq[(String, Int)] =
        ShapeKeys.map(k => k -> executions.map(_.shape.getOrElse(k, 0)).sum)
      def planningS: Seq[(String, Double)] =
        executions.flatMap(_.phasesS.keys).distinct.sorted
          .map(p => p -> executions.map(_.phasesS.getOrElse(p, 0.0)).sum)
      def topOps(n: Int): Seq[(Long, String)] = executions.flatMap(_.ops).sortBy(-_._1).take(n)
      /** Every number of the record as one flat JSON object body. */
      def json: String =
        (Seq("build_s" -> buildS, "run_s" -> runS) ++ counts ++
          shape.map { case (k, v) => k -> v.toDouble } ++
          planningS.map { case (p, s) => s"planning_${p}_s" -> s })
          .map { case (k, v) => s""""$k":${if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else f"$v%.4f"}""" }
          .mkString(",")
    }

    /** Plan-node counts, by node class. */
    val ShapeKeys: Seq[String] = Seq("file_scans", "reused_exchanges", "exchanges", "sorts",
      "sort_aggs", "object_hash_aggs", "bnlj", "wsc", "bare_windows")

    private def shapeKey(p: SparkPlan): Option[String] = p match {
      case _: FileSourceScanExec => Some("file_scans")
      case _: ReusedExchangeExec => Some("reused_exchanges")
      case _: ShuffleExchangeExec => Some("exchanges")
      case _: SortExec => Some("sorts")
      case _: SortAggregateExec => Some("sort_aggs")
      case _: ObjectHashAggregateExec => Some("object_hash_aggs")
      case _: BroadcastNestedLoopJoinExec => Some("bnlj")
      case _: WholeStageCodegenExec => Some("wsc")
      case w: WindowExec if w.partitionSpec.isEmpty => Some("bare_windows")
      case _ => None
    }

    /** Every node of an executed plan: the final adaptive plan, query
      * stages and subqueries included; a reused exchange counts once.
      */
    private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: ((p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }) ++ p.subqueries).flatMap(nodes)

    private def execution(action: String, qe: QueryExecution): Execution = {
      val ns = nodes(qe.executedPlan)
      Execution(action,
        ns.flatMap(shapeKey).groupBy(identity).map { case (k, v) => k -> v.size },
        ns.collect { case w: WindowExec if w.partitionSpec.isEmpty =>
          w.windowExpression.mkString(";").take(80) },
        ns.flatMap(n => n.metrics.get("numOutputRows").map(m =>
          m.value -> s"${n.getClass.getSimpleName} ${n.simpleString(80).take(120)}")),
        qe.tracker.phases.map { case (p, s) => p -> s.durationMs / 1e3 })
    }

    private final class Window extends SparkListener with QueryExecutionListener {
      final class JobAcc(val site: String, val t0: Long) {
        var t1 = -1L; var runMs = 0L; var tasks = 0
      }
      final class StageAcc(val name: String) {
        var wallMs = 0L; var runMs = 0L; var read = 0L; var maxRead = 0L; var maxMs = 0L
        val taskMs = ArrayBuffer.empty[Long]
      }
      val jobs = mutable.LinkedHashMap.empty[Int, JobAcc]
      val stageJob = mutable.HashMap.empty[Int, Int]
      val stages = mutable.LinkedHashMap.empty[Int, StageAcc]
      val openSql = mutable.Set.empty[Long]
      val executions = ArrayBuffer.empty[Execution]
      var cpuNs, runMs, gcMs, readBytes, writeBytes, spillBytes, readRecords, maxRead, input = 0L
      var skew = 0.0

      def open: Boolean = openSql.nonEmpty || jobs.values.exists(_.t1 < 0)

      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        jobs(e.jobId) = new JobAcc(
          e.stageInfos.lastOption.fold("?")(_.name.takeWhile(_ != '\n').take(70)), e.time)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobs.get(e.jobId).foreach(_.t1 = e.time); notifyAll()
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
        stages(e.stageInfo.stageId) = new StageAcc(e.stageInfo.name.takeWhile(_ != '\n').take(80))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        val m = e.taskMetrics
        if (m != null) {
          val r = m.shuffleReadMetrics.recordsRead
          cpuNs += m.executorCpuTime; runMs += m.executorRunTime; gcMs += m.jvmGCTime
          readBytes += m.shuffleReadMetrics.totalBytesRead
          writeBytes += m.shuffleWriteMetrics.bytesWritten
          spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          readRecords += r; maxRead = maxRead.max(r); input += m.inputMetrics.recordsRead
          stages.get(e.stageId).foreach { s =>
            s.runMs += m.executorRunTime; s.read += r; s.maxRead = s.maxRead.max(r)
            s.maxMs = s.maxMs.max(m.executorRunTime); s.taskMs += e.taskInfo.duration
          }
          stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
            j.runMs += m.executorRunTime; j.tasks += 1
          }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val i = e.stageInfo
        stages.get(i.stageId).foreach { s =>
          s.wallMs = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(0L)
          if (s.taskMs.size > 1) {
            val sorted = s.taskMs.sorted
            skew = skew.max(sorted.last.toDouble / sorted(sorted.size / 2).max(1L))
          }
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => synchronized(openSql += s.executionId)
        case s: SparkListenerSQLExecutionEnd => synchronized { openSql -= s.executionId; notifyAll() }
        case _ =>
      }
      // a failed execution may have no executed plan to walk
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        scala.util.Try(execution(action, qe)).foreach(x => synchronized(executions += x))
      override def onFailure(action: String, qe: QueryExecution, ex: Exception): Unit =
        onSuccess(action, qe, 0L)

      def record(buildS: Double, runS: Double): Record = synchronized {
        val taskCount = stages.values.map(_.taskMs.size).sum
        Record(buildS, runS,
          jobs.toSeq.map { case (id, j) =>
            Job(id, j.site, (j.t1 - j.t0).max(0L) / 1e3, j.runMs / 1e3, j.tasks) },
          stages.toSeq.map { case (id, s) =>
            Stage(id, s.name, s.wallMs / 1e3, s.runMs / 1e3, s.taskMs.size, s.read, s.maxRead, s.maxMs) },
          executions.toSeq,
          Seq("jobs" -> jobs.size.toDouble, "stages" -> stages.size.toDouble,
            "tasks" -> taskCount.toDouble, "executor_run_s" -> runMs / 1e3,
            "executor_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
            "shuffle_read_mb" -> readBytes / 1e6, "shuffle_write_mb" -> writeBytes / 1e6,
            "spill_mb" -> spillBytes / 1e6, "max_task_over_median" -> skew,
            "shuffle_read_records" -> readRecords.toDouble,
            "max_task_read_records" -> maxRead.toDouble, "input_records" -> input.toDouble))
      }
    }

    /** Longest wait for the window's jobs and SQL executions to end. */
    private val SettleMs = 60000L

    /** Runs `body` with the window's listener attached and returns its value
      * and the window's record (`buildS` is `body`'s wall time). The record
      * is complete on return: the bus is drained, so every event posted
      * inside the window has arrived, and then every job and SQL execution
      * seen to start is waited for until it ends. The listener is removed
      * on return and when `body` throws.
      */
    def apply[T](spark: SparkSession)(body: => T): (T, Record) = window(spark)(_ => body)

    /** Builds a query's frame and runs it to the noop sink (which computes
      * every output column), timing construction (eager sub-jobs included)
      * and run apart.
      */
    def query(spark: SparkSession)(build: => DataFrame): Record = window(spark) { built =>
      val df = build
      built()
      df.write.format("noop").mode("overwrite").save()
    }._2

    /** `body` gets a mark that ends its build time; the rest is run time. */
    private def window[T](spark: SparkSession)(body: (() => Unit) => T): (T, Record) = {
      val sc = spark.sparkContext
      val w = new Window
      ListenerDrain(sc) // events of earlier work must not land in this window
      sc.addSparkListener(w)
      spark.listenerManager.register(w)
      try {
        var built = -1L
        val t0 = System.nanoTime()
        val v = body(() => built = System.nanoTime())
        val t2 = System.nanoTime()
        if (built < 0) built = t2
        ListenerDrain(sc)
        w.synchronized {
          val deadline = System.currentTimeMillis() + SettleMs
          while (w.open && System.currentTimeMillis() < deadline)
            w.wait((deadline - System.currentTimeMillis()).max(1L))
          if (w.open) throw new IllegalStateException(
            s"QueryTrace: work seen to start was still running ${SettleMs / 1000} s after the window closed")
        }
        (v, w.record((built - t0) / 1e9, (t2 - built) / 1e9))
      } finally {
        sc.removeSparkListener(w)
        spark.listenerManager.unregister(w)
      }
    }
  }
}
