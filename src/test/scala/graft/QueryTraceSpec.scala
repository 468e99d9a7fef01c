package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.TestBus
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The query-profile window: complete when the call returns, every SQL
  * execution of the window on its plan counts, and no listener left behind.
  */
class QueryTraceSpec extends SparkTestBase {

  test("jobs, stages and tasks equal an independent drained listener's, read on return") {
    val sc = spark.sparkContext
    val (jobs, stages, tasks) = (new AtomicInteger, new AtomicInteger, new AtomicInteger)
    val witness = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    val out = Files.createTempDirectory("querytrace").toString + "/counts"
    ListenerDrain(sc)
    sc.addSparkListener(witness)
    val record = try {
      val (_, r) = QueryTrace(spark) {
        // eager: the checkpoint runs its own job while the frame is built
        val base = spark.range(0, 4000, 1, 4).withColumn("k", col("id") % 7).localCheckpoint()
        base.groupBy("k").count().write.parquet(out)
      }
      r
    } finally {
      ListenerDrain(sc)
      sc.removeSparkListener(witness)
    }
    val got = (record.count("jobs"), record.count("stages"), record.count("tasks"))
    assert(got == (jobs.get.toDouble, stages.get.toDouble, tasks.get.toDouble))
    assert(record.jobs.size >= 2, s"the checkpoint and the write are jobs of their own: $got")
    assert(record.count("tasks") >= 4 && record.count("executor_run_s") > 0)
    assert(record.executions.size >= 2, record.executions.map(_.action))
  }

  test("an unpartitioned window that runs only inside an eager checkpoint is on the record") {
    val src = Files.createTempDirectory("querytrace").toString + "/ids"
    spark.range(100).write.parquet(src)
    val r = QueryTrace.query(spark) {
      spark.read.parquet(src)
        .withColumn("rn", row_number().over(Window.orderBy("id")))
        .localCheckpoint()
        .filter(col("rn") <= 10)
    }
    val shape = r.shape.toMap
    assert(shape("bare_windows") == 1 && shape("file_scans") == 1, r.shape)
    // the write is the window's last SQL execution; the checkpoint ran before it
    val (built, written) = (r.executions.init, r.executions.last)
    assert(built.exists(x => x.bareWindows.nonEmpty && x.shape.get("file_scans").contains(1)),
      r.executions)
    assert(written.bareWindows.isEmpty && !written.shape.contains("file_scans"),
      s"the written frame reads the checkpoint, not the file: $written")
    assert(r.buildS > 0 && r.runS > 0)
  }

  test("the listener is removed on return and when the body throws") {
    def attached(): Int = TestBus.listeners(spark).count(_.getClass.getName.startsWith("graft.QueryTrace"))
    assert(attached() == 0)
    val (inside, _) = QueryTrace(spark)(attached())
    assert(inside == 2, "one listener on the context's bus, one on the session's manager")
    assert(attached() == 0)
    val e = intercept[IllegalStateException](QueryTrace(spark) {
      spark.range(10).collect()
      throw new IllegalStateException("body failed")
    })
    assert(e.getMessage == "body failed")
    assert(attached() == 0)
  }
}
