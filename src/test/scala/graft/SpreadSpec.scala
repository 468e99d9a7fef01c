package graft

import graft.operators.Spread
import org.apache.spark.sql.functions._

/** The r20 input-skew spread: repartitions ONLY a narrow batch input, to
  * the session's parallelism, preserving the exact row multiset; wide
  * inputs and streaming frames pass through untouched.
  */
class SpreadSpec extends SparkTestBase {

  test("a one-partition input spreads to the default parallelism") {
    import spark.implicits._
    // localCheckpoint -> a LogicalRDD leaf, the probe-safe shape the
    // guard actually sees (scans and materialized stage frames)
    val df = (1 to 1000).map(i => (i.toLong, s"t$i")).toDF("id", "text")
      .coalesce(1).localCheckpoint()
    assert(df.rdd.getNumPartitions == 1)
    val out = Spread.ifNarrow(df)
    assert(out.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // exact multiset preserved
    assert(out.except(df).isEmpty && df.except(out).isEmpty)
    assert(out.count() == 1000)
  }

  test("an already-wide input passes through with its partitioning intact") {
    import spark.implicits._
    val target = spark.sparkContext.defaultParallelism
    // a LogicalRDD leaf, so the probe runs and the width check decides
    def checkpointed(parts: Int) = (1 to 100).map(i => (i.toLong, s"t$i")).toDF("id", "text")
      .repartition(parts).localCheckpoint()
    val df = checkpointed(target / 2 + 1)
    val out = Spread.ifNarrow(df)
    assert(out.rdd.getNumPartitions == target / 2 + 1, "guard must not re-exchange")
    assert(out eq df, "wide input must be returned unchanged")
    // one partition fewer is still narrow: the boundary is parts * 2 <= target
    assert(Spread.ifNarrow(checkpointed(target / 2)).rdd.getNumPartitions == target)
  }

  test("an exchange-bearing subtree is never probed (AQE would execute it)") {
    import spark.implicits._
    val docs = (1 to 100).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "src")
      .localCheckpoint()
    val agg = docs.groupBy("src").agg(count(lit(1)).as("n"))
    val joined = docs.join(agg, Seq("src"))
    var jobs = 0
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(counter)
    try {
      assert(Spread.ifNarrow(joined) eq joined,
        "a join subtree must pass through unprobed")
      assert(Spread.ifNarrow(agg) eq agg,
        "an aggregate subtree must pass through unprobed")
      org.apache.spark.TestBus.drain(sc) // let any (unexpected) job-start events surface
      assert(jobs == 0, s"the guard must not execute anything, launched $jobs jobs")
    } finally sc.removeSparkListener(counter)
  }

  test("a streaming frame passes through untouched") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF()
    assert(Spread.ifNarrow(df) eq df)
  }
}
