package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** The session profile every main and the suite share: its codegen cache
  * holds a workload's classes, and no main builds a session of its own.
  */
class GraftSessionSpec extends SparkTestBase {

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second pass over more than 100 distinct whole-stage plans compiles no class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4000")
    // each plan inlines its own long literals into its whole-stage class,
    // so the 150 plans generate at least 150 distinct classes: more than
    // Spark's default cache of 100 holds
    val plans = (0 until 150).map { i =>
      val k = 7000001L + i
      spark.range(8).filter(col("id") =!= lit(k)).select((col("id") * lit(k)).as("v"))
    }
    def pass(): Long = {
      val c0 = compiles()
      plans.foreach(p => assert(p.collect().length == 8))
      compiles() - c0
    }
    val first = pass()
    assert(first >= 150, s"the first pass compiled only $first classes")
    val second = pass()
    assert(second == 0, s"the second pass recompiled $second of the $first classes")
  }

  test("no main-code file but GraftSession.scala builds its own SparkSession") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} is not the main source tree")
    val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
    val call = """SparkSession\s*\.\s*builder\b""".r
    val offenders = Files.walk(root.toPath).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
      .filter(p => call.findFirstIn(comments.replaceAllIn(Files.readString(p), "")).isDefined)
      .map(p => root.toPath.relativize(p).toString).toSeq.sorted
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.builder or clusterBuilder: $offenders")
  }
}
