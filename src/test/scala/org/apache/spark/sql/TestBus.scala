package org.apache.spark.sql

import scala.jdk.CollectionConverters._

/** The one Spark-internal view the suites need: every listener attached to
  * a session, on its context's bus and on its execution-listener manager.
  */
object TestBus {
  def listeners(spark: SparkSession): Seq[AnyRef] =
    spark.sparkContext.listenerBus.listeners.asScala.toSeq ++
      spark.listenerManager.listListeners().toSeq
}
