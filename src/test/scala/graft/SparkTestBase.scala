package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Singleton local session shared across all suites (reference pattern:
  * sparkext-test/src/test/scala/com/collective/TestSparkContext.scala:9-28).
  */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // saveAsTable (bucketed-layout specs) must not write into the repo
    .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sqlc = spark.sqlContext
  def sc = spark.sparkContext

  /** Blocks until every queued listener event has been delivered, so a
    * listener's counts are final. SparkContext.listenerBus is
    * private[spark]; Bench drains it the same way.
    */
  def drainListenerBus(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(10000L))
  }
}
