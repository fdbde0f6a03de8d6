package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite fast; tests must not mutate global session state). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** `body`'s result and the number of Spark jobs it started. */
  def countJobs[A](body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      drainListenerBus() // deterministic drain: events deliver async
      (a, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** `LiveListenerBus.waitUntilEmpty` is private[spark] — reach it via
    * reflection (a fixed sleep would make a zero-jobs assertion
    * timing-dependent); falls back to a sleep if the internals move. */
  def drainListenerBus(): Unit = try {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    val ms = bus.getClass.getMethods
    ms.find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .map(_.invoke(bus))
      .orElse(ms.find(m => m.getName == "waitUntilEmpty" &&
          m.getParameterCount == 1)
        .map(_.invoke(bus, java.lang.Long.valueOf(10000L))))
      .getOrElse(Thread.sleep(500))
    ()
  } catch { case _: ReflectiveOperationException => Thread.sleep(500) }
}
