package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one context). */
object SparkSpec {
  // 4 written out, not SPARK_GRAFT_CPUS: the plan-shape tests assume 4
  // shuffle partitions whatever the machine's core count
  lazy val spark: SparkSession = SparkEntry.local(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  spark.sparkContext.setLogLevel("ERROR")

  /** The Spark jobs `body` launches. A marker job follows it under its own
    * group: the listener bus delivers in order, so once the marker's start
    * arrives every job of `body` has been counted. */
  protected def jobsIn[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = "jobs_in_" + java.util.UUID.randomUUID
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == group + "_marker" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "_marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
