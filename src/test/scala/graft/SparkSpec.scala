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
}
