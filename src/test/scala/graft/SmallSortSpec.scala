package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** SmallGlobalSort: a global sort over an input AQE would coalesce into
  * one partition shuffles to one partition directly, so its action runs no
  * range-sampling job; larger or explode-fed sorts, explicit range
  * repartitions and top-k keep their plans, and rows and order are the
  * same as at one shuffle partition. */
class SmallSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val fixture: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_small_sort").toString
    (1 to 2000).map(i => (i.toLong, s"name-$i", (i * 7919) % 1000))
      .toDF("id", "name", "v").repartition(3).write.parquet(s"$dir/t.parquet")
    s"$dir/t.parquet"
  }

  private def sorted(s: SparkSession): DataFrame =
    s.read.parquet(fixture).select(col("id"), upper(col("name")).as("u"), col("v"))
      .orderBy(col("v"), col("id"))

  /** Output partitioning of each shuffle under a global sort, from the
    * executed (final) plan. */
  private def sortShuffles(df: DataFrame): Seq[Partitioning] =
    collect(df.queryExecution.executedPlan) { case s: SortExec if s.global => s }
      .flatMap(s => collect(s) { case e: ShuffleExchangeExec => e.outputPartitioning })

  private def isRange(p: Partitioning): Boolean = p.isInstanceOf[RangePartitioning]

  private val expected: Seq[(Long, String, Int)] =
    (1 to 2000).map(i => (i.toLong, s"NAME-$i", (i * 7919) % 1000)).sortBy(r => (r._3, r._1))

  test("a small scan-project-sort runs 2 jobs on its action, through a single-partition shuffle") {
    val df = sorted(spark)
    val (rows, jobs) = jobsIn(df.as[(Long, String, Int)].collect().toSeq)
    assert(rows == expected)
    assert(jobs == 2, s"the action ran $jobs jobs")
    assert(sortShuffles(df) == Seq(SinglePartition), df.queryExecution.executedPlan)
  }

  test("a sort over a size above the one-partition size keeps its range exchange") {
    val child = SparkEntry.childSession(spark,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1k")
    val df = sorted(child)
    val (rows, jobs) = jobsIn(df.as[(Long, String, Int)].collect().toSeq)
    assert(rows == expected)
    assert(jobs == 3, s"the action ran $jobs jobs")
    assert(sortShuffles(df).map(isRange) == Seq(true), df.queryExecution.executedPlan)
  }

  test("a sort over an explode keeps its range exchange") {
    val df = spark.read.parquet(fixture)
      .select(col("id"), explode(sequence(lit(1), col("v") % 5 + 1)).as("k"))
      .orderBy(col("k"), col("id"))
    val rows = df.as[(Long, Int)].collect().toSeq
    assert(rows == expected.flatMap(r => (1 to r._3 % 5 + 1).map(k => (r._1, k)))
      .sortBy(r => (r._2, r._1)))
    assert(sortShuffles(df).map(isRange) == Seq(true), df.queryExecution.executedPlan)
  }

  test("repartitionByRange keeps its partitions, withGlobalIndex its order") {
    val df = spark.read.parquet(fixture).repartitionByRange(3, col("v"))
    assert(df.queryExecution.toRdd.getNumPartitions == 3)
    assert(collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec =>
      e.outputPartitioning.numPartitions } == Seq(3))
    val indexed = engine.Ops.withGlobalIndex(spark.read.parquet(fixture),
      Seq(col("v"), col("id")), "idx")
    assert(indexed.orderBy("idx").select("id").as[Long].collect().toSeq == expected.map(_._1))
    assert(indexed.select("idx").as[Long].collect().sorted.toSeq == (0L until 2000L))
  }

  test("orderBy then limit stays a TakeOrderedAndProject") {
    val df = sorted(spark).limit(5)
    assert(df.as[(Long, String, Int)].collect().toSeq == expected.take(5))
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    assert(sortShuffles(df).isEmpty)
  }

  test("a sorted frame joined to a hash-partitioned one gives the same rows") {
    def joined(s: SparkSession): (DataFrame, Seq[Row]) = {
      // a nondeterministic column keeps the optimizer from dropping the sort
      val left = sorted(s).withColumn("r", rand(1))
      val right = s.read.parquet(fixture).select(col("id"), (col("v") * 2).as("w"))
        .repartition(4, col("id"))
      val df = left.join(right, "id")
      (df, df.collect().toSeq.map(r => Row(r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(4))).sortBy(_.getLong(0)))
    }
    val noBroadcast = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    val (df, rows) = joined(SparkEntry.childSession(spark, noBroadcast))
    assert(sortShuffles(df) == Seq(SinglePartition), df.queryExecution.executedPlan)
    val (rangedDf, ranged) = joined(SparkEntry.childSession(spark, noBroadcast,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1k"))
    assert(sortShuffles(rangedDf).map(isRange) == Seq(true), rangedDf.queryExecution.executedPlan)
    assert(rows == ranged)
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))) ==
      expected.map(r => (r._1, r._2, r._3, r._3 * 2)).sortBy(_._1))
  }

  test("the benchmark's sort-ended queries give the same rows in the same order at 1 and 4 partitions") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    for (q <- Seq("gopher_filter", "packet_filter", "sessionization", "unigram_segment",
        "streaming_dedup_2batch")) {
      def rows(parts: String): Seq[Row] = SparkEntry.queries(q)(
        SparkEntry.childSession(spark, "spark.sql.shuffle.partitions" -> parts), sfDir)
        .collect().toSeq
      val four = rows("4")
      assert(four.nonEmpty, q)
      assert(four == rows("1"), q)
    }
  }
}
