package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** TopKByScore bounded-heap aggregate: the k-NN order contract + plan shape. */
class TopKByScoreSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = (0L until 40L)
    .map(i => (i, Seq((i % 7).toDouble, (i % 5).toDouble, 1.0)))
    .toDF("id", "v")

  /** All pairs scored on the driver, ranked (cosine desc, neighbor asc). */
  private def reference(rows: Seq[(Long, Seq[Double])], k: Int): Seq[(Long, Long, Int, Double)] = {
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      d / n
    }
    rows.flatMap { case (i, v) =>
      rows.filter(_._1 != i).map { case (j, w) => (j, cos(v, w)) }
        .sortBy { case (j, c) => (-c, j) }.take(k).zipWithIndex
        .map { case ((j, c), r) => (i, j, r + 1, c) }
    }.sortBy(r => (r._1, r._3))
  }

  test("knnJoinExact equals a driver reference at 1 and 7 partitions") {
    // ids 40 and 41 are scaled copies of id 0: an exact cosine tie that
    // the smaller neighbor id must win
    val rows = (0L until 40L).map(i => (i, Seq((i % 7).toDouble, (i % 5).toDouble, 1.0))) ++
      Seq((40L, Seq(0.0, 0.0, 2.0)), (41L, Seq(0.0, 0.0, 3.0)))
    val ref = reference(rows, 4)
    assert(ref.exists { case (i, j, _, _) => i == 0L && j == 40L } &&
      ref.exists { case (i, j, _, _) => i == 0L && j == 41L }, "the planted tie must rank")
    for (parts <- Seq(1, 7)) {
      val out = Similarity.knnJoinExact(rows.toDF("id", "v").repartition(parts), "id", "v", k = 4)
        .orderBy("id", "rank").as[(Long, Long, Int, Double)].collect().toSeq
      assert(out == ref, s"$parts partitions")
    }
  }

  test("k-NN joins reject a non-integral id and keep an integral id's type") {
    val strIds = Seq(("a", Seq(1.0, 0.0)), ("b", Seq(0.0, 1.0)), ("c", Seq(1.0, 1.0)),
      ("d", Seq(1.0, 2.0))).toDF("id", "v")
    val e = intercept[IllegalArgumentException](Similarity.knnJoinExact(strIds, "id", "v", k = 2))
    assert(e.getMessage.contains("'id'") && e.getMessage.contains("STRING"), e.getMessage)
    val fracIds = Seq((1.2, Seq(1.0, 0.0)), (1.7, Seq(0.0, 1.0)), (3.0, Seq(1.0, 1.0)),
      (4.0, Seq(1.0, 2.0))).toDF("id", "v")
    val cents = Seq((0, Seq(1.0, 0.0))).toDF("cid", "c")
    val f = intercept[IllegalArgumentException](
      Similarity.knnJoinIvf(fracIds, "id", "v", cents, k = 2, nProbe = 1, "cid", "c"))
    assert(f.getMessage.contains("'id'") && f.getMessage.contains("DOUBLE"), f.getMessage)
    val intIds = Seq((1, Seq(1.0, 0.0)), (2, Seq(0.0, 1.0)), (3, Seq(1.0, 1.0))).toDF("id", "v")
    val out = Similarity.knnJoinExact(intIds, "id", "v", k = 1)
    assert(out.schema("neighbor_id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(out.orderBy("id").select("neighbor_id").as[Int].collect().toSeq == Seq(3, 3, 1))
  }

  test("heap path plans without Window or Sort before the aggregate") {
    val plan = Similarity.knnJoinExact(vecs, "id", "v", k = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window survived:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"expected object agg:\n$plan")
  }

  test("topk_by SQL function: dedup of exact duplicates, null skip, ties") {
    val df = Seq(
      (1L, 0.9, 10L), (1L, 0.9, 10L), // exact duplicate collapses
      (1L, 0.9, 9L),                  // tie score → smaller id ranks first
      (1L, 0.5, 11L), (1L, 0.1, 12L),
      (2L, 0.7, 20L)
    ).toDF("g", "s", "i")
      .unionByName(Seq((2L, null.asInstanceOf[java.lang.Double], 21L))
        .toDF("g", "s", "i"))
    val out = df.groupBy("g")
      .agg(expr("topk_by(s, i, 3)").as("tk"))
      .select(col("g"), expr("transform(tk, x -> x.id)").as("ids"))
      .orderBy("g").collect()
    assert(out(0).getSeq[Long](1) == Seq(9L, 10L, 11L))
    assert(out(1).getSeq[Long](1) == Seq(20L)) // null score skipped
  }
}
