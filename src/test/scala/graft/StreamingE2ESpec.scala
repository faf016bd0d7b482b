package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.streaming.Streams

/** End-to-end streaming pipeline: file source → watermarked tumbling window
  * aggregation → parquet file sink with checkpoint → read back. The full
  * reference-shaped flow (source, window, sink) on real files. */
class StreamingE2ESpec extends SparkSpec {
  import spark.implicits._

  test("file stream → window agg → parquet sink round-trip") {
    val inDir = Files.createTempDirectory("graft_stream_in").toString
    val outDir = Files.createTempDirectory("graft_stream_out").toString
    val ckDir = Files.createTempDirectory("graft_stream_ck").toString

    def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    // batch 1 lands before the stream starts
    Seq((ts(1), "a", 1.0), (ts(4), "a", 2.0), (ts(12), "b", 8.0))
      .toDF("ts", "k", "v").write.mode("append").parquet(inDir)

    val src = Streams.fileSource(spark, inDir, "parquet",
      Some("ts TIMESTAMP, k STRING, v DOUBLE"))
    val agg = Streams.tumblingAgg(src, "ts", "10 minutes", "0 seconds",
      Seq("k"), Seq(count(lit(1)).as("n"), sum(col("v")).as("s")))
      .select(col("window.start").as("w"), col("k"), col("n"), col("s"))

    def runOnce(): Unit = {
      val q = agg.writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckDir)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    runOnce()
    // append mode emits only watermark-finalized windows: flush the last
    // window with a later event, then re-run on the same checkpoint (twice —
    // the watermark learned in one run finalizes windows in the next)
    Seq((ts(25), "c", 0.0)).toDF("ts", "k", "v").write.mode("append").parquet(inDir)
    runOnce(); runOnce()

    val back = spark.read.parquet(outDir)
    val rows = back.filter(col("k") =!= "c").orderBy("k", "w").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows == Seq(("a", 2L, 3.0), ("b", 1L, 8.0)))
  }

  test("rotating file sink partitions by event-time bucket and prunes on read-back") {
    val inDir = Files.createTempDirectory("graft_rot_in").toString
    val outDir = Files.createTempDirectory("graft_rot_out").toString
    val ckDir = Files.createTempDirectory("graft_rot_ck").toString
    def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    Seq((ts(1), "r1"), (ts(4), "r2"), (ts(12), "r3"), (ts(25), "r4"))
      .toDF("ts", "line").write.mode("append").parquet(inDir)

    val src = Streams.fileSource(spark, inDir, "parquet", Some("ts TIMESTAMP, line STRING"))
    val q = Streams.rotatingFileSink(src, "ts", "10 minutes", outDir, ckDir,
      availableNow = true)
    q.awaitTermination(60000)

    val back = spark.read.parquet(outDir)
    // one directory per 10-minute rotation bucket
    assert(back.select("bucket").distinct().count() == 3)
    assert(back.count() == 4)
    // read-back pruning: bucket is a partition column, filter prunes to one dir
    val one = back.filter(col("bucket") === "20240101_101000")
    assert(one.select("line").as[String].collect().toSeq == Seq("r3"))
    // pruned scan: the bucket predicate must land in the scan's partition
    // filters (not the data filters), i.e. only one directory is read
    val scans = one.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      s"bucket filter not pushed to partition pruning:\n${one.queryExecution.executedPlan}")
    // restart on the same checkpoint with new data: appends, no reprocessing
    Seq((ts(13), "r5")).toDF("ts", "line").write.mode("append").parquet(inDir)
    val q2 = Streams.rotatingFileSink(src, "ts", "10 minutes", outDir, ckDir,
      availableNow = true)
    q2.awaitTermination(60000)
    assert(spark.read.parquet(outDir).count() == 5)
  }

  test("streaming corpus ingestion: html → c4 clean → quality → near-dup candidates") {
    // The whole cleaning front door is stateless Column expressions, so the
    // operators built for batch run UNCHANGED on a streaming frame; only the
    // near-dup stage carries state (keyed band buckets). One pipeline, both
    // execution models — the engine's core claim, proven end-to-end here.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val prose = "This stream sentence carries plenty of words to keep and score."
    def page(extra: String) =
      s"<html><body><p>$prose</p><p>$extra line with many more words to pass.</p>" +
        "<p>A third complete sentence keeps the page above the line minimum.</p></body></html>"
    val cleaned = {
      val html = mem.toDF().toDF("doc_id", "html")
      val text = graft.operators.Html.extract(html, "html", "text")
      val kept = graft.operators.TextAnalysis.c4Filter(text, "text")
        .filter(col("keep"))
      graft.operators.TextAnalysis.qualityScore(
        kept.withColumn("text", col("clean")), "text")
    }
    val cands = Streams.streamingNearDupCandidates(
      cleaned, "doc_id", "text", n = 3, k = 16, bands = 8, threshold = 0.3)
    val q = cands.writeStream.format("memory").queryName("stream_corpus")
      .outputMode("append").start()
    try {
      // batch 1: two near-identical pages, one unrelated
      mem.addData((1L, page("first")), (2L, page("first")),
        (3L, "<p>totally different content about unrelated things here today.</p>"))
      q.processAllAvailable()
      // batch 2: another near-dup of doc 1 arrives later
      mem.addData((4L, page("first")))
      q.processAllAvailable()
      val pairs = spark.table("stream_corpus")
        .select("id", "dup_of").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(pairs.contains(("1", "2")) || pairs.contains(("2", "1")))
      // cross-micro-batch state: doc 4 pairs with something from batch 1
      assert(pairs.exists { case (a, b) => a == "4" || b == "4" })
      assert(!pairs.exists { case (a, b) => a == "3" || b == "3" })
    } finally q.stop()
  }

  test("a listener on the caller's session sees every batch of a replay query") {
    // the query reads only documents.doc_id: the sf0.001 ids 0-499
    val dir = Files.createTempDirectory("graft_replay_docs").toString
    (0L until 500L).toDF("doc_id").write.parquet(s"$dir/documents.parquet")
    val batches = new java.util.concurrent.atomic.AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) batches.incrementAndGet()
    }
    spark.streams.addListener(listener)
    try {
      // two data batches: doc ids below 250, then the rest
      assert(SparkEntry.queries("streaming_dedup_2batch")(spark, dir).count() == 137)
      // the listener bus delivers progress events asynchronously
      val deadline = System.nanoTime() + 30000000000L
      while (batches.get < 2 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(batches.get >= 2, s"listener saw ${batches.get} of 2 replay batches")
    } finally spark.streams.removeListener(listener)
  }

  test("foreachBatch sink invokes the callback per micro-batch") {
    implicit val sql = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q = in.toDF.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen.addAndGet(batch.count())
        ()
      }
      .start()
    try {
      in.addData(1, 2, 3)
      q.processAllAvailable()
      in.addData(4)
      q.processAllAvailable()
      assert(seen.get() == 4L)
    } finally q.stop()
  }
}
