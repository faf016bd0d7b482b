package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streams

/** Structured Streaming semantics driven through MemoryStream sources. */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  test("IVF assignment runs under Structured Streaming (online near-dup path)") {
    // the batch operator applied per micro-batch — stateless, so each
    // batch's assignments are final when foreachBatch returns
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Float])]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    val q = in.toDF.toDF("id", "vec").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val cents = batch.sparkSession.createDataFrame(
            Seq((0, Seq(0.0, 0.0)), (1, Seq(10.0, 10.0))))
          .toDF("centroid_id", "centroid")
        graft.operators.Similarity.ivfAssignJoin(batch, "id", "vec", cents)
          .collect().foreach(r => got.add((r.getLong(0), r.getInt(1))))
      }
      .start()
    try {
      in.addData((1L, Seq(1.0f, 0.5f)), (2L, Seq(9.0f, 11.0f)))
      q.processAllAvailable()
      in.addData((3L, Seq(6.0f, 6.0f)))
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSeq.sortBy(_._1) == Seq((1L, 0), (2L, 1), (3L, 1)))
    } finally q.stop()
  }

  test("streaming decontamination gate flags suspects with zero state") {
    implicit val sql = spark.sqlContext
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("id", "text")
    val in = MemoryStream[(Long, String)]
    val out = Streams.streamingDecontaminationGate(
      in.toDF.toDF("id", "text"), bench, "id", "text", n = 8)
    val q = out.writeStream.format("memory").queryName("decon_gate")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, "prefix alpha beta gamma delta epsilon zeta eta theta suffix"),
        (2L, "totally different words with no overlap at all in this text"))
      q.processAllAvailable()
      in.addData((3L, "short doc")) // < n tokens: no grams, never suspect
      q.processAllAvailable()
      val got = spark.table("decon_gate").orderBy("id")
        .select(col("id"), col("suspect")).as[(Long, Boolean)].collect().toSeq
      assert(got == Seq((1L, true), (2L, false), (3L, false)))
      // the flagged doc's exact verify agrees (gate is an upper bound)
      val exact = graft.operators.Dedup.decontaminate(
        Seq((1L, "prefix alpha beta gamma delta epsilon zeta eta theta suffix"))
          .toDF("id", "text"), bench, "id", "text", n = 8)
      assert(exact.head.getAs[Boolean]("contaminated"))
    } finally q.stop()
  }

  test("kafka option mapping and value decode are live; load() names the missing connector") {
    import graft.streaming.Streams
    val props = Map("metadata.broker.list" -> "b1:9092,b2:9092",
      "group.id" -> "graft", "auto.offset.reset" -> "smallest",
      "zookeeper.connect" -> "zk:2181",
      "value.deserializer" -> "kafka.serializer.StringDecoder")
    val opts = Streams.kafkaSourceOptions(props, "events")
    assert(opts("kafka.bootstrap.servers") == "b1:9092,b2:9092")
    // old-consumer auto.offset.reset TRANSLATES (smallest→earliest); it
    // must never pass through as kafka.* — Spark's source hard-rejects it
    assert(opts("subscribe") == "events" && opts("startingOffsets") == "earliest")
    assert(opts("kafka.group.id") == "graft")
    assert(!opts.contains("kafka.auto.offset.reset"))
    assert(!opts.contains("kafka.metadata.broker.list"))
    // old-consumer implementation details are dropped, not forwarded to a
    // guaranteed IllegalArgumentException
    assert(!opts.exists(_._1.contains("zookeeper")))
    assert(!opts.exists(_._1.contains("deserializer")))
    // absent auto.offset.reset = the old consumer's default, largest
    assert(Streams.kafkaSourceOptions(
      Map("bootstrap.servers" -> "b:9092"), "t")("startingOffsets") == "latest")
    intercept[IllegalArgumentException](Streams.kafkaSourceOptions(Map(), "t"))
    intercept[IllegalArgumentException](Streams.kafkaSourceOptions(
      Map("bootstrap.servers" -> "b:9092", "auto.offset.reset" -> "bogus"), "t"))
    // value decode: the reference's to_string/charset step over the kafka
    // value schema (binary), checked on a stand-in frame
    val v = Seq("héllo".getBytes("UTF-8")).toDF("value")
      .select(Streams.kafkaValueText(col("value")).as("s")).as[String].head()
    assert(v == "héllo")
    val v2 = Seq("abc".getBytes("ISO-8859-1")).toDF("value")
      .select(Streams.kafkaValueText(col("value"), "ISO-8859-1").as("s"))
      .as[String].head()
    assert(v2 == "abc")
    // without the connector jars (this container: no egress, none shipped)
    // the source fails with the MISSING-DATA-SOURCE error specifically —
    // if jars ever appear and load() starts failing on an option instead,
    // this assert catches the regression rather than masking it
    val ex = intercept[Exception](
      Streams.kafkaSource(spark, props, "events").printSchema())
    assert(ex.getMessage.contains("DATA_SOURCE_NOT_FOUND") ||
      ex.getMessage.toLowerCase.contains("failed to find"), ex.getMessage)
  }

  test("tumbling window aggregation with watermark") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val out = Streams.tumblingAgg(
      in.toDF.toDF("ts", "k", "v"), "ts", "10 minutes", "1 minute",
      Seq("k"), Seq(count(lit(1)).as("n"), sum(col("v")).as("s")))
    val q = out.writeStream.format("memory").queryName("tumbling")
      .outputMode("complete").start()
    try {
      in.addData((ts(1), "a", 1.0), (ts(5), "a", 2.0), (ts(12), "a", 4.0), (ts(3), "b", 8.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT k, n, s FROM tumbling ORDER BY k, s").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
        Seq(("a", 2L, 3.0), ("a", 1L, 4.0), ("b", 1L, 8.0)))
    } finally q.stop()
  }

  test("watermarked stream-stream join matches keys within the time range") {
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, String)]
    val buys = MemoryStream[(Timestamp, String)]
    val joined = Streams.streamJoin(
      clicks.toDF.toDF("cts", "k"), buys.toDF.toDF("bts", "k2").withColumnRenamed("k2", "k"),
      Seq("k"), "cts", "bts", watermark = "1 minute", within = "5 minutes")
      .select(col("k"), col("cts"), col("bts"))
    val q = joined.writeStream.format("memory").queryName("sjoin")
      .outputMode("append").start()
    try {
      clicks.addData((ts(1), "a"), (ts(2), "b"))
      buys.addData((ts(4), "a"), (ts(20), "b")) // b's buy is outside ±5 min
      q.processAllAvailable()
      val rows = spark.sql("SELECT k FROM sjoin").collect().map(_.getString(0)).toSeq
      assert(rows == Seq("a")) // only the in-range pair joins
    } finally q.stop()
  }

  test("streaming LSH near-dup flags the planted dup across micro-batches") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    // no TTL: a processing-time timeout makes the zero-interval test trigger
    // busy-spin empty batches (see the operator scaladoc)
    val out = Streams.streamingNearDupCandidates(in.toDF.toDF("doc_id", "text"),
      "doc_id", "text", n = 3, k = 16, bands = 8, threshold = 0.3)
    val q = out.writeStream.format("memory").queryName("sneardup")
      .outputMode("append").start()
    try {
      in.addData(
        (0L, "the quick brown fox jumps over the lazy dog again and again"),
        (3L, "completely different content about spark query engines at scale"),
        (10L, "ok")) // sub-n-token: no shingles, must never become a candidate
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM sneardup").count() == 0) // no prior docs
      in.addData(
        (1L, "the quick brown fox jumps over the lazy cat again and again"),
        (11L, "no")) // another short doc: would share the sentinel signature
      q.processAllAvailable()
      val pairs = spark.sql("SELECT id, dup_of FROM sneardup").collect()
        .map(r => (r.getString(0), r.getString(1))).distinct
      assert(pairs.contains(("1", "0"))) // near-dup of batch-1 doc found
      assert(!pairs.exists(p => p._1 == "3" || p._2 == "3")) // far doc clean
      assert(!pairs.exists(p => Set("10", "11")(p._1) || Set("10", "11")(p._2)))
    } finally q.stop()
  }

  test("streaming KMV converges to the batch sketch estimate across batches") {
    implicit val sql = spark.sqlContext
    import graft.operators.Sketch
    val in = MemoryStream[(String, String)]
    val out = Streams.streamingKmvDistinct(in.toDF.toDF("grp", "v"), "grp", "v", k = 16)
    val q = out.writeStream.format("memory").queryName("skmv")
      .outputMode("update").start()
    try {
      in.addData((1 to 300).map(i => ("big", s"val-$i")) :+ (("small", "x")): _*)
      q.processAllAvailable()
      in.addData((200 to 500).map(i => ("big", s"val-$i")) :+ (("small", "x")): _*)
      q.processAllAvailable()
      // latest update per group (memory sink keeps every batch's emissions)
      val rows = spark.sql("SELECT * FROM skmv").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      val byGrp = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (g, rs) => g -> rs.maxBy(_._2)._1 } // latest emission per group
      // batch sketch over the union of both batches must agree exactly
      val union = ((1 to 500).map(i => ("big", s"val-$i")) ++ Seq(("small", "x"), ("small", "x")))
        .toDF("grp", "v")
      val batch = Sketch.kmvDistinct(union, Seq("grp"), col("v"), k = 16)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert((byGrp("big")._2, byGrp("big")._3) == ((batch("big")._1, batch("big")._2)))
      // duplicate value across batches didn't inflate the small group
      assert((byGrp("small")._2, byGrp("small")._3) == ((1L, 1.0)))
      assert(batch("small") == ((1L, 1.0)))
    } finally q.stop()
  }

  test("sketch streamers: event-time TTL evicts idle groups, survivors keep folding") {
    implicit val sql = spark.sqlContext
    // KMV exercises the shared keyedState TTL path (quantiles get
    // the oracle replay): batch 1 arms both groups at watermark(0) + 60 s
    // with event times 1-5 s (watermark stays below the deadline, so
    // nothing fires early); batch 2 feeds only "live" at ~1000 s, pushing
    // the watermark past both deadlines — the engine's watermark-advance
    // batch then removes both states, which is fine for "live" (no more
    // data; its cumulative batch-2 emission already happened) and is the
    // eviction under test for "idle". Batch 3 re-feeds "idle": its
    // bottom-k restarts (n_kept counts the batch-3 value only).
    val in = MemoryStream[(String, String, Long)]
    val out = Streams.streamingKmvDistinct(
      in.toDF.toDF("grp", "v", "sec").withColumn("ts", timestamp_seconds(col("sec"))),
      "grp", "v", k = 16, stateTtl = Some("60 seconds"), eventTimeCol = Some("ts"))
    val q = out.writeStream.format("memory").queryName("skmvttl")
      .outputMode("update").start()
    try {
      in.addData((1 to 5).map(i => ("idle", s"a$i", i.toLong)) ++
        (1 to 4).map(i => ("live", s"b$i", i.toLong)): _*)
      q.processAllAvailable()
      in.addData((5 to 7).map(i => ("live", s"b$i", 1000L + i)): _*)
      q.processAllAvailable()
      in.addData(Seq(("idle", "c1", 1100L)): _*)
      q.processAllAvailable()
      // update-mode memory tables guarantee no row ORDER, so assert the
      // per-group emission MULTISET (one emission per touched batch):
      // a leak would make idle's batch-3 emission 6, an over-eager TTL
      // would lose live's fold (batch-2 emission below 7)
      val rows = spark.sql("SELECT * FROM skmvttl").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val idleEmits = rows.filter(_._1 == "idle").map(_._2).sorted.toSeq
      assert(idleEmits == Seq(1L, 5L), s"idle state leaked across TTL: $idleEmits")
      val liveEmits = rows.filter(_._1 == "live").map(_._2).sorted.toSeq
      assert(liveEmits == Seq(4L, 7L), s"live group lost state: $liveEmits")
    } finally q.stop()
  }

  test("streamingFrequentItems: cross-batch counter fold equals batch counts; eviction keeps heavies") {
    implicit val sql = spark.sqlContext
    // exact regime across a batch boundary: final state (max est per
    // (group, item) over update-mode emissions) = plain batch counts
    val in = MemoryStream[(String, String)]
    val out = Streams.streamingFrequentItems(in.toDF.toDF("grp", "v"), "grp", "v",
      maxTracked = 32)
    val q = out.writeStream.format("memory").queryName("sfreq")
      .outputMode("update").start()
    try {
      in.addData(Seq.fill(10)(("g", "a")) ++ Seq.fill(3)(("g", "b")): _*)
      q.processAllAvailable()
      in.addData(Seq.fill(5)(("g", "a")) ++ Seq.fill(4)(("g", "c")): _*)
      q.processAllAvailable()
      val fin = spark.sql(
        "SELECT item, max(est) FROM sfreq WHERE grp = 'g' GROUP BY item")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(fin == Map("a" -> 15L, "b" -> 3L, "c" -> 4L))
    } finally q.stop()
    // eviction regime: a planted heavy item over a wide tail survives MG
    // compression with est >= true − N/maxTracked (the undercount bound)
    val in2 = MemoryStream[(String, String)]
    val out2 = Streams.streamingFrequentItems(in2.toDF.toDF("grp", "v"), "grp", "v",
      maxTracked = 16)
    val q2 = out2.writeStream.format("memory").queryName("sfreq2")
      .outputMode("update").start()
    try {
      val n = 2000
      in2.addData(Seq.fill(500)(("g", "hot")) ++
        (1 to (n - 500)).map(i => ("g", s"cold$i")): _*)
      q2.processAllAvailable()
      val last = spark.sql(
        "SELECT item, max(est) FROM sfreq2 WHERE grp = 'g' GROUP BY item")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(last.contains("hot"), s"heavy item evicted: ${last.keySet.take(5)}")
      assert(last("hot") <= 500L && last("hot") >= 500L - n / 16,
        s"hot est ${last("hot")} outside MG undercount bound")
      // state is bounded: tracked set ≤ 2·maxTracked
      assert(last.size <= 32, s"state grew past 2·maxTracked: ${last.size}")
    } finally q2.stop()
  }

  test("streamingHllDistinct: cross-batch register merge equals the batch fold") {
    import graft.operators.Sketch
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val out = Streams.streamingHllDistinct(in.toDF.toDF("grp", "v"), "grp", "v", p = 8)
    val q = out.writeStream.format("memory").queryName("shlltest")
      .outputMode("update").start()
    try {
      in.addData((1 to 300).map(i => ("big", s"val-$i")) :+ (("small", "x")): _*)
      q.processAllAvailable()
      in.addData((200 to 500).map(i => ("big", s"val-$i")) :+ (("small", "x")): _*)
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM shlltest").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      val byGrp = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (g, rs) => g -> rs.maxBy(_._2)._1 }
      val union = ((1 to 500).map(i => ("big", s"val-$i")) ++ Seq(("small", "x"), ("small", "x")))
        .toDF("grp", "v")
      val batch = Sketch.hllDistinct(union, Seq("grp"), col("v"), p = 8)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert((byGrp("big")._2, byGrp("big")._3, byGrp("big")._4) == batch("big"),
        s"stream=${byGrp("big")} batch=${batch("big")}")
      assert((byGrp("small")._2, byGrp("small")._3, byGrp("small")._4) == batch("small"))
      // monotonicity (what the replay query's min/min/max aggregation relies
      // on): re-emissions never increase n_zero/sum_scaled or decrease est
      val bigEmits = rows.filter(_._1 == "big")
      assert(bigEmits.sliding(2).forall {
        case Array(a, b) => b._2 <= a._2 && b._3 <= a._3 && b._4 >= a._4
        case _ => true
      })
    } finally q.stop()
  }

  test("session window groups by inactivity gap") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val out = Streams.sessionAgg(
      in.toDF.toDF("ts", "k"), "ts", "5 minutes", "1 minute",
      Seq("k"), Seq(count(lit(1)).as("n")))
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try {
      // two bursts separated by > 5 min gap → 2 sessions
      in.addData((ts(0), "u"), (ts(2), "u"), (ts(20), "u"), (ts(21), "u"), (ts(23), "u"))
      q.processAllAvailable()
      val ns = spark.sql("SELECT n FROM sessions ORDER BY n").as[Long].collect().toSeq
      assert(ns == Seq(2L, 3L))
    } finally q.stop()
  }

  test("signalBuffer holds data until the key's signal arrives, then releases in order") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, Boolean, String, Long)]
    val out = Streams.signalBuffer(in.toDF.toDF("k", "sig", "payload", "seq"),
      "k", "sig", "payload", "seq")
    val q = out.writeStream.format("memory").queryName("sigbuf")
      .outputMode("append").start()
    try {
      // batch 1: only data — nothing must be emitted yet
      in.addData(("a", false, "a1", 1L), ("a", false, "a2", 2L), ("b", false, "b1", 3L))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM sigbuf").count() == 0)
      // batch 2: signal for a — releases a's buffer in seq order, b stays held
      in.addData(("a", true, "", 4L))
      q.processAllAvailable()
      val released = spark.sql("SELECT payload FROM sigbuf").as[String].collect().toSeq
      assert(released == Seq("a1", "a2"))
      // batch 3: data + signal in ONE batch — batch-granular rule releases
      // the new row too, deterministically regardless of intra-batch order
      in.addData(("a", false, "a3", 5L), ("a", true, "", 6L))
      q.processAllAvailable()
      val all = spark.sql("SELECT payload FROM sigbuf").as[String].collect().toSeq
      assert(all == Seq("a1", "a2", "a3"))
      assert(spark.sql("SELECT * FROM sigbuf WHERE payload LIKE 'b%'").count() == 0)
    } finally q.stop()
  }

  test("batch signalBuffer passes data through gated on the signal plan") {
    val data = Seq((1, "x"), (2, "y")).toDF("id", "v")
    val signal = Seq("done").toDF("s")
    val out = graft.engine.Ops.signalBuffer(data, signal)
    assert(out.columns.toSeq == Seq("id", "v"))
    assert(out.orderBy("id").as[(Int, String)].collect().toSeq == Seq((1, "x"), (2, "y")))
  }

  test("streaming dedup drops repeated keys across batches") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Int, String)]
    val out = Streams.streamingDedup(in.toDF.toDF("id", "v"), Seq("id"), None, None)
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      in.addData((1, "a"), (2, "b"))
      q.processAllAvailable()
      in.addData((1, "a2"), (3, "c")) // id=1 already seen in earlier batch
      q.processAllAvailable()
      val ids = spark.sql("SELECT id FROM dedup ORDER BY id").as[Int].collect().toSeq
      assert(ids == Seq(1, 2, 3))
    } finally q.stop()
  }

  test("watermark drops data later than the threshold in append mode") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val out = Streams.tumblingAgg(in.toDF.toDF("ts", "k"), "ts", "10 minutes",
      "5 minutes", Seq("k"), Seq(count(lit(1)).as("n")))
    // append mode: a window only emits once the watermark passes its end —
    // the real bounded-state contract (complete mode would keep everything)
    val q = out.writeStream.format("memory").queryName("latedrop")
      .outputMode("append").start()
    try {
      in.addData((ts(1), "a"), (ts(5), "a"))
      q.processAllAvailable()
      // advance event time far past the first window + watermark -> it closes
      in.addData((ts(40), "a"))
      q.processAllAvailable()
      // this row is WAY behind the watermark (40min - 5min): must be dropped
      in.addData((ts(2), "a"))
      q.processAllAvailable()
      in.addData((ts(55), "a")) // push watermark so the 40-min window closes too
      q.processAllAvailable()
      val ns = spark.sql("SELECT n FROM latedrop ORDER BY n").as[Long].collect().toSeq
      // first window emitted n=2 (late row NOT counted), 40-min window n=1
      assert(ns == Seq(1L, 2L), s"got $ns")
    } finally q.stop()
  }

  test("stateful running count per key survives across batches") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[String]
    val out = Streams.runningCountPerKey(in.toDF.toDF("k"), "k")
    val q = out.writeStream.format("memory").queryName("rcount")
      .outputMode("update").start()
    try {
      in.addData("a", "a", "b")
      q.processAllAvailable()
      in.addData("a", "b")
      q.processAllAvailable()
      // update mode: last emitted state per key
      val last = spark.sql(
        "SELECT key, max(running_count) FROM rcount GROUP BY key ORDER BY key").collect()
      assert(last.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 3L), ("b", 2L)))
    } finally q.stop()
  }
}
