package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.engine.Flow
import graft.sources.Sources
import scala.jdk.CollectionConverters._

/** Sources.load: a file source's schema is inferred once per file version
  * and session conf, so rebuilding a query or a flow over unchanged files
  * launches no Spark job; globs and nested directories keep Spark's own
  * inference. */
class SourcesLoadSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def writeLines(path: String, lines: String*): Unit =
    Files.write(Paths.get(path), lines.asJava)

  /** An events table like the fixtures', written without Spark's schema
    * metadata: `ts` is a parquet TIMESTAMP(NANOS), which Spark reads only
    * as a long, under `spark.sql.legacy.parquet.nanosAsLong` (or `unit`
    * MICROS, not adjusted to UTC: an NTZ or a plain timestamp by conf). */
  private def writeEvents(path: String, rows: Seq[(Long, Long, Long)],
                          unit: String = "NANOS,true"): Unit = {
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      s"""message events { required int64 event_id; required int64 ts (TIMESTAMP($unit));
        |  required int64 user_id; }""".stripMargin)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try rows.foreach { case (id, ts, user) =>
      w.write(groups.newGroup().append("event_id", id).append("ts", ts).append("user_id", user))
    } finally w.close()
  }

  test("a file rewritten at the same path is read with its new schema") {
    val dir = tmp("graft_load_rewrite")
    val pq = s"$dir/t.parquet"
    Seq((1L, "a")).toDF("id", "v").write.parquet(pq)
    assert(Sources.load(spark, "parquet", Map.empty, pq).columns.toSeq == Seq("id", "v"))
    val (again, jobs) = jobsIn(Sources.load(spark, "parquet", Map.empty, pq))
    assert(jobs == 0 && again.columns.toSeq == Seq("id", "v"))
    Seq((2L, "b", 3.5)).toDF("id", "v", "w").write.mode("overwrite").parquet(pq)
    val wider = Sources.load(spark, "parquet", Map.empty, pq)
    assert(wider.columns.toSeq == Seq("id", "v", "w"))
    assert(wider.as[(Long, String, Double)].collect().toSeq == Seq((2L, "b", 3.5)))

    val js = s"$dir/t.json"
    writeLines(js, """{"a": 1}""")
    assert(Sources.json(spark, js).columns.toSeq == Seq("a"))
    assert(jobsIn(Sources.json(spark, js))._2 == 0)
    writeLines(js, """{"a": 1, "b": "x"}""")
    assert(Sources.json(spark, js).select("b").as[String].collect().toSeq == Seq("x"))
  }

  test("header true and false give different CSV schemas") {
    val f = s"${tmp("graft_load_csv")}/t.csv"
    writeLines(f, "h1,h2", "1,2")
    val withHeader = Sources.csv(spark, f, header = true)
    val without = Sources.csv(spark, f, header = false)
    assert(withHeader.columns.toSeq == Seq("h1", "h2") && withHeader.count() == 1)
    assert(without.columns.toSeq == Seq("_c0", "_c1") && without.count() == 2)
    assert(Sources.csv(spark, f, header = true).columns.toSeq == Seq("h1", "h2"))
  }

  test("the session conf is part of the key: timestamp inference on child sessions") {
    val dir = tmp("graft_load_events")
    writeEvents(s"$dir/events.parquet", Seq((1L, 1700000000123456789L, 7L)))
    def read(conf: (String, String)) =
      Sources.load(SparkEntry.childSession(spark, conf), "parquet", Map.empty,
        s"$dir/events.parquet")
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    assert(read(nanosAsLong -> "true").schema("ts").dataType == LongType)
    // without the conf Spark's own inference runs, and rejects the type
    val e = intercept[org.apache.spark.sql.AnalysisException](read(nanosAsLong -> "false"))
    assert(e.getMessage.contains("TIMESTAMP(NANOS"))
    assert(read(nanosAsLong -> "true").schema("ts").dataType == LongType)
    // the fixture reader turns the nanos into a microsecond timestamp
    val ev = Tables.read(spark, dir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.selectExpr("unix_micros(ts)").as[Long].collect().toSeq == Seq(1700000000123456L))

    // a timestamp without time zone: NTZ or a plain timestamp, by conf
    val ntz = s"$dir/ntz.parquet"
    writeEvents(ntz, Seq((1L, 1700000000123456L, 7L)), unit = "MICROS,false")
    def tsType(infer: String): DataType =
      Sources.load(SparkEntry.childSession(spark,
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> infer), "parquet", Map.empty, ntz)
        .schema("ts").dataType
    assert(tsType("true") == TimestampNTZType)
    assert(tsType("false") == TimestampType)
  }

  test("glob and nested paths keep Spark's own inference") {
    val dir = tmp("graft_load_glob")
    writeLines(s"$dir/a.json", """{"x": 1}""")
    writeLines(s"$dir/b.json", """{"x": 2, "y": "b"}""")
    val glob = Sources.json(spark, s"$dir/*.json")
    assert(glob.columns.toSeq == Seq("x", "y") && glob.count() == 2)

    val nested = s"$dir/parts"
    Seq((1L, "p1"), (2L, "p2")).toDF("id", "p").write.partitionBy("p").parquet(nested)
    val read = Sources.load(spark, "parquet", Map.empty, nested)
    assert(read.orderBy("id").as[(Long, String)].collect().toSeq == Seq((1L, "p1"), (2L, "p2")))
    Seq((3L, "p3")).toDF("id", "p").write.mode("append").partitionBy("p").parquet(nested)
    assert(Sources.load(spark, "parquet", Map.empty, nested).count() == 3)
  }

  test("a second build of a query or a flow over unchanged files launches no job") {
    val dir = tmp("graft_load_tables")
    Seq(("R", "F", 10.0, 1L, 100.0, 0.1), ("A", "F", 20.0, 1L, 50.0, 0.0),
      ("R", "O", 5.0, 2L, 80.0, 0.05))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_orderkey",
        "l_extendedprice", "l_discount").write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, "BUILDING"), (2L, "MACHINERY")).toDF("c_custkey", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, 1L), (2L, 2L)).toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    writeEvents(s"$dir/events.parquet", Seq(
      (1L, 1000000000000L, 1L), (2L, 1060000000000L, 1L), (3L, 9000000000000L, 1L)))
    for (q <- Seq("agg_by_value", "join_inner", "sessionization")) {
      val first = SparkEntry.queries(q)(spark, dir).collect().toSeq
      val (second, jobs) = jobsIn(SparkEntry.queries(q)(spark, dir))
      assert(jobs == 0, s"$q: the second build ran $jobs jobs")
      assert(second.collect().toSeq == first, q)
    }

    val csv = s"$dir/li.csv"
    writeLines(csv, "id,qty", "1,3", "2,9")
    val json = s"$dir/ev.json"
    writeLines(json, """{"id": 1, "kind": "buy"}""", """{"id": 2, "kind": "view"}""")
    val flow = s"""
    { "generators": [
        {"id": "li", "name": "csv", "config": {"path": "$csv"}, "next": ["big"]},
        {"id": "ev", "name": "json", "config": {"path": "$json"}, "next": ["buy"]},
        {"id": "ls", "name": "list", "next": ["many"],
         "config": {"rows": [{"id": 3, "qty": 1}, {"id": 4, "qty": 7}]}} ],
      "processors": [
        {"id": "big", "name": "filter", "config": {"predicate": "$${qty} > 5"}, "next": []},
        {"id": "many", "name": "filter", "config": {"predicate": "$${qty} > 5"}, "next": []},
        {"id": "buy", "name": "filter",
         "config": {"predicate": "$${kind} == \\"buy\\""}, "next": []} ] }"""
    def ids(out: Map[String, DataFrame]): Map[String, Seq[String]] =
      out.map { case (k, df) => k -> df.select(col("id").cast("string")).as[String].collect().toSeq }
    val first = ids(Flow.run(spark, flow))
    assert(first == Map("big" -> Seq("2"), "buy" -> Seq("1"), "many" -> Seq("4")))
    val (second, jobs) = jobsIn(Flow.run(spark, flow))
    assert(jobs == 0, s"the second flow build ran $jobs jobs")
    assert(ids(second) == first)
  }

  test("inferring file reads go through Sources.load only (source gate)") {
    // code lines of src/main (comment lines dropped), a chained call joined
    // onto the line it continues, so a reader chain split over lines is
    // one line. A file read is a `.read` chain ending in parquet/json/csv,
    // or a format other than the fixed-schema binaryFile and jdbc sources.
    val root = Paths.get("src/main/scala")
    val code = scala.util.Using.resource(Files.walk(root)) { paths =>
      paths.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
        Files.readAllLines(p).asScala.map(_.trim)
          .filterNot(l => Seq("//", "/*", "*").exists(l.startsWith))
          .foldLeft(Vector.empty[String]) { (acc, l) =>
            if (l.startsWith(".") && acc.nonEmpty) acc.init :+ (acc.last + l) else acc :+ l
          }.map(l => (root.relativize(p).toString, l))
      }
    }
    val fileRead = """\.read\b.*?\.(parquet|json|csv)\(|\.read\.format\((?!"(binaryFile|jdbc)")""".r
    val sites = code.filter { case (_, l) => fileRead.findFirstIn(l).isDefined }
    // besides the one reader in Sources: the smoke entry reads one table
    // once per JVM
    val allowed = Seq(
      "graft/sources/Sources.scala" -> "val reader = spark.read.format(format).options(options)",
      "graft/SparkEntry.scala" -> "lineitem.parquet")
    val outside = sites.filterNot { case (f, l) =>
      allowed.exists { case (af, marker) => f == af && l.contains(marker) }
    }
    assert(outside.isEmpty, s"file reads outside Sources.load: ${outside.mkString("\n")}")
    assert(sites.count(_._1 == "graft/sources/Sources.scala") == 1)
  }
}
