package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat_ws, countDistinct, expr, format_number, length, round, size}
import graft.engine.Flow

/** Verbatim reference configs through the compat layer — including the
  * reference's own configs/flowtests/dummy.json and config JSONs
  * transcribed from its processor test corpus. */
class TuktuCompatSpec extends SparkSpec {
  import spark.implicits._

  test("the reference's dummy.json flow config runs verbatim") {
    val json = new String(Files.readAllBytes(
      Paths.get("/root/reference/configs/flowtests/dummy.json")))
    val out = Flow.run(spark, json)
    val df = out.values.head
    assert(df.columns.toSeq == Seq("test"))
    assert(df.select("test").as[String].collect().toSeq == Seq("test"))
  }

  test("the reference's normalization.json flow config runs verbatim") {
    // ref configs/flowtests/normalization.json: ListGenerator [6,10,-10,-6]
    // → EOFBuffer → NormalizationTrain(min=-1,max=1, fields defaulting to
    // every column) → NormalizationApply(fields=[data]); min/max over the
    // packet are -10/10, so the rescale to [-1,1] is value/10.
    val json = new String(Files.readAllBytes(
      Paths.get("/root/reference/configs/flowtests/normalization.json")))
    val out = Flow.run(spark, json)
    val df = out.values.head
    assert(df.columns.toSeq == Seq("data"))
    val got = df.select("data").as[Double].collect().toSeq.sorted
    assert(got.size == 4)
    got.zip(Seq(-1.0, -0.6, 0.6, 1.0)).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-12, s"$g != $e")
    }
  }

  test("FieldFilterProcessor with reference config schema (path/result/default)") {
    val flow = """
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"key1": "val1", "key2": "val2"}, {"key2": "only2"}
        ]}, "next": ["ff"]} ],
      "processors": [
        {"id": "ff", "name": "tuktu.processors.FieldFilterProcessor",
         "result": "result",
         "config": {"fields": [ {"default": "", "path": ["key1"], "result": "res1"} ]},
         "next": []} ] }"""
    val out = Flow.runSingle(spark, flow).orderBy("res1").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("", "val1"))
  }

  test("FieldCopy + FieldRemove + ReplaceProcessor reference schemas chained") {
    val flow = """
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"key1": "val1", "key2": "val2"}
        ]}, "next": ["cp"]} ],
      "processors": [
        {"id": "cp", "name": "tuktu.processors.FieldCopyProcessor",
         "config": {"fields": [ {"path": ["key2"], "result": "key4"} ]}, "next": ["rm"]},
        {"id": "rm", "name": "tuktu.processors.FieldRemoveProcessor",
         "config": {"fields": ["key2"]}, "next": ["rep"]},
        {"id": "rep", "name": "tuktu.processors.ReplaceProcessor", "result": "result",
         "config": {"field": "key1", "sources": ["[0-9]+"], "targets": ["2"]},
         "next": []} ] }"""
    val row = Flow.runSingle(spark, flow).head
    val cols = Flow.runSingle(spark, flow).columns.toSet
    assert(cols == Set("key1", "key4", "result"))
    assert(row.getAs[String]("result") == "val2") // val1 → [0-9]+ → val2
    assert(row.getAs[String]("key4") == "val2")
  }

  test("RunningCountProcessor with step_size in input order") {
    val flow = """
    { "generators": [
        {"id": "g", "name": "tuktu.generators.ListGenerator", "result": "one",
         "config": {"values": ["a", "b", "c"]}, "next": ["rc"]} ],
      "processors": [
        {"id": "rc", "name": "tuktu.processors.RunningCountProcessor",
         "result": "result", "config": {"step_size": 3}, "next": []} ] }"""
    val out = Flow.runSingle(spark, flow).orderBy("result").collect()
    assert(out.map(_.getAs[Long]("result")).toSeq == Seq(0L, 3L, 6L))
  }

  test("LineGenerator / CSVGenerator FQCN configs read files verbatim") {
    val dir = Files.createTempDirectory("graft_gen").toFile
    val lines = new java.io.File(dir, "lines.txt")
    val lw = new java.io.PrintWriter(lines)
    (1 to 5).foreach(i => lw.println(s"line$i")); lw.close()
    val csvf = new java.io.File(dir, "data.csv")
    val cw = new java.io.PrintWriter(csvf)
    cw.println("a;b"); cw.println("1;x"); cw.println("2;y"); cw.close()

    val lineFlow = s"""
    { "generators": [ {"id": "g", "name": "tuktu.generators.LineGenerator",
        "result": "line",
        "config": {"filename": "${lines.getAbsolutePath}", "start_line": 1, "end_line": 3},
        "next": []} ] }"""
    val got = Flow.run(spark, lineFlow).values.head
      .select("line").as[String].collect().toSet
    assert(got == Set("line2", "line3", "line4")) // lines 1..3, 0-based

    val csvFlow = s"""
    { "generators": [ {"id": "g", "name": "tuktu.csv.generators.CSVGenerator",
        "config": {"filename": "${csvf.getAbsolutePath}", "has_headers": true},
        "next": []} ] }"""
    val rows = Flow.run(spark, csvFlow).values.head
      .orderBy("a").select("a", "b").as[(String, String)].collect().toSeq
    assert(rows == Seq(("1", "x"), ("2", "y"))) // ';' default separator
  }

  test("flattening CsvGenerator FQCN config drives the locator hierarchy verbatim") {
    val dir = Files.createTempDirectory("graft_flat").toFile
    val f = new java.io.File(dir, "book.csv")
    val w = new java.io.PrintWriter(f)
    w.println(",Q1,Q1,Q2"); w.println("North,10,20,30")
    w.println("South,40,5.5,6"); w.println("END"); w.close()
    // the reference schema exactly: locators carry the reference locator
    // FQCNs with their params objects ([MS] Common.parseHierarchy shape)
    val flow = s"""
    { "generators": [ {"id": "g",
        "name": "tuktu.csv.generators.flattening.CsvGenerator",
        "config": {
          "filename": "${f.getAbsolutePath}",
          "value_name": "sales", "flattened": true,
          "separator": ",",
          "data_start_col": 1,
          "end_field": {"column": 0, "value": "END"},
          "locators": [
            {"name": "quarter", "type": "tuktu.csv.locators.Row",
             "params": {"offset": 0}},
            {"name": "region", "type": "tuktu.csv.locators.Column",
             "params": {"offset": 0, "row_start": 1}} ]},
        "next": []} ] }"""
    val got = Flow.run(spark, flow).values.head
      .select("quarter", "region", "sales")
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("Q1", "North", "10"), ("Q1", "North", "20"), ("Q2", "North", "30"),
      ("Q1", "South", "40"), ("Q1", "South", "5.5"), ("Q2", "South", "6")))

    // flattened omitted (the reference DEFAULT is false): the record nests
    // under the node's result as one struct column
    val nested = Flow.run(spark,
      flow.replace(""""flattened": true,""", "")
        .replace(""""id": "g",""", """"id": "g", "result": "rec",""")).values.head
    assert(nested.columns.toSeq == Seq("rec"))
    assert(nested.select("rec.quarter", "rec.sales").as[(String, String)]
      .collect().toSet.contains(("Q2", "30")))

    // CellRangeSplitter FQCN: a "start-end" cell expands into the range,
    // columns cycling through it
    val f2 = new java.io.File(dir, "book2.csv")
    val w2 = new java.io.PrintWriter(f2)
    w2.println("1-3,,"); w2.println("x,y,z"); w2.println("END"); w2.close()
    val flow2 = s"""
    { "generators": [ {"id": "g",
        "name": "tuktu.csv.generators.flattening.CsvGenerator",
        "config": {
          "filename": "${f2.getAbsolutePath}",
          "value_name": "v", "flattened": true, "separator": ",",
          "data_start_col": 0,
          "end_field": {"column": 0, "value": "END"},
          "locators": [
            {"name": "slot", "type": "tuktu.csv.locators.CellRangeSplitter",
             "params": {"row": 0, "col": 0, "split": "-"}} ]},
        "next": []} ] }"""
    val ranged = Flow.run(spark, flow2).values.head
      .select("slot", "v").as[(String, String)].collect().toSet
    assert(Set(("1", "x"), ("2", "y"), ("3", "z")).subsetOf(ranged), s"$ranged")
  }

  // --- round-3 breadth: the rest of the reference BaseProcessorTestSuite ---

  private def listFlow(rowsJson: String, procs: String): String =
    s"""{ "generators": [ {"id": "g", "name": "list", "config": {"rows": $rowsJson},
          "next": ["p0"]} ],
        "processors": [ $procs ] }"""

  test("FieldRenameProcessor removes sources, keeps results (corpus: nested path)") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"key1": {"subkey1": "val1"}, "key2": "val2"}]""",
      """{"id": "p0", "name": "tuktu.processors.FieldRenameProcessor",
         "config": {"fields": [ {"path": ["key1", "subkey1"], "result": "key3"},
                                {"path": ["key2"], "result": "key4"} ]}, "next": []}"""))
    assert(out.columns.toSet == Set("key3", "key4"))
    val r = out.head
    assert(r.getAs[String]("key3") == "val1" && r.getAs[String]("key4") == "val2")
  }

  test("JsonFetcherProcessor hoists nested values with default (corpus schema)") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"json": {"key1": "val1", "key2": {"key3": "val3"}}}]""",
      """{"id": "p0", "name": "tuktu.processors.JsonFetcherProcessor",
         "config": {"fields": [ {"path": ["json","key2","key3"], "result": "key4",
                                 "default": "nothing"},
                                {"path": ["json.key1"], "result": "k1"} ]}, "next": []}"""))
    val r = out.head
    assert(r.getAs[String]("key4") == "val3")
    assert(r.getAs[String]("k1") == "val1") // dotted single-element path
  }

  test("StringImploderProcessor overwrites the path head with the joined string") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"key1": ["val1","val2","val3"], "key2": ["val4"]}]""",
      """{"id": "p0", "name": "tuktu.processors.StringImploderProcessor",
         "config": {"fields": [ {"path": ["key1"], "separator": ","} ]}, "next": []}"""))
    val r = out.head
    assert(r.getAs[String]("key1") == "val1,val2,val3")
    assert(r.getAs[scala.collection.Seq[String]]("key2").toList == List("val4")) // untouched
  }

  test("KeyImploderProcessor collapses the packet into one row of lists") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"keyholes": "keyhole1"}, {"keyholes": "keyhole2"}, {"keyholes": "keyhole3"}]""",
      """{"id": "p0", "name": "tuktu.processors.KeyImploderProcessor",
         "config": {"fields": ["keyholes"]}, "next": []}"""))
    assert(out.count() == 1)
    assert(out.head.getAs[scala.collection.Seq[String]]("keyholes").toList == List("keyhole1", "keyhole2", "keyhole3"))
  }

  test("JsObjectImploderProcessor joins subpath strings, overwriting the ancestor") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"keys": [{"key1": "val1"}, {"key1": "val2"}, {"key1": "val3"}]}]""",
      """{"id": "p0", "name": "tuktu.processors.JsObjectImploderProcessor",
         "config": {"fields": [ {"path": ["keys"], "subpath": ["key1"],
                                 "separator": ","} ]}, "next": []}"""))
    assert(out.head.getAs[String]("keys") == "val1,val2,val3")
  }

  test("FlattenerProcessor hoists nested keys joined by the separator") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"key1": {"subkey1": "val1"}, "other": "x"}]""",
      """{"id": "p0", "name": "tuktu.processors.FlattenerProcessor",
         "config": {"fields": ["key1"], "separator": ","}, "next": []}"""))
    assert(out.columns.toSet == Set("other", "key1,subkey1"))
    assert(out.select(col("`key1,subkey1`")).head.getString(0) == "val1")
  }

  test("SequenceExploderProcessor explodes in place (corpus)") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"keyholes": ["keyhole1", "keyhole2", "keyhole3"]}]""",
      """{"id": "p0", "name": "tuktu.processors.SequenceExploderProcessor",
         "config": {"field": "keyholes"}, "next": []}"""))
    assert(out.select("keyholes").as[String].collect().toSeq ==
      Seq("keyhole1", "keyhole2", "keyhole3"))
  }

  test("Sequence length/flatten/distinct + HeadOfList + GetListElement") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"xs": [[1,2],[2,3]]}]""",
      """{"id": "p0", "name": "tuktu.processors.SequenceFlattenerProcessor",
         "result": "flat", "config": {"field": "xs"}, "next": ["p1"]},
         {"id": "p1", "name": "tuktu.processors.DistinctSequenceProcessor",
          "result": "dis", "config": {"field": "flat"}, "next": ["p2"]},
         {"id": "p2", "name": "tuktu.processors.SequenceLengthProcessor",
          "result": "len", "config": {"field": "dis"}, "next": ["p3"]},
         {"id": "p3", "name": "tuktu.processors.HeadOfListProcessor",
          "result": "head", "config": {"field": "dis"}, "next": ["p4"]},
         {"id": "p4", "name": "tuktu.processors.GetListElementProcessor",
          "result": "second", "config": {"field": "dis", "index": "1"}, "next": []}"""))
    val r = out.head
    assert(r.getAs[scala.collection.Seq[Long]]("flat").toList == List(1L, 2L, 2L, 3L))
    assert(r.getAs[scala.collection.Seq[Long]]("dis").toList == List(1L, 2L, 3L))
    assert(r.getAs[Int]("len") == 3)
    assert(r.getAs[Long]("head") == 1L)
    assert(r.getAs[Long]("second") == 2L)
  }

  test("StringSplitterProcessor splits on a REGEX separator, dropping empties by default") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"key1": "value1,,value2,value3", "key2": "value4"}]""",
      """{"id": "p0", "name": "tuktu.processors.StringSplitterProcessor",
         "result": "result", "config": {"field": "key1", "separator": ","}, "next": []}"""))
    assert(out.head.getAs[scala.collection.Seq[String]]("result").toList == List("value1", "value2", "value3"))
    val regex = Flow.runSingle(spark, listFlow(
      """[{"key1": "a1b22c", "key2": "x"}]""",
      """{"id": "p0", "name": "tuktu.processors.StringSplitterProcessor",
         "result": "result", "config": {"field": "key1", "separator": "[0-9]+"}, "next": []}"""))
    assert(regex.head.getAs[scala.collection.Seq[String]]("result").toList == List("a", "b", "c"))
  }

  test("ListMapFlattenerProcessor + MultiListMapFlattenerProcessor (corpus)") {
    val rows = """[{"keys": [
      {"key1": "value1", "key2": "value2", "key3": "value3"},
      {"key1": "value4", "key2": "value5", "key3": "value6"},
      {"key1": "value7", "key2": "value8", "key3": "value9"}]}]"""
    val single = Flow.runSingle(spark, listFlow(rows,
      """{"id": "p0", "name": "tuktu.processors.ListMapFlattenerProcessor",
         "result": "result", "config": {"list_field": "keys", "map_field": "key1"},
         "next": []}"""))
    assert(single.head.getAs[scala.collection.Seq[String]]("result").toList == List("value1", "value4", "value7"))
    val multi = Flow.runSingle(spark, listFlow(rows,
      """{"id": "p0", "name": "tuktu.processors.MultiListMapFlattenerProcessor",
         "config": {"list_field": "keys", "map_fields": ["key1", "key3"]}, "next": []}"""))
    val r = multi.head
    assert(r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("keys").size == 3) // original kept
    assert(r.getAs[scala.collection.Seq[String]]("key1").toList == List("value1", "value4", "value7"))
    assert(r.getAs[scala.collection.Seq[String]]("key3").toList == List("value3", "value6", "value9"))
  }

  test("ContainsAllFilterProcessor keeps rows whose list covers all needles (corpus)") {
    val rows = """[
      {"maps": [{"key1": "value1"}, {"key1": "value4"}], "values": ["value1"], "tag": "keep"},
      {"maps": [{"key1": "value4"}], "values": ["value1"], "tag": "drop"}]"""
    val out = Flow.runSingle(spark, listFlow(rows,
      """{"id": "p0", "name": "tuktu.processors.ContainsAllFilterProcessor",
         "config": {"field": "key1", "contains_field": "values", "field_list": "maps"},
         "next": []}"""))
    assert(out.select("tag").as[String].collect().toSeq == Seq("keep"))
  }

  test("MapFlattenerProcessor hoists entries and KEEPS the original (corpus)") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"keys": {"key1": "value1", "key2": "value2"}}]""",
      """{"id": "p0", "name": "tuktu.processors.MapFlattenerProcessor",
         "config": {"field": "keys"}, "next": []}"""))
    assert(out.columns.toSet == Set("keys", "key1", "key2"))
    val r = out.head
    assert(r.getAs[String]("key1") == "value1" && r.getAs[String]("key2") == "value2")
  }

  test("ZipExplodeProcessor zips two lists and overwrites both fields (corpus)") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"keys": ["key1", "key2"], "values": ["value1", "value2"]}]""",
      """{"id": "p0", "name": "tuktu.processors.ZipExplodeProcessor",
         "config": {"field_1": "keys", "field_2": "values"}, "next": []}"""))
    assert(out.select("keys", "values").as[(String, String)].collect().toSeq ==
      Seq(("key1", "value1"), ("key2", "value2")))
  }

  test("AbsentFieldsFilterProcessor drops rows missing any required field (corpus)") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"key1": 1, "key2": 2, "key3": 3}, {"key1": 4, "key3": 5, "key4": 6},
          {"key1": 7, "key3": 8, "key4": 9}]""",
      """{"id": "p0", "name": "tuktu.processors.AbsentFieldsFilterProcessor",
         "config": {"fields": ["key1", "key2"]}, "next": []}"""))
    assert(out.select("key1").as[Long].collect().toSeq == Seq(1L))
  }

  test("ImploderProcessor splices arrays and wraps scalars into one list (corpus)") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"a": ["x", "y"], "b": "z"}]""",
      """{"id": "p0", "name": "tuktu.processors.ImploderProcessor",
         "result": "result", "config": {"fields": ["a", "b"]}, "next": []}"""))
    assert(out.head.getAs[scala.collection.Seq[String]]("result").toList == List("x", "y", "z"))
  }

  test("FieldsToListProcessor + DataPacketWrapperProcessor") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"a": "1", "b": "2"}]""",
      """{"id": "p0", "name": "tuktu.processors.FieldsToListProcessor",
         "result": "lst", "config": {"fields": ["a", "b"]}, "next": []}"""))
    assert(out.head.getAs[scala.collection.Seq[String]]("lst").toList == List("1", "2"))
    val wrapped = Flow.runSingle(spark, listFlow(
      """[{"a": "1"}, {"a": "2"}]""",
      """{"id": "p0", "name": "tuktu.processors.DataPacketWrapperProcessor",
         "result": "data", "config": {}, "next": []}"""))
    assert(wrapped.count() == 1)
    assert(wrapped.select(size(col("data"))).head.getInt(0) == 2)
  }

  test("ConvertTo{Number,BigDecimal,Date} overwrite the field (corpus types)") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"n": "17", "d": "2024-03-01", "xs": [3, 183], "x": 1.337}]""",
      """{"id": "p0", "name": "tuktu.processors.ConvertToNumber",
         "config": {"field": "n", "number_type": "long"}, "next": ["p1"]},
         {"id": "p1", "name": "tuktu.processors.ConvertToBigDecimal",
          "config": {"field": "x"}, "next": ["p2"]},
         {"id": "p2", "name": "tuktu.processors.ConvertToBigDecimal",
          "config": {"field": "xs"}, "next": ["p3"]},
         {"id": "p3", "name": "tuktu.processors.ConvertToDate",
          "config": {"field": "d", "format": "yyyy-MM-dd"}, "next": []}"""))
    val r = out.head
    assert(r.getAs[Long]("n") == 17L)
    assert(r.getAs[java.math.BigDecimal]("x").doubleValue == 1.337)
    assert(r.getAs[scala.collection.Seq[java.math.BigDecimal]]("xs").map(_.longValue).toList == List(3L, 183L))
    assert(r.getAs[java.sql.Timestamp]("d").toString.startsWith("2024-03-01"))
  }

  test("ConsoleWriterProcessor is a pass-through, with and without prettify (ref suite shapes)") {
    // ref BaseProcessorTestSuite:593,610: both configs leave the data
    // unchanged (the console print is a side effect); prettify only
    // changes the rendering, never the packet
    for (cfg <- Seq("{}", """{"prettify": true}""")) {
      val out = Flow.runSingle(spark, listFlow(
        """[{"key1": "val1", "key2": "val2"}]""",
        s"""{"id": "p0", "name": "tuktu.processors.ConsoleWriterProcessor",
            "result": "result", "config": $cfg, "next": []}"""))
      val r = out.head
      assert(out.columns.toSet == Set("key1", "key2"))
      assert(r.getAs[String]("key1") == "val1" && r.getAs[String]("key2") == "val2")
    }
  }

  test("ConvertToBigDecimal: scientific-notation strings, scalar and elementwise (ref suite case)") {
    // ref BaseProcessorTestSuite:959-985 feeds "1.3e12" and a mixed list
    // ending in "-1.2e-3"; the mixed list is a string list in the
    // DataFrame model, converted elementwise like the reference's
    // anyListToBigDecimal
    val out = Flow.runSingle(spark, listFlow(
      """[{"key": "1.3e12", "xs": ["3", "183", "1.337", "-1.2e-3"]}]""",
      """{"id": "p0", "name": "tuktu.processors.ConvertToBigDecimal",
         "config": {"field": "key"}, "next": ["p1"]},
         {"id": "p1", "name": "tuktu.processors.ConvertToBigDecimal",
          "config": {"field": "xs"}, "next": []}"""))
    val r = out.head
    assert(r.getAs[java.math.BigDecimal]("key").longValueExact == 1300000000000L)
    val xs = r.getAs[scala.collection.Seq[java.math.BigDecimal]]("xs").map(_.doubleValue)
    assert(xs.toList == List(3.0, 183.0, 1.337, -0.0012))
  }

  test("RunningCountProcessor start_at and per_block (one frame = one packet)") {
    val startAt = Flow.runSingle(spark, listFlow(
      """[{"one": 1}, {"one": 1}, {"one": 1}]""",
      """{"id": "p0", "name": "tuktu.processors.RunningCountProcessor",
         "result": "result", "config": {"start_at": 5}, "next": []}"""))
    assert(startAt.select("result").as[Long].collect().sorted.toSeq == Seq(5L, 6L, 7L))
    val perBlock = Flow.runSingle(spark, listFlow(
      """[{"one": 1}, {"one": 1}]""",
      """{"id": "p0", "name": "tuktu.processors.RunningCountProcessor",
         "result": "result", "config": {"per_block": true}, "next": []}"""))
    assert(perBlock.select("result").as[Long].collect().toSeq == Seq(0L, 0L))
  }

  test("PacketFilterProcessor nested expression arrays and batch gate (corpus)") {
    val rows = """[{"key1": 1, "key2": 3, "key3": "value1"},
                   {"key1": 2, "key2": 2, "key3": "value2"},
                   {"key1": 3, "key2": 1, "key3": "value3"}]"""
    def f(exprs: String, extra: String = "") = listFlow(rows,
      s"""{"id": "p0", "name": "tuktu.processors.PacketFilterProcessor",
          "config": {"expressions": $exprs$extra}, "next": []}""")
    // joint (AND) sub-expressions: key2 > 1 && key2 < 3
    val joint = Flow.runSingle(spark, f(
      """[{"type": "simple", "expression": [
           {"expression": "${key2} > 1", "type": "simple"},
           {"expression": "${key2} < 3", "type": "simple"}]}]"""))
    assert(joint.select("key1").as[Long].collect().toSeq == Seq(2L))
    // disjoint (OR): key2 > 2 || key2 < 2
    val disjoint = Flow.runSingle(spark, f(
      """[{"type": "simple", "and_or": "or", "expression": [
           {"expression": "${key2} > 2", "type": "simple"},
           {"expression": "${key2} < 2", "type": "simple"}]}]"""))
    assert(disjoint.select("key1").as[Long].collect().toSet == Set(1L, 3L))
    // negate on a string leaf
    val neg = Flow.runSingle(spark, f(
      """[{"type": "negate", "expression": "${key3} == \"value3\""}]"""))
    assert(neg.select("key1").as[Long].collect().toSet == Set(1L, 2L))
    // batch: 2 rows satisfy key1 > 1 which meets batch_min_count 2 → ALL pass
    val batch = Flow.runSingle(spark, f(
      """[{"type": "simple", "expression": "${key1} > 1"}]""",
      """, "batch": true, "batch_min_count": 2"""))
    assert(batch.count() == 3)
  }

  test("FieldRename/FieldCopy read sources from the ORIGINAL row, not prior renames") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"a": "1", "b": "2"}]""",
      """{"id": "p0", "name": "tuktu.processors.FieldRenameProcessor",
         "config": {"fields": [ {"path": ["a"], "result": "b"},
                                {"path": ["b"], "result": "c"} ]}, "next": []}"""))
    val r = out.head
    // b gets a's value; c gets the ORIGINAL b (reference reads the datum)
    assert(r.getAs[String]("b") == "1" && r.getAs[String]("c") == "2")
    assert(out.columns.toSet == Set("b", "c")) // a cleaned up
  }

  test("PacketFilterProcessor flat reference schema {type, expression}") {
    val rows = """[{"v": 1}, {"v": 5}]"""
    val kept = Flow.runSingle(spark, listFlow(rows,
      """{"id": "p0", "name": "tuktu.processors.PacketFilterProcessor",
         "config": {"type": "simple", "expression": "${v} > 3"}, "next": []}"""))
    assert(kept.select("v").as[Long].collect().toSeq == Seq(5L))
    val negated = Flow.runSingle(spark, listFlow(rows,
      """{"id": "p0", "name": "tuktu.processors.PacketFilterProcessor",
         "config": {"type": "negate", "expression": "${v} > 3"}, "next": []}"""))
    assert(negated.select("v").as[Long].collect().toSeq == Seq(1L))
  }

  test("HeadOfListProcessor: empty list nulls result unless keep_original_field") {
    val rows = """[{"xs": [7, 8], "result": 99}, {"xs": [], "result": 42}]"""
    val plain = Flow.runSingle(spark, listFlow(rows,
      """{"id": "p0", "name": "tuktu.processors.HeadOfListProcessor",
         "result": "result", "config": {"field": "xs"}, "next": []}"""))
    assert(plain.orderBy("xs").select("result").collect().map(r =>
      if (r.isNullAt(0)) null else r.getLong(0)).toSeq == Seq(null, 7L))
    val keep = Flow.runSingle(spark, listFlow(rows,
      """{"id": "p0", "name": "tuktu.processors.HeadOfListProcessor",
         "result": "result",
         "config": {"field": "xs", "keep_original_field": true}, "next": []}"""))
    assert(keep.orderBy("xs").select("result").as[Long].collect().toSeq == Seq(42L, 7L))
  }

  test("ConvertToDate default format parses java.util.Date toString strings") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"d": "Mon Mar 04 10:30:00 UTC 2024"}]""",
      """{"id": "p0", "name": "tuktu.processors.ConvertToDate",
         "config": {"field": "d"}, "next": []}"""))
    val ts = out.head.getAs[java.sql.Timestamp]("d")
    assert(ts != null && ts.toInstant.toString.startsWith("2024-03-04"))
  }

  test("ImploderProcessor mixes array and scalar of different types via strings") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"tags": ["x", "y"], "count": 7}]""",
      """{"id": "p0", "name": "tuktu.processors.ImploderProcessor",
         "result": "result", "config": {"fields": ["tags", "count"]}, "next": []}"""))
    assert(out.head.getAs[scala.collection.Seq[String]]("result").toList == List("x", "y", "7"))
  }

  test("PacketRegexFilterProcessor batch mode keeps the whole packet (corpus case 4)") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"key1": "een", "key2": "twee"}, {"key1": "half", "key2": "een"},
          {"key1": "1", "key2": "2"}]""",
      """{"id": "p0", "name": "tuktu.processors.PacketRegexFilterProcessor",
         "config": {"expressions": [
           {"type": "simple", "and_or": "or", "expression": "[0-9]+", "field": "key1"},
           {"type": "simple", "and_or": "or", "expression": "half", "field": "key1"}],
           "batch": true, "batch_min_count": 2}, "next": []}"""))
    assert(out.count() == 3)
  }

  test("SizeBufferProcessor tags arrival-order batches (buffer corpus)") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"key": 1}, {"key": 2}, {"key": 3}, {"key": 4}]""",
      """{"id": "p0", "name": "tuktu.processors.SizeBufferProcessor",
         "result": "batch", "config": {"size": 2}, "next": []}"""))
    assert(out.groupBy("batch").count().count() == 2)
  }

  test("bucket Sort + Deduplication with reference configs") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"v": 3, "k": "a"}, {"v": 1, "k": "b"}, {"v": 2, "k": "a"}]""",
      """{"id": "p0", "name": "tuktu.processors.bucket.SortProcessor",
         "config": {"field": "v", "asc_desc": "desc"}, "next": ["p1"]},
         {"id": "p1", "name": "tuktu.processors.bucket.DeduplicationProcessor",
          "config": {"fields": ["k"]}, "next": []}"""))
    // desc sort: 3(a),2(a),1(b); first-seen dedup on k → 3(a),1(b)
    assert(out.select("v").as[Long].collect().toSet == Set(3L, 1L))
  }

  test("AggregateByValueProcessor groups and aggregates the base expression") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"k": "a", "v": 1}, {"k": "a", "v": 2}, {"k": "b", "v": 3}]""",
      """{"id": "p0", "name": "tuktu.processors.bucket.aggregate.AggregateByValueProcessor",
         "result": "result",
         "config": {"group": ["k"], "base_value": "${v}", "expression": "sum()"},
         "next": []}"""))
    val m = out.collect().map(r => r.getAs[String]("k") -> r.getAs[Double]("result")).toMap
    assert(m == Map("a" -> 3.0, "b" -> 3.0))
  }

  test("Arithmetic/Predicate/JSONParse/time FQCNs run with reference configs") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"a": 3, "b": 4, "j": "{\"x\": {\"y\": 9}}",
           "ts": "2024-03-04 10:17:45"}]""",
      """{"id": "p0", "name": "tuktu.processors.arithmetics.ArithmeticProcessor",
         "result": "calc",
         "config": {"calculate": "${a} + ${b} * 2", "do_rounding": true,
                    "number_of_decimals": 0}, "next": ["p1"]},
         {"id": "p1", "name": "tuktu.processors.PredicateProcessor",
          "result": "pred", "config": {"predicate": "${a} < ${b}"}, "next": ["p2"]},
         {"id": "p2", "name": "tuktu.processors.json.JSONParseProcessor",
          "result": "parsed", "config": {"field": "j"}, "next": ["p3"]},
         {"id": "p3", "name": "tuktu.processors.time.TimestampNormalizerProcessor",
          "result": "bucket",
          "config": {"datetime_field": "ts", "datetime_format": "yyyy-MM-dd HH:mm:ss",
                     "time": {"minutes": 5}}, "next": ["p4"]},
         {"id": "p4", "name": "tuktu.processors.time.DateToMillisProcessor",
          "result": "ms", "config": {"field": "bucket"}, "next": []}"""))
    val r = out.head
    assert(r.getAs[Double]("calc") == 11.0)
    assert(r.getAs[Boolean]("pred"))
    assert(out.select(expr("variant_get(parsed, '$.x.y', 'int')")).head.getInt(0) == 9)
    assert(r.getAs[java.sql.Timestamp]("bucket").toString.endsWith("10:15:00.0"))
    assert(r.getAs[Long]("ms") % 300000L == 0L)
  }

  test("DataPacketFieldMerger + TupleListStringImploder + pass-through FQCNs") {
    val merged = Flow.runSingle(spark, listFlow(
      """[{"a": "x", "b": "1"}, {"a": "y", "b": "2"}]""",
      """{"id": "p0", "name": "tuktu.processors.SkipProcessor", "config": {},
          "next": ["p1"]},
         {"id": "p1", "name": "tuktu.processors.DataPacketFieldMergerProcessor",
          "result": "tag",
          "config": {"value": "v-${b}", "batch": true,
                     "fields": [{"path": ["a"], "result": "aa"}]}, "next": []}"""))
    assert(merged.count() == 1)
    val r = merged.head
    assert(r.getAs[String]("aa") == "y" && r.getAs[String]("tag") == "v-2") // later row wins
    val tuples = Flow.runSingle(spark, listFlow(
      """[{"pairs": [{"k": "a", "v": 1}, {"k": "b", "v": 2}, {"k": "c", "v": null}]}]""",
      """{"id": "p0", "name": "tuktu.processors.TupleListStringImploder",
          "config": {"fields": [{"path": ["pairs"], "separator": "="}]}, "next": []}"""))
    assert(tuples.head.getAs[scala.collection.Seq[String]]("pairs").toList ==
      List("a=1", "b=2", "c=")) // null element keeps its separator slot
    // absent path with a default projects the constant (reference getOrElse)
    val dflt = Flow.runSingle(spark, listFlow(
      """[{"a": "x"}]""",
      """{"id": "p0", "name": "tuktu.processors.DataPacketFieldMergerProcessor",
          "result": "tag",
          "config": {"value": "v", "fields": [{"path": ["gone"], "result": "g",
                     "default": "d"}]}, "next": []}"""))
    assert(dflt.head.getAs[String]("g") == "d")
  }

  test("bucket statistics processors produce one row of per-field stats") {
    val out = Flow.runSingle(spark, listFlow(
      """[{"x": 1, "y": 10}, {"x": 2, "y": 20}, {"x": 3, "y": 30}]""",
      """{"id": "p0", "name": "tuktu.processors.bucket.statistics.MeanProcessor",
         "config": {"fields": ["x", "y"]}, "next": []}"""))
    val r = out.head
    assert(r.getAs[Double]("x") == 2.0 && r.getAs[Double]("y") == 20.0)
  }

  test("PacketRegexFilterProcessor or/and/negate semantics from the test corpus") {
    val rows = """{"rows": [
      {"key1": "een", "key2": "twee"}, {"key1": "half", "key2": "een"}, {"key1": "1", "key2": "2"}
    ]}"""
    def flow(exprs: String) = s"""
    { "generators": [ {"id": "g", "name": "list", "config": $rows, "next": ["f"]} ],
      "processors": [
        {"id": "f", "name": "tuktu.processors.PacketRegexFilterProcessor",
         "config": {"expressions": $exprs}, "next": []} ] }"""
    // two ORs: matches either regex on key1
    val ors = Flow.runSingle(spark, flow(
      """[{"type":"simple","and_or":"or","expression":"[0-9]+","field":"key1"},
         {"type":"simple","and_or":"or","expression":"een","field":"key1"}]"""))
      .select("key1").as[String].collect().toSet
    assert(ors == Set("een", "1"))
    // negate: rows NOT matching
    val negs = Flow.runSingle(spark, flow(
      """[{"type":"negate","and_or":"or","expression":"een","field":"key1"}]"""))
      .select("key1").as[String].collect().toSet
    assert(negs == Set("half", "1"))
    // two default ('and')-typed TOP-LEVEL entries still combine with OR:
    // the reference evaluates expressions.exists(...) at the top level
    // (BaseProcessors.scala:501); and_or only applies to NESTED arrays
    val topOr = Flow.runSingle(spark, flow(
      """[{"type":"simple","and_or":"and","expression":"[0-9]+","field":"key1"},
         {"type":"simple","and_or":"and","expression":"een","field":"key1"}]"""))
      .select("key1").as[String].collect().toSet
    assert(topOr == Set("een", "1"))
    // nested sub-expression array combined with and_or=and
    val nestedAnd = Flow.runSingle(spark, flow(
      """[{"type":"simple","and_or":"and","expression":
            [{"type":"simple","expression":"een","field":"key1"},
             {"type":"simple","expression":"twee","field":"key2"}],
          "field":""}]"""))
      .select("key1").as[String].collect().toSet
    assert(nestedAnd == Set("een"))
  }

  test("conversion/arithmetic/probability FQCNs run with reference configs") {
    val flow = """
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"n": 1, "s": "2"}, {"n": 3, "s": "4"}, {"n": 5, "s": "6"}
        ]}, "next": ["c1"]} ],
      "processors": [
        {"id": "c1", "name": "tuktu.processors.ConvertAnyToStringProcessor",
         "result": "n_str", "config": {"field": "n"}, "next": ["c2"]},
        {"id": "c2", "name": "tuktu.processors.arithmetics.NumberToNumberProcessor",
         "result": "s_dbl", "config": {"field": "s", "target_type": "Double"},
         "next": ["c3"]},
        {"id": "c3", "name": "tuktu.processors.arithmetics.ArithmeticAggregateProcessor",
         "result": "agg", "config": {"calculate": "avg(${n}) + 1",
           "do_rounding": true, "number_of_decimals": 1}, "next": ["c4"]},
        {"id": "c4", "name": "tuktu.processors.statistics.NumberWithProbabilityProcessor",
         "result": "draw", "config": {"numbers": [
           {"number": 7, "probability": 1.0}, {"number": 9, "probability": 1.0}
         ]}, "next": []} ] }"""
    val out = Flow.run(spark, flow).values.head.orderBy("n")
    val rows = out.collect()
    assert(rows.map(_.getAs[String]("n_str")).toSeq == Seq("1", "3", "5"))
    assert(rows.map(_.getAs[Double]("s_dbl")).toSeq == Seq(2.0, 4.0, 6.0))
    assert(rows.forall(_.getAs[Double]("agg") == 4.0)) // avg(1,3,5)+1
    assert(rows.forall(r => Set(7, 9).contains(r.getAs[Int]("draw"))))
  }

  test("time FQCNs: period adder on millis and string, duration in days") {
    val flow = """
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"ms": 86400000, "d": "2024-01-10", "from": "2024-01-01", "to": "2024-01-11"}
        ]}, "next": ["p1"]} ],
      "processors": [
        {"id": "p1", "name": "tuktu.processors.time.TimestampPeriodAdderProcessor",
         "result": "plus_day", "config": {"time_field": "ms", "days": "1"},
         "next": ["p2"]},
        {"id": "p2", "name": "tuktu.processors.time.TimestampPeriodAdderProcessor",
         "result": "plus_month", "config": {"time_field": "d",
           "format": "yyyy-MM-dd", "months": "1"}, "next": ["p3"]},
        {"id": "p3", "name": "tuktu.processors.time.DurationProcessor",
         "result": "days", "config": {"start": "${from}", "end": "${to}"},
         "next": ["p4"]},
        {"id": "p4", "name": "tuktu.processors.time.TimestampAdderProcessor",
         "result": "now_ms", "config": {}, "next": []} ] }"""
    val row = Flow.run(spark, flow).values.head.head
    assert(row.getAs[Long]("plus_day") == 2L * 86400000)
    assert(row.getAs[String]("plus_month") == "2024-02-10")
    assert(row.getAs[Int]("days") == 10)
    assert(row.getAs[Long]("now_ms") > 1700000000000L)
  }

  test("sample FQCNs: take, drop, reverse, stratified with sample_count") {
    def flow(proc: String) = s"""
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"v": 1, "cls": "a"}, {"v": 2, "cls": "a"}, {"v": 3, "cls": "a"},
          {"v": 4, "cls": "b"}, {"v": 5, "cls": "b"}
        ]}, "next": ["p"]} ],
      "processors": [ $proc ] }"""
    val take = Flow.runSingle(spark, flow(
      """{"id": "p", "name": "tuktu.processors.sample.TakeProcessor",
         "result": "", "config": {"amount": 2}, "next": []}"""))
    assert(take.count() == 2)
    val drop = Flow.runSingle(spark, flow(
      """{"id": "p", "name": "tuktu.processors.sample.DropProcessor",
         "result": "", "config": {"amount": 3}, "next": []}"""))
    assert(drop.select("v").as[Long].collect().toSet == Set(4L, 5L))
    val rev = Flow.runSingle(spark, flow(
      """{"id": "p", "name": "tuktu.processors.sample.ReverseProcessor",
         "result": "", "config": {}, "next": []}"""))
    assert(rev.select("v").as[Long].collect().toSeq == Seq(5L, 4L, 3L, 2L, 1L))
    val strat = Flow.runSingle(spark, flow(
      """{"id": "p", "name": "tuktu.processors.sample.StratifiedSamplingProcessor",
         "result": "", "config": {"class_field": "cls", "sample_count": 1}, "next": []}"""))
    assert(strat.count() == 2) // one per class
    assert(strat.select("cls").as[String].collect().toSet == Set("a", "b"))
  }

  test("datum/json/file FQCNs: merge, wrap, create, deep-merge, read, write") {
    val tmp = java.nio.file.Files.createTempDirectory("compat").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/in.txt"), "skipme\r\nline1\r\nline2")
    val flow = s"""
    {{ "generators": [
        {{"id": "g", "name": "list", "config": {{"rows": [
          {{"a": {{"x": 1, "y": "p"}}, "b": {{"y": "q"}}, "name": "n1", "path": "$tmp/in.txt"}}
        ]}}, "next": ["j1"]}} ],
      "processors": [
        {{"id": "j1", "name": "tuktu.processors.json.JSONCreatorProcessor",
         "result": "made", "config": {{"json": {{"tag": "$${name}"}}}}, "next": ["j2"]}},
        {{"id": "j2", "name": "tuktu.processors.json.JSONMergerProcessor",
         "result": "merged", "config": {{"fields": ["a", "b"]}}, "next": ["f1"]}},
        {{"id": "f1", "name": "tuktu.processors.FileReaderProcessor",
         "result": "content", "config": {{"filename": "$${path}", "start_line": 1}},
         "next": ["w1"]}},
        {{"id": "w1", "name": "tuktu.processors.FileStreamProcessor",
         "result": "", "config": {{"file_name": "$tmp/out",
           "fields": ["name"], "field_separator": ";"}}, "next": []}} ] }}"""
      .replace("{{", "{").replace("}}", "}")
    val row = Flow.run(spark, flow).values.head.head
    assert(row.getAs[String]("made") == """{"tag":"n1"}""")
    val merged = row.getAs[org.apache.spark.sql.Row]("merged")
    assert(merged.getAs[Long]("x") == 1L && merged.getAs[String]("y") == "q")
    assert(row.getAs[String]("content") == "line1\r\nline2")
    assert(spark.read.text(s"$tmp/out").as[String].collect().toSeq == Seq("n1"))
    // whole-packet fold: last non-null per column wins
    val dm = Flow.runSingle(spark, """
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"k": "a", "v": 1}, {"k": "b"}, {"v": 3}
        ]}, "next": ["m"]} ],
      "processors": [
        {"id": "m", "name": "tuktu.processors.DatumMergeProcessor",
         "result": "", "config": {}, "next": []} ] }""")
    val one = dm.head
    assert(dm.count() == 1)
    assert(one.getAs[String]("k") == "b" && one.getAs[Long]("v") == 3L)
  }

  test("IfThenElseProcessor compiles then/else sub-flow configs statically") {
    val repo = Files.createTempDirectory("cfgrepo")
    Files.write(repo.resolve("then_branch.json"),
      """{"processors": [
          {"id": "t0", "name": "tuktu.processors.FieldConstantAdderProcessor",
           "result": "branch", "config": {"value": "then"}, "next": []} ]}""".getBytes)
    // two-step else pipeline: the sub-DAG follows `next` links
    Files.write(repo.resolve("else_branch.json"),
      """{"processors": [
          {"id": "e0", "name": "tuktu.processors.FieldConstantAdderProcessor",
           "result": "branch", "config": {"value": "else"}, "next": ["e1"]},
          {"id": "e1", "name": "tuktu.processors.ReplaceProcessor",
           "result": "branch",
           "config": {"field": "branch", "sources": ["else"], "targets": ["ELSE"]},
           "next": []} ]}""".getBytes)
    val prev = graft.engine.TuktuCompat.configRepo
    graft.engine.TuktuCompat.configRepo = repo.toString
    try {
      val flow = """
      { "generators": [
          {"id": "g", "name": "list", "config": {"rows": [
            {"v": 1}, {"v": 2}, {"v": 3}, {"v": 4}
          ]}, "next": ["ite"]} ],
        "processors": [
          {"id": "ite", "name": "tuktu.processors.meta.IfThenElseProcessor",
           "result": "result",
           "config": {"expression": "${v} > 2",
             "then_pipeline": {"config": "then_branch", "start": "t0"},
             "else_pipeline": {"config": "else_branch", "start": "e0"}},
           "next": []} ] }"""
      val out = Flow.runSingle(spark, flow).select("v", "branch").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(out == Map(1L -> "ELSE", 2L -> "ELSE", 3L -> "then", 4L -> "then"))

      // unparseable expression: the whole packet takes `default`
      // (IfThenElseProcessor.scala:56-66 warns and falls back per datum)
      val flowDefault = """
      { "generators": [
          {"id": "g", "name": "list", "config": {"rows": [ {"v": 1}, {"v": 9} ]},
           "next": ["ite"]} ],
        "processors": [
          {"id": "ite", "name": "tuktu.processors.meta.IfThenElseProcessor",
           "result": "result",
           "config": {"expression": "${nope} %%% garbage", "default": true,
             "then_pipeline": {"config": "then_branch", "start": "t0"},
             "else_pipeline": {"config": "else_branch", "start": "e0"}},
           "next": []} ] }"""
      val branches = Flow.runSingle(spark, flowDefault)
        .select("branch").as[String].collect().toSeq
      assert(branches == Seq("then", "then"))
    } finally graft.engine.TuktuCompat.configRepo = prev
  }

  test("CachingProcessor attaches this run's sub-flow rows") {
    // nothing is kept across runs under cache_key: a second run over the
    // rewritten input file attaches the new mean, not the first run's
    val in = Files.createTempDirectory("compat_cache").resolve("in.json")
    val flow = s"""
    { "generators": [
        {"id": "g", "name": "json", "config": {"path": "$in"}, "next": ["cp"]} ],
      "processors": [
        {"id": "cp", "name": "tuktu.processors.cache.CachingProcessor",
         "result": "cached",
         "config": {"cache_key": "compat_cache_mean", "result_field": "v",
           "start": "c0",
           "processors": [
             {"id": "c0", "name": "tuktu.processors.bucket.statistics.MeanProcessor",
              "result": "", "config": {"fields": ["v"]}, "next": []} ]},
         "next": []} ] }"""
    // every datum keeps its row, with the packet's mean attached
    def attached(vs: Int*): Seq[Seq[Double]] = {
      Files.write(in, vs.map(v => s"""{"v": $v}""").mkString("\n").getBytes)
      Flow.runSingle(spark, flow).select("cached").collect().toSeq
        .map(_.getSeq[org.apache.spark.sql.Row](0).map(_.getDouble(0)))
    }
    assert(attached(1, 2, 3) == Seq.fill(3)(Seq(2.0)))
    assert(attached(10, 20) == Seq.fill(2)(Seq(15.0)))
  }

  test("ParallelProcessor compiles inline pipelines and merges per the named merger") {
    // two single-step pipelines over the same packet; SimpleMerger zips
    // their rows positionally, the later pipeline's fields overwriting
    val flow = """
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"v": 1}, {"v": 2}
        ]}, "next": ["par"]} ],
      "processors": [
        {"id": "par", "name": "tuktu.processors.meta.ParallelProcessor",
         "result": "result",
         "config": {"merger": "tuktu.processors.merge.SimpleMerger",
           "processors": [
             {"start": "a0", "pipeline": [
               {"id": "a0", "name": "tuktu.processors.FieldConstantAdderProcessor",
                "result": "left", "config": {"value": "L"}, "next": []} ]},
             {"start": "b0", "pipeline": [
               {"id": "b0", "name": "tuktu.processors.FieldConstantAdderProcessor",
                "result": "right", "config": {"value": "R"}, "next": []} ]} ]},
         "next": []} ] }"""
    val out = Flow.runSingle(spark, flow).orderBy("v").collect()
    assert(out.map(r => (r.getAs[Long]("v"), r.getAs[String]("left"),
      r.getAs[String]("right"))).toSeq == Seq((1L, "L", "R"), (2L, "L", "R")))

    // SerialMerger concatenates instead
    val serial = Flow.runSingle(spark,
      flow.replace("SimpleMerger", "SerialMerger"))
    assert(serial.count() == 4)
  }

  test("ParallelConfigProcessor loads pipeline configs with #{} replacements") {
    val repo = Files.createTempDirectory("cfgrepo2")
    Files.write(repo.resolve("tagger.json"),
      """{"processors": [
          {"id": "t0", "name": "tuktu.processors.FieldConstantAdderProcessor",
           "result": "tag", "config": {"value": "#{tagval}"}, "next": []} ]}""".getBytes)
    val prev = graft.engine.TuktuCompat.configRepo
    graft.engine.TuktuCompat.configRepo = repo.toString
    try {
      val flow = """
      { "generators": [
          {"id": "g", "name": "list", "config": {"rows": [ {"v": 1}, {"v": 2} ]},
           "next": ["pc"]} ],
        "processors": [
          {"id": "pc", "name": "tuktu.processors.meta.ParallelConfigProcessor",
           "result": "result",
           "config": {"merger": "tuktu.processors.merge.SimpleMerger",
             "replacements": [{"source": "tagval", "target": "from-global"}],
             "pipelines": [
               {"config_path": "tagger", "start": ["t0"],
                "replacements": [{"source": "tagval", "target": "from-local"}]} ]},
           "next": []} ] }"""
      val out = Flow.runSingle(spark, flow).orderBy("v")
        .select("v", "tag").collect()
      // local replacements override the global ones (map concat order)
      assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "from-local"), (2L, "from-local")))
    } finally graft.engine.TuktuCompat.configRepo = prev
  }

  test("dlib FQCNs: XSLT transformation and struct map merging") {
    // XSLT: extract a nested element's text via a real JAXP stylesheet
    val dir = Files.createTempDirectory("xslt")
    Files.writeString(dir.resolve("pick.xsl"),
      """<?xml version="1.0"?>
        |<xsl:stylesheet version="1.0" xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
        |  <xsl:output method="text"/>
        |  <xsl:template match="/">name=<xsl:value-of select="/rec/name"/></xsl:template>
        |</xsl:stylesheet>""".stripMargin)
    val xsltFlow = s"""
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"doc": "<rec><name>alpha</name><v>1</v></rec>"},
          {"doc": "<rec><name>beta</name></rec>"}
        ]}, "next": ["x"]} ],
      "processors": [
        {"id": "x", "name": "tuktu.dlib.processors.XSLTProcessor",
         "result": "text", "config": {"xsl": "${dir.resolve("pick.xsl")}", "xml": "doc"},
         "next": []} ] }"""
    val xs = Flow.runSingle(spark, xsltFlow).select("text").as[String]
      .collect().toSet
    assert(xs == Set("name=alpha", "name=beta"))

    // MapMerger: priority map1 = reference's m1 ++ m2 (the second wins)
    def mergeFlow(priority: String) = s"""
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"m1": {"a": 1, "b": 2}, "m2": {"b": 9, "c": 3}}
        ]}, "next": ["mm"]} ],
      "processors": [
        {"id": "mm", "name": "tuktu.dlib.processors.MapMergerProcessor",
         "result": "merged",
         "config": {"map1": "m1", "map2": "m2", "priority": "$priority"},
         "next": []} ] }"""
    val r1 = Flow.runSingle(spark, mergeFlow("map1")).select("merged.*").head
    assert((r1.getAs[Long]("a"), r1.getAs[Long]("b"), r1.getAs[Long]("c")) == (1L, 9L, 3L))
    val r2 = Flow.runSingle(spark, mergeFlow("map2")).select("merged.*").head
    assert((r2.getAs[Long]("a"), r2.getAs[Long]("b"), r2.getAs[Long]("c")) == (1L, 2L, 3L))
    val comb = intercept[UnsupportedOperationException] {
      Flow.runSingle(spark, mergeFlow("map1").replace(""", "priority": "map1"""", ""))
    }
    assert(comb.getMessage.contains("combine"))

    // an explicitly-null field in the WINNING map still overwrites (the
    // reference's m1 ++ m2 is unconditional — JsNull wins over a value)
    val nullFlow = s"""
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"m1": {"a": 1, "b": 2}, "m2": {"b": null, "c": 3}}
        ]}, "next": ["mm"]} ],
      "processors": [
        {"id": "mm", "name": "tuktu.dlib.processors.MapMergerProcessor",
         "result": "merged",
         "config": {"map1": "m1", "map2": "m2", "priority": "map1"},
         "next": []} ] }"""
    val rn = Flow.runSingle(spark, nullFlow).select("merged.*").head
    assert(rn.getAs[Long]("a") == 1L && rn.isNullAt(rn.fieldIndex("b")) &&
      rn.getAs[Long]("c") == 3L)
  }

  test("tuktu.ml FQCNs: train → apply, then serialize/destroy/deserialize lifecycle") {
    val tmp = Files.createTempDirectory("mlcompat").toString
    val rows = (1 to 20).map { i =>
      val x1 = i.toDouble; val x2 = (i % 5).toDouble
      s"""{"vec": [$x1, $x2], "y": ${3.0 + 2.0 * x1 - x2}}"""
    }.mkString("[", ",", "]")
    val trainApply = s"""
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": $rows}, "next": ["train"]} ],
      "processors": [
        {"id": "train",
         "name": "tuktu.ml.processors.regression.LinearRegressionTrainProcessor",
         "result": "",
         "config": {"model_name": "lr_compat", "data_field": "vec", "label_field": "y"},
         "next": ["apply"]},
        {"id": "apply",
         "name": "tuktu.ml.processors.regression.LinearRegressionApplyProcessor",
         "result": "pred", "config": {"model_name": "lr_compat", "data_field": "vec"},
         "next": []} ] }"""
    val out = Flow.runSingle(spark, trainApply)
    assert(out.count() == 20)
    assert(out.select(expr("abs(pred - y)")).as[Double].collect().forall(_ < 1e-6))

    // serialize, destroy, reload under a new name, apply the reloaded model
    val lifecycle = s"""
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [{"vec": [4.0, 4.0], "y": 7.0}]},
         "next": ["ser"]} ],
      "processors": [
        {"id": "ser", "name": "tuktu.ml.processors.MLSerializeProcessor", "result": "",
         "config": {"model_name": "lr_compat", "file_name": "$tmp/lr"}, "next": ["des"]},
        {"id": "des",
         "name": "tuktu.ml.processors.regression.LinearRegressionDeserializeProcessor",
         "result": "",
         "config": {"model_name": "lr_reloaded", "file_name": "$tmp/lr"}, "next": ["kill"]},
        {"id": "kill", "name": "tuktu.ml.processors.MLDestroyProcessor", "result": "",
         "config": {"model_name": "lr_compat"}, "next": ["apply"]},
        {"id": "apply",
         "name": "tuktu.ml.processors.regression.LinearRegressionApplyProcessor",
         "result": "pred", "config": {"model_name": "lr_reloaded", "data_field": "vec"},
         "next": []} ] }"""
    val re = Flow.runSingle(spark, lifecycle).head
    assert(math.abs(re.getAs[Double]("pred") - 7.0) < 1e-6)
    intercept[IllegalArgumentException](
      graft.ml.ModelRegistry.get[org.apache.spark.ml.Transformer]("lr_compat")) // destroyed
    graft.ml.ModelRegistry.destroy("lr_reloaded")
  }

  test("tuktu.ml FQCNs: kmeans clustering, dummy variables, missing values, fpgrowth") {
    // kmeans: two well-separated blobs → consistent cluster ids per blob
    val pts = (Seq.tabulate(10)(i => s"""{"p": [${i % 3 * 0.1}, 0.0]}""") ++
               Seq.tabulate(10)(i => s"""{"p": [${50 + i % 3 * 0.1}, 50.0]}"""))
      .mkString("[", ",", "]")
    val km = s"""
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": $pts}, "next": ["train"]} ],
      "processors": [
        {"id": "train", "name": "tuktu.ml.processors.clustering.KMeansTrainProcessor",
         "result": "", "config": {"model_name": "km_compat", "data_field": "p", "k": 2},
         "next": ["apply"]},
        {"id": "apply", "name": "tuktu.ml.processors.clustering.KMeansApplyProcessor",
         "result": "cluster", "config": {"model_name": "km_compat", "data_field": "p"},
         "next": []} ] }"""
    val clusters = Flow.runSingle(spark, km)
      .select(col("p")(0).cast("int"), col("cluster").cast("int"))
      .as[(Int, Int)].collect()
    val byBlob = clusters.groupBy(_._1 >= 25).map { case (_, xs) => xs.map(_._2).toSet }
    assert(byBlob.forall(_.size == 1) && byBlob.toSet.size == 2)
    graft.ml.ModelRegistry.destroy("km_compat")

    // dummy variables: 0..max one-hot as digit string / list
    val dv = Flow.runSingle(spark, listFlow("""[{"v": 2}]""",
      """{"id": "p0", "name": "tuktu.ml.processors.preprocessing.DummyVariableProcessor",
         "result": "dum", "config": {"field": "v", "max": 4}, "next": []}"""))
    assert(dv.head.getAs[String]("dum") == "00100")

    // missing values: empty strings replaced per the typed chain
    val mv = Flow.runSingle(spark, listFlow(
      """[{"s": "", "n": 5}, {"s": "ok", "n": 6}]""",
      """{"id": "p0", "name": "tuktu.ml.processors.preprocessing.MissingvaluesProcessor",
         "result": "", "config": {"fields": ["s"],
           "replacements": [{"type": "string", "target": "filled"}]}, "next": []}"""))
    assert(mv.orderBy("n").select(col("s")).as[String].collect().toSeq ==
      Seq("filled", "ok"))

    // normalization: train per-field min/max, apply rescales in place;
    // the apply `fields` subset narrows the trained set
    val nm = Flow.runSingle(spark, listFlow(
      """[{"a": 0, "b": 10}, {"a": 5, "b": 20}, {"a": 10, "b": 30}]""",
      """{"id": "p0", "name": "tuktu.ml.processors.preprocessing.NormalizationTrainProcessor",
         "result": "", "config": {"model_name": "norm_compat", "fields": ["a", "b"],
           "min": 0.0, "max": 2.0}, "next": ["p1"]},
        {"id": "p1", "name": "tuktu.ml.processors.preprocessing.NormalizationApplyProcessor",
         "result": "", "config": {"model_name": "norm_compat", "fields": ["a"]},
         "next": []}"""))
    val rowsNm = nm.orderBy("a").select(col("a"), col("b")).as[(Double, Long)].collect()
    assert(rowsNm.toSeq == Seq((0.0, 10L), (1.0, 20L), (2.0, 30L))) // b untouched
    graft.ml.ModelRegistry.destroy("norm_compat")

    // hmm lifecycle: Baum-Welch train from priors → Viterbi decode struct →
    // seeded predict → serialize/deserialize round-trip
    val seqs = (0 until 8).map { i =>
      val syms = (0 until 30).map(t => if ((t / 10) % 2 == 0) (i + t) % 2 else 2 + (i + t) % 2)
      s"""{"obs": [${syms.mkString(",")}]}"""
    }.mkString("[", ",", "]")
    val hmmTmp = Files.createTempDirectory("hmmcompat").toString
    val hmmFlow = s"""
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": $seqs}, "next": ["train"]} ],
      "processors": [
        {"id": "train", "name": "tuktu.ml.processors.hmm.HMMTrainProcessor",
         "result": "", "config": {"model_name": "hmm_compat",
           "observations_field": "obs", "num_hidden": 2, "num_observable": 4,
           "priors": {"start": [0.5, 0.5],
             "transitions": [[0.7, 0.3], [0.3, 0.7]],
             "emissions": [[0.4, 0.4, 0.1, 0.1], [0.1, 0.1, 0.4, 0.4]]}},
         "next": ["ser"]},
        {"id": "ser", "name": "tuktu.ml.processors.MLSerializeProcessor", "result": "",
         "config": {"model_name": "hmm_compat", "file_name": "$hmmTmp/hmm.json"},
         "next": ["dec"]},
        {"id": "dec", "name": "tuktu.ml.processors.hmm.HMMApplyDecodeProcessor",
         "result": "viterbi",
         "config": {"model_name": "hmm_compat", "observations_field": "obs"},
         "next": ["pred"]},
        {"id": "pred", "name": "tuktu.ml.processors.hmm.HMMApplyPredictProcessor",
         "result": "walk", "config": {"model_name": "hmm_compat", "steps": 5},
         "next": []} ] }"""
    val hmmOut = graft.engine.Flow.runSingle(spark, hmmFlow)
    val first = hmmOut.head
    val vit = first.getAs[org.apache.spark.sql.Row]("viterbi")
    assert(vit.getAs[Double]("delta") > 0.0)
    assert(vit.getSeq[Int](1).size == 30) // one state per observation
    assert(first.getSeq[Int](first.fieldIndex("walk")).size == 5)
    // reload under a new name: decode agrees with the trained model
    val reloadFlow = s"""
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": $seqs}, "next": ["des"]} ],
      "processors": [
        {"id": "des", "name": "tuktu.ml.processors.hmm.HMMDeserializeProcessor",
         "result": "", "config": {"model_name": "hmm_reloaded",
           "file_name": "$hmmTmp/hmm.json"}, "next": ["dec"]},
        {"id": "dec", "name": "tuktu.ml.processors.hmm.HMMApplyDecodeProcessor",
         "result": "viterbi",
         "config": {"model_name": "hmm_reloaded", "observations_field": "obs"},
         "next": []} ] }"""
    val reSeq = graft.engine.Flow.runSingle(spark, reloadFlow)
      .select(col("viterbi.sequence")).collect().map(_.getSeq[Int](0)).toSeq
    val origSeq = hmmOut.select(col("viterbi.sequence")).collect()
      .map(_.getSeq[Int](0)).toSeq
    assert(reSeq == origSeq)
    graft.ml.ModelRegistry.destroy("hmm_compat")
    graft.ml.ModelRegistry.destroy("hmm_reloaded")

    // arima (q = 0 slice): train on the packet's last series, forecast
    // extends a linear trend exactly; q > 0 rejects with guidance
    val trend = (1 to 10).map(_ * 3.0).mkString("[", ",", "]")
    val ariTmp = Files.createTempDirectory("aricompat").toString
    val ariFlow = s"""
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [{"series": $trend}]},
         "next": ["train"]} ],
      "processors": [
        {"id": "train", "name": "tuktu.ml.processors.timeseries.ARIMATrainProcessor",
         "result": "", "config": {"model_name": "ari_compat", "data_field": "series",
           "p": 0, "d": 1, "q": 0}, "next": ["ser"]},
        {"id": "ser", "name": "tuktu.ml.processors.MLSerializeProcessor", "result": "",
         "config": {"model_name": "ari_compat", "file_name": "$ariTmp/ari.json"},
         "next": ["apply"]},
        {"id": "apply", "name": "tuktu.ml.processors.timeseries.ARIMAApplyProcessor",
         "result": "forecast",
         "config": {"model_name": "ari_compat", "data_field": "series", "n_future": 2},
         "next": []} ] }"""
    val fc = graft.engine.Flow.runSingle(spark, ariFlow).head
      .getSeq[Double](1)
    assert(fc == (1 to 12).map(_ * 3.0))
    // reload and apply under a new name: identical forecast
    val ariReload = s"""
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [{"series": $trend}]},
         "next": ["des"]} ],
      "processors": [
        {"id": "des", "name": "tuktu.ml.processors.timeseries.ARIMADeserializeProcessor",
         "result": "", "config": {"model_name": "ari_reloaded",
           "file_name": "$ariTmp/ari.json"}, "next": ["apply"]},
        {"id": "apply", "name": "tuktu.ml.processors.timeseries.ARIMAApplyProcessor",
         "result": "forecast",
         "config": {"model_name": "ari_reloaded", "data_field": "series", "n_future": 2},
         "next": []} ] }"""
    assert(graft.engine.Flow.runSingle(spark, ariReload).head.getSeq[Double](1) == fc)
    graft.ml.ModelRegistry.destroy("ari_compat")
    graft.ml.ModelRegistry.destroy("ari_reloaded")

    // arima q = 1: the CSS/Nelder-Mead ARMA path through the FQCN — the
    // registered model carries an MA coefficient and the forecast extends
    // the series with finite values
    val rnd5 = new scala.util.Random(5)
    val noisy = Iterator.iterate(2.0)(y => 1.0 + 0.6 * y + rnd5.nextGaussian() * 0.5)
      .take(80).toSeq
    val armaFlow = s"""
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"series": ${noisy.mkString("[", ",", "]")}}]}, "next": ["train"]} ],
      "processors": [
        {"id": "train", "name": "tuktu.ml.processors.timeseries.ARIMATrainProcessor",
         "result": "", "config": {"model_name": "arma_compat", "data_field": "series",
           "p": 1, "d": 0, "q": 1}, "next": ["apply"]},
        {"id": "apply", "name": "tuktu.ml.processors.timeseries.ARIMAApplyProcessor",
         "result": "forecast",
         "config": {"model_name": "arma_compat", "data_field": "series", "n_future": 3},
         "next": []} ] }"""
    val armaFc = graft.engine.Flow.runSingle(spark, armaFlow).head.getSeq[Double](1)
    assert(armaFc.length == noisy.length + 3)
    assert(armaFc.forall(v => !v.isNaN && !v.isInfinite))
    assert(graft.ml.ModelRegistry.get[graft.ml.AriTransformer]("arma_compat")
      .model.theta.length == 1)
    graft.ml.ModelRegistry.destroy("arma_compat")

    // changepoint: per-key timestamp-bucket means, hydra scan; one row per
    // bucket with {size, type} only where a change point landed
    val cpRows = (
      (0 until 6).map(t => s"""{"k": "a", "t": $t, "v": 10}""") ++
      (6 until 12).map(t => s"""{"k": "a", "t": $t, "v": 100}""") ++
      // duplicate timestamp bucket: values 8 and 12 mean to 10
      Seq("""{"k": "b", "t": 0, "v": 8}""", """{"k": "b", "t": 0, "v": 12}""") ++
      (1 until 12).map(t => s"""{"k": "b", "t": $t, "v": 10}""")
    ).mkString("[", ",", "]")
    val cpFlow = s"""
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": $cpRows}, "next": ["cp"]} ],
      "processors": [
        {"id": "cp", "name": "tuktu.ml.processors.timeseries.ChangePointProcessor",
         "result": "change",
         "config": {"key": ["k"], "timestamp_field": "t", "value_field": "v",
           "min_change": "20", "min_ratio": "0.5", "min_z_score": "3",
           "inactive_threshold": "1", "window_size": "4"},
         "next": []} ] }"""
    val cpOut = Flow.runSingle(spark, cpFlow)
    assert(cpOut.count() == 24) // one row per (key, timestamp) bucket
    val hits = cpOut.filter(col("change").isNotNull)
      .select(col("k"), col("t"), col("change.type")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(hits.toSeq == Seq(("a", 6L, "RISE"))) // flat series b stays clean

    // fpgrowth: packet becomes one row per frequent itemset (absolute support)
    val fp = Flow.runSingle(spark, listFlow(
      """[{"items": [1, 2]}, {"items": [1, 2, 3]}, {"items": [1, 4]}]""",
      """{"id": "p0", "name": "tuktu.ml.processors.association.FPGrowthProcessor",
         "result": "freq", "config": {"field": "items", "min_support": 2}, "next": []}"""))
    val sets = fp.collect().map(r =>
      (r.getSeq[Long](0).toSet, r.getLong(1))).toMap
    assert(sets(Set(1L)) == 3L && sets(Set(1L, 2L)) == 2L && !sets.contains(Set(3L)))
  }

  private def fpGrowthFlow(rowsJson: String, minSupport: Int): DataFrame =
    Flow.runSingle(spark, listFlow(rowsJson,
      s"""{"id": "p0", "name": "tuktu.ml.processors.association.FPGrowthProcessor",
         "result": "freq", "config": {"field": "items", "min_support": $minSupport},
         "next": []}"""))

  test("FPGrowthProcessor keeps an itemset seen exactly min_support times") {
    // 25 packets: {a, b} 7 times, {b} 3 times, 15 singletons. As a relative
    // support 7/25, ceil(0.28 · 25) is 8 in floating point, which dropped
    // {a} and {a, b}.
    val rows = (Seq.fill(7)("""{"items": ["a", "b"]}""") ++ Seq.fill(3)("""{"items": ["b"]}""") ++
      (0 until 15).map(i => s"""{"items": ["z$i"]}""")).mkString("[", ",", "]")
    val sets = fpGrowthFlow(rows, 7).collect()
      .map(r => r.getSeq[String](0).sorted.mkString(",") -> r.getLong(1)).toMap
    assert(sets == Map("a" -> 7L, "b" -> 10L, "a,b" -> 7L))
  }

  test("FPGrowthProcessor with min_support above the packet size yields no itemsets") {
    val out = fpGrowthFlow("""[{"items": [1, 2]}, {"items": [1]}, {"items": [1]}]""", 5)
    assert(out.columns.toSeq == Seq("freq_items", "freq_support"))
    assert(out.isEmpty)
  }

  test("pinning table: each FQCN entry no other spec names runs a minimal reference config") {
    // one row per entry: processors over a three-row `list` fixture, the
    // output column(s) rendered as strings in `k` order, and the values
    // the entry gives. Mismatches are collected so one run shows them all.
    val base = """[
      {"k": "a", "x": 1, "y": 4, "s": "1;2", "xml": "<r><p>1</p><q>x</q></r>",
       "t": "the cat sat on the mat", "toks": ["The", "cat", ",", "sat", "😀"],
       "pos": ["DT", "NN", ",", "VBD", "SYM"]},
      {"k": "b", "x": 2, "y": 6, "s": "3;4", "xml": "<r><p>2</p></r>",
       "t": "der hund und die katze", "toks": ["a", "happy", "dog", "!"],
       "pos": ["DT", "JJ", "NN", "."]},
      {"k": "c", "x": 3, "y": 11, "s": "5;6", "xml": "<r/>",
       "t": "le chat est sur le tapis", "toks": ["Café", "is", "bad"],
       "pos": ["NN", "VBZ", "JJ"]}]"""
    val ml = """[{"k": "a", "v": [0.0], "y": 0.0, "z": 1.0},
      {"k": "b", "v": [1.0], "y": 0.0, "z": 3.0},
      {"k": "c", "v": [10.0], "y": 1.0, "z": 21.0}]"""
    def proc(name: String, config: String, id: String = "p0", next: String = ""): String =
      s"""{"id": "$id", "name": "$name", "result": "r", "config": $config,
           "next": [${if (next.isEmpty) "" else "\"" + next + "\""}]}"""
    def byK(cols: String*)(df: DataFrame): Seq[String] =
      df.orderBy("k").select(concat_ws(":", cols.map(c => col(c).cast("string")): _*))
        .as[String].collect().toSeq
    def oneRow(cols: String*)(df: DataFrame): Seq[String] =
      df.select(cols.map(c => format_number(col(c), 6)): _*).collect().toSeq
        .flatMap(_.toSeq.map(_.toString))
    def trainApply(pkg: String, model: String, config: String, label: String) =
      proc(s"tuktu.ml.processors.$pkg.${model}TrainProcessor",
        s"""{"model_name": "pin_$model", "data_field": "v", "label_field": "$label"$config}""",
        next = "p1") + "," +
      proc(s"tuktu.ml.processors.$pkg.${model}ApplyProcessor",
        s"""{"model_name": "pin_$model", "data_field": "v"}""", id = "p1")
    val out = java.nio.file.Files.createTempDirectory("pin_fs").toString + "/out"
    val passThrough = Seq("EOFBufferProcessor", "TimeBufferProcessor",
      "DataPacketSplitterProcessor", "DelayProcessor", "CountEOFProcessor",
      "RemoveEmptyPacketProcessor").map(n =>
      (base, proc(s"tuktu.processors.$n", "{}"), byK("k", "x") _, Seq("a:1", "b:2", "c:3")))
    val stats = "tuktu.processors.bucket.statistics"
    val classes = Seq("a:0.0", "b:0.0", "c:1.0")
    val pins: Seq[(String, String, DataFrame => Seq[String], Seq[String])] = passThrough ++ Seq(
      (base, proc(s"$stats.MedianProcessor", """{"fields": ["x", "y"]}"""),
        oneRow("x", "y") _, Seq("2.000000", "6.000000")),
      (base, proc(s"$stats.MidrangeProcessor", """{"fields": ["x", "y"]}"""),
        oneRow("x", "y") _, Seq("2.000000", "7.500000")),
      (base, proc(s"$stats.StDevProcessor", """{"fields": ["x", "y"]}"""),
        oneRow("x", "y") _, Seq("0.816497", "2.943920")),
      (base, proc(s"$stats.VarProcessor", """{"fields": ["x", "y"]}"""),
        oneRow("x", "y") _, Seq("0.666667", "8.666667")),
      (base, proc("tuktu.processors.arithmetics.MaxFieldByValueProcessor",
        """{"fields": ["x", "y"]}"""), byK("r") _, Seq("4", "6", "11")),
      (base, proc("tuktu.processors.GroupByProcessor", """{"fields": ["k"]}"""),
        byK("k", "y") _, Seq("a:4", "b:6", "c:11")),
      (base, proc("tuktu.processors.UUIDAdderProcessor", "{}"),
        (df: DataFrame) => Seq(df.select(countDistinct("r")).head.get(0).toString) ++
          byK("k")(df.filter(length(col("r")) === 36)), Seq("3", "a", "b", "c")),
      (base, proc("tuktu.processors.XmlToMapProcessor", """{"field": "xml"}"""),
        byK("r") _, Seq("{p -> 1, q -> x}", "{p -> 2}", "{}")),
      (base, proc("tuktu.processors.DatumToFieldProcessor", "{}"),
        (df: DataFrame) => df.columns.toSeq ++ df.select("r.k", "r.y")
          .orderBy("k").as[(String, Long)].collect().map(_.toString),
        Seq("r", "(a,4)", "(b,6)", "(c,11)")),
      (base, proc("tuktu.processors.EvaluateNestedTuktuExpressionsProcessor",
        """{"expression": "${k}-${x}"}"""), byK("r") _, Seq("a-1", "b-2", "c-3")),
      (base, proc("tuktu.processors.BatchedFileStreamProcessor",
        s"""{"file_name": "$out", "fields": ["k", "x"], "field_separator": "|"}"""),
        (df: DataFrame) => byK("k")(df) ++
          spark.read.text(out).as[String].collect().sorted,
        Seq("a", "b", "c", "a|1", "b|2", "c|3")),
      (base, proc("tuktu.csv.processors.CSVReaderProcessor",
        """{"field": "s", "headers": ["p", "q"]}"""), byK("k", "p", "q", "s") _,
        Seq("a:1:2:1;2", "b:3:4:3;4", "c:5:6:5;6")),
      (base, proc("tuktu.nlp.processors.LangDetProcessor", """{"field": "t"}"""),
        byK("r") _, Seq("en", "de", "fr")),
      // Dutch has no marker words: every language scores 0
      ("""[{"k": "a", "t": "de kat zat op de mat"}]""",
        proc("tuktu.nlp.processors.LangDetProcessor", """{"field": "t"}"""),
        byK("r") _, Seq("und")),
      (base, proc("tuktu.nlp.processors.RBEMEmotionProcessor",
        """{"language": "en", "tokens": "toks", "pos": "pos"}"""), byK("r") _,
        Seq("{happiness -> 0.0, sadness -> 0.0, anger -> 0.0, fear -> 0.0}",
          "{happiness -> 1.0, sadness -> 0.0, anger -> 0.0, fear -> 0.0}",
          "{happiness -> 0.0, sadness -> 0.0, anger -> 0.0, fear -> 0.0}")),
      (base, proc("tuktu.nlp.processors.cleanup.EmojiRemoverProcessor",
        """{"field": "toks"}"""), byK("r") _,
        Seq("[The, cat, ,, sat, ]", "[a, happy, dog, !]", "[Café, is, bad]")),
      (base, proc("tuktu.nlp.processors.cleanup.NCharsRemoverProcessor",
        """{"field": "toks", "n": 2}"""), byK("r") _,
        Seq("[The, cat, sat]", "[happy, dog]", "[Café, bad]")),
      (base, proc("tuktu.nlp.processors.cleanup.OddCharacterRemoverProcessor",
        """{"field": "toks"}"""), byK("r") _,
        Seq("[The, cat, , sat, ]", "[a, happy, dog, ]", "[Cafe, is, bad]")),
      (base, proc("tuktu.nlp.processors.cleanup.PunctuationRemoverProcessor",
        """{"field": "toks"}"""), byK("r") _,
        Seq("[The, cat, sat, 😀]", "[a, happy, dog]", "[Café, is, bad]")),
      (base, proc("tuktu.nlp.processors.cleanup.StopwordRemoverProcessor",
        """{"field": "toks", "lang": "en"}"""), byK("r") _,
        Seq("[The, cat, ,, sat, 😀]", "[happy, dog, !]", "[Café, bad]")),
      (base, proc("tuktu.web.processors.RESTProcessor",
        """{"url": "http://127.0.0.1:1/x"}"""),
        (df: DataFrame) => byK("k")(df.filter(col("r_status") < 0)), Seq("a", "b", "c")),
      (base, proc("tuktu.web.processors.URLCheckerProcessor",
        """{"url": "http://127.0.0.1:1/x", "codes": [200]}"""), byK("r") _,
        Seq("false", "false", "false")),
      (base, proc("tuktu.processors.meta.ParallelProcessor",
        """{"merger": "tuktu.processors.merge.PaddingMerger", "processors": [
             {"start": "a0", "pipeline": [
               {"id": "a0", "name": "tuktu.processors.sample.TakeProcessor",
                "config": {"amount": 1}, "next": ["a1"]},
               {"id": "a1", "name": "tuktu.processors.FieldConstantAdderProcessor",
                "result": "left", "config": {"value": "L"}, "next": []} ]},
             {"start": "b0", "pipeline": [
               {"id": "b0", "name": "tuktu.processors.SkipProcessor",
                "config": {}, "next": []} ]} ]}"""), byK("k", "left") _, Seq("a:L", "b:L", "c:L")),
      (ml, trainApply("regression", "RidgeRegression", """, "lambda": 0.0""", "z"),
        (df: DataFrame) => byK("k", "r")(df.withColumn("r", round(col("r"), 6))),
        Seq("a:1.0", "b:3.0", "c:21.0")),
      (ml, trainApply("regression", "LogisticRegression", "", "y"), byK("k", "r") _, classes),
      (ml, trainApply("svm", "SVM", """, "penalty": 100.0""", "y"), byK("k", "r") _, classes),
      (ml, trainApply("decisiontrees", "DecisionTree", """, "max_nodes": 2""", "y"),
        byK("k", "r") _, classes),
      (ml, trainApply("decisiontrees", "GradientTreeBoost",
        """, "num_trees": 3, "shrinkage": 1.0, "sampling_rate": 1.0""", "y"), byK("k", "r") _,
        classes))
    val bad = pins.flatMap { case (rows, procs, render, expected) =>
      val got = render(Flow.runSingle(spark, listFlow(rows, procs)))
      if (got == expected) None
      else Some(s"$procs\n  got ${got.map("\"" + _ + "\"").mkString(", ")}")
    }
    Seq("RidgeRegression", "LogisticRegression", "SVM", "DecisionTree", "GradientTreeBoost")
      .foreach(m => graft.ml.ModelRegistry.destroy(s"pin_$m"))
    assert(bad.isEmpty, bad.mkString("\n"))

    // the one generator no other spec names
    val dummy = Flow.runSingle(spark, """{ "generators": [
      {"id": "g", "name": "tuktu.generators.DummyGenerator", "result": "r",
       "config": {"message": "hi", "max_amount": 2}, "next": []} ] }""")
    assert(dummy.as[String].collect().toSeq == Seq("hi", "hi"))

    // a rejecting mode of an executing entry fails with its reason
    val groovy = intercept[IllegalArgumentException](Flow.runSingle(spark, listFlow(base,
      proc("tuktu.processors.PacketFilterProcessor",
        """{"type": "groovy", "expression": "true"}"""))))
    assert(groovy.getMessage.contains("groovy expressions are not supported"))
  }
}
