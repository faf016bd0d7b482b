package graft.engine

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/**
 * Compatibility layer: executes flow nodes whose `name` is a reference FQCN
 * (e.g. `tuktu.processors.FieldFilterProcessor`) with the reference's OWN
 * config schema, adapted onto the operator library — so existing flow
 * configs run unchanged through [[Flow]]. Config schemas transcribed from
 * the reference sources (app/tuktu/processors/BaseProcessors.scala,
 * ConvertTo….scala, the bucket directory) and its test corpus
 * (test/tuktu/test/processor/tests/BaseProcessorTestSuite.scala,
 * BufferProcessorTestSuite.scala).
 *
 * Batch-model notes (the reference streams DataPackets; we run one
 * DataFrame per flow):
 *  - "per DataPacket" semantics map to the whole frame (it IS the packet);
 *  - packet-order-dependent processors use the scalable layout index
 *    ([[Ops.indexByLayout]]) as the reference's arrival order;
 *  - processors whose OUTPUT SCHEMA depends on data values
 *    (ListJsonFetcherProcessor) are rejected with a clear error — a
 *    DataFrame schema is static by design.
 */
object TuktuCompat {

  private def arr(n: JsonNode, k: String): Seq[JsonNode] =
    Option(n.get(k)).map(_.elements().asScala.toSeq).getOrElse(Nil)
  private def str(n: JsonNode, k: String): Option[String] = Option(n.get(k)).map(_.asText)
  private def strs(n: JsonNode, k: String): Seq[String] = arr(n, k).map(_.asText)
  private def bool(n: JsonNode, k: String): Boolean =
    Option(n.get(k)).exists(_.asBoolean)
  private def pathList(n: JsonNode): Seq[String] = {
    // JsonFetcher contract (BaseProcessors.scala:247-252): a single-element
    // path containing dots is itself a dotted path
    val p = n.get("path").elements().asScala.map(_.asText).toSeq
    if (p.size == 1) p.head.split('.').toSeq else p
  }
  private def pathOf(n: JsonNode): String = pathList(n).mkString(".")
  private def uniq(prefix: String): String =
    prefix + "_" + java.util.UUID.randomUUID.toString.take(8)

  def isCompat(name: String): Boolean = name.startsWith("tuktu.")

  /** Sub-flow config repository for meta-processors that reference pipeline
    * configs by NAME (ref modules/api/app/tuktu/api/utils.scala:605 — the
    * Play `tuktu.configrepo` setting, default "configs"): resolved as
    * `<configRepo>/<name>.json`. Hosts and tests point this at their flow
    * config directory. */
  @volatile var configRepo: String = "configs"

  private def loadConfigRaw(name: String): String = {
    val fn = if (name.endsWith(".json")) name else name + ".json"
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(configRepo, fn)), java.nio.charset.StandardCharsets.UTF_8)
  }

  private def loadConfig(name: String): JsonNode =
    Flow.mapper.readTree(loadConfigRaw(name))

  /** Processor-array JSON → Flow nodes; an id-less node is `p<index>`. */
  private def flowNodes(procs: Seq[JsonNode]): Seq[Flow.Node] = Flow.nodes(procs, "p")

  /** Navigate a (possibly nested) path from the row root. */
  private def colPath(path: Seq[String]): Column =
    path.tail.foldLeft(col(s"`${path.head}`"))(_.getField(_))

  /** Keep a whole packet iff at least `minCount` rows satisfy `cond` —
    * the reference's `batch`/`batch_min_count` filter mode
    * (BaseProcessors.scala:415-425). Broadcast count gate, no driver action. */
  private def batchGate(df: DataFrame, cond: Column, minCount: Long): DataFrame = {
    val g = uniq("__gate")
    df.crossJoin(broadcast(df.filter(cond).select(count(lit(1)).as(g))))
      .filter(col(g) >= minCount).drop(g)
  }

  // ---------------------------------------------------------------- generators
  def generator(spark: SparkSession, node: Flow.Node): DataFrame = {
    val c = node.config
    node.name match {
      // ref: app/tuktu/generators/DummyGenerator.scala:120-139
      case "tuktu.generators.ListGenerator" =>
        import spark.implicits._
        arr(c, "values").map(_.asText).toDF(node.result)
      // ref: DummyGenerator.scala:34-86 (batch mode)
      case "tuktu.generators.DummyGenerator" =>
        val n = Option(c.get("max_amount")).map(_.asLong).getOrElse(1L)
        val v = str(c, "message").orElse(str(c, "value")).getOrElse("")
        spark.range(n).select(lit(v).as(node.result))
      // ref: app/tuktu/generators/FileGenerators.scala:79 —
      // {filename, start_line?, end_line?}; one line per row under result
      case "tuktu.generators.LineGenerator" =>
        graft.sources.Sources.lines(spark, str(c, "filename").get,
          startLine = Option(c.get("start_line")).map(_.asLong),
          endLine = Option(c.get("end_line")).map(_.asLong))
          .withColumnRenamed("value", node.result)

      // ref: modules/csv/app/tuktu/csv/generators/CsvGenerator.scala:111 —
      // {filename, has_headers?, predef_headers?, separator?(default ';'),
      //  quote?, escape?, start_line?, end_line?}
      case "tuktu.csv.generators.CSVGenerator" =>
        val base = graft.sources.Sources.csv(spark, str(c, "filename").get,
          header = bool(c, "has_headers"),
          sep = str(c, "separator").getOrElse(";"),
          quote = str(c, "quote").getOrElse("\""),
          escape = str(c, "escape").getOrElse("\\"),
          startLine = Option(c.get("start_line")).map(_.asLong),
          endLine = Option(c.get("end_line")).map(_.asLong))
        val predef = strs(c, "predef_headers")
        if (predef.nonEmpty) base.toDF(predef: _*) else base

      // ref: modules/csv/app/tuktu/csv/generators/flattening/{Csv,Xls,Xlsx}
      // Generator.scala + Common.parseHierarchy + locators/SimpleLocators
      // .scala — {filename, value_name, locators:[{name,type,params}],
      // flattened?, data_start_col, data_end_col?, end_field:{column,value},
      // sheet_name (xls/xlsx), separator? (csv), password? (xls extension)}.
      // Locator state is per-file by contract, so the hierarchy is a fresh
      // closure per invocation (the () => shape the readers require).
      case "tuktu.csv.generators.flattening.CsvGenerator"
         | "tuktu.csv.generators.flattening.XlsGenerator"
         | "tuktu.csv.generators.flattening.XlsxGenerator" =>
        import graft.sources.Spreadsheet
        // parse the locator specs EAGERLY into plain serializable values —
        // the hierarchy closure ships to executors and must not capture
        // the Jackson config tree
        val locSpecs: List[(String, String, Map[String, Int], Option[String])] =
          arr(c, "locators").toList.map { loc =>
            val name = str(loc, "name").getOrElse(throw new IllegalArgumentException(
              "flattening locator needs a name"))
            val p = Option(loc.get("params")).getOrElse(
              throw new IllegalArgumentException(
                s"locator '$name' needs a params object"))
            def pi(k: String): Option[Int] = Option(p.get(k)).map(_.asInt)
            val ints = Seq("offset", "row_start", "row_end", "row", "col", "step")
              .flatMap(k => pi(k).map(k -> _)).toMap
            (name, str(loc, "type").getOrElse(throw new IllegalArgumentException(
              s"locator '$name' needs a type")), ints,
              Option(p.get("split")).map(_.asText))
          }
        def need(ints: Map[String, Int], name: String, k: String): Int =
          ints.getOrElse(k, throw new IllegalArgumentException(
            s"locator '$name' params needs '$k'"))
        def hierarchy(): List[Spreadsheet.ParseNode] =
          locSpecs.map { case (name, tpe, ints, split) =>
            tpe match {
              case "tuktu.csv.locators.Column" =>
                Spreadsheet.columnLocator(name, need(ints, name, "offset"),
                  ints.getOrElse("row_start", 0), ints.get("row_end"))
              case "tuktu.csv.locators.Row" =>
                Spreadsheet.rowLocator(name, need(ints, name, "offset"))
              case "tuktu.csv.locators.CellRangeSplitter" =>
                Spreadsheet.cellRangeSplitter(name, need(ints, name, "row"),
                  need(ints, name, "col"),
                  split.getOrElse(throw new IllegalArgumentException(
                    s"locator '$name' params needs 'split'")),
                  ints.getOrElse("step", 1))
              case other => throw new IllegalArgumentException(
                s"unknown locator type: $other")
            }
          }
        val fileName = str(c, "filename").getOrElse(
          throw new IllegalArgumentException("flattening generator needs filename"))
        val valueName = str(c, "value_name").getOrElse(
          throw new IllegalArgumentException("flattening generator needs value_name"))
        val dataColStart = Option(c.get("data_start_col")).map(_.asInt).getOrElse(
          throw new IllegalArgumentException("flattening generator needs data_start_col"))
        val dataColEnd = Option(c.get("data_end_col")).map(_.asInt)
        val endFieldCol = Option(c.get("end_field"))
          .map(_.get("column").asInt).getOrElse(-1)
        val endField = Option(c.get("end_field"))
          .map(_.get("value").asText).orNull
        // the reference's opencsv takes a CHAR — a multi-char separator
        // would silently truncate to its head there; reject loudly instead.
        // quote/escape ride through to the line parser with the reference's
        // own defaults (flattening/CsvGenerator.scala:90-98)
        val sep = str(c, "separator").getOrElse(";")
        require(sep.length == 1,
          s"flattening CsvGenerator separator must be one character, got '$sep'")
        def charOpt(k: String, dflt: Char): Char = str(c, k) match {
          case None => dflt
          case Some(v) =>
            require(v.length == 1,
              s"flattening CsvGenerator $k must be one character, got '$v'")
            v.head
        }
        val flat = node.name match {
          case "tuktu.csv.generators.flattening.CsvGenerator" =>
            Spreadsheet.csvFlattened(spark, fileName, valueName,
              dataColStart, dataColEnd, () => hierarchy(), sep = sep.head,
              endFieldCol = endFieldCol, endField = endField,
              quote = charOpt("quote", '"'), escape = charOpt("escape", '\\'))
          case "tuktu.csv.generators.flattening.XlsxGenerator" =>
            Spreadsheet.xlsxFlattened(spark, fileName, str(c, "sheet_name"),
              valueName, dataColStart, dataColEnd, () => hierarchy(),
              endFieldCol = endFieldCol, endField = endField)
          case _ =>
            graft.sources.XlsBiff.xlsFlattened(spark, fileName,
              str(c, "sheet_name"), valueName, dataColStart, dataColEnd,
              () => hierarchy(), endFieldCol = endFieldCol,
              endField = endField, password = str(c, "password"))
        }
        // flattened=false (the reference DEFAULT) nests the whole record
        // under resultName — one struct column, the datum shape the
        // reference's downstream processors expect
        if (bool(c, "flattened")) flat
        else flat.select(org.apache.spark.sql.functions
          .struct(flat.columns.map(col): _*).as(node.result))

      // ref: modules/nosql/app/tuktu/nosql/generators/sql.scala:11 —
      // {url, user, password, driver, query, flatten?}: one result row per
      // DB row. An explicit driver class is passed through (the reference's
      // Class.forName — JDBC3 drivers lack the service-loader entry that
      // DriverManager self-registration needs); the query reads as a
      // dbtable subquery so predicates can still push down.
      case "tuktu.nosql.generators.SQLGenerator" =>
        val base = spark.read.format("jdbc")
          .option("url", str(c, "url").get)
          .option("user", str(c, "user").getOrElse(""))
          .option("password", str(c, "password").getOrElse(""))
          .option("dbtable", s"(${str(c, "query").get}) AS q0")
        str(c, "driver").fold(base)(d => base.option("driver", d)).load()

      // ref: modules/crawler/app/tuktu/crawler/generators/
      // GenericCrawlerGenerator.scala:27 / WikipediaContentGenerator.scala:32
      // — live-web htmlunit scraping: needs egress and spawns per-page
      // scraper actors. The engine's crawl-DATA path is the WARC archive
      // source + HTML extraction + URL ops (the shape that scales to a
      // 100 TB crawl instead of re-fetching it).
      case crawler @ ("tuktu.crawler.generators.GenericCrawlerGenerator"
                    | "tuktu.crawler.generators.WikipediaContentGenerator") =>
        throw new UnsupportedOperationException(
          s"$crawler performs live-web scraping (egress + per-page actors); " +
            "read crawl archives with graft.sources.Warc, extract text/links " +
            "with graft.operators.Html, and normalize with graft.operators.Url " +
            "— see COVERAGE.md (crawler module)")

      case other => throw new IllegalArgumentException(s"unsupported compat generator: $other")
    }
  }

  // ---------------------------------------------------------------- processors
  def processor(df: DataFrame, node: Flow.Node): DataFrame = {
    val c = node.config
    node.name match {
      // ref: BaseProcessors.scala:120 — {fields:[{path:[...], result, default?}]}
      case "tuktu.processors.FieldFilterProcessor" =>
        df.select(arr(c, "fields").map { f =>
          val p = pathList(f)
          val out = f.get("result").asText
          Option(f.get("default")) match {
            case Some(d) if df.columns.contains(p.head) =>
              coalesce(colPath(p), lit(d.asText)).alias(out)
            case Some(d) => lit(d.asText).alias(out) // path absent entirely
            case None    => colPath(p).alias(out)
          }
        }: _*)

      // ref: BaseProcessors.scala:144 — {fields:["k1","k2"]}
      case "tuktu.processors.FieldRemoveProcessor" =>
        df.drop(strs(c, "fields"): _*)

      // ref: BaseProcessors.scala:160 — {fields:[{path:[...], result}]}.
      // One select with every copy read from the ORIGINAL row: sequential
      // withColumn would let a later copy read an earlier copy's overwrite.
      case "tuktu.processors.FieldCopyProcessor" =>
        val copies = arr(c, "fields").map(f => (pathList(f), f.get("result").asText))
        val newNames = copies.map(_._2).toSet
        df.select(df.columns.filterNot(newNames.contains).map(col).toSeq ++
          copies.map { case (p, r) => colPath(p).alias(r) }: _*)

      // ref: BaseProcessors.scala:292 — copy then remove the path heads,
      // keeping results that recycle a source name; all sources read from
      // the original row (same single-select rationale as FieldCopy)
      case "tuktu.processors.FieldRenameProcessor" =>
        val present = arr(c, "fields").filter(f => df.columns.contains(pathList(f).head))
        val renames = present.map(f => (pathList(f), f.get("result").asText))
        val results = renames.map(_._2).toSet
        val cleanUp = present.map(pathList(_).head).toSet -- results
        df.select(
          df.columns.filterNot(n => results.contains(n) || cleanUp.contains(n)).map(col).toSeq ++
            renames.map { case (p, r) => colPath(p).alias(r) }: _*)

      // ref: BaseProcessors.scala:234 — {fields:[{path, result, default?}]};
      // fetches (possibly nested) values as top-level citizens
      case "tuktu.processors.JsonFetcherProcessor" =>
        arr(c, "fields").foldLeft(df) { (d, f) =>
          val v = colPath(pathList(f))
          val withDefault = Option(f.get("default")).fold(v)(dv => coalesce(v, lit(dv.asText)))
          d.withColumn(f.get("result").asText, withDefault)
        }

      // ref: BaseProcessors.scala:268 — output schema depends on the VALUES
      // of the path list; impossible under a static DataFrame schema
      case "tuktu.processors.ListJsonFetcherProcessor" =>
        throw new IllegalArgumentException(
          "ListJsonFetcherProcessor derives output column names from data values; " +
            "use JsonFetcherProcessor with static paths, or Ops.dynamicFetch for one value")

      // ref: BaseProcessors.scala:332 — {expression}: fixpoint ${} resolution
      case "tuktu.processors.EvaluateNestedTuktuExpressionsProcessor" =>
        Ops.evaluateNested(df, str(c, "expression").get, node.result)

      // ref: BaseProcessors.scala:574 — {value, is_numeric?} + node result
      case "tuktu.processors.FieldConstantAdderProcessor" =>
        val v = Expr.interpolate(str(c, "value").getOrElse(""))
        df.withColumn(node.result,
          if (bool(c, "is_numeric")) v.cast(LongType) else v)

      // ref: BaseProcessors.scala:213 — {field, sources:[regex], targets:[str]};
      // writes the replaced value to the node's result field (per test corpus)
      case "tuktu.processors.ReplaceProcessor" =>
        val field = str(c, "field").get
        val pairs = strs(c, "sources").zip(strs(c, "targets"))
        df.withColumn(node.result,
          pairs.foldLeft(col(field)) { case (e, (s, t)) => regexp_replace(e, s, t) })

      // ref: BaseProcessors.scala:184 — {start_at?, step_size?, per_block?};
      // numbering in input order (= current layout order). per_block counts
      // DataPackets: the batch frame is ONE packet, so every row gets start_at.
      case "tuktu.processors.RunningCountProcessor" =>
        val startAt = Option(c.get("start_at")).map(_.asLong).getOrElse(0L)
        val step = Option(c.get("step_size")).map(_.asLong).getOrElse(1L)
        if (bool(c, "per_block")) df.withColumn(node.result, lit(startAt))
        else Ops.indexByLayout(df, node.result)
          .withColumn(node.result, col(node.result) * step + startAt)

      // ref: BaseProcessors.scala:374-497 — the CURRENT reference schema is
      // FLAT: {type: simple|negate|groovy, expression, batch?,
      // batch_min_count?}. The legacy test-corpus schema ({expressions:
      // [{type, and_or?, expression|[...]}]}, OR at the top level, exists
      // over an empty list = drop all) is accepted as a fallback so older
      // configs keep running.
      case "tuktu.processors.PacketFilterProcessor" =>
        def leaf(tp: Option[String], e: JsonNode): Column = {
          val base = tp match {
            case Some("groovy") => throw new IllegalArgumentException(
              "groovy expressions are not supported; use the Tuktu predicate grammar or a Scala lambda")
            case _ => Expr.predicate(df, e.asText)
          }
          if (tp.contains("negate")) !base else base
        }
        def build(e: JsonNode): Column =
          if (e.get("expression").isArray) {
            val children = e.get("expression").elements().asScala.toSeq.map(build)
            if (str(e, "and_or").contains("or")) children.reduceOption(_ || _).getOrElse(lit(false))
            else children.reduceOption(_ && _).getOrElse(lit(true))
          } else leaf(str(e, "type"), e.get("expression"))
        val cond =
          if (c.has("expression")) leaf(str(c, "type"), c.get("expression"))
          else arr(c, "expressions").map(build).reduceOption(_ || _).getOrElse(lit(false))
        if (bool(c, "batch"))
          batchGate(df, cond, Option(c.get("batch_min_count")).map(_.asLong).getOrElse(1L))
        else df.filter(cond)

      // ref: BaseProcessors.scala:501 — {expressions:[{type, and_or, expression, field}],
      // batch?, batch_min_count?}. Top level is expressions.exists(...): a pure
      // OR over the entries; and_or only combines a NESTED expression array.
      case "tuktu.processors.PacketRegexFilterProcessor" =>
        def build(e: JsonNode): Column =
          if (e.get("expression").isArray) {
            // ref BaseProcessors.scala:501 ignores `type:negate` on nested
            // expression arrays — negate applies to string leaves only.
            val children = e.get("expression").elements().asScala.toSeq.map(build)
            if (str(e, "and_or").contains("or")) children.reduceOption(_ || _).getOrElse(lit(false))
            else children.reduceOption(_ && _).getOrElse(lit(true))
          } else {
            val leaf = col(e.get("field").asText).rlike(e.get("expression").asText)
            if (str(e, "type").contains("negate")) !leaf else leaf
          }
        // exists over an empty expressions list is false: drop everything
        val cond = arr(c, "expressions").map(build).reduceOption(_ || _).getOrElse(lit(false))
        if (bool(c, "batch"))
          batchGate(df, cond, Option(c.get("batch_min_count")).map(_.asLong).getOrElse(1L))
        else df.filter(cond)

      // ref: BaseProcessors.scala:641 — pass-through (console print is a
      // side effect; show() here would force an extra job, so it is elided)
      case "tuktu.processors.ConsoleWriterProcessor" => df

      // ref: BaseProcessors.scala:92 — {field, keep_original_field?}: on an
      // empty list the reference REMOVES the result field (null here) unless
      // keep_original_field, which preserves a pre-existing result value
      case "tuktu.processors.HeadOfListProcessor" =>
        val f = col(str(c, "field").get)
        val head = when(size(f) > 0, element_at(f, 1))
        val out =
          if (bool(c, "keep_original_field") && df.columns.contains(node.result))
            coalesce(head, col(node.result))
          else head
        df.withColumn(node.result, out)

      // ref: BaseProcessors.scala:668 — {fields:[{path, separator}]};
      // overwrites the path HEAD with the joined string
      case "tuktu.processors.StringImploderProcessor" =>
        arr(c, "fields").foldLeft(df) { (d, f) =>
          val p = pathList(f)
          d.withColumn(p.head, array_join(colPath(p), f.get("separator").asText))
        }

      // ref: BaseProcessors.scala:760 — {fields?}: concat listed fields'
      // values (arrays splice, scalars wrap) into one list under result;
      // without fields: all values in column-name order
      case "tuktu.processors.ImploderProcessor" =>
        Option(c.get("fields")) match {
          case Some(_) =>
            // element types must agree for concat; heterogeneous fields fall
            // back to strings like the reference's untyped datum (and the
            // no-fields branch below)
            val typed = strs(c, "fields").map { f =>
              df.schema(f).dataType match {
                case ArrayType(et, _) => (col(f), et)
                case dt               => (array(col(f)), dt)
              }
            }
            val parts =
              if (typed.map(_._2).distinct.sizeIs == 1) typed.map(_._1)
              else typed.map(_._1.cast(ArrayType(StringType)))
            df.withColumn(node.result, concat(parts: _*))
          case None =>
            val cols = df.columns.sorted.map(col(_).cast(StringType))
            df.withColumn(node.result, array(cols.toSeq: _*))
        }

      // ref: BaseProcessors.scala:785 — {fields:[...], merge?}: collapse the
      // WHOLE packet (frame) to one row; each listed field becomes the list
      // of its values in arrival order; merge keeps the first row's other fields
      case "tuktu.processors.KeyImploderProcessor" =>
        val fields = strs(c, "fields")
        val ord = uniq("__ord")
        val dense = Ops.indexByLayout(df, ord)
        val listAggs = fields.map(f =>
          transform(array_sort(collect_list(struct(col(ord).as("o"), col(f).as("v")))),
            x => x.getField("v")).as(f))
        val keepAggs =
          if (bool(c, "merge"))
            df.columns.filterNot(fields.contains).toSeq.map(f => min_by(col(f), col(ord)).as(f))
          else Nil
        val aggs = keepAggs ++ listAggs
        dense.groupBy().agg(aggs.head, aggs.tail: _*)

      // ref: BaseProcessors.scala:807 — {fields:[{path, subpath, separator}]};
      // array-of-objects → subpath strings joined, overwriting the path head
      case "tuktu.processors.JsObjectImploderProcessor" =>
        arr(c, "fields").foldLeft(df) { (d, f) =>
          val p = pathList(f)
          val sub = f.get("subpath").elements().asScala.map(_.asText).toSeq
          d.withColumn(p.head, array_join(
            transform(colPath(p),
              x => sub.foldLeft(x)(_.getField(_)).cast(StringType)),
            f.get("separator").asText))
        }

      // ref: BaseProcessors.scala:844 — {fields, separator}: hoist each named
      // struct field's nested entries to `field<sep>sub<sep>...` columns
      case "tuktu.processors.FlattenerProcessor" =>
        val sep = str(c, "separator").getOrElse(".")
        val targets = strs(c, "fields")
        def hoist(field: String): Seq[Column] = {
          def walk(path: Column, name: String, dt: DataType): Seq[Column] = dt match {
            case s: StructType =>
              s.fields.toSeq.flatMap(f => walk(path.getField(f.name), name + sep + f.name, f.dataType))
            case _ => Seq(path.alias(name))
          }
          walk(col(s"`$field`"), field, df.schema(field).dataType)
        }
        df.select(df.columns.filterNot(targets.contains).map(col).toSeq ++
          targets.flatMap(hoist): _*)

      // ref: BaseProcessors.scala:900 — {field}: explode in place
      case "tuktu.processors.SequenceExploderProcessor" =>
        val f = str(c, "field").get
        df.withColumn(f, explode(col(f)))

      // ref: BaseProcessors.scala:923 — {field}
      case "tuktu.processors.SequenceLengthProcessor" =>
        df.withColumn(node.result, size(col(str(c, "field").get)))

      // ref: BaseProcessors.scala:946 — {field}
      case "tuktu.processors.SequenceFlattenerProcessor" =>
        df.withColumn(node.result, flatten(col(str(c, "field").get)))

      // ref: BaseProcessors.scala:966 — {field}
      case "tuktu.processors.DistinctSequenceProcessor" =>
        df.withColumn(node.result, array_distinct(col(str(c, "field").get)))

      // ref: BaseProcessors.scala:986 — {as_whole?}: nest rows under result
      case "tuktu.processors.DataPacketWrapperProcessor" =>
        if (bool(c, "as_whole") || !c.has("as_whole")) {
          val ord = uniq("__ord")
          Ops.indexByLayout(df, ord).groupBy().agg(
            transform(array_sort(collect_list(struct(col(ord).as("o"),
              struct(df.columns.map(col).toSeq: _*).as("v")))),
              x => x.getField("v")).as(node.result))
        } else Ops.datumToField(df, node.result)

      // ref: BaseProcessors.scala:1004 — {field, separator, remove_empty?};
      // separator is a REGEX (String.split)
      case "tuktu.processors.StringSplitterProcessor" =>
        val parts = split(col(str(c, "field").get), str(c, "separator").get)
        val cleaned =
          if (Option(c.get("remove_empty")).forall(_.asBoolean)) // default true
            filter(parts, x => x =!= "")
          else parts
        df.withColumn(node.result, cleaned)

      // ref: BaseProcessors.scala:1030 — {list_field, map_field} → result list
      case "tuktu.processors.ListMapFlattenerProcessor" =>
        df.withColumn(node.result,
          transform(col(str(c, "list_field").get), x => x.getField(str(c, "map_field").get)))

      // ref: BaseProcessors.scala:1066 — {list_field, map_fields}: one
      // top-level list per inner field, original list kept
      case "tuktu.processors.MultiListMapFlattenerProcessor" =>
        strs(c, "map_fields").foldLeft(df) { (d, f) =>
          d.withColumn(f, transform(col(str(c, "list_field").get), x => x.getField(f)))
        }

      // ref: BaseProcessors.scala:1102 — {field, contains_field, field_list}:
      // keep row iff every value in contains_field appears at `field` in the
      // list-of-maps under field_list
      case "tuktu.processors.ContainsAllFilterProcessor" =>
        val inner = str(c, "field").get
        df.filter(forall(col(str(c, "contains_field").get),
          v => exists(col(str(c, "field_list").get), m => m.getField(inner) === v)))

      // ref: BaseProcessors.scala:1134 — {field}: hoist entries, KEEP original
      // (the reference's datum ++ map only adds)
      case "tuktu.processors.MapFlattenerProcessor" =>
        df.select(col("*"), col(s"`${str(c, "field").get}`.*"))

      // ref: BaseProcessors.scala:1175 — {field_1, field_2}: zip + explode,
      // overwriting both
      case "tuktu.processors.ZipExplodeProcessor" =>
        val (f1, f2) = (str(c, "field_1").get, str(c, "field_2").get)
        Ops.zipExplode(df, f1, f2, f1, f2)

      // ref: BaseProcessors.scala:1201 — {fields}
      case "tuktu.processors.AbsentFieldsFilterProcessor" =>
        Ops.absentFieldsFilter(df, strs(c, "fields"))

      // ref: BaseProcessors.scala:1216
      case "tuktu.processors.UUIDAdderProcessor" =>
        Ops.uuidAdder(df, node.result)

      // ref: BaseProcessors.scala:1228 — {fields}
      case "tuktu.processors.FieldsToListProcessor" =>
        Ops.fieldsToList(df, strs(c, "fields"), node.result)

      // ref: BaseProcessors.scala:1247 — {field, trim?, non_empty?, flattened?}
      case "tuktu.processors.XmlToMapProcessor" =>
        df.withColumn(node.result,
          graft.sources.Sources.xmlToMap(col(str(c, "field").get)))

      // ref: BaseProcessors.scala:1291 — {field, index} (0-based)
      case "tuktu.processors.GetListElementProcessor" =>
        Ops.getListElement(df, str(c, "field").get, str(c, "index").get.toInt, node.result)

      // ref: ConvertToNumber.scala:16 — {field, number_type?}: overwrite
      case "tuktu.processors.ConvertToNumber" =>
        val f = str(c, "field").get
        val t: DataType = str(c, "number_type").getOrElse("double") match {
          case "int"  => IntegerType
          case "long" => LongType
          case _      => DoubleType
        }
        df.withColumn(f, col(f).cast(t))

      // ref: ConvertToBigDecimal.scala:16 — {field}: overwrite; lists convert
      // elementwise
      case "tuktu.processors.ConvertToBigDecimal" =>
        val f = str(c, "field").get
        val dec = DecimalType(38, 18)
        df.schema(f).dataType match {
          case _: ArrayType => df.withColumn(f, transform(col(f), _.cast(dec)))
          case _            => df.withColumn(f, col(f).cast(dec))
        }

      // ref: ConvertToDate.scala:19 — {field, format?}: overwrite. The
      // reference default ("EEE MMM dd HH:mm:ss zzz yyyy", java.util.Date
      // toString) uses pattern letters Spark's parser rejects — that path
      // goes through a SimpleDateFormat UDF instead of failing analysis.
      case "tuktu.processors.ConvertToDate" =>
        val f = str(c, "field").get
        str(c, "format") match {
          case Some(fmt) => df.withColumn(f, to_timestamp(col(f), fmt))
          case None =>
            val parse = udf { (s: String) =>
              if (s == null) null
              else try new java.sql.Timestamp(new java.text.SimpleDateFormat(
                "EEE MMM dd HH:mm:ss zzz yyyy", java.util.Locale.US).parse(s).getTime)
              catch { case _: java.text.ParseException => null }
            }
            df.withColumn(f, parse(col(f)))
        }

      // ref: BufferProcessorTestSuite.scala:24 / BufferProcessors.scala —
      // {size}: tag rows with a batch id every `size` rows in arrival order
      // (packets become batch groups; downstream groupBy(result) = packets)
      case "tuktu.processors.SizeBufferProcessor" =>
        val ord = uniq("__ord")
        Ops.indexByLayout(df, ord)
          .withColumn(node.result, floor(col(ord) / c.get("size").asInt))
          .drop(ord)

      // buffer all until EOF: the batch frame already IS the EOF buffer
      case "tuktu.processors.EOFBufferProcessor" => df
      // wall-clock re-batching (BufferProcessors.scala:114): packet shape
      // only, no data semantics — one batch frame is one release; in
      // streaming this is the trigger interval (Streams.tumblingAgg et al.)
      case "tuktu.processors.TimeBufferProcessor" => df
      // one datum per packet: packets are partitions here — by-design
      case "tuktu.processors.DataPacketSplitterProcessor" => df

      // ref: BufferProcessors.scala GroupByProcessor — {fields}: co-locate
      // groups (the packet-split analog is hash partitioning)
      case "tuktu.processors.GroupByProcessor" =>
        df.repartition(strs(c, "fields").map(col): _*)

      // ref: bucket/SortProcessor.scala:13 — {field, asc_desc?}
      case "tuktu.processors.bucket.SortProcessor" =>
        val f = col(str(c, "field").get)
        Ops.sort(df, Seq(if (str(c, "asc_desc").contains("desc")) f.desc else f.asc))

      // ref: bucket/DeduplicationProcessor.scala:13 — {fields}: first-seen in
      // arrival order
      case "tuktu.processors.bucket.DeduplicationProcessor" =>
        val ord = uniq("__ord")
        Ops.dedupFirstSeen(Ops.indexByLayout(df, ord), strs(c, "fields"), Seq(col(ord)))
          .drop(ord)

      // ref: bucket/aggregate/AggregateByValue.scala:16 — {group, base_value,
      // expression}: expression's bare agg fns apply to the evaluated base
      case "tuktu.processors.bucket.aggregate.AggregateByValueProcessor" =>
        val baseCol = uniq("__base")
        val withBase = df.withColumn(baseCol,
          Expr.arithmetic(df, str(c, "base_value").get))
        val aggFns = Seq("count", "distinct", "avg", "median", "sum", "max", "min", "stdev")
        val exprStr = aggFns.foldLeft(str(c, "expression").get) { (a, fn) =>
          a.replace(fn + "()", fn + "(${" + baseCol + "})")
        }
        withBase.groupBy(strs(c, "group").map(col): _*)
          .agg(Expr.aggregate(withBase, exprStr).as(node.result))

      // ref: BaseProcessors.scala:23 — pass-through
      case "tuktu.processors.SkipProcessor" => df
      // ref: BaseProcessors.scala:74 — pass-through diagnostics; the engine
      // analog is Ops.countEof's Observation (zero extra scan)
      case "tuktu.processors.CountEOFProcessor" => df
      // ref: BaseProcessors.scala:56 — throttling has no batch meaning;
      // streaming throttling = trigger interval (documented)
      case "tuktu.processors.DelayProcessor" => df

      // ref: BaseProcessors.scala:596 — {value, is_numeric?, is_decimal?,
      // batch?, fields:[{path, result, default?}]}: project the listed paths
      // plus a constant field; batch=true merges to ONE row (later rows win)
      case "tuktu.processors.DataPacketFieldMergerProcessor" =>
        val v = Expr.interpolate(str(c, "value").getOrElse(""))
        val valueCol =
          if (bool(c, "is_numeric")) v.cast(LongType)
          else if (bool(c, "is_decimal")) v.cast(DoubleType)
          else v
        val copies = arr(c, "fields").map { fld =>
          val p = pathList(fld)
          val out = fld.get("result").asText
          // absent path + default → constant, like FieldFilterProcessor and
          // the reference's fieldParser(...).getOrElse(default)
          (Option(fld.get("default")) match {
            case Some(d) if df.columns.contains(p.head) => coalesce(colPath(p), lit(d.asText))
            case Some(d)                                => lit(d.asText)
            case None                                   => colPath(p)
          }).alias(out)
        } :+ valueCol.alias(node.result)
        val projected = df.select(copies: _*)
        if (bool(c, "batch")) {
          val ord = uniq("__ord")
          val dense = Ops.indexByLayout(projected, ord)
          val aggs = projected.columns.toSeq.map(f => max_by(col(f), col(ord)).as(f))
          dense.groupBy().agg(aggs.head, aggs.tail: _*)
        } else projected

      // ref: BaseProcessors.scala:701 — {fields:[{path, separator}]}: each
      // tuple (struct) in the array renders as its fields joined by the
      // separator; the LIST of rendered strings overwrites the path head
      case "tuktu.processors.TupleListStringImploder" =>
        arr(c, "fields").foldLeft(df) { (d, fld) =>
          val p = pathList(fld)
          val sep = fld.get("separator").asText
          val elemType = d.select(colPath(p)).schema.head.dataType match {
            case ArrayType(s: StructType, _) => s
            case other => throw new IllegalArgumentException(
              s"TupleListStringImploder needs array<struct>, got $other")
          }
          // explicit interleave, not concat_ws: concat_ws drops null fields
          // AND their separators, corrupting the rendered arity
          d.withColumn(p.head, transform(colPath(p), x => {
            val parts = elemType.fieldNames.toSeq
              .map(fn => coalesce(x.getField(fn).cast(StringType), lit("")))
            concat(parts.head +: parts.tail.flatMap(f => Seq(lit(sep), f)): _*)
          }))
        }

      // ref: arithmetics/ArithmeticProcessor.scala:16 — {calculate,
      // number_of_decimals?, do_rounding?}
      case "tuktu.processors.arithmetics.ArithmeticProcessor" =>
        val round =
          if (bool(c, "do_rounding"))
            Some(Option(c.get("number_of_decimals")).map(_.asInt).getOrElse(0))
          else None
        Ops.arithmetic(df, str(c, "calculate").get, node.result, round)

      // ref: arithmetics/MaxByFieldProcessor.scala:10 — {fields}
      case "tuktu.processors.arithmetics.MaxFieldByValueProcessor" =>
        df.withColumn(node.result, greatest(strs(c, "fields").map(col): _*))

      // ref: BaseProcessors.scala:355 — {predicate}
      case "tuktu.processors.PredicateProcessor" =>
        Ops.predicateField(df, str(c, "predicate").get, node.result)

      // ref: json/JSONParseProcessor.scala:15 — {field}: the reference keeps
      // an untyped JsValue; the Spark-4 analog is the variant type
      case "tuktu.processors.json.JSONParseProcessor" =>
        df.withColumn(node.result, try_parse_json(col(str(c, "field").get).cast(StringType)))

      // ref: time/TimestampNormalizerProcessor.scala:17 — {datetime_field,
      // datetime_format?, time:{unit: n}}: floor to n-unit buckets on the
      // reference's full millis→years grid. Sub-month units floor on the
      // UTC epoch-millis grid with weeks ISO-Monday-aligned (epoch day 0 is
      // a Thursday — Joda weeks start Monday); months/years bucket on
      // calendar months via integer month index.
      case "tuktu.processors.time.TimestampNormalizerProcessor" =>
        val f = str(c, "datetime_field").get
        val ts = str(c, "datetime_format") match {
          case Some(fmt) => to_timestamp(col(f).cast(StringType), fmt)
          case None      => col(f).cast(TimestampType)
        }
        def n(k: String): Int =
          Option(c.get("time")).flatMap(t => Option(t.get(k))).fold(0)(_.asInt)
        def epochFloor(ms: Long): Column =
          timestamp_millis((floor(unix_millis(ts) / ms) * ms).cast(LongType))
        val monthIdx = (year(ts) * 12 + month(ts) - 1) // months since year 0
        def monthFloor(nMonths: Int): Column = {
          val b = floor(monthIdx / nMonths) * nMonths
          to_timestamp(concat((b / 12).cast(IntegerType), lit("-"),
            lpad((pmod(b, lit(12)) + 1).cast(StringType), 2, "0"), lit("-01")))
        }
        val out =
          if (n("years") > 0) monthFloor(12 * n("years"))
          else if (n("months") > 0) monthFloor(n("months"))
          else if (n("weeks") > 0) // shift so buckets land on Monday
            timestamp_millis(((floor((unix_millis(ts) - 345600000L) /
              (604800000L * n("weeks"))) * (604800000L * n("weeks"))) + 345600000L).cast(LongType))
          else if (n("days") > 0) epochFloor(86400000L * n("days"))
          else if (n("hours") > 0) epochFloor(3600000L * n("hours"))
          else if (n("minutes") > 0) epochFloor(60000L * n("minutes"))
          else if (n("millis") > 0) epochFloor(n("millis").toLong)
          else epochFloor(1000L * math.max(1, n("seconds"))) // reference default: seconds=1
        df.withColumn(node.result, out)

      // ref: time/DateToMillisProcessor.scala:16 — {field}; unix_millis keeps
      // sub-second precision like the reference's getMillis
      case "tuktu.processors.time.DateToMillisProcessor" =>
        df.withColumn(node.result,
          unix_millis(col(str(c, "field").get).cast(TimestampType)))

      // ref: bucket/statistics/StatisticsProcessors.scala — {fields}: one row,
      // one column per field
      case "tuktu.processors.bucket.statistics.MeanProcessor" =>
        statsRow(df, c, f => avg(col(f).cast(DoubleType)))
      case "tuktu.processors.bucket.statistics.MedianProcessor" =>
        statsRow(df, c, f => median(col(f).cast(DoubleType)))
      case "tuktu.processors.bucket.statistics.StDevProcessor" =>
        statsRow(df, c, f => stddev_pop(col(f).cast(DoubleType)))
      case "tuktu.processors.bucket.statistics.VarProcessor" =>
        statsRow(df, c, f => var_pop(col(f).cast(DoubleType)))
      case "tuktu.processors.bucket.statistics.MidrangeProcessor" =>
        statsRow(df, c, f =>
          (max(col(f).cast(DoubleType)) + min(col(f).cast(DoubleType))) / 2)

      // ref: modules/web/app/tuktu/web/processors/RESTProcessor.scala:20 —
      // {url, http_method?, body?}; body JSON is re-rendered as a template
      case "tuktu.web.processors.RESTProcessor" =>
        graft.operators.Http.restEnrich(df, str(c, "url").get, node.result,
          method = str(c, "http_method").getOrElse("get"),
          bodyTemplate = Option(c.get("body")).map(b =>
            if (b.isTextual) b.asText else b.toString))

      // ref: URLCheckerProcessor.scala — {url, codes?}; the data-dependent
      // `field` code list is not supported (static config only)
      case "tuktu.web.processors.URLCheckerProcessor" =>
        graft.operators.Http.urlChecker(df, str(c, "url").get, node.result,
          codes = Option(c.get("codes")).map(_.elements().asScala.map(_.asInt).toSeq))

      // ref: FreeGeoIPProcessor.scala — {ip (field name), geoipurl?, format?}
      case "tuktu.web.processors.FreeGeoIPProcessor" =>
        graft.operators.Http.freeGeoIp(df, str(c, "ip").get, node.result,
          geoipUrl = str(c, "geoipurl").getOrElse("http://freegeoip.net"),
          format = str(c, "format").getOrElse("json"))

      // ref: ConvertToString.scala:13 — {field}: sequences convert element-wise
      case "tuktu.processors.ConvertAnyToStringProcessor" =>
        val f = str(c, "field").get
        df.withColumn(node.result, df.schema(f).dataType match {
          case _: ArrayType => transform(col(f), _.cast(StringType))
          case _ => col(f).cast(StringType)
        })

      // ref: arithmetics/NumericProcessors.scala:11 — {field, target_type}
      case "tuktu.processors.arithmetics.NumberToNumberProcessor" =>
        val to: DataType = str(c, "target_type").get match {
          case "Long" => LongType
          case "Double" => DoubleType
          case "Float" => FloatType
          case "BigDecimal" => DecimalType(38, 18)
          case _ => IntegerType
        }
        df.withColumn(node.result, col(str(c, "field").get).cast(to))

      // ref: arithmetics/ArithmeticProcessor.scala:42 — {calculate,
      // number_of_decimals?, do_rounding?}: aggregate formula over the whole
      // packet, result broadcast onto every row
      case "tuktu.processors.arithmetics.ArithmeticAggregateProcessor" =>
        // 2 consumers: the aggregate job and the probe side
        val pinned = Ops.materialize(df)
        val aggC = Expr.aggregate(pinned, str(c, "calculate").get)
        val rounded =
          if (bool(c, "do_rounding"))
            round(aggC, Option(c.get("number_of_decimals")).map(_.asInt).getOrElse(0))
          else aggC
        // reference semantics overwrite an existing result field
        pinned.drop(node.result)
          .crossJoin(broadcast(pinned.agg(rounded.as(node.result))))

      // ref: time/TimestampAdderProcessor.scala:13 — {format?}: wall-clock
      // now, as epoch millis or formatted
      case "tuktu.processors.time.TimestampAdderProcessor" =>
        df.withColumn(node.result, str(c, "format") match {
          case Some(f) => date_format(current_timestamp(), f)
          case None => unix_millis(current_timestamp())
        })

      // ref: time/TimestampPeriodAdderProcessor.scala:18 — {time_field,
      // format?, years..seconds}: typed like the reference (millis Long,
      // timestamp, or formatted string); period components are static config
      case "tuktu.processors.time.TimestampPeriodAdderProcessor" =>
        def iv(k: String): Column = {
          val v = str(c, k).getOrElse("0")
          require(!v.contains("${"),
            s"TimestampPeriodAdder: data-dependent '$k' not supported")
          lit(v.toInt)
        }
        val f = str(c, "time_field").get
        val fmt = str(c, "format").filter(_.nonEmpty)
        val base = df.schema(f).dataType match {
          case StringType => to_timestamp(col(f), fmt.getOrElse(
            throw new IllegalArgumentException(
              "TimestampPeriodAdder: string time_field needs format")))
          case IntegerType | LongType => timestamp_millis(col(f).cast(LongType))
          case _ => col(f)
        }
        val added = base + make_interval(iv("years"), iv("months"), iv("weeks"),
          iv("days"), iv("hours"), iv("minutes"), iv("seconds"))
        df.withColumn(node.result, df.schema(f).dataType match {
          case StringType => date_format(added, fmt.get)
          case IntegerType | LongType => unix_millis(added)
          case _ => added
        })

      // ref: time/DurationProcessor.scala:15 — {start, end} (TuktuStrings):
      // whole days between instants, truncated toward zero like Joda
      // Days.daysBetween
      case "tuktu.processors.time.DurationProcessor" =>
        val s = to_timestamp(Expr.interpolate(str(c, "start").get))
        val e = to_timestamp(Expr.interpolate(str(c, "end").get))
        df.withColumn(node.result,
          ((unix_timestamp(e) - unix_timestamp(s)) / 86400).cast(IntegerType))

      // ref: DatumMergeProcessor.scala:14 — whole packet folds to one datum,
      // later datums win per key (mergeMap): last non-null in arrival order
      case "tuktu.processors.DatumMergeProcessor" =>
        val ord = uniq("__ord")
        Ops.datumMerge(Ops.indexByLayout(df, ord), Nil, ord)

      // ref: DatumToFieldProcessor.scala:12 — nest each datum under result
      case "tuktu.processors.DatumToFieldProcessor" =>
        Ops.datumToField(df, node.result)

      // ref: sample/TakeProcessor.scala:13, DropProcessor.scala:13 —
      // {amount, datums?}: with one frame per flow the packet and datum
      // variants coincide
      case "tuktu.processors.sample.TakeProcessor" =>
        Ops.take(df, c.get("amount").asInt)
      case "tuktu.processors.sample.DropProcessor" =>
        val ord = uniq("__ord")
        Ops.indexByLayout(df, ord)
          .filter(col(ord) >= c.get("amount").asInt).drop(ord)

      // ref: sample/ReverseProcessor.scala:12 — reverse arrival order
      case "tuktu.processors.sample.ReverseProcessor" =>
        val ord = uniq("__ord")
        Ops.sort(Ops.indexByLayout(df, ord), Seq(col(ord).desc)).drop(ord)

      // ref: BaseProcessors.scala:1273 — empty packets cannot exist here
      case "tuktu.processors.RemoveEmptyPacketProcessor" => df

      // ref: sample/StratifiedSamplingProcessor.scala:14 — {class_field,
      // random?, sample_count?}: per-class min-count sample; `random` draws
      // by a deterministic hash of the arrival index instead of arrival
      // order (reproducible where the reference's Random.shuffle is not)
      case "tuktu.processors.sample.StratifiedSamplingProcessor" =>
        val ord = uniq("__ord")
        val rn = uniq("__rn")
        // 2 consumers: the min-count job and the final window
        val base = Ops.indexByLayout(df, ord).transform(Ops.materialize)
        val orderBy =
          if (bool(c, "random")) md5(col(ord).cast(StringType)).asc
          else col(ord).asc
        val minRow = base.groupBy(col(str(c, "class_field").get)).count()
          .agg(min("count")).first()
        if (minRow.isNullAt(0)) df.limit(0) // empty input: nothing to sample
        else {
          val minCount = minRow.getLong(0)
          val cap = Option(c.get("sample_count")).map(_.asLong)
            .fold(minCount)(s => math.min(minCount, s))
          base.withColumn(rn, row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(col(str(c, "class_field").get)).orderBy(orderBy)))
            .filter(col(rn) <= cap).drop(rn, ord)
        }

      // ref: statistics/ProbabilityProcessors.scala:13 — {numbers:
      // [{number, probability}]}: normalized inverse-CDF draw
      case "tuktu.processors.statistics.NumberWithProbabilityProcessor" =>
        val raw = arr(c, "numbers").map(n =>
          (n.get("probability").asDouble, n.get("number").asInt: Any))
        val total = raw.map(_._1).sum
        Ops.sampleDiscrete(df, raw.map { case (p, v) => (p / total, v) }, node.result)

      // ref: json/JSONCreatorProcessor.scala:12 — {json}: the JSON template
      // (with ${} TuktuStrings anywhere inside) renders per row as a string
      case "tuktu.processors.json.JSONCreatorProcessor" =>
        df.withColumn(node.result, Expr.interpolate(c.get("json").toString))

      // ref: json/JSONMergerProcessor.scala:15 — {fields}: deep-merge the
      // JSON objects held in `fields`, left to right (later wins)
      case "tuktu.processors.json.JSONMergerProcessor" =>
        val fields = strs(c, "fields")
        require(fields.nonEmpty, "JSONMerger: fields must be non-empty")
        val merged = fields.tail.foldLeft((df, fields.head)) {
          case ((d, acc), f) =>
            val tmp = uniq("__jm")
            val next = Ops.jsonMerge(d, acc, f, tmp)
            (if (acc.startsWith("__jm")) next.drop(acc) else next, tmp)
        }
        val mergedOut = merged._1.withColumn(node.result, col(merged._2))
        // a single-field merge leaves the user's own column in place
        if (merged._2.startsWith("__jm")) mergedOut.drop(merged._2) else mergedOut

      // ref: FileProcessors.scala:246 — {filename (TuktuString), start_line?,
      // line_separator?}: whole file into the result field per datum
      case "tuktu.processors.FileReaderProcessor" =>
        val pathCol = uniq("__path")
        val raw = graft.sources.Sources.fileToString(
          df.withColumn(pathCol, Expr.interpolate(str(c, "filename").get)),
          pathCol, node.result)
        val startLine = Option(c.get("start_line")).map(_.asInt).getOrElse(0)
        val lineSep = str(c, "line_separator").getOrElse("\r\n")
        val lines = split(col(node.result), "\\r\\n|\\r|\\n")
        raw.withColumn(node.result,
            array_join(slice(lines, lit(startLine + 1),
              greatest(size(lines) - startLine, lit(0))), lineSep))
          .drop(pathCol)

      // ref: FileProcessors.scala:25/169 — {file_name, fields,
      // field_separator?}: sink + pass-through. Spark writes a directory of
      // parts where the reference appends to one local file — the batch
      // analog; the write happens when the flow is built (eager action).
      case "tuktu.processors.FileStreamProcessor"
         | "tuktu.processors.BatchedFileStreamProcessor" =>
        val fields = strs(c, "fields")
        val sepC = str(c, "field_separator").getOrElse(",")
        df.select(concat_ws(sepC, fields.map(f => col(f).cast(StringType)): _*)
            .as("value"))
          .write.mode("overwrite").text(str(c, "file_name").get)
        df

      // ---- NLP cleanup family (modules/nlp/.../cleanup/Cleanup.scala).
      // BaseCleaner contract: the field may hold a token sequence OR a single
      // string (then the op applies to the one-element list and unwraps).
      case "tuktu.nlp.processors.cleanup.CaseConverterProcessor" =>
        cleanerField(df, str(c, "field").get, node.result)(
          graft.operators.Cleanup.caseConvert(_, uppercase = bool(c, "uppercase")))
      case "tuktu.nlp.processors.cleanup.PunctuationRemoverProcessor" =>
        cleanerField(df, str(c, "field").get, node.result)(
          graft.operators.Cleanup.punctuationRemover)
      case "tuktu.nlp.processors.cleanup.EmojiRemoverProcessor" =>
        cleanerField(df, str(c, "field").get, node.result)(
          graft.operators.Cleanup.emojiRemover)
      case "tuktu.nlp.processors.cleanup.NCharsRemoverProcessor" =>
        cleanerField(df, str(c, "field").get, node.result)(
          graft.operators.Cleanup.nCharsRemover(_, c.get("n").asInt))
      case "tuktu.nlp.processors.cleanup.OddCharacterRemoverProcessor" =>
        cleanerField(df, str(c, "field").get, node.result)(
          graft.operators.Cleanup.oddCharacterRemover)
      case "tuktu.nlp.processors.cleanup.StopwordRemoverProcessor" =>
        cleanerField(df, str(c, "field").get, node.result)(
          graft.operators.Cleanup.stopwordRemover(_, str(c, "lang").get))

      // ref: modules/nlp/.../Tokenization.scala:20 — {field, as_string?,
      // language?}: the reference's default tokenization. Only EXACTLY
      // "ar" selects the external Arabic model there (ar_EG etc. fall
      // through to the default), so only that is rejected.
      case "tuktu.nlp.processors.TokenizerProcessor" =>
        require(!str(c, "language").contains("ar"),
          "TokenizerProcessor: language-specific (ar) tokenization not supported")
        val toks = graft.operators.Nlp.defaultTokenize(col(str(c, "field").get))
        df.withColumn(node.result,
          if (bool(c, "as_string")) array_join(toks, " ") else toks)

      // ref: modules/nlp/.../NgramProcessor.scala:14 — {field, n, flatten?,
      // chars?}: grams over tokens. String fields split like Java
      // `split(" ")` (trailing empties dropped); the char form drops the
      // final window like the reference's getNgramsChar (`n to size-1`).
      // `chars` applies to STRING fields only — the reference's Seq branch
      // (NgramProcessor.scala:31) always uses full-window getNgrams.
      case "tuktu.nlp.processors.NgramProcessor" =>
        val f = str(c, "field").get
        val n = c.get("n").asInt
        val isArray = df.schema(f).dataType.isInstanceOf[ArrayType]
        val chars = bool(c, "chars") && !isArray
        val toks =
          if (isArray) col(f)
          else if (chars) split(col(f).cast(StringType), "")
          else {
            val s2 = regexp_replace(col(f).cast(StringType), " +$", "")
            when(s2 === "", array().cast(ArrayType(StringType)))
              .otherwise(split(s2, " "))
          }
        val full = graft.operators.Nlp.ngrams(toks, n)
        val grams =
          if (chars) slice(full, lit(1), greatest(size(full) - 1, lit(0)))
          else full
        df.withColumn(node.result,
          if (bool(c, "flatten"))
            array_join(transform(grams, g => array_join(g, "")), " ")
          else grams)

      // ref: modules/nlp/.../Snowball.scala:17 — {field, language}:
      // "nl"/"nl_nl" selects the Snowball Dutch stemmer
      // ([[graft.operators.SnowballDutch]]); anything else is Porter — the
      // reference's own `case _ => porterStemmer` default. A plain string
      // field stays a ONE-ELEMENT stemmed list (Snowball.scala:44 has no
      // .head, unlike BaseCleaner).
      case "tuktu.nlp.processors.SnowballProcessor" =>
        val lang = str(c, "language").getOrElse("en").toLowerCase
        val f = str(c, "field").get
        val toks = df.schema(f).dataType match {
          case _: ArrayType => col(f)
          case _ => array(col(f).cast(StringType))
        }
        df.withColumn(node.result,
          if (lang == "nl" || lang == "nl_nl") graft.operators.Nlp.stemAllDutch(toks)
          else graft.operators.Nlp.stemAll(toks))

      // ref: modules/nlp/.../POSTagging.scala:17 — {language, tokens}
      case "tuktu.nlp.processors.POSTaggerProcessor" =>
        require(str(c, "language").forall(_.toLowerCase.startsWith("en")),
          "POSTagger: English-only rule tagger")
        val tmp = uniq("__tok")
        df.withColumn(tmp, tokensOrSplit(df, str(c, "tokens").get))
          .transform(d => graft.operators.Nlp.posTags(d, tmp, node.result))
          .drop(tmp)

      // ref: modules/nlp/.../Sentiment.scala:20,79 — {language, tokens,
      // pos, discretize?}
      case "tuktu.nlp.processors.RBEMPolarityProcessor" =>
        val (tk, tg) = (uniq("__tok"), uniq("__tag"))
        df.withColumn(tk, tokensOrSplit(df, str(c, "tokens").get))
          .withColumn(tg, tokensOrSplit(df, str(c, "pos").get))
          .transform(d => graft.operators.Nlp.polarity(d, tk, tg, node.result,
            discretize = bool(c, "discretize")))
          .drop(tk, tg)
      case "tuktu.nlp.processors.RBEMEmotionProcessor" =>
        val (tk, tg) = (uniq("__tok"), uniq("__tag"))
        df.withColumn(tk, tokensOrSplit(df, str(c, "tokens").get))
          .withColumn(tg, tokensOrSplit(df, str(c, "pos").get))
          .transform(d => graft.operators.Nlp.emotion(d, tk, tg, node.result,
            discretize = bool(c, "discretize")))
          .drop(tk, tg)

      // ref: modules/nlp/.../LanguageDetection.scala:22,52 (LIGA/LangDet):
      // {field} — marker-token heuristic stands in for the graph model
      case "tuktu.nlp.processors.LIGAProcessor"
         | "tuktu.nlp.processors.LangDetProcessor" =>
        df.withColumn(node.result,
          graft.operators.TextAnalysis.langId(col(str(c, "field").get)))

      // ref: modules/nlp/.../SentenceSplitter.scala:18 — {field, locale}
      case "tuktu.nlp.processors.SentenceSplitterProcessor" =>
        df.withColumn(node.result, graft.operators.Cleanup.sentenceSplit(
          col(str(c, "field").get), str(c, "locale").getOrElse("en")))

      // ref: modules/csv/.../CsvProcessors.scala:58 — {field, headers?,
      // headers_from_first?, separator?, quote?, escape?, remove_original?}
      case "tuktu.csv.processors.CSVReaderProcessor" =>
        graft.sources.Sources.csvField(df, str(c, "field").get,
          headers = Option(c.get("headers")).map(_ => strs(c, "headers")),
          headersFromFirst = bool(c, "headers_from_first"),
          sep = str(c, "separator").getOrElse(";"),
          quote = str(c, "quote").getOrElse("\""),
          escape = str(c, "escape").getOrElse("\\"),
          removeOriginal = bool(c, "remove_original"))

      // ref: modules/csv/.../CsvProcessors.scala:179 —
      // {field, widths, headers?, flatten?}
      case "tuktu.csv.processors.FixedWidthProcessor" =>
        graft.operators.Cleanup.fixedWidth(df, str(c, "field").get,
          arr(c, "widths").map(_.asInt),
          headers = Option(c.get("headers")).map(_ => strs(c, "headers")),
          flatten = bool(c, "flatten"), result = node.result)

      // ref: app/tuktu/processors/meta/IfThenElseProcessor.scala:27-205 —
      // {expression, default?, then_pipeline: {config, start},
      //  else_pipeline: {config, start}}: partition the packet on the
      // predicate, run each half through its sub-flow (config files
      // resolved from [[configRepo]] like utils.loadConfig), concatenate
      // then- before else-results (the reference's Future.sequence order).
      // The per-packet actor round-trip compiles away: both branches are
      // static plan branches over the same input lineage, unioned back.
      case "tuktu.processors.meta.IfThenElseProcessor" =>
        val default = Option(c.get("default")).map {
          case b if b.isBoolean => b.asBoolean
          case s => s.asText.toLowerCase.replaceAll("[^a-z]", "").toBoolean
        }
        // the reference falls back per-datum on evaluation errors; a parse
        // failure fails every datum, so the whole packet takes `default`
        val pred = try Expr.predicate(df, str(c, "expression").get) catch {
          case e: Exception => default.map(lit).getOrElse(throw e)
        }
        def side(key: String, p: Column): DataFrame = {
          val pl = c.get(key)
          val sub = loadConfig(str(pl, "config").get)
          Flow.subFlow(df.filter(p), flowNodes(arr(sub, "processors")),
            str(pl, "start").get)
        }
        side("then_pipeline", pred)
          .unionByName(side("else_pipeline", !pred), allowMissingColumns = true)

      // ref: app/tuktu/processors/cache/CachingProcessor.scala:24-92 —
      // {cache_key, result_field, start, processors:[...]}: attach a cached
      // value, running the INLINE embedded pipeline to produce it on a
      // miss. Batch mapping: the Play cache is the Registry; a miss runs
      // the sub-flow over this packet and registers it under cache_key, and
      // every datum gets the cached packet's rows as an array of structs
      // under the node result — the DataPacket-as-value semantics of the
      // reference's `datum + (resultName -> result)`. (`result_field` is
      // read but unused by the reference's processor() — mirrored here.)
      case "tuktu.processors.cache.CachingProcessor" =>
        val key = str(c, "cache_key").get
        val cached = graft.sources.Registry.get(key).getOrElse {
          val out = Flow.subFlow(df, flowNodes(arr(c, "processors")),
            str(c, "start").get)
          graft.sources.Registry.put(key, out)
          out
        }
        df.crossJoin(broadcast(
          cached.agg(collect_list(struct(cached.columns.map(col).toSeq: _*))
            .as(node.result))))

      // ref: app/tuktu/processors/meta/MetaProcessors.scala:349 (Parallel)
      // and :433 (ParallelConfig) — run embedded pipelines over the packet
      // and merge with a DataMerger class. Static compilation: every
      // pipeline is a Flow.subFlow branch over the same input lineage;
      // the three base mergers (BaseMergers.scala) map to unionByName
      // (Serial), index-zip full-outer merge (Simple) and modulo-padded
      // index-zip (Padding) — all distributed, no driver actions.
      // ParallelProcessor embeds pipelines inline ({processors:[{start,
      // pipeline}]}); ParallelConfigProcessor loads them by config_path
      // from [[configRepo]] with `#{source→target}` replacements (datum-
      // dependent ${} paths are genuinely dynamic and unsupported;
      // send_whole is moot — the frame IS the packet).
      case "tuktu.processors.meta.ParallelProcessor"
         | "tuktu.processors.meta.ParallelConfigProcessor" =>
        val sendOriginal = Option(c.get("send_original")).forall(_.asBoolean)
        val input = if (sendOriginal) df else df.limit(0)
        val branches: Seq[DataFrame] =
          if (node.name.endsWith(".ParallelProcessor"))
            arr(c, "processors").map { pl =>
              Flow.subFlow(input, flowNodes(arr(pl, "pipeline")), str(pl, "start").get)
            }
          else {
            val globalRepl = arr(c, "replacements")
              .map(r => str(r, "source").get -> str(r, "target").get)
            arr(c, "pipelines").flatMap { pl =>
              val repl = (globalRepl ++ arr(pl, "replacements")
                .map(r => str(r, "source").get -> str(r, "target").get)).toMap
              val raw = Flow.interpolateVars(
                loadConfigRaw(str(pl, "config_path").get), repl)
              val nodes = flowNodes(arr(Flow.mapper.readTree(raw), "processors"))
              strs(pl, "start").map(s0 => Flow.subFlow(input, nodes, s0))
            }
          }
        val all = if (bool(c, "include_original")) df +: branches else branches
        str(c, "merger").get match {
          case "tuktu.processors.merge.SerialMerger" => Ops.serialMerge(all)
          case "tuktu.processors.merge.SimpleMerger" => Ops.zipMerge(all, pad = false)
          case "tuktu.processors.merge.PaddingMerger" => Ops.zipMerge(all, pad = true)
          case other => throw new UnsupportedOperationException(
            s"unsupported merger $other (JSMerger is TuktuJS web territory)")
        }

      // the remaining meta-flow processors spawn whole generator flows at
      // runtime (per-datum config evaluation); Spark flows compose
      // statically — the same topologies are built with Flow branch/
      // fan-out primitives. Named here so verbatim configs fail with the
      // porting guidance, not a generic unknown-name error.
      case meta @ ("tuktu.processors.meta.GeneratorConfigProcessor"
                 | "tuktu.processors.meta.GeneratorConfigStreamProcessor"
                 | "tuktu.processors.meta.GeneratorStreamProcessor") =>
        throw new UnsupportedOperationException(
          s"$meta spawns generator flows dynamically per datum; compose the " +
            "topology statically with Flow generators/branches (Registry " +
            "caches intermediates) — see COVERAGE.md §2.9")

      // ------------------------------------------------------- tuktu.ml module
      // ref: modules/ml/app/tuktu/ml/processors/* — the reference's model
      // lifecycle (BaseMLProcessor.scala:22 train / :85 apply / :130
      // serialize / :180 deserialize / :239 destroy over an actor model
      // repository). Batch mapping: the frame IS the packet, so Train fits
      // eagerly on the whole frame (spark.ml fit is an action) and registers
      // the model in ModelRegistry under model_name; Apply transforms with
      // the registered model and appends the prediction under the node
      // result; the repository round-trips disappear. data_field carries
      // the feature vector as ONE array<double> column, like the reference's
      // `datum(dataField).asInstanceOf[Seq[Double]]`.
      case "tuktu.ml.processors.regression.LinearRegressionTrainProcessor" =>
        mlTrain(df, c, d => new org.apache.spark.ml.regression.LinearRegression()
          .setFeaturesCol(MlFeatures).setLabelCol(MlLabel).fit(d))
      // ref: regression/RidgeRegression.scala:12 — {lambda} is the L2 weight
      case "tuktu.ml.processors.regression.RidgeRegressionTrainProcessor" =>
        mlTrain(df, c, d => new org.apache.spark.ml.regression.LinearRegression()
          .setRegParam(c.get("lambda").asDouble).setElasticNetParam(0.0)
          .setFeaturesCol(MlFeatures).setLabelCol(MlLabel).fit(d))
      // ref: regression/LogisticRegression.scala:18 — {lambda?, tolerance?,
      // max_iterations?}
      case "tuktu.ml.processors.regression.LogisticRegressionTrainProcessor" =>
        mlTrain(df, c, d => new org.apache.spark.ml.classification.LogisticRegression()
          .setRegParam(Option(c.get("lambda")).map(_.asDouble).getOrElse(0.0))
          .setTol(Option(c.get("tolerance")).map(_.asDouble).getOrElse(1e-5))
          .setMaxIter(Option(c.get("max_iterations")).map(_.asInt).getOrElse(500))
          .setFeaturesCol(MlFeatures).setLabelCol(MlLabel).fit(d))
      // ref: clustering/KMeansProcessor.scala:12 — {k, max_iterations?};
      // seed pinned for determinism (the reference's smile runs are seeded
      // by wall clock — reproducibility is strictly better)
      case "tuktu.ml.processors.clustering.KMeansTrainProcessor" =>
        mlTrain(df, c, d => new org.apache.spark.ml.clustering.KMeans()
          .setK(c.get("k").asInt).setSeed(42)
          .setMaxIter(Option(c.get("max_iterations")).map(_.asInt).getOrElse(20))
          .setFeaturesCol(MlFeatures).fit(d), needLabel = false)
      // ref: svm/SupportVectorMachines.scala:12 — linear kernel only
      // (LinearSVC); penalty is the soft-margin C → regParam 1/C
      case "tuktu.ml.processors.svm.SVMTrainProcessor" =>
        require(str(c, "kernel").forall(_ == "linear"),
          "SVMTrainProcessor: only the linear kernel is supported (LinearSVC)")
        mlTrain(df, c, d => new org.apache.spark.ml.classification.LinearSVC()
          .setRegParam(1.0 / Option(c.get("penalty")).map(_.asDouble).getOrElse(2.0))
          .setFeaturesCol(MlFeatures).setLabelCol(MlLabel).fit(d))
      // ref: decisiontrees/DecisionTrees.scala:12 — {max_nodes}: a tree of
      // max_nodes leaves needs depth ~log2(max_nodes)
      case "tuktu.ml.processors.decisiontrees.DecisionTreeTrainProcessor" =>
        mlTrain(df, c, d => new org.apache.spark.ml.classification.DecisionTreeClassifier()
          .setMaxDepth(depthForNodes(c.get("max_nodes").asInt))
          .setFeaturesCol(MlFeatures).setLabelCol(MlLabel).fit(d))
      // ref: decisiontrees/GradientTreeBoost.scala:12 — {num_trees,
      // max_nodes?, shrinkage?, sampling_rate?}
      case "tuktu.ml.processors.decisiontrees.GradientTreeBoostTrainProcessor" =>
        mlTrain(df, c, d => new org.apache.spark.ml.classification.GBTClassifier()
          .setMaxIter(c.get("num_trees").asInt)
          .setMaxDepth(depthForNodes(Option(c.get("max_nodes")).map(_.asInt).getOrElse(6)))
          .setStepSize(Option(c.get("shrinkage")).map(_.asDouble).getOrElse(0.005))
          .setSubsamplingRate(Option(c.get("sampling_rate")).map(_.asDouble).getOrElse(0.7))
          .setFeaturesCol(MlFeatures).setLabelCol(MlLabel).fit(d))

      case "tuktu.ml.processors.regression.LinearRegressionApplyProcessor"
         | "tuktu.ml.processors.regression.RidgeRegressionApplyProcessor"
         | "tuktu.ml.processors.regression.LogisticRegressionApplyProcessor"
         | "tuktu.ml.processors.clustering.KMeansApplyProcessor"
         | "tuktu.ml.processors.svm.SVMApplyProcessor"
         | "tuktu.ml.processors.decisiontrees.DecisionTreeApplyProcessor"
         | "tuktu.ml.processors.decisiontrees.GradientTreeBoostApplyProcessor" =>
        mlApply(df, c, node)

      // ref: hmm/HMM.scala:12 — {model_name, observations_field,
      // num_hidden, num_observable, priors?{start, transitions,
      // emissions}}: one distributed Baum-Welch step over the packet's
      // sequences from the priors (or uniform) start, like the reference's
      // per-packet BaumWelchMethod application
      case "tuktu.ml.processors.hmm.HMMTrainProcessor" =>
        val nH = c.get("num_hidden").asInt
        val nO = c.get("num_observable").asInt
        val obsF = str(c, "observations_field").get
        val init = Option(c.get("priors")).map { p =>
          graft.ml.HMM.modelFromPriors(
            arr(p, "start").map(_.asDouble),
            arr(p, "transitions").map(_.elements().asScala.map(_.asDouble).toSeq),
            arr(p, "emissions").map(_.elements().asScala.map(_.asDouble).toSeq))
        }.getOrElse(graft.ml.HMM.uniformModel(nH, nO))
        graft.ml.ModelRegistry.put(str(c, "model_name").get,
          new graft.ml.HmmTransformer(
            graft.ml.HMM.baumWelchStep(df, obsF, init, nO), obsF))
        df
      // ref: hmm/HMM.scala:107 — Viterbi per datum; the result is the
      // reference's {delta, sequence} map as a struct
      case "tuktu.ml.processors.hmm.HMMApplyDecodeProcessor" =>
        df.withColumn(node.result,
          hmmOf(c).decodeColumn(col(str(c, "observations_field").get)))
      // ref: hmm/HMM.scala:135 + models/hmm/PredictAlgorithm.scala:9 —
      // the reference draws with a wall-clock Random per datum; a config
      // seed (default 42) replaces it, one reproducible draw per packet
      case "tuktu.ml.processors.hmm.HMMApplyPredictProcessor" =>
        df.withColumn(node.result, typedlit(graft.ml.HMM.predictSteps(
          hmmOf(c).model, c.get("steps").asInt,
          Option(c.get("seed")).map(_.asLong).getOrElse(42L))))
      // ref: hmm/HMM.scala:159 — JSON parameter matrices instead of the
      // reference's java serialization (num_hidden/num_observable travel
      // with the file, so the config's copies are not needed)
      case "tuktu.ml.processors.hmm.HMMDeserializeProcessor" =>
        graft.ml.ModelRegistry.put(str(c, "model_name").get,
          new graft.ml.HmmTransformer(
            graft.ml.HMM.load(str(c, "file_name").get),
            str(c, "observations_field").getOrElse("observations")))
        df

      // ref: timeseries/ARIMA.scala:15/:48 — full (p,d,q): lag-d difference
      // once; q = 0 is exact AR OLS (the reference's own Autoregression
      // path), q > 0 is Hannan-Rissanen init + CSS maximization (the
      // reference's fitWithCSS, with Nelder-Mead standing in for BOBYQA —
      // same objective, derivative-free, tiny driver-side parameter
      // vectors). Train folds the packet like the reference's per-datum
      // loop: the LAST datum's series (layout order) yields the model.
      case "tuktu.ml.processors.timeseries.ARIMATrainProcessor" =>
        val p = c.get("p").asInt
        val d = c.get("d").asInt
        val q = c.get("q").asInt
        val obsF = str(c, "data_field").get
        val intercept = Option(c.get("include_intercept")).forall(_.asBoolean)
        val tag = uniq("__ord")
        val last = Ops.indexByLayout(df, tag).orderBy(col(tag).desc)
          .select(col(obsF).cast(ArrayType(DoubleType))).head.getSeq[Double](0)
        graft.ml.ModelRegistry.put(str(c, "model_name").get,
          new graft.ml.AriTransformer(
            graft.ml.TimeSeries.arimaFitSeries(last, p, d, q, intercept), obsF))
        df
      // ref: ARIMA.scala:75 — {model_name, data_field, n_future}: the
      // forecast vector (ts.length + n_future values, reference shape)
      case "tuktu.ml.processors.timeseries.ARIMAApplyProcessor" =>
        val t = graft.ml.ModelRegistry.get(str(c, "model_name").get) match {
          case Some(a: graft.ml.AriTransformer) => a
          case Some(other) => throw new IllegalArgumentException(
            s"model '${str(c, "model_name").get}' is ${other.getClass.getSimpleName}, not an ARI model")
          case None => throw new IllegalArgumentException(
            s"no model '${str(c, "model_name").get}' in the registry")
        }
        df.withColumn(node.result,
          t.forecastColumn(col(str(c, "data_field").get), c.get("n_future").asInt))
      case "tuktu.ml.processors.timeseries.ARIMADeserializeProcessor" =>
        graft.ml.ModelRegistry.put(str(c, "model_name").get,
          new graft.ml.AriTransformer(
            graft.ml.TimeSeries.loadAri(str(c, "file_name").get), "series"))
        df

      // ref: timeseries/ChangePointProcessor.scala:18 — {key, timestamp_
      // field, value_field, min_change, min_ratio, min_z_score,
      // inactive_threshold, window_size}: per key, bucket rows by
      // timestamp, mean the value per bucket, run the hydra change-point
      // scan over the bucket means, and emit one row per bucket (its head
      // datum) with {size, type} under the result when that index is a
      // change point (null otherwise — the reference removes the field).
      // One shuffle on the key; each group is a per-key series, the same
      // bounded-state judgement as the HMM/keyed-window paths. Thresholds
      // must be literals (the reference evaluates arithmetic expressions
      // per group — aggregate-threshold configs are rejected clearly).
      case "tuktu.ml.processors.timeseries.ChangePointProcessor" =>
        import org.apache.spark.sql.{Encoders, Row}
        def num(k: String): Double = {
          val raw = str(c, k).get
          try raw.toDouble catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"ChangePointProcessor: $k must be a numeric literal (got '$raw'); " +
                "per-group arithmetic thresholds are not supported")
          }
        }
        val (minChange, minRatio, minZ, inactive, winSize) =
          (num("min_change"), num("min_ratio"), num("min_z_score"),
            num("inactive_threshold"), num("window_size").toInt)
        val keyCols = strs(c, "key")
        val tsF = str(c, "timestamp_field").get
        val vF = str(c, "value_field").get
        val outSchema = df.schema.add(node.result, StructType(Seq(
          StructField("size", DoubleType), StructField("type", StringType))))
        val tsIdx = df.schema.fieldIndex(tsF)
        val vIdx = df.schema.fieldIndex(vF)
        df.groupByKey(r => keyCols.map(k => String.valueOf(r.getAs[Any](k)))
            .mkString("\t"))(Encoders.STRING)
          .flatMapGroups { (_: String, it: Iterator[Row]) =>
            val rows = it.toSeq
            // bucket rows by timestamp, sorted with the reference's
            // type dispatch (longs and dates numerically, else as strings)
            val buckets = rows.groupBy(_.get(tsIdx)).toSeq.sortWith { (a, b) =>
              (a._1, b._1) match {
                case (x: java.lang.Long, y: java.lang.Long) => x < y
                case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.before(y)
                case (x: java.util.Date, y: java.util.Date) => x.before(y)
                case (x, y) => String.valueOf(x) < String.valueOf(y)
              }
            }
            def toD(v: Any): Double = v match {
              case n: Number => n.doubleValue()
              case other => other.toString.toDouble
            }
            val series = buckets.map(b => b._2.map(r => toD(r.get(vIdx))).sum / b._2.size)
            val cps =
              if (series.size > winSize)
                graft.ml.ChangePoints
                  .find(series, minChange, minRatio, minZ, inactive, winSize)
              else Map.empty[Int, (Double, String)]
            buckets.zipWithIndex.iterator.map { case ((_, rs), idx) =>
              val cp = cps.get(idx).map { case (sz, tp) => Row(sz, tp) }.orNull
              Row.fromSeq(rs.head.toSeq :+ cp)
            }
          }(Encoders.row(outSchema))

      // ref: BaseMLProcessor.scala:130/180/239 — serialize/deserialize/
      // destroy are algorithm-independent against the registry (the
      // serialized format is spark.ml MLWritable, the durable path)
      case "tuktu.ml.processors.MLSerializeProcessor" =>
        graft.ml.ModelRegistry.serialize(str(c, "model_name").get, str(c, "file_name").get)
        df
      case deser if deser.startsWith("tuktu.ml.processors.") &&
                    deser.endsWith("DeserializeProcessor") =>
        graft.ml.ModelRegistry.deserialize(str(c, "model_name").get, str(c, "file_name").get)
        df
      case "tuktu.ml.processors.MLDestroyProcessor" =>
        graft.ml.ModelRegistry.destroy(str(c, "model_name").get)
        df

      // ref: preprocessing/NormalizationProcessor.scala:12 — {model_name,
      // fields?, min?, max?}: train collects per-field min/max over the
      // packet (one aggregate row — the stats are config-sized); apply
      // rescales the trained fields in place. No `fields` = every column,
      // like the reference's datum-wide fold.
      case "tuktu.ml.processors.preprocessing.NormalizationTrainProcessor" =>
        val fields = Option(c.get("fields")).map(_ => strs(c, "fields"))
          .getOrElse(df.columns.toSeq)
        val lo = Option(c.get("min")).map(_.asDouble).getOrElse(0.0)
        val hi = Option(c.get("max")).map(_.asDouble).getOrElse(1.0)
        val aggs = fields.flatMap(f => Seq(
          min(col(f).cast(DoubleType)).as(s"__mn_$f"),
          max(col(f).cast(DoubleType)).as(s"__mx_$f")))
        val row = df.agg(aggs.head, aggs.tail: _*).head
        val stats = fields.map(f =>
          f -> (row.getAs[Double](s"__mn_$f"), row.getAs[Double](s"__mx_$f"))).toMap
        graft.ml.ModelRegistry.put(str(c, "model_name").get,
          new graft.ml.FieldNormalizer(stats, lo, hi))
        df
      case "tuktu.ml.processors.preprocessing.NormalizationApplyProcessor" =>
        val name = str(c, "model_name").get
        val norm = graft.ml.ModelRegistry.get(name) match {
          case Some(n: graft.ml.FieldNormalizer) => n
          case Some(other) => throw new IllegalArgumentException(
            s"model '$name' is ${other.getClass.getSimpleName}, not a Normalization")
          case None => throw new IllegalArgumentException(
            s"no model '$name' in the registry — run NormalizationTrainProcessor first")
        }
        Option(c.get("fields")).map(_ => strs(c, "fields"))
          .fold(norm)(norm.restrictTo).transform(df)

      // ref: preprocessing/DummyVariableProcessor.scala:10 — one-hot 0..max
      // as a digit string (or list with as_list)
      case "tuktu.ml.processors.preprocessing.DummyVariableProcessor" =>
        val f = str(c, "field").get
        val dummies = transform(sequence(lit(0), lit(c.get("max").asInt)),
          i => when(i === col(f).cast(IntegerType), 1).otherwise(0))
        df.withColumn(node.result,
          if (bool(c, "as_list")) dummies
          else array_join(transform(dummies, _.cast(StringType)), ""))
      // ref: preprocessing/MissingvaluesProcessor.scala:14 — replace
      // empty/"null" values; the typed replacement chain dispatches on the
      // VALUE's runtime type, which for a static column is its schema type
      case "tuktu.ml.processors.preprocessing.MissingvaluesProcessor" =>
        val targets = Option(c.get("fields")).map(_ => strs(c, "fields"))
          .getOrElse(df.columns.toSeq)
        val repls = arr(c, "replacements").map(r => (str(r, "type").get, r.get("target")))
        def matches(t: String, dt: DataType): Boolean = (t, dt) match {
          case ("any", _) => true
          case ("int", IntegerType) | ("long", LongType) | ("float", FloatType) |
               ("double", DoubleType) | ("short", ShortType) | ("byte", ByteType) |
               ("string", StringType) => true
          case _ => false
        }
        targets.foldLeft(df) { (d, f) =>
          repls.find { case (t, _) => matches(t, d.schema(f).dataType) }.fold(d) {
            case (_, tgt) =>
              val lit0 = lit(tgt.asText).cast(d.schema(f).dataType)
              d.withColumn(f, when(col(f).isNull ||
                col(f).cast(StringType).isin("", "null"), lit0).otherwise(col(f)))
          }
        }
      // ref: association/FPGrowthProcessor.scala:15 — {field, min_support
      // (ABSOLUTE count, smile-style)}: the packet becomes one row per
      // frequent itemset. The count() is packet-scoped, like the
      // reference's blocking learn over the whole packet.
      case "tuktu.ml.processors.association.FPGrowthProcessor" =>
        val f = str(c, "field").get
        val minSup = c.get("min_support").asInt
        val n = df.count().max(1L)
        val model = new org.apache.spark.ml.fpm.FPGrowth()
          .setItemsCol(f).setMinSupport(minSup.toDouble / n)
          .fit(df.select(array_distinct(col(f)).as(f)))
        model.freqItemsets
          .select(col("items").as(node.result + "_items"),
            col("freq").as(node.result + "_support"))

      // ref: modules/dlib/app/tuktu/dlib/processors/xsltProcessor.scala:29
      // — {xsl (stylesheet path/URL), xml (field), encodings?}
      case "tuktu.dlib.processors.XSLTProcessor" =>
        val xsl = graft.operators.Xslt.load(df.sparkSession, str(c, "xsl").get,
          str(c, "encodings").getOrElse("UTF-8"))
        df.withColumn(node.result,
          graft.operators.Xslt.transformColumn(col(str(c, "xml").get), xsl))

      // ref: modules/dlib/.../mapMergerProcessor.scala:17 — {map1, map2,
      // priority?}: "map1"/"map2" SHALLOW-merge two struct fields. The
      // reference's `complete(m1, m2) = m1 ++ m2` makes the OTHER side win
      // on conflicts (Play's ++ overwrites left with right) UNCONDITIONALLY
      // — a JsNull value in the winning map still overwrites. Under a static
      // schema every field of a present struct is present, so "field in m2"
      // is exactly "the m2 struct is non-null for this row" (a null struct
      // is an absent/empty map). The priority-less combine mode produces
      // value-dependent output types per datum (scalar, concatenated array,
      // or pair array) — impossible under a static schema, rejected like
      // ListJsonFetcher.
      case "tuktu.dlib.processors.MapMergerProcessor" =>
        val (a, b) = (str(c, "map1").get, str(c, "map2").get)
        def shallow(first: String, second: String): Column = {
          val ft = df.schema(first).dataType.asInstanceOf[StructType]
          val st = df.schema(second).dataType.asInstanceOf[StructType]
          val names = (ft.map(_.name) ++ st.map(_.name)).distinct
          struct(names.map { n =>
            val inF = ft.exists(_.name == n)
            val inS = st.exists(_.name == n)
            (if (inF && inS)
               when(col(second).isNotNull, col(s"$second.$n"))
                 .otherwise(col(s"$first.$n"))
             else if (inS) col(s"$second.$n")
             else col(s"$first.$n")).as(n)
          }: _*)
        }
        str(c, "priority") match {
          case Some("map1") => df.withColumn(node.result, shallow(a, b)) // m1 ++ m2
          case Some("map2") => df.withColumn(node.result, shallow(b, a)) // m2 ++ m1
          case _ => throw new UnsupportedOperationException(
            "MapMergerProcessor combine mode merges VALUE-dependent types per " +
              "datum (scalar vs concatenated array); use priority map1/map2, " +
              "or JSONMergerProcessor for deep second-wins merging")
        }

      // ref: modules/deeplearn/app/tuktu/deeplearn/processors/image/
      // {Inception,InceptionTensor,VGG16}Classifier.scala — classify an
      // image URL with pretrained Inception/VGG16 weights loaded from
      // model downloads (DLGlobal.scala) the container cannot fetch (no
      // egress). The engine-native path: decode the bytes with
      // graft.operators.Multimodal and classify features with
      // graft.ml.DeepLearn (seeded MLP/SdA/DBN) or spark.ml MLP.
      case dl @ ("tuktu.deeplearn.processors.image.InceptionClassifier"
               | "tuktu.deeplearn.processors.image.InceptionTensorClassifier"
               | "tuktu.deeplearn.processors.image.VGG16Classifier") =>
        throw new UnsupportedOperationException(
          s"$dl needs pretrained Inception/VGG16 weights fetched over the " +
            "network (environmental); decode images with " +
            "graft.operators.Multimodal and classify with graft.ml.DeepLearn " +
            "(seeded MLP/SdA/DBN) or spark.ml MultilayerPerceptronClassifier " +
            "— see COVERAGE.md (deeplearn module)")

      // crawler generator names placed in processor position get the same
      // porting guidance as the generator dispatch
      case crawler @ ("tuktu.crawler.generators.GenericCrawlerGenerator"
                    | "tuktu.crawler.generators.WikipediaContentGenerator") =>
        throw new UnsupportedOperationException(
          s"$crawler performs live-web scraping (egress + per-page actors); " +
            "read crawl archives with graft.sources.Warc, extract text/links " +
            "with graft.operators.Html, and normalize with graft.operators.Url " +
            "— see COVERAGE.md (crawler module)")

      case other => throw new IllegalArgumentException(s"unsupported compat processor: $other")
    }
  }

  // ------------------------------------------------------------- ml helpers
  /** Fixed internal feature/label columns so a model trained by a
    * *TrainProcessor FQCN is applied by its *ApplyProcessor. */
  private val MlFeatures = "__ml_features"
  private val MlLabel = "__ml_label"

  private def withMlVec(df: DataFrame, dataField: String): DataFrame =
    df.withColumn(MlFeatures, org.apache.spark.ml.functions.array_to_vector(
      col(dataField).cast(ArrayType(DoubleType))))

  /** Train processors pass the packet through unchanged
    * (BaseMLProcessor.scala:37-63); the model lands in the registry. */
  private def mlTrain(df: DataFrame, c: JsonNode,
                      fit: DataFrame => org.apache.spark.ml.Transformer,
                      needLabel: Boolean = true): DataFrame = {
    val prepped0 = withMlVec(df, str(c, "data_field").get)
    val prepped =
      if (needLabel)
        prepped0.withColumn(MlLabel, col(str(c, "label_field").get).cast(DoubleType))
      else prepped0
    graft.ml.ModelRegistry.put(str(c, "model_name").get, fit(prepped))
    df
  }

  private def hmmOf(c: JsonNode): graft.ml.HmmTransformer = {
    val name = str(c, "model_name").get
    graft.ml.ModelRegistry.get(name) match {
      case Some(h: graft.ml.HmmTransformer) => h
      case Some(other) => throw new IllegalArgumentException(
        s"model '$name' is ${other.getClass.getSimpleName}, not an HMM")
      case None => throw new IllegalArgumentException(
        s"no model '$name' in the registry — run HMMTrainProcessor or " +
          "HMMDeserializeProcessor first")
    }
  }

  private def mlApply(df: DataFrame, c: JsonNode, node: Flow.Node): DataFrame = {
    val name = str(c, "model_name").get
    val model = graft.ml.ModelRegistry.get(name).getOrElse(
      throw new IllegalArgumentException(s"no model '$name' in the registry — " +
        "run the matching TrainProcessor or DeserializeProcessor first"))
    model.transform(withMlVec(df, str(c, "data_field").get))
      .withColumn(node.result, col("prediction"))
      .drop("prediction", "rawPrediction", "probability", MlFeatures)
  }

  /** smile sizes trees by leaf count; spark.ml by depth — a tree of
    * `maxNodes` leaves needs ~log2(maxNodes) levels (capped at spark.ml's
    * depth limit 30). */
  private def depthForNodes(maxNodes: Int): Int =
    math.min(30, math.max(1, math.ceil(math.log(maxNodes.max(2).toDouble) / math.log(2.0)).toInt))

  /** Token/POS fields may hold a space-joined string — the reference
    * splits it (POSTagging.scala:35-40, Sentiment.scala:41-51). */
  private def tokensOrSplit(df: DataFrame, f: String): Column =
    df.schema(f).dataType match {
      case _: ArrayType => col(f)
      case _ => split(col(f).cast(StringType), " ")
    }

  /** BaseCleaner field adapter (modules/nlp/.../cleanup/Cleanup.scala:33-40):
    * a token-array field cleans element-wise; a plain string field is
    * treated as a one-element list and unwrapped after cleaning. */
  private def cleanerField(df: DataFrame, field: String, result: String)
                          (op: Column => Column): DataFrame =
    df.schema(field).dataType match {
      case _: ArrayType => df.withColumn(result, op(col(field)))
      case _ => df.withColumn(result,
        element_at(op(array(col(field).cast(StringType))), 1))
    }

  private def statsRow(df: DataFrame, c: JsonNode, agg: String => Column): DataFrame = {
    val fields = strs(c, "fields")
    df.groupBy().agg(agg(fields.head).as(fields.head),
      fields.tail.map(f => agg(f).as(f)): _*)
  }
}
