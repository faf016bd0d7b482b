package graft.engine

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Spreadsheet
import scala.jdk.CollectionConverters._

/**
 * Compatibility layer: the reference-FQCN entries of the flow-node
 * registry ([[Flow.generators]], [[Flow.processors]]). A node whose `name`
 * is a reference FQCN (e.g. `tuktu.processors.FieldFilterProcessor`) runs
 * with the reference's OWN config schema, adapted onto the operator
 * library — so existing flow configs run unchanged through [[Flow]]. Each
 * entry is a plain function keyed by its FQCN and reads its config through
 * the node's one reader ([[Flow.Node]]); names rejected by design carry
 * their porting guidance in [[rejects]]. Config schemas transcribed from
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

  /** JsonFetcher contract (BaseProcessors.scala:247-252): a single-element
    * path containing dots is itself a dotted path. */
  private def pathList(f: Flow.Node): Seq[String] = {
    val p = f.req("path").elements().asScala.map(_.asText).toSeq
    if (p.size == 1) p.head.split('.').toSeq else p
  }
  private def uniq(prefix: String): String =
    prefix + "_" + java.util.UUID.randomUUID.toString.take(8)

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

  /** Processor-array JSON → Flow nodes; an id-less node is `p<index>`.
    * Each name must resolve in the registry. */
  private def flowNodes(procs: Seq[JsonNode]): Seq[Flow.Node] =
    Flow.nodes(procs, "p", Flow.processorOf)

  /** An IfThenElse branch's processors: the `config` of the `{config,
    * start}` object under `key`, loaded from [[configRepo]]. */
  private def branchPipeline(c: Flow.Node, key: String): Seq[JsonNode] =
    c.at(Flow.mapper.readTree(loadConfigRaw(c.at(c.req(key)).str("config"))))
      .arr("processors")

  /** A ParallelConfig pipeline's processors: its `config_path` file from
    * [[configRepo]], read after the global and then the pipeline's own
    * `#{source→target}` replacements (the pipeline's win). */
  private def configPathPipeline(c: Flow.Node, pl: Flow.Node): Seq[JsonNode] = {
    def repl(n: Flow.Node) = n.objs("replacements").map(r => r.str("source") -> r.str("target"))
    c.at(Flow.mapper.readTree(Flow.interpolateVars(
      loadConfigRaw(pl.str("config_path")), (repl(c) ++ repl(pl)).toMap))).arr("processors")
  }

  /** The processor arrays a meta processor embeds, inline in its config or
    * loaded from [[configRepo]], which `Flow.parse` resolves with the node
    * itself; the build reads the same arrays. */
  private[engine] val subPipelines: Map[String, Flow.Node => Seq[Seq[JsonNode]]] = Map(
    "tuktu.processors.meta.ParallelProcessor" -> (c => c.objs("processors").map(_.arr("pipeline"))),
    "tuktu.processors.meta.ParallelConfigProcessor" ->
      (c => c.objs("pipelines").map(configPathPipeline(c, _))),
    "tuktu.processors.meta.IfThenElseProcessor" ->
      (c => Seq("then_pipeline", "else_pipeline").map(branchPipeline(c, _))),
    "tuktu.processors.cache.CachingProcessor" -> (c => Seq(c.arr("processors"))))

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
  private[engine] val generators: Map[String, Flow.Generator] = Map(
    // ref: app/tuktu/generators/DummyGenerator.scala:120-139
    "tuktu.generators.ListGenerator" -> { (spark, c) =>
      import spark.implicits._
      c.arr("values").map(_.asText).toDF(c.result)
    },
    // ref: DummyGenerator.scala:34-86 (batch mode)
    "tuktu.generators.DummyGenerator" -> { (spark, c) =>
      val n = c.opt("max_amount").map(_.asLong).getOrElse(1L)
      val v = c.strOpt("message").orElse(c.strOpt("value")).getOrElse("")
      spark.range(n).select(lit(v).as(c.result))
    },
    // ref: app/tuktu/generators/FileGenerators.scala:79 —
    // {filename, start_line?, end_line?}; one line per row under result
    "tuktu.generators.LineGenerator" -> ((spark, c) =>
      graft.sources.Sources.lines(spark, c.str("filename"),
        startLine = c.opt("start_line").map(_.asLong),
        endLine = c.opt("end_line").map(_.asLong))
        .withColumnRenamed("value", c.result)),

    // ref: modules/csv/app/tuktu/csv/generators/CsvGenerator.scala:111 —
    // {filename, has_headers?, predef_headers?, separator?(default ';'),
    //  quote?, escape?, start_line?, end_line?}
    "tuktu.csv.generators.CSVGenerator" -> { (spark, c) =>
      val base = graft.sources.Sources.csv(spark, c.str("filename"),
        header = c.bool("has_headers"),
        sep = c.strOpt("separator").getOrElse(";"),
        quote = c.strOpt("quote").getOrElse("\""),
        escape = c.strOpt("escape").getOrElse("\\"),
        startLine = c.opt("start_line").map(_.asLong),
        endLine = c.opt("end_line").map(_.asLong))
      val predef = c.strs("predef_headers")
      if (predef.nonEmpty) base.toDF(predef: _*) else base
    },

    // ref: modules/csv/app/tuktu/csv/generators/flattening/{Csv,Xls,Xlsx}
    // Generator.scala + Common.parseHierarchy + locators/SimpleLocators
    // .scala — {filename, value_name, locators:[{name,type,params}],
    // flattened?, data_start_col, data_end_col?, end_field:{column,value},
    // sheet_name (xls/xlsx), separator? (csv), password? (xls extension)}.
    // Locator state is per-file by contract, so the hierarchy is a fresh
    // closure per invocation (the () => shape the readers require).
    "tuktu.csv.generators.flattening.CsvGenerator" -> { (spark, c) =>
      // the reference's opencsv takes a CHAR — a multi-char separator
      // would silently truncate to its head there; reject loudly instead.
      // quote/escape ride through to the line parser with the reference's
      // own defaults (flattening/CsvGenerator.scala:90-98)
      def char(k: String, dflt: String): Char = {
        val v = c.strOpt(k).getOrElse(dflt)
        require(v.length == 1,
          s"flattening CsvGenerator $k must be one character, got '$v'")
        v.head
      }
      flattened(c)((file, value, from, to, tree, endCol, end) =>
        Spreadsheet.csvFlattened(spark, file, value, from, to, tree,
          sep = char("separator", ";"), endFieldCol = endCol, endField = end,
          quote = char("quote", "\""), escape = char("escape", "\\")))
    },
    "tuktu.csv.generators.flattening.XlsxGenerator" -> ((spark, c) =>
      flattened(c)((file, value, from, to, tree, endCol, end) =>
        Spreadsheet.xlsxFlattened(spark, file, c.strOpt("sheet_name"), value, from, to,
          tree, endFieldCol = endCol, endField = end))),
    "tuktu.csv.generators.flattening.XlsGenerator" -> ((spark, c) =>
      flattened(c)((file, value, from, to, tree, endCol, end) =>
        graft.sources.XlsBiff.xlsFlattened(spark, file, c.strOpt("sheet_name"), value,
          from, to, tree, endFieldCol = endCol, endField = end,
          password = c.strOpt("password")))),

    // ref: modules/nosql/app/tuktu/nosql/generators/sql.scala:11 —
    // {url, user, password, driver, query, flatten?}: one result row per
    // DB row. An explicit driver class is passed through (the reference's
    // Class.forName — JDBC3 drivers lack the service-loader entry that
    // DriverManager self-registration needs); the query reads as a
    // dbtable subquery so predicates can still push down.
    "tuktu.nosql.generators.SQLGenerator" -> { (spark, c) =>
      val base = spark.read.format("jdbc")
        .option("url", c.str("url"))
        .option("user", c.strOpt("user").getOrElse(""))
        .option("password", c.strOpt("password").getOrElse(""))
        .option("dbtable", s"(${c.str("query")}) AS q0")
      c.strOpt("driver").fold(base)(d => base.option("driver", d)).load()
    },
  )

  // ---------------------------------------------------------------- processors
  private[engine] val processors: Map[String, Flow.Processor] = Map(
    // ref: BaseProcessors.scala:120 — {fields:[{path:[...], result, default?}]}
    "tuktu.processors.FieldFilterProcessor" -> { (df, c) =>
      df.select(c.objs("fields").map { f =>
        val p = pathList(f)
        val out = f.str("result")
        f.opt("default") match {
          case Some(d) if df.columns.contains(p.head) =>
            coalesce(colPath(p), lit(d.asText)).alias(out)
          case Some(d) => lit(d.asText).alias(out) // path absent entirely
          case None    => colPath(p).alias(out)
        }
      }: _*)
    },

    // ref: BaseProcessors.scala:144 — {fields:["k1","k2"]}
    "tuktu.processors.FieldRemoveProcessor" -> ((df, c) => df.drop(c.strs("fields"): _*)),

    // ref: BaseProcessors.scala:160 — {fields:[{path:[...], result}]}.
    // One select with every copy read from the ORIGINAL row: sequential
    // withColumn would let a later copy read an earlier copy's overwrite.
    "tuktu.processors.FieldCopyProcessor" -> { (df, c) =>
      val copies = c.objs("fields").map(f => (pathList(f), f.str("result")))
      val newNames = copies.map(_._2).toSet
      df.select(df.columns.filterNot(newNames.contains).map(col).toSeq ++
        copies.map { case (p, r) => colPath(p).alias(r) }: _*)
    },

    // ref: BaseProcessors.scala:292 — copy then remove the path heads,
    // keeping results that recycle a source name; all sources read from
    // the original row (same single-select rationale as FieldCopy)
    "tuktu.processors.FieldRenameProcessor" -> { (df, c) =>
      val present = c.objs("fields").filter(f => df.columns.contains(pathList(f).head))
      val renames = present.map(f => (pathList(f), f.str("result")))
      val results = renames.map(_._2).toSet
      val cleanUp = present.map(pathList(_).head).toSet -- results
      df.select(
        df.columns.filterNot(n => results.contains(n) || cleanUp.contains(n)).map(col).toSeq ++
          renames.map { case (p, r) => colPath(p).alias(r) }: _*)
    },

    // ref: BaseProcessors.scala:234 — {fields:[{path, result, default?}]};
    // fetches (possibly nested) values as top-level citizens
    "tuktu.processors.JsonFetcherProcessor" -> { (df, c) =>
      c.objs("fields").foldLeft(df) { (d, f) =>
        val v = colPath(pathList(f))
        val withDefault = f.opt("default").fold(v)(dv => coalesce(v, lit(dv.asText)))
        d.withColumn(f.str("result"), withDefault)
      }
    },

    // ref: BaseProcessors.scala:332 — {expression}: fixpoint ${} resolution
    "tuktu.processors.EvaluateNestedTuktuExpressionsProcessor" -> ((df, c) =>
      Ops.evaluateNested(df, c.str("expression"), c.result)),

    // ref: BaseProcessors.scala:574 — {value, is_numeric?} + node result
    "tuktu.processors.FieldConstantAdderProcessor" -> { (df, c) =>
      val v = Expr.interpolate(c.strOpt("value").getOrElse(""))
      df.withColumn(c.result,
        if (c.bool("is_numeric")) v.cast(LongType) else v)
    },

    // ref: BaseProcessors.scala:213 — {field, sources:[regex], targets:[str]};
    // writes the replaced value to the node's result field (per test corpus)
    "tuktu.processors.ReplaceProcessor" -> { (df, c) =>
      val field = c.str("field")
      val pairs = c.strs("sources").zip(c.strs("targets"))
      df.withColumn(c.result,
        pairs.foldLeft(col(field)) { case (e, (s, t)) => regexp_replace(e, s, t) })
    },

    // ref: BaseProcessors.scala:184 — {start_at?, step_size?, per_block?};
    // numbering in input order (= current layout order). per_block counts
    // DataPackets: the batch frame is ONE packet, so every row gets start_at.
    "tuktu.processors.RunningCountProcessor" -> { (df, c) =>
      val startAt = c.opt("start_at").map(_.asLong).getOrElse(0L)
      val step = c.opt("step_size").map(_.asLong).getOrElse(1L)
      if (c.bool("per_block")) df.withColumn(c.result, lit(startAt))
      else Ops.indexByLayout(df, c.result)
        .withColumn(c.result, col(c.result) * step + startAt)
    },

    // ref: BaseProcessors.scala:374-497 — the CURRENT reference schema is
    // FLAT: {type: simple|negate|groovy, expression, batch?,
    // batch_min_count?}. The legacy test-corpus schema ({expressions:
    // [{type, and_or?, expression|[...]}]}, OR at the top level, exists
    // over an empty list = drop all) is accepted as a fallback so older
    // configs keep running.
    "tuktu.processors.PacketFilterProcessor" -> { (df, c) =>
      def leaf(tp: Option[String], e: JsonNode): Column = {
        val base = tp match {
          case Some("groovy") => throw new IllegalArgumentException(
            "groovy expressions are not supported; use the Tuktu predicate grammar or a Scala lambda")
          case _ => Expr.predicate(df, e.asText)
        }
        if (tp.contains("negate")) !base else base
      }
      def build(e: Flow.Node): Column =
        if (e.req("expression").isArray) {
          val children = e.objs("expression").map(build)
          if (e.strOpt("and_or").contains("or")) children.reduceOption(_ || _).getOrElse(lit(false))
          else children.reduceOption(_ && _).getOrElse(lit(true))
        } else leaf(e.strOpt("type"), e.req("expression"))
      val cond =
        if (c.opt("expression").isDefined) leaf(c.strOpt("type"), c.req("expression"))
        else c.objs("expressions").map(build).reduceOption(_ || _).getOrElse(lit(false))
      if (c.bool("batch"))
        batchGate(df, cond, c.opt("batch_min_count").map(_.asLong).getOrElse(1L))
      else df.filter(cond)
    },

    // ref: BaseProcessors.scala:501 — {expressions:[{type, and_or, expression, field}],
    // batch?, batch_min_count?}. Top level is expressions.exists(...): a pure
    // OR over the entries; and_or only combines a NESTED expression array.
    "tuktu.processors.PacketRegexFilterProcessor" -> { (df, c) =>
      def build(e: Flow.Node): Column =
        if (e.req("expression").isArray) {
          // ref BaseProcessors.scala:501 ignores `type:negate` on nested
          // expression arrays — negate applies to string leaves only.
          val children = e.objs("expression").map(build)
          if (e.strOpt("and_or").contains("or")) children.reduceOption(_ || _).getOrElse(lit(false))
          else children.reduceOption(_ && _).getOrElse(lit(true))
        } else {
          val leaf = col(e.str("field")).rlike(e.str("expression"))
          if (e.strOpt("type").contains("negate")) !leaf else leaf
        }
      // exists over an empty expressions list is false: drop everything
      val cond = c.objs("expressions").map(build).reduceOption(_ || _).getOrElse(lit(false))
      if (c.bool("batch"))
        batchGate(df, cond, c.opt("batch_min_count").map(_.asLong).getOrElse(1L))
      else df.filter(cond)
    },

    // ref: BaseProcessors.scala:641 — pass-through (console print is a
    // side effect; show() here would force an extra job, so it is elided)
    "tuktu.processors.ConsoleWriterProcessor" -> ((df, _) => df),

    // ref: BaseProcessors.scala:92 — {field, keep_original_field?}: on an
    // empty list the reference REMOVES the result field (null here) unless
    // keep_original_field, which preserves a pre-existing result value
    "tuktu.processors.HeadOfListProcessor" -> { (df, c) =>
      val f = col(c.str("field"))
      val head = when(size(f) > 0, element_at(f, 1))
      val out =
        if (c.bool("keep_original_field") && df.columns.contains(c.result))
          coalesce(head, col(c.result))
        else head
      df.withColumn(c.result, out)
    },

    // ref: BaseProcessors.scala:668 — {fields:[{path, separator}]};
    // overwrites the path HEAD with the joined string
    "tuktu.processors.StringImploderProcessor" -> { (df, c) =>
      c.objs("fields").foldLeft(df) { (d, f) =>
        val p = pathList(f)
        d.withColumn(p.head, array_join(colPath(p), f.str("separator")))
      }
    },

    // ref: BaseProcessors.scala:760 — {fields?}: concat listed fields'
    // values (arrays splice, scalars wrap) into one list under result;
    // without fields: all values in column-name order
    "tuktu.processors.ImploderProcessor" -> { (df, c) =>
      c.opt("fields") match {
        case Some(_) =>
          // element types must agree for concat; heterogeneous fields fall
          // back to strings like the reference's untyped datum (and the
          // no-fields branch below)
          val typed = c.strs("fields").map { f =>
            df.schema(f).dataType match {
              case ArrayType(et, _) => (col(f), et)
              case dt               => (array(col(f)), dt)
            }
          }
          val parts =
            if (typed.map(_._2).distinct.sizeIs == 1) typed.map(_._1)
            else typed.map(_._1.cast(ArrayType(StringType)))
          df.withColumn(c.result, concat(parts: _*))
        case None =>
          val cols = df.columns.sorted.map(col(_).cast(StringType))
          df.withColumn(c.result, array(cols.toSeq: _*))
      }
    },

    // ref: BaseProcessors.scala:785 — {fields:[...], merge?}: collapse the
    // WHOLE packet (frame) to one row; each listed field becomes the list
    // of its values in arrival order; merge keeps the first row's other fields
    "tuktu.processors.KeyImploderProcessor" -> { (df, c) =>
      val fields = c.strs("fields")
      val ord = uniq("__ord")
      val dense = Ops.indexByLayout(df, ord)
      val listAggs = fields.map(f =>
        transform(array_sort(collect_list(struct(col(ord).as("o"), col(f).as("v")))),
          x => x.getField("v")).as(f))
      val keepAggs =
        if (c.bool("merge"))
          df.columns.filterNot(fields.contains).toSeq.map(f => min_by(col(f), col(ord)).as(f))
        else Nil
      val aggs = keepAggs ++ listAggs
      dense.groupBy().agg(aggs.head, aggs.tail: _*)
    },

    // ref: BaseProcessors.scala:807 — {fields:[{path, subpath, separator}]};
    // array-of-objects → subpath strings joined, overwriting the path head
    "tuktu.processors.JsObjectImploderProcessor" -> { (df, c) =>
      c.objs("fields").foldLeft(df) { (d, f) =>
        val p = pathList(f)
        val sub = f.strs("subpath")
        d.withColumn(p.head, array_join(
          transform(colPath(p),
            x => sub.foldLeft(x)(_.getField(_)).cast(StringType)),
          f.str("separator")))
      }
    },

    // ref: BaseProcessors.scala:844 — {fields, separator}: hoist each named
    // struct field's nested entries to `field<sep>sub<sep>...` columns
    "tuktu.processors.FlattenerProcessor" -> { (df, c) =>
      val sep = c.strOpt("separator").getOrElse(".")
      val targets = c.strs("fields")
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
    },

    // ref: BaseProcessors.scala:900 — {field}: explode in place
    "tuktu.processors.SequenceExploderProcessor" -> { (df, c) =>
      val f = c.str("field")
      df.withColumn(f, explode(col(f)))
    },

    // ref: BaseProcessors.scala:923 — {field}
    "tuktu.processors.SequenceLengthProcessor" -> ((df, c) =>
      df.withColumn(c.result, size(col(c.str("field"))))),

    // ref: BaseProcessors.scala:946 — {field}
    "tuktu.processors.SequenceFlattenerProcessor" -> ((df, c) =>
      df.withColumn(c.result, flatten(col(c.str("field"))))),

    // ref: BaseProcessors.scala:966 — {field}
    "tuktu.processors.DistinctSequenceProcessor" -> ((df, c) =>
      df.withColumn(c.result, array_distinct(col(c.str("field"))))),

    // ref: BaseProcessors.scala:986 — {as_whole?}: nest rows under result
    "tuktu.processors.DataPacketWrapperProcessor" -> { (df, c) =>
      if (c.bool("as_whole") || !c.opt("as_whole").isDefined) {
        val ord = uniq("__ord")
        Ops.indexByLayout(df, ord).groupBy().agg(
          transform(array_sort(collect_list(struct(col(ord).as("o"),
            struct(df.columns.map(col).toSeq: _*).as("v")))),
            x => x.getField("v")).as(c.result))
      } else Ops.datumToField(df, c.result)
    },

    // ref: BaseProcessors.scala:1004 — {field, separator, remove_empty?};
    // separator is a REGEX (String.split)
    "tuktu.processors.StringSplitterProcessor" -> { (df, c) =>
      val parts = split(col(c.str("field")), c.str("separator"))
      val cleaned =
        if (c.opt("remove_empty").forall(_.asBoolean)) // default true
          filter(parts, x => x =!= "")
        else parts
      df.withColumn(c.result, cleaned)
    },

    // ref: BaseProcessors.scala:1030 — {list_field, map_field} → result list
    "tuktu.processors.ListMapFlattenerProcessor" -> ((df, c) =>
      df.withColumn(c.result,
        transform(col(c.str("list_field")), x => x.getField(c.str("map_field"))))),

    // ref: BaseProcessors.scala:1066 — {list_field, map_fields}: one
    // top-level list per inner field, original list kept
    "tuktu.processors.MultiListMapFlattenerProcessor" -> { (df, c) =>
      c.strs("map_fields").foldLeft(df) { (d, f) =>
        d.withColumn(f, transform(col(c.str("list_field")), x => x.getField(f)))
      }
    },

    // ref: BaseProcessors.scala:1102 — {field, contains_field, field_list}:
    // keep row iff every value in contains_field appears at `field` in the
    // list-of-maps under field_list
    "tuktu.processors.ContainsAllFilterProcessor" -> { (df, c) =>
      val inner = c.str("field")
      df.filter(forall(col(c.str("contains_field")),
        v => exists(col(c.str("field_list")), m => m.getField(inner) === v)))
    },

    // ref: BaseProcessors.scala:1134 — {field}: hoist entries, KEEP original
    // (the reference's datum ++ map only adds)
    "tuktu.processors.MapFlattenerProcessor" -> ((df, c) =>
      df.select(col("*"), col(s"`${c.str("field")}`.*"))),

    // ref: BaseProcessors.scala:1175 — {field_1, field_2}: zip + explode,
    // overwriting both
    "tuktu.processors.ZipExplodeProcessor" -> { (df, c) =>
      val (f1, f2) = (c.str("field_1"), c.str("field_2"))
      Ops.zipExplode(df, f1, f2, f1, f2)
    },

    // ref: BaseProcessors.scala:1201 — {fields}
    "tuktu.processors.AbsentFieldsFilterProcessor" -> ((df, c) =>
      Ops.absentFieldsFilter(df, c.strs("fields"))),

    // ref: BaseProcessors.scala:1216
    "tuktu.processors.UUIDAdderProcessor" -> ((df, c) => Ops.uuidAdder(df, c.result)),

    // ref: BaseProcessors.scala:1228 — {fields}
    "tuktu.processors.FieldsToListProcessor" -> ((df, c) =>
      Ops.fieldsToList(df, c.strs("fields"), c.result)),

    // ref: BaseProcessors.scala:1247 — {field, trim?, non_empty?, flattened?}
    "tuktu.processors.XmlToMapProcessor" -> ((df, c) =>
      df.withColumn(c.result,
        graft.sources.Sources.xmlToMap(col(c.str("field"))))),

    // ref: BaseProcessors.scala:1291 — {field, index} (0-based)
    "tuktu.processors.GetListElementProcessor" -> ((df, c) =>
      Ops.getListElement(df, c.str("field"), c.str("index").toInt, c.result)),

    // ref: ConvertToNumber.scala:16 — {field, number_type?}: overwrite
    "tuktu.processors.ConvertToNumber" -> { (df, c) =>
      val f = c.str("field")
      val t: DataType = c.strOpt("number_type").getOrElse("double") match {
        case "int"  => IntegerType
        case "long" => LongType
        case _      => DoubleType
      }
      df.withColumn(f, col(f).cast(t))
    },

    // ref: ConvertToBigDecimal.scala:16 — {field}: overwrite; lists convert
    // elementwise
    "tuktu.processors.ConvertToBigDecimal" -> { (df, c) =>
      val f = c.str("field")
      val dec = DecimalType(38, 18)
      df.schema(f).dataType match {
        case _: ArrayType => df.withColumn(f, transform(col(f), _.cast(dec)))
        case _            => df.withColumn(f, col(f).cast(dec))
      }
    },

    // ref: ConvertToDate.scala:19 — {field, format?}: overwrite. The
    // reference default ("EEE MMM dd HH:mm:ss zzz yyyy", java.util.Date
    // toString) uses pattern letters Spark's parser rejects — that path
    // goes through a SimpleDateFormat UDF instead of failing analysis.
    "tuktu.processors.ConvertToDate" -> { (df, c) =>
      val f = c.str("field")
      c.strOpt("format") match {
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
    },

    // ref: BufferProcessorTestSuite.scala:24 / BufferProcessors.scala —
    // {size}: tag rows with a batch id every `size` rows in arrival order
    // (packets become batch groups; downstream groupBy(result) = packets)
    "tuktu.processors.SizeBufferProcessor" -> { (df, c) =>
      val ord = uniq("__ord")
      Ops.indexByLayout(df, ord)
        .withColumn(c.result, floor(col(ord) / c.req("size").asInt))
        .drop(ord)
    },

    // buffer all until EOF: the batch frame already IS the EOF buffer
    "tuktu.processors.EOFBufferProcessor" -> ((df, _) => df),
    // wall-clock re-batching (BufferProcessors.scala:114): packet shape
    // only, no data semantics — one batch frame is one release; in
    // streaming this is the trigger interval (Streams.tumblingAgg et al.)
    "tuktu.processors.TimeBufferProcessor" -> ((df, _) => df),
    // one datum per packet: packets are partitions here — by-design
    "tuktu.processors.DataPacketSplitterProcessor" -> ((df, _) => df),

    // ref: BufferProcessors.scala GroupByProcessor — {fields}: co-locate
    // groups (the packet-split analog is hash partitioning)
    "tuktu.processors.GroupByProcessor" -> ((df, c) =>
      df.repartition(c.strs("fields").map(col): _*)),

    // ref: bucket/SortProcessor.scala:13 — {field, asc_desc?}
    "tuktu.processors.bucket.SortProcessor" -> { (df, c) =>
      val f = col(c.str("field"))
      Ops.sort(df, Seq(if (c.strOpt("asc_desc").contains("desc")) f.desc else f.asc))
    },

    // ref: bucket/DeduplicationProcessor.scala:13 — {fields}: first-seen in
    // arrival order
    "tuktu.processors.bucket.DeduplicationProcessor" -> { (df, c) =>
      val ord = uniq("__ord")
      Ops.dedupFirstSeen(Ops.indexByLayout(df, ord), c.strs("fields"), Seq(col(ord)))
        .drop(ord)
    },

    // ref: bucket/aggregate/AggregateByValue.scala:16 — {group, base_value,
    // expression}: expression's bare agg fns apply to the evaluated base
    "tuktu.processors.bucket.aggregate.AggregateByValueProcessor" -> { (df, c) =>
      val baseCol = uniq("__base")
      val withBase = df.withColumn(baseCol,
        Expr.arithmetic(df, c.str("base_value")))
      val aggFns = Seq("count", "distinct", "avg", "median", "sum", "max", "min", "stdev")
      val exprStr = aggFns.foldLeft(c.str("expression")) { (a, fn) =>
        a.replace(fn + "()", fn + "(${" + baseCol + "})")
      }
      withBase.groupBy(c.strs("group").map(col): _*)
        .agg(Expr.aggregate(withBase, exprStr).as(c.result))
    },

    // ref: BaseProcessors.scala:23 — pass-through
    "tuktu.processors.SkipProcessor" -> ((df, _) => df),
    // ref: BaseProcessors.scala:74 — pass-through diagnostics; the engine
    // analog is Ops.countEof's Observation (zero extra scan)
    "tuktu.processors.CountEOFProcessor" -> ((df, _) => df),
    // ref: BaseProcessors.scala:56 — throttling has no batch meaning;
    // streaming throttling = trigger interval (documented)
    "tuktu.processors.DelayProcessor" -> ((df, _) => df),

    // ref: BaseProcessors.scala:596 — {value, is_numeric?, is_decimal?,
    // batch?, fields:[{path, result, default?}]}: project the listed paths
    // plus a constant field; batch=true merges to ONE row (later rows win)
    "tuktu.processors.DataPacketFieldMergerProcessor" -> { (df, c) =>
      val v = Expr.interpolate(c.strOpt("value").getOrElse(""))
      val valueCol =
        if (c.bool("is_numeric")) v.cast(LongType)
        else if (c.bool("is_decimal")) v.cast(DoubleType)
        else v
      val copies = c.objs("fields").map { fld =>
        val p = pathList(fld)
        val out = fld.str("result")
        // absent path + default → constant, like FieldFilterProcessor and
        // the reference's fieldParser(...).getOrElse(default)
        (fld.opt("default") match {
          case Some(d) if df.columns.contains(p.head) => coalesce(colPath(p), lit(d.asText))
          case Some(d)                                => lit(d.asText)
          case None                                   => colPath(p)
        }).alias(out)
      } :+ valueCol.alias(c.result)
      val projected = df.select(copies: _*)
      if (c.bool("batch")) {
        val ord = uniq("__ord")
        val dense = Ops.indexByLayout(projected, ord)
        val aggs = projected.columns.toSeq.map(f => max_by(col(f), col(ord)).as(f))
        dense.groupBy().agg(aggs.head, aggs.tail: _*)
      } else projected
    },

    // ref: BaseProcessors.scala:701 — {fields:[{path, separator}]}: each
    // tuple (struct) in the array renders as its fields joined by the
    // separator; the LIST of rendered strings overwrites the path head
    "tuktu.processors.TupleListStringImploder" -> { (df, c) =>
      c.objs("fields").foldLeft(df) { (d, fld) =>
        val p = pathList(fld)
        val sep = fld.str("separator")
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
    },

    // ref: arithmetics/ArithmeticProcessor.scala:16 — {calculate,
    // number_of_decimals?, do_rounding?}
    "tuktu.processors.arithmetics.ArithmeticProcessor" -> { (df, c) =>
      val round =
        if (c.bool("do_rounding"))
          Some(c.opt("number_of_decimals").map(_.asInt).getOrElse(0))
        else None
      Ops.arithmetic(df, c.str("calculate"), c.result, round)
    },

    // ref: arithmetics/MaxByFieldProcessor.scala:10 — {fields}
    "tuktu.processors.arithmetics.MaxFieldByValueProcessor" -> ((df, c) =>
      df.withColumn(c.result, greatest(c.strs("fields").map(col): _*))),

    // ref: BaseProcessors.scala:355 — {predicate}
    "tuktu.processors.PredicateProcessor" -> ((df, c) =>
      Ops.predicateField(df, c.str("predicate"), c.result)),

    // ref: json/JSONParseProcessor.scala:15 — {field}: the reference keeps
    // an untyped JsValue; the Spark-4 analog is the variant type
    "tuktu.processors.json.JSONParseProcessor" -> ((df, c) =>
      df.withColumn(c.result, try_parse_json(col(c.str("field")).cast(StringType)))),

    // ref: time/TimestampNormalizerProcessor.scala:17 — {datetime_field,
    // datetime_format?, time:{unit: n}}: floor to n-unit buckets on the
    // reference's full millis→years grid. Sub-month units floor on the
    // UTC epoch-millis grid with weeks ISO-Monday-aligned (epoch day 0 is
    // a Thursday — Joda weeks start Monday); months/years bucket on
    // calendar months via integer month index.
    "tuktu.processors.time.TimestampNormalizerProcessor" -> { (df, c) =>
      val f = c.str("datetime_field")
      val ts = c.strOpt("datetime_format") match {
        case Some(fmt) => to_timestamp(col(f).cast(StringType), fmt)
        case None      => col(f).cast(TimestampType)
      }
      def n(k: String): Int =
        c.opt("time").flatMap(t => c.at(t).opt(k)).fold(0)(_.asInt)
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
      df.withColumn(c.result, out)
    },

    // ref: time/DateToMillisProcessor.scala:16 — {field}; unix_millis keeps
    // sub-second precision like the reference's getMillis
    "tuktu.processors.time.DateToMillisProcessor" -> ((df, c) =>
      df.withColumn(c.result,
        unix_millis(col(c.str("field")).cast(TimestampType)))),

    // ref: bucket/statistics/StatisticsProcessors.scala — {fields}: one row,
    // one column per field
    "tuktu.processors.bucket.statistics.MeanProcessor" -> ((df, c) =>
      statsRow(df, c, f => avg(col(f).cast(DoubleType)))),
    "tuktu.processors.bucket.statistics.MedianProcessor" -> ((df, c) =>
      statsRow(df, c, f => median(col(f).cast(DoubleType)))),
    "tuktu.processors.bucket.statistics.StDevProcessor" -> ((df, c) =>
      statsRow(df, c, f => stddev_pop(col(f).cast(DoubleType)))),
    "tuktu.processors.bucket.statistics.VarProcessor" -> ((df, c) =>
      statsRow(df, c, f => var_pop(col(f).cast(DoubleType)))),
    "tuktu.processors.bucket.statistics.MidrangeProcessor" -> ((df, c) =>
      statsRow(df, c, f =>
        (max(col(f).cast(DoubleType)) + min(col(f).cast(DoubleType))) / 2)),

    // ref: modules/web/app/tuktu/web/processors/RESTProcessor.scala:20 —
    // {url, http_method?, body?}; body JSON is re-rendered as a template
    "tuktu.web.processors.RESTProcessor" -> ((df, c) =>
      graft.operators.Http.restEnrich(df, c.str("url"), c.result,
        method = c.strOpt("http_method").getOrElse("get"),
        bodyTemplate = c.opt("body").map(b =>
          if (b.isTextual) b.asText else b.toString))),

    // ref: URLCheckerProcessor.scala — {url, codes?}; the data-dependent
    // `field` code list is not supported (static config only)
    "tuktu.web.processors.URLCheckerProcessor" -> ((df, c) =>
      graft.operators.Http.urlChecker(df, c.str("url"), c.result,
        codes = c.opt("codes").map(_.elements().asScala.map(_.asInt).toSeq))),

    // ref: FreeGeoIPProcessor.scala — {ip (field name), geoipurl?, format?}
    "tuktu.web.processors.FreeGeoIPProcessor" -> ((df, c) =>
      graft.operators.Http.freeGeoIp(df, c.str("ip"), c.result,
        geoipUrl = c.strOpt("geoipurl").getOrElse("http://freegeoip.net"),
        format = c.strOpt("format").getOrElse("json"))),

    // ref: ConvertToString.scala:13 — {field}: sequences convert element-wise
    "tuktu.processors.ConvertAnyToStringProcessor" -> { (df, c) =>
      val f = c.str("field")
      df.withColumn(c.result, df.schema(f).dataType match {
        case _: ArrayType => transform(col(f), _.cast(StringType))
        case _ => col(f).cast(StringType)
      })
    },

    // ref: arithmetics/NumericProcessors.scala:11 — {field, target_type}
    "tuktu.processors.arithmetics.NumberToNumberProcessor" -> { (df, c) =>
      val to: DataType = c.str("target_type") match {
        case "Long" => LongType
        case "Double" => DoubleType
        case "Float" => FloatType
        case "BigDecimal" => DecimalType(38, 18)
        case _ => IntegerType
      }
      df.withColumn(c.result, col(c.str("field")).cast(to))
    },

    // ref: arithmetics/ArithmeticProcessor.scala:42 — {calculate,
    // number_of_decimals?, do_rounding?}: aggregate formula over the whole
    // packet, result broadcast onto every row
    "tuktu.processors.arithmetics.ArithmeticAggregateProcessor" -> { (df, c) =>
      // 2 consumers: the aggregate job and the probe side
      val pinned = Ops.materialize(df)
      val aggC = Expr.aggregate(pinned, c.str("calculate"))
      val rounded =
        if (c.bool("do_rounding"))
          round(aggC, c.opt("number_of_decimals").map(_.asInt).getOrElse(0))
        else aggC
      // reference semantics overwrite an existing result field
      pinned.drop(c.result)
        .crossJoin(broadcast(pinned.agg(rounded.as(c.result))))
    },

    // ref: time/TimestampAdderProcessor.scala:13 — {format?}: wall-clock
    // now, as epoch millis or formatted
    "tuktu.processors.time.TimestampAdderProcessor" -> { (df, c) =>
      df.withColumn(c.result, c.strOpt("format") match {
        case Some(f) => date_format(current_timestamp(), f)
        case None => unix_millis(current_timestamp())
      })
    },

    // ref: time/TimestampPeriodAdderProcessor.scala:18 — {time_field,
    // format?, years..seconds}: typed like the reference (millis Long,
    // timestamp, or formatted string); period components are static config
    "tuktu.processors.time.TimestampPeriodAdderProcessor" -> { (df, c) =>
      def iv(k: String): Column = {
        val v = c.strOpt(k).getOrElse("0")
        require(!v.contains("${"),
          s"TimestampPeriodAdder: data-dependent '$k' not supported")
        lit(v.toInt)
      }
      val f = c.str("time_field")
      val fmt = c.strOpt("format").filter(_.nonEmpty)
      val base = df.schema(f).dataType match {
        case StringType => to_timestamp(col(f), fmt.getOrElse(
          throw new IllegalArgumentException(
            "TimestampPeriodAdder: string time_field needs format")))
        case IntegerType | LongType => timestamp_millis(col(f).cast(LongType))
        case _ => col(f)
      }
      val added = base + make_interval(iv("years"), iv("months"), iv("weeks"),
        iv("days"), iv("hours"), iv("minutes"), iv("seconds"))
      df.withColumn(c.result, df.schema(f).dataType match {
        case StringType => date_format(added, fmt.get)
        case IntegerType | LongType => unix_millis(added)
        case _ => added
      })
    },

    // ref: time/DurationProcessor.scala:15 — {start, end} (TuktuStrings):
    // whole days between instants, truncated toward zero like Joda
    // Days.daysBetween
    "tuktu.processors.time.DurationProcessor" -> { (df, c) =>
      val s = to_timestamp(Expr.interpolate(c.str("start")))
      val e = to_timestamp(Expr.interpolate(c.str("end")))
      df.withColumn(c.result,
        ((unix_timestamp(e) - unix_timestamp(s)) / 86400).cast(IntegerType))
    },

    // ref: DatumMergeProcessor.scala:14 — whole packet folds to one datum,
    // later datums win per key (mergeMap): last non-null in arrival order
    "tuktu.processors.DatumMergeProcessor" -> { (df, c) =>
      val ord = uniq("__ord")
      Ops.datumMerge(Ops.indexByLayout(df, ord), Nil, ord)
    },

    // ref: DatumToFieldProcessor.scala:12 — nest each datum under result
    "tuktu.processors.DatumToFieldProcessor" -> ((df, c) => Ops.datumToField(df, c.result)),

    // ref: sample/TakeProcessor.scala:13, DropProcessor.scala:13 —
    // {amount, datums?}: with one frame per flow the packet and datum
    // variants coincide
    "tuktu.processors.sample.TakeProcessor" -> ((df, c) => Ops.take(df, c.req("amount").asInt)),
    "tuktu.processors.sample.DropProcessor" -> { (df, c) =>
      val ord = uniq("__ord")
      Ops.indexByLayout(df, ord)
        .filter(col(ord) >= c.req("amount").asInt).drop(ord)
    },

    // ref: sample/ReverseProcessor.scala:12 — reverse arrival order
    "tuktu.processors.sample.ReverseProcessor" -> { (df, c) =>
      val ord = uniq("__ord")
      Ops.sort(Ops.indexByLayout(df, ord), Seq(col(ord).desc)).drop(ord)
    },

    // ref: BaseProcessors.scala:1273 — empty packets cannot exist here
    "tuktu.processors.RemoveEmptyPacketProcessor" -> ((df, _) => df),

    // ref: sample/StratifiedSamplingProcessor.scala:14 — {class_field,
    // random?, sample_count?}: per-class min-count sample; `random` draws
    // by a deterministic hash of the arrival index instead of arrival
    // order (reproducible where the reference's Random.shuffle is not)
    "tuktu.processors.sample.StratifiedSamplingProcessor" -> { (df, c) =>
      val ord = uniq("__ord")
      val rn = uniq("__rn")
      // 2 consumers: the min-count job and the final window
      val base = Ops.indexByLayout(df, ord).transform(Ops.materialize)
      val orderBy =
        if (c.bool("random")) md5(col(ord).cast(StringType)).asc
        else col(ord).asc
      val minRow = base.groupBy(col(c.str("class_field"))).count()
        .agg(min("count")).first()
      if (minRow.isNullAt(0)) df.limit(0) // empty input: nothing to sample
      else {
        val minCount = minRow.getLong(0)
        val cap = c.opt("sample_count").map(_.asLong)
          .fold(minCount)(s => math.min(minCount, s))
        base.withColumn(rn, row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col(c.str("class_field"))).orderBy(orderBy)))
          .filter(col(rn) <= cap).drop(rn, ord)
      }
    },

    // ref: statistics/ProbabilityProcessors.scala:13 — {numbers:
    // [{number, probability}]}: normalized inverse-CDF draw
    "tuktu.processors.statistics.NumberWithProbabilityProcessor" -> { (df, c) =>
      val raw = c.objs("numbers").map(n =>
        (n.req("probability").asDouble, n.req("number").asInt: Any))
      val total = raw.map(_._1).sum
      Ops.sampleDiscrete(df, raw.map { case (p, v) => (p / total, v) }, c.result)
    },

    // ref: json/JSONCreatorProcessor.scala:12 — {json}: the JSON template
    // (with ${} TuktuStrings anywhere inside) renders per row as a string
    "tuktu.processors.json.JSONCreatorProcessor" -> ((df, c) =>
      df.withColumn(c.result, Expr.interpolate(c.req("json").toString))),

    // ref: json/JSONMergerProcessor.scala:15 — {fields}: deep-merge the
    // JSON objects held in `fields`, left to right (later wins)
    "tuktu.processors.json.JSONMergerProcessor" -> { (df, c) =>
      val fields = c.strs("fields")
      require(fields.nonEmpty, "JSONMerger: fields must be non-empty")
      val merged = fields.tail.foldLeft((df, fields.head)) {
        case ((d, acc), f) =>
          val tmp = uniq("__jm")
          val next = Ops.jsonMerge(d, acc, f, tmp)
          (if (acc.startsWith("__jm")) next.drop(acc) else next, tmp)
      }
      val mergedOut = merged._1.withColumn(c.result, col(merged._2))
      // a single-field merge leaves the user's own column in place
      if (merged._2.startsWith("__jm")) mergedOut.drop(merged._2) else mergedOut
    },

    // ref: FileProcessors.scala:246 — {filename (TuktuString), start_line?,
    // line_separator?}: whole file into the result field per datum
    "tuktu.processors.FileReaderProcessor" -> { (df, c) =>
      val pathCol = uniq("__path")
      val raw = graft.sources.Sources.fileToString(
        df.withColumn(pathCol, Expr.interpolate(c.str("filename"))),
        pathCol, c.result)
      val startLine = c.opt("start_line").map(_.asInt).getOrElse(0)
      val lineSep = c.strOpt("line_separator").getOrElse("\r\n")
      val lines = split(col(c.result), "\\r\\n|\\r|\\n")
      raw.withColumn(c.result,
          array_join(slice(lines, lit(startLine + 1),
            greatest(size(lines) - startLine, lit(0))), lineSep))
        .drop(pathCol)
    },

    // ref: FileProcessors.scala:25/169 — {file_name, fields,
    // field_separator?}: sink + pass-through. Spark writes a directory of
    // parts where the reference appends to one local file — the batch
    // analog; the write happens when the flow is built (eager action).
    "tuktu.processors.FileStreamProcessor" -> fileStream _,
    "tuktu.processors.BatchedFileStreamProcessor" -> fileStream _,

    // ---- NLP cleanup family (modules/nlp/.../cleanup/Cleanup.scala).
    // BaseCleaner contract: the field may hold a token sequence OR a single
    // string (then the op applies to the one-element list and unwraps).
    "tuktu.nlp.processors.cleanup.CaseConverterProcessor" -> ((df, c) =>
      cleanerField(df, c.str("field"), c.result)(
        graft.operators.Cleanup.caseConvert(_, uppercase = c.bool("uppercase")))),
    "tuktu.nlp.processors.cleanup.PunctuationRemoverProcessor" -> ((df, c) =>
      cleanerField(df, c.str("field"), c.result)(
        graft.operators.Cleanup.punctuationRemover)),
    "tuktu.nlp.processors.cleanup.EmojiRemoverProcessor" -> ((df, c) =>
      cleanerField(df, c.str("field"), c.result)(
        graft.operators.Cleanup.emojiRemover)),
    "tuktu.nlp.processors.cleanup.NCharsRemoverProcessor" -> ((df, c) =>
      cleanerField(df, c.str("field"), c.result)(
        graft.operators.Cleanup.nCharsRemover(_, c.req("n").asInt))),
    "tuktu.nlp.processors.cleanup.OddCharacterRemoverProcessor" -> ((df, c) =>
      cleanerField(df, c.str("field"), c.result)(
        graft.operators.Cleanup.oddCharacterRemover)),
    "tuktu.nlp.processors.cleanup.StopwordRemoverProcessor" -> ((df, c) =>
      cleanerField(df, c.str("field"), c.result)(
        graft.operators.Cleanup.stopwordRemover(_, c.str("lang")))),

    // ref: modules/nlp/.../Tokenization.scala:20 — {field, as_string?,
    // language?}: the reference's default tokenization. Only EXACTLY
    // "ar" selects the external Arabic model there (ar_EG etc. fall
    // through to the default), so only that is rejected.
    "tuktu.nlp.processors.TokenizerProcessor" -> { (df, c) =>
      require(!c.strOpt("language").contains("ar"),
        "TokenizerProcessor: language-specific (ar) tokenization not supported")
      val toks = graft.operators.Nlp.defaultTokenize(col(c.str("field")))
      df.withColumn(c.result,
        if (c.bool("as_string")) array_join(toks, " ") else toks)
    },

    // ref: modules/nlp/.../NgramProcessor.scala:14 — {field, n, flatten?,
    // chars?}: grams over tokens. String fields split like Java
    // `split(" ")` (trailing empties dropped); the char form drops the
    // final window like the reference's getNgramsChar (`n to size-1`).
    // `chars` applies to STRING fields only — the reference's Seq branch
    // (NgramProcessor.scala:31) always uses full-window getNgrams.
    "tuktu.nlp.processors.NgramProcessor" -> { (df, c) =>
      val f = c.str("field")
      val n = c.req("n").asInt
      val isArray = df.schema(f).dataType.isInstanceOf[ArrayType]
      val chars = c.bool("chars") && !isArray
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
      df.withColumn(c.result,
        if (c.bool("flatten"))
          array_join(transform(grams, g => array_join(g, "")), " ")
        else grams)
    },

    // ref: modules/nlp/.../Snowball.scala:17 — {field, language}:
    // "nl"/"nl_nl" selects the Snowball Dutch stemmer
    // ([[graft.operators.SnowballDutch]]); anything else is Porter — the
    // reference's own `case _ => porterStemmer` default. A plain string
    // field stays a ONE-ELEMENT stemmed list (Snowball.scala:44 has no
    // .head, unlike BaseCleaner).
    "tuktu.nlp.processors.SnowballProcessor" -> { (df, c) =>
      val lang = c.strOpt("language").getOrElse("en").toLowerCase
      val f = c.str("field")
      val toks = df.schema(f).dataType match {
        case _: ArrayType => col(f)
        case _ => array(col(f).cast(StringType))
      }
      df.withColumn(c.result,
        if (lang == "nl" || lang == "nl_nl") graft.operators.Nlp.stemAllDutch(toks)
        else graft.operators.Nlp.stemAll(toks))
    },

    // ref: modules/nlp/.../POSTagging.scala:17 — {language, tokens}
    "tuktu.nlp.processors.POSTaggerProcessor" -> { (df, c) =>
      require(c.strOpt("language").forall(_.toLowerCase.startsWith("en")),
        "POSTagger: English-only rule tagger")
      val tmp = uniq("__tok")
      df.withColumn(tmp, tokensOrSplit(df, c.str("tokens")))
        .transform(d => graft.operators.Nlp.posTags(d, tmp, c.result))
        .drop(tmp)
    },

    // ref: modules/nlp/.../Sentiment.scala:20,79 — {language, tokens,
    // pos, discretize?}
    "tuktu.nlp.processors.RBEMPolarityProcessor" -> { (df, c) =>
      val (tk, tg) = (uniq("__tok"), uniq("__tag"))
      df.withColumn(tk, tokensOrSplit(df, c.str("tokens")))
        .withColumn(tg, tokensOrSplit(df, c.str("pos")))
        .transform(d => graft.operators.Nlp.polarity(d, tk, tg, c.result,
          discretize = c.bool("discretize")))
        .drop(tk, tg)
    },
    "tuktu.nlp.processors.RBEMEmotionProcessor" -> { (df, c) =>
      val (tk, tg) = (uniq("__tok"), uniq("__tag"))
      df.withColumn(tk, tokensOrSplit(df, c.str("tokens")))
        .withColumn(tg, tokensOrSplit(df, c.str("pos")))
        .transform(d => graft.operators.Nlp.emotion(d, tk, tg, c.result,
          discretize = c.bool("discretize")))
        .drop(tk, tg)
    },

    // ref: modules/nlp/.../LanguageDetection.scala:22,52 (LIGA/LangDet):
    // {field} — marker-token heuristic stands in for the graph model
    "tuktu.nlp.processors.LIGAProcessor" -> langId _,
    "tuktu.nlp.processors.LangDetProcessor" -> langId _,

    // ref: modules/nlp/.../SentenceSplitter.scala:18 — {field, locale}
    "tuktu.nlp.processors.SentenceSplitterProcessor" -> ((df, c) =>
      df.withColumn(c.result, graft.operators.Cleanup.sentenceSplit(
        col(c.str("field")), c.strOpt("locale").getOrElse("en")))),

    // ref: modules/csv/.../CsvProcessors.scala:58 — {field, headers?,
    // headers_from_first?, separator?, quote?, escape?, remove_original?}
    "tuktu.csv.processors.CSVReaderProcessor" -> ((df, c) =>
      graft.sources.Sources.csvField(df, c.str("field"),
        headers = c.opt("headers").map(_ => c.strs("headers")),
        headersFromFirst = c.bool("headers_from_first"),
        sep = c.strOpt("separator").getOrElse(";"),
        quote = c.strOpt("quote").getOrElse("\""),
        escape = c.strOpt("escape").getOrElse("\\"),
        removeOriginal = c.bool("remove_original"))),

    // ref: modules/csv/.../CsvProcessors.scala:179 —
    // {field, widths, headers?, flatten?}
    "tuktu.csv.processors.FixedWidthProcessor" -> ((df, c) =>
      graft.operators.Cleanup.fixedWidth(df, c.str("field"),
        c.arr("widths").map(_.asInt),
        headers = c.opt("headers").map(_ => c.strs("headers")),
        flatten = c.bool("flatten"), result = c.result)),

    // ref: app/tuktu/processors/meta/IfThenElseProcessor.scala:27-205 —
    // {expression, default?, then_pipeline: {config, start},
    //  else_pipeline: {config, start}}: partition the packet on the
    // predicate, run each half through its sub-flow (config files
    // resolved from [[configRepo]] like utils.loadConfig), concatenate
    // then- before else-results (the reference's Future.sequence order).
    // The per-packet actor round-trip compiles away: both branches are
    // static plan branches over the same input lineage, unioned back.
    "tuktu.processors.meta.IfThenElseProcessor" -> { (df, c) =>
      val default = c.opt("default").map {
        case b if b.isBoolean => b.asBoolean
        case s => s.asText.toLowerCase.replaceAll("[^a-z]", "").toBoolean
      }
      // the reference falls back per-datum on evaluation errors; a parse
      // failure fails every datum, so the whole packet takes `default`
      val pred = try Expr.predicate(df, c.str("expression")) catch {
        case e: Exception => default.map(lit).getOrElse(throw e)
      }
      def side(key: String, p: Column): DataFrame = Flow.subFlow(df.filter(p),
        flowNodes(branchPipeline(c, key)), c.at(c.req(key)).str("start"))
      side("then_pipeline", pred)
        .unionByName(side("else_pipeline", !pred), allowMissingColumns = true)
    },

    // ref: app/tuktu/processors/cache/CachingProcessor.scala:24-92 —
    // {cache_key, result_field, start, processors:[...]}: attach a cached
    // value, running the INLINE embedded pipeline to produce it on a
    // miss. Batch mapping: a flow run is one packet and the evaluator
    // builds each node once per run, so the sub-flow runs over this run's
    // input and nothing is stored across runs (a store keyed by name alone
    // would hand a later run the first run's rows). Every datum gets the
    // sub-flow's rows as an array of structs under the node result — the
    // DataPacket-as-value semantics of the reference's `datum +
    // (resultName -> result)`. `cache_key` is required but unused, as
    // `result_field` is by the reference's processor().
    "tuktu.processors.cache.CachingProcessor" -> { (df, c) =>
      c.req("cache_key")
      val sub = Flow.subFlow(df, flowNodes(c.arr("processors")), c.str("start"))
      df.crossJoin(broadcast(
        sub.agg(collect_list(struct(sub.columns.map(col).toSeq: _*)).as(c.result))))
    },

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
    "tuktu.processors.meta.ParallelProcessor" -> ((df, c) =>
      parallel(df, c)(input => c.objs("processors").map(pl =>
        Flow.subFlow(input, flowNodes(pl.arr("pipeline")), pl.str("start"))))),
    "tuktu.processors.meta.ParallelConfigProcessor" -> { (df, c) =>
      parallel(df, c)(input => c.objs("pipelines").flatMap { pl =>
        val nodes = flowNodes(configPathPipeline(c, pl))
        pl.strs("start").map(s0 => Flow.subFlow(input, nodes, s0))
      })
    },

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
    "tuktu.ml.processors.regression.LinearRegressionTrainProcessor" -> ((df, c) =>
      mlTrain(df, c, d => new org.apache.spark.ml.regression.LinearRegression()
        .setFeaturesCol(MlFeatures).setLabelCol(MlLabel).fit(d))),
    // ref: regression/RidgeRegression.scala:12 — {lambda} is the L2 weight
    "tuktu.ml.processors.regression.RidgeRegressionTrainProcessor" -> ((df, c) =>
      mlTrain(df, c, d => new org.apache.spark.ml.regression.LinearRegression()
        .setRegParam(c.req("lambda").asDouble).setElasticNetParam(0.0)
        .setFeaturesCol(MlFeatures).setLabelCol(MlLabel).fit(d))),
    // ref: regression/LogisticRegression.scala:18 — {lambda?, tolerance?,
    // max_iterations?}
    "tuktu.ml.processors.regression.LogisticRegressionTrainProcessor" -> ((df, c) =>
      mlTrain(df, c, d => new org.apache.spark.ml.classification.LogisticRegression()
        .setRegParam(c.opt("lambda").map(_.asDouble).getOrElse(0.0))
        .setTol(c.opt("tolerance").map(_.asDouble).getOrElse(1e-5))
        .setMaxIter(c.opt("max_iterations").map(_.asInt).getOrElse(500))
        .setFeaturesCol(MlFeatures).setLabelCol(MlLabel).fit(d))),
    // ref: clustering/KMeansProcessor.scala:12 — {k, max_iterations?};
    // seed pinned for determinism (the reference's smile runs are seeded
    // by wall clock — reproducibility is strictly better)
    "tuktu.ml.processors.clustering.KMeansTrainProcessor" -> ((df, c) =>
      mlTrain(df, c, d => new org.apache.spark.ml.clustering.KMeans()
        .setK(c.req("k").asInt).setSeed(42)
        .setMaxIter(c.opt("max_iterations").map(_.asInt).getOrElse(20))
        .setFeaturesCol(MlFeatures).fit(d), needLabel = false)),
    // ref: svm/SupportVectorMachines.scala:12 — linear kernel only
    // (LinearSVC); penalty is the soft-margin C → regParam 1/C
    "tuktu.ml.processors.svm.SVMTrainProcessor" -> { (df, c) =>
      require(c.strOpt("kernel").forall(_ == "linear"),
        "SVMTrainProcessor: only the linear kernel is supported (LinearSVC)")
      mlTrain(df, c, d => new org.apache.spark.ml.classification.LinearSVC()
        .setRegParam(1.0 / c.opt("penalty").map(_.asDouble).getOrElse(2.0))
        .setFeaturesCol(MlFeatures).setLabelCol(MlLabel).fit(d))
    },
    // ref: decisiontrees/DecisionTrees.scala:12 — {max_nodes}: a tree of
    // max_nodes leaves needs depth ~log2(max_nodes)
    "tuktu.ml.processors.decisiontrees.DecisionTreeTrainProcessor" -> ((df, c) =>
      mlTrain(df, c, d => new org.apache.spark.ml.classification.DecisionTreeClassifier()
        .setMaxDepth(depthForNodes(c.req("max_nodes").asInt))
        .setFeaturesCol(MlFeatures).setLabelCol(MlLabel).fit(d))),
    // ref: decisiontrees/GradientTreeBoost.scala:12 — {num_trees,
    // max_nodes?, shrinkage?, sampling_rate?}
    "tuktu.ml.processors.decisiontrees.GradientTreeBoostTrainProcessor" -> ((df, c) =>
      mlTrain(df, c, d => new org.apache.spark.ml.classification.GBTClassifier()
        .setMaxIter(c.req("num_trees").asInt)
        .setMaxDepth(depthForNodes(c.opt("max_nodes").map(_.asInt).getOrElse(6)))
        .setStepSize(c.opt("shrinkage").map(_.asDouble).getOrElse(0.005))
        .setSubsamplingRate(c.opt("sampling_rate").map(_.asDouble).getOrElse(0.7))
        .setFeaturesCol(MlFeatures).setLabelCol(MlLabel).fit(d))),

    "tuktu.ml.processors.regression.LinearRegressionApplyProcessor" -> mlApply _,
    "tuktu.ml.processors.regression.RidgeRegressionApplyProcessor" -> mlApply _,
    "tuktu.ml.processors.regression.LogisticRegressionApplyProcessor" -> mlApply _,
    "tuktu.ml.processors.clustering.KMeansApplyProcessor" -> mlApply _,
    "tuktu.ml.processors.svm.SVMApplyProcessor" -> mlApply _,
    "tuktu.ml.processors.decisiontrees.DecisionTreeApplyProcessor" -> mlApply _,
    "tuktu.ml.processors.decisiontrees.GradientTreeBoostApplyProcessor" -> mlApply _,

    // ref: hmm/HMM.scala:12 — {model_name, observations_field,
    // num_hidden, num_observable, priors?{start, transitions,
    // emissions}}: one distributed Baum-Welch step over the packet's
    // sequences from the priors (or uniform) start, like the reference's
    // per-packet BaumWelchMethod application
    "tuktu.ml.processors.hmm.HMMTrainProcessor" -> { (df, c) =>
      val nH = c.req("num_hidden").asInt
      val nO = c.req("num_observable").asInt
      val obsF = c.str("observations_field")
      val init = c.opt("priors").map(c.at).map { p =>
        graft.ml.HMM.modelFromPriors(
          p.arr("start").map(_.asDouble),
          p.arr("transitions").map(_.elements().asScala.map(_.asDouble).toSeq),
          p.arr("emissions").map(_.elements().asScala.map(_.asDouble).toSeq))
      }.getOrElse(graft.ml.HMM.uniformModel(nH, nO))
      graft.ml.ModelRegistry.put(c.str("model_name"),
        new graft.ml.HmmTransformer(
          graft.ml.HMM.baumWelchStep(df, obsF, init, nO), obsF))
      df
    },
    // ref: hmm/HMM.scala:107 — Viterbi per datum; the result is the
    // reference's {delta, sequence} map as a struct
    "tuktu.ml.processors.hmm.HMMApplyDecodeProcessor" -> ((df, c) =>
      df.withColumn(c.result, graft.ml.ModelRegistry.get[graft.ml.HmmTransformer](
        c.str("model_name")).decodeColumn(col(c.str("observations_field"))))),
    // ref: hmm/HMM.scala:135 + models/hmm/PredictAlgorithm.scala:9 —
    // the reference draws with a wall-clock Random per datum; a config
    // seed (default 42) replaces it, one reproducible draw per packet
    "tuktu.ml.processors.hmm.HMMApplyPredictProcessor" -> ((df, c) =>
      df.withColumn(c.result, typedlit(graft.ml.HMM.predictSteps(
        graft.ml.ModelRegistry.get[graft.ml.HmmTransformer](c.str("model_name")).model,
        c.req("steps").asInt,
        c.opt("seed").map(_.asLong).getOrElse(42L))))),
    // ref: hmm/HMM.scala:159 — JSON parameter matrices instead of the
    // reference's java serialization (num_hidden/num_observable travel
    // with the file, so the config's copies are not needed)
    "tuktu.ml.processors.hmm.HMMDeserializeProcessor" -> { (df, c) =>
      graft.ml.ModelRegistry.put(c.str("model_name"),
        new graft.ml.HmmTransformer(
          graft.ml.HMM.load(c.str("file_name")),
          c.strOpt("observations_field").getOrElse("observations")))
      df
    },

    // ref: timeseries/ARIMA.scala:15/:48 — full (p,d,q): lag-d difference
    // once; q = 0 is exact AR OLS (the reference's own Autoregression
    // path), q > 0 is Hannan-Rissanen init + CSS maximization (the
    // reference's fitWithCSS, with Nelder-Mead standing in for BOBYQA —
    // same objective, derivative-free, tiny driver-side parameter
    // vectors). Train folds the packet like the reference's per-datum
    // loop: the LAST datum's series (layout order) yields the model.
    "tuktu.ml.processors.timeseries.ARIMATrainProcessor" -> { (df, c) =>
      val p = c.req("p").asInt
      val d = c.req("d").asInt
      val q = c.req("q").asInt
      val obsF = c.str("data_field")
      val intercept = c.opt("include_intercept").forall(_.asBoolean)
      val tag = uniq("__ord")
      val last = Ops.indexByLayout(df, tag).orderBy(col(tag).desc)
        .select(col(obsF).cast(ArrayType(DoubleType))).head.getSeq[Double](0)
      graft.ml.ModelRegistry.put(c.str("model_name"),
        new graft.ml.AriTransformer(
          graft.ml.TimeSeries.arimaFitSeries(last, p, d, q, intercept), obsF))
      df
    },
    // ref: ARIMA.scala:75 — {model_name, data_field, n_future}: the
    // forecast vector (ts.length + n_future values, reference shape)
    "tuktu.ml.processors.timeseries.ARIMAApplyProcessor" -> { (df, c) =>
      val t = graft.ml.ModelRegistry.get[graft.ml.AriTransformer](c.str("model_name"))
      df.withColumn(c.result,
        t.forecastColumn(col(c.str("data_field")), c.req("n_future").asInt))
    },
    "tuktu.ml.processors.timeseries.ARIMADeserializeProcessor" -> { (df, c) =>
      graft.ml.ModelRegistry.put(c.str("model_name"),
        new graft.ml.AriTransformer(
          graft.ml.TimeSeries.loadAri(c.str("file_name")), "series"))
      df
    },

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
    "tuktu.ml.processors.timeseries.ChangePointProcessor" -> { (df, c) =>
      import org.apache.spark.sql.{Encoders, Row}
      def num(k: String): Double = {
        val raw = c.str(k)
        try raw.toDouble catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"ChangePointProcessor: $k must be a numeric literal (got '$raw'); " +
              "per-group arithmetic thresholds are not supported")
        }
      }
      val (minChange, minRatio, minZ, inactive, winSize) =
        (num("min_change"), num("min_ratio"), num("min_z_score"),
          num("inactive_threshold"), num("window_size").toInt)
      val keyCols = c.strs("key")
      val tsF = c.str("timestamp_field")
      val vF = c.str("value_field")
      val outSchema = df.schema.add(c.result, StructType(Seq(
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
    },

    // ref: BaseMLProcessor.scala:130/180/239 — serialize/deserialize/
    // destroy are algorithm-independent against the registry (the
    // serialized format is spark.ml MLWritable, the durable path)
    "tuktu.ml.processors.MLSerializeProcessor" -> { (df, c) =>
      graft.ml.ModelRegistry.serialize(c.str("model_name"), c.str("file_name"))
      df
    },
    "tuktu.ml.processors.MLDestroyProcessor" -> { (df, c) =>
      graft.ml.ModelRegistry.destroy(c.str("model_name"))
      df
    },

    // ref: preprocessing/NormalizationProcessor.scala:12 — {model_name,
    // fields?, min?, max?}: train collects per-field min/max over the
    // packet (one aggregate row — the stats are config-sized); apply
    // rescales the trained fields in place. No `fields` = every column,
    // like the reference's datum-wide fold.
    "tuktu.ml.processors.preprocessing.NormalizationTrainProcessor" -> { (df, c) =>
      val fields = c.opt("fields").map(_ => c.strs("fields"))
        .getOrElse(df.columns.toSeq)
      val lo = c.opt("min").map(_.asDouble).getOrElse(0.0)
      val hi = c.opt("max").map(_.asDouble).getOrElse(1.0)
      val aggs = fields.flatMap(f => Seq(
        min(col(f).cast(DoubleType)).as(s"__mn_$f"),
        max(col(f).cast(DoubleType)).as(s"__mx_$f")))
      val row = df.agg(aggs.head, aggs.tail: _*).head
      val stats = fields.map(f =>
        f -> (row.getAs[Double](s"__mn_$f"), row.getAs[Double](s"__mx_$f"))).toMap
      graft.ml.ModelRegistry.put(c.str("model_name"),
        new graft.ml.FieldNormalizer(stats, lo, hi))
      df
    },
    "tuktu.ml.processors.preprocessing.NormalizationApplyProcessor" -> { (df, c) =>
      val norm = graft.ml.ModelRegistry.get[graft.ml.FieldNormalizer](c.str("model_name"))
      c.opt("fields").map(_ => c.strs("fields"))
        .fold(norm)(norm.restrictTo).transform(df)
    },

    // ref: preprocessing/DummyVariableProcessor.scala:10 — one-hot 0..max
    // as a digit string (or list with as_list)
    "tuktu.ml.processors.preprocessing.DummyVariableProcessor" -> { (df, c) =>
      val f = c.str("field")
      val dummies = transform(sequence(lit(0), lit(c.req("max").asInt)),
        i => when(i === col(f).cast(IntegerType), 1).otherwise(0))
      df.withColumn(c.result,
        if (c.bool("as_list")) dummies
        else array_join(transform(dummies, _.cast(StringType)), ""))
    },
    // ref: preprocessing/MissingvaluesProcessor.scala:14 — replace
    // empty/"null" values; the typed replacement chain dispatches on the
    // VALUE's runtime type, which for a static column is its schema type
    "tuktu.ml.processors.preprocessing.MissingvaluesProcessor" -> { (df, c) =>
      val targets = c.opt("fields").map(_ => c.strs("fields"))
        .getOrElse(df.columns.toSeq)
      val repls = c.objs("replacements").map(r => (r.str("type"), r.req("target")))
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
    },
    // ref: association/FPGrowthProcessor.scala:15 — {field, min_support
    // (ABSOLUTE count, smile-style)}: the packet becomes one row per
    // frequent itemset. The count() is packet-scoped, like the
    // reference's blocking learn over the whole packet.
    "tuktu.ml.processors.association.FPGrowthProcessor" -> { (df, c) =>
      val f = c.str("field")
      val minSup = c.req("min_support").asInt
      val n = df.count().max(1L)
      val model = new org.apache.spark.ml.fpm.FPGrowth()
        .setItemsCol(f).setMinSupport(minSup.toDouble / n)
        .fit(df.select(array_distinct(col(f)).as(f)))
      model.freqItemsets
        .select(col("items").as(c.result + "_items"),
          col("freq").as(c.result + "_support"))
    },

    // ref: modules/dlib/app/tuktu/dlib/processors/xsltProcessor.scala:29
    // — {xsl (stylesheet path/URL), xml (field), encodings?}
    "tuktu.dlib.processors.XSLTProcessor" -> { (df, c) =>
      val xsl = graft.operators.Xslt.load(df.sparkSession, c.str("xsl"),
        c.strOpt("encodings").getOrElse("UTF-8"))
      df.withColumn(c.result,
        graft.operators.Xslt.transformColumn(col(c.str("xml")), xsl))
    },

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
    "tuktu.dlib.processors.MapMergerProcessor" -> { (df, c) =>
      val (a, b) = (c.str("map1"), c.str("map2"))
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
      c.strOpt("priority") match {
        case Some("map1") => df.withColumn(c.result, shallow(a, b)) // m1 ++ m2
        case Some("map2") => df.withColumn(c.result, shallow(b, a)) // m2 ++ m1
        case _ => throw new UnsupportedOperationException(
          "MapMergerProcessor combine mode merges VALUE-dependent types per " +
            "datum (scalar vs concatenated array); use priority map1/map2, " +
            "or JSONMergerProcessor for deep second-wins merging")
      }
    },
  )

  /** Reference FQCNs rejected by name, in generator or processor position:
    * their semantics are value-dependent or spawn flows per datum, or they
    * need network egress — incompatible with a statically composed plan on
    * an offline engine. Each maps to the porting guidance its failure
    * carries. */
  val rejects: Map[String, String] = {
    // ref: app/tuktu/processors/meta/MetaProcessors.scala — per-datum
    // generator flows; Spark flows compose statically
    val meta = "spawns generator flows dynamically per datum; compose the " +
      "topology statically with Flow generators/branches (a node feeding " +
      "several branches is built once) — see COVERAGE.md §2.9"
    // ref: modules/crawler/app/tuktu/crawler/generators/
    // GenericCrawlerGenerator.scala:27 / WikipediaContentGenerator.scala:32;
    // archives scale to a 100 TB crawl where re-fetching it does not
    val crawler = "performs live-web scraping (egress + per-page actors); " +
      "read crawl archives with graft.sources.Warc, extract text/links " +
      "with graft.operators.Html, and normalize with graft.operators.Url " +
      "— see COVERAGE.md (crawler module)"
    // ref: modules/deeplearn/app/tuktu/deeplearn/processors/image/
    // {Inception,InceptionTensor,VGG16}Classifier.scala, DLGlobal.scala
    val image = "needs pretrained Inception/VGG16 weights fetched over the " +
      "network (environmental); decode images with " +
      "graft.operators.Multimodal and classify with graft.ml.DeepLearn " +
      "(seeded MLP/SdA/DBN) or spark.ml MultilayerPerceptronClassifier " +
      "— see COVERAGE.md (deeplearn module)"
    Seq(
      // ref: BaseProcessors.scala:268 — output schema depends on the VALUES
      // of the path list; impossible under a static DataFrame schema
      "tuktu.processors.ListJsonFetcherProcessor" ->
        ("derives output column names from data values; use " +
          "JsonFetcherProcessor with static paths, or Ops.dynamicFetch for one value"),
      "tuktu.processors.meta.GeneratorConfigProcessor" -> meta,
      "tuktu.processors.meta.GeneratorConfigStreamProcessor" -> meta,
      "tuktu.processors.meta.GeneratorStreamProcessor" -> meta,
      "tuktu.crawler.generators.GenericCrawlerGenerator" -> crawler,
      "tuktu.crawler.generators.WikipediaContentGenerator" -> crawler,
      "tuktu.deeplearn.processors.image.InceptionClassifier" -> image,
      "tuktu.deeplearn.processors.image.InceptionTensorClassifier" -> image,
      "tuktu.deeplearn.processors.image.VGG16Classifier" -> image
    ).map { case (name, why) => name -> s"$name $why" }.toMap
  }

  /** ref: BaseMLProcessor.scala:180 — `tuktu.ml.processors.<Model>
    * DeserializeProcessor` names beyond the registered HMM/ARIMA ones
    * resolve generically to the spark.ml MLWritable load: the one
    * fallback of the processor lookup. */
  private[engine] def mlDeserialize(name: String): Option[Flow.Processor] =
    Option.when(name.startsWith("tuktu.ml.processors.") &&
      name.endsWith("DeserializeProcessor")) { (df, c) =>
      graft.ml.ModelRegistry.deserialize(df.sparkSession, c.str("model_name"),
        c.str("file_name"))
      df
    }

  // -------------------------------------------------------- shared entry bodies
  /** The flattening generators' shared half (ref flattening/Common.scala
    * parseHierarchy + locators/SimpleLocators.scala): decode the locator
    * hierarchy and the data window, hand them to `read` (file, value name,
    * first and last data column, hierarchy factory, end-field column and
    * marker), and nest the record under the result unless `flattened`.
    * Locator state is per-file by contract, so the hierarchy is a fresh
    * closure per invocation (the () => shape the readers require). */
  private def flattened(c: Flow.Node)(read: (String, String, Int, Option[Int],
      () => List[Spreadsheet.ParseNode], Int, String) => DataFrame): DataFrame = {
    // parse the locator specs EAGERLY into plain serializable values —
    // the hierarchy closure ships to executors and must not capture
    // the Jackson config tree
    val locSpecs: List[(String, String, Map[String, Int], Option[String])] =
      c.objs("locators").toList.map { loc =>
        val p = loc.at(loc.req("params"))
        val ints = Seq("offset", "row_start", "row_end", "row", "col", "step")
          .flatMap(k => p.opt(k).map(v => k -> v.asInt)).toMap
        (loc.str("name"), loc.str("type"), ints, p.strOpt("split"))
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
    val endField = c.opt("end_field").map(c.at)
    val flat = read(c.str("filename"), c.str("value_name"), c.req("data_start_col").asInt,
      c.opt("data_end_col").map(_.asInt), () => hierarchy(),
      endField.fold(-1)(_.req("column").asInt), endField.map(_.str("value")).orNull)
    // flattened=false (the reference DEFAULT) nests the whole record
    // under resultName — one struct column, the datum shape the
    // reference's downstream processors expect
    if (c.bool("flattened")) flat
    else flat.select(struct(flat.columns.map(col): _*).as(c.result))
  }

  /** Parallel(Config)Processor's shared half: `branches` builds the
    * embedded pipelines over the input (the empty frame unless
    * send_original), and the named DataMerger combines them. */
  private def parallel(df: DataFrame, c: Flow.Node)
                      (branches: DataFrame => Seq[DataFrame]): DataFrame = {
    val sendOriginal = c.opt("send_original").forall(_.asBoolean)
    val built = branches(if (sendOriginal) df else df.limit(0))
    val all = if (c.bool("include_original")) df +: built else built
    c.str("merger") match {
      case "tuktu.processors.merge.SerialMerger" => Ops.serialMerge(all)
      case "tuktu.processors.merge.SimpleMerger" => Ops.zipMerge(all, pad = false)
      case "tuktu.processors.merge.PaddingMerger" => Ops.zipMerge(all, pad = true)
      case other => throw new UnsupportedOperationException(
        s"unsupported merger $other (JSMerger is TuktuJS web territory)")
    }
  }

  /** ref: FileProcessors.scala:25/169 — {file_name, fields,
    * field_separator?}: sink + pass-through (File- and
    * BatchedFileStreamProcessor). Spark writes a directory of parts where
    * the reference appends to one local file — the batch analog; the write
    * happens when the flow is built (eager action). */
  private def fileStream(df: DataFrame, c: Flow.Node): DataFrame = {
    val fields = c.strs("fields")
    val sepC = c.strOpt("field_separator").getOrElse(",")
    df.select(concat_ws(sepC, fields.map(f => col(f).cast(StringType)): _*)
        .as("value"))
      .write.mode("overwrite").text(c.str("file_name"))
    df
  }

  /** ref: modules/nlp/.../LanguageDetection.scala:22,52 (LIGA and
    * LangDet): {field} — marker-token heuristic stands in for the graph
    * model. */
  private def langId(df: DataFrame, c: Flow.Node): DataFrame =
    df.withColumn(c.result, graft.operators.TextAnalysis.langId(col(c.str("field"))))

  // ------------------------------------------------------------- ml helpers
  /** Fixed internal feature/label columns so a model trained by a
    * *TrainProcessor FQCN is applied by its *ApplyProcessor. */
  private val MlFeatures = "__ml_features"
  private val MlLabel = "__ml_label"

  private def withMlVec(df: DataFrame, dataField: String): DataFrame =
    df.withColumn(MlFeatures, org.apache.spark.ml.functions.array_to_vector(
      col(dataField).cast(ArrayType(DoubleType))))

  /** Train processors pass the packet through unchanged
    * (BaseMLProcessor.scala:37-63); the model lands in the registry
    * without its training summary. A binary-classification summary
    * (LogisticRegression, LinearSVC) holds the SparkSession, which stops
    * serializing once the session has run a `Dataset.observe` (its
    * ObservationManager is not serializable), and the apply task ships the
    * model. spark.ml's `setSummary` is package-private, so it is reached
    * by name; models without a summary have no such method. */
  private def mlTrain(df: DataFrame, c: Flow.Node,
                      fit: DataFrame => org.apache.spark.ml.Transformer,
                      needLabel: Boolean = true): DataFrame = {
    val prepped0 = withMlVec(df, c.str("data_field"))
    val prepped =
      if (needLabel)
        prepped0.withColumn(MlLabel, col(c.str("label_field")).cast(DoubleType))
      else prepped0
    val model = fit(prepped)
    scala.util.Try(model.getClass.getMethod("setSummary", classOf[Option[_]]))
      .foreach(_.invoke(model, None))
    graft.ml.ModelRegistry.put(c.str("model_name"), model)
    df
  }

  private def mlApply(df: DataFrame, c: Flow.Node): DataFrame = {
    graft.ml.ModelRegistry.get[org.apache.spark.ml.Transformer](c.str("model_name"))
      .transform(withMlVec(df, c.str("data_field")))
      .withColumn(c.result, col("prediction"))
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

  private def statsRow(df: DataFrame, c: Flow.Node, agg: String => Column): DataFrame = {
    val fields = c.strs("fields")
    df.groupBy().agg(agg(fields.head).as(fields.head),
      fields.tail.map(f => agg(f).as(f)): _*)
  }
}
