package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Operator library: each reference processor (SURVEY.md §2.3-§2.9)
 * re-expressed as a declarative `DataFrame => DataFrame` stage so Catalyst
 * plans pushdown/pruning/shuffles. Citations are reference file:line.
 *
 * Naming/semantics contract: the reference writes each processor's output to
 * its `resultName` field, overwriting any existing field — mirrored here with
 * `withColumn` semantics.
 */
object Ops {

  // ------------------------------------------------- §2.3 projections / field ops

  /** FieldFilterProcessor (app/tuktu/processors/BaseProcessors.scala:120):
    * keep only listed dot-path fields, rename, optional default. */
  def fieldFilter(df: DataFrame, fields: Seq[(String, String)],
                  defaults: Map[String, Any] = Map.empty): DataFrame =
    df.select(fields.map { case (path, alias) =>
      defaults.get(alias) match {
        case Some(d) => coalesce(col(path), lit(d)).alias(alias)
        case None    => col(path).alias(alias)
      }
    }: _*)

  /** FieldRemoveProcessor (BaseProcessors.scala:144). */
  def fieldRemove(df: DataFrame, fields: Seq[String]): DataFrame = df.drop(fields: _*)

  /** FieldCopyProcessor (BaseProcessors.scala:160): copy dot-paths to new
    * top-level names. */
  def fieldCopy(df: DataFrame, pairs: Seq[(String, String)]): DataFrame =
    pairs.foldLeft(df) { case (d, (path, name)) => d.withColumn(name, col(path)) }

  /** FieldRenameProcessor (BaseProcessors.scala:292). */
  def fieldRename(df: DataFrame, pairs: Seq[(String, String)]): DataFrame =
    pairs.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }

  /** JsonFetcherProcessor (BaseProcessors.scala:234): hoist nested path to top
    * level with default. */
  def jsonFetcher(df: DataFrame, path: String, result: String, default: Option[Any]): DataFrame =
    df.withColumn(result, default.fold(col(path))(d => coalesce(col(path), lit(d))))

  /** FieldConstantAdderProcessor (BaseProcessors.scala:574): add constant
    * field; value supports `${}` interpolation. */
  def constantAdder(df: DataFrame, result: String, template: String): DataFrame =
    df.withColumn(result, Expr.interpolate(template))

  /** The one materialization point of graft: every frame that is computed
    * once and then read several times, pinned to a layout, or cut out of a
    * growing loop plan goes through here (`.transform(Ops.materialize)` in
    * a chain, `x = Ops.materialize(x)` in a loop). The body is
    * `localCheckpoint()`, and every call site relies on this contract:
    *   - eager: it runs one job, when it is called, over the whole frame;
    *   - it cuts lineage, so the returned frame's plan is a `LogicalRDD`
    *     and an iterative loop's plan depth stays bounded;
    *   - its layout (partitions and row order in each) is stable across
    *     later executions, which `indexByLayout`'s two jobs need;
    *   - it creates no CacheManager entry, so nothing leaks from one bench
    *     rep into the next; its blocks are freed once the returned frame
    *     is garbage collected;
    *   - its blocks are executor-local: losing an executor fails the next
    *     job over it with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` instead of
    *     recomputing. Surviving executor loss means changing this body. */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Collect a model-sized frame (a benchmark gram set, a tokenizer
    * vocabulary) to the driver under a hard row cap: `limit(cap + 1)`
    * bounds the driver allocation in the SAME single job (no extra count
    * scan) — at or under the cap the limit is a no-op, over it we see
    * cap + 1 rows and fail loudly, naming `what` and the cap, before
    * materializing the rest. A LocalRelation collects without a job. */
  private[graft] def collectBounded(df: DataFrame, cap: Int, what: String,
                                    advice: String): Array[Row] = {
    val rows = df.limit(cap + 1).collect()
    require(rows.length <= cap, s"$what exceeds $cap rows — $advice")
    rows
  }

  /** Scalable global row index in `orderBy` order: range-partition on the
    * sort keys, sort within partitions, then number by layout.
    * Replaces `row_number().over(Window.orderBy(...))`, which funnels ALL
    * rows through a single partition and cannot survive a 100× scale-up.
    *
    * The range shuffle MUST be pinned before numbering: indexByLayout runs
    * two executions (counts, then the indexed result), and a range shuffle
    * re-samples its partition boundaries per execution — without the pin
    * the two jobs can see DIFFERENT layouts, yielding duplicated and
    * missing indices. */
  def withGlobalIndex(df: DataFrame, orderBy: Seq[Column], result: String): DataFrame =
    indexByLayout(
      materialize(df.repartitionByRange(orderBy: _*).sortWithinPartitions(orderBy: _*)),
      result)

  /** Global index following the CURRENT layout (partition order, then row
    * order within partition) without leaving DataFrame/Tungsten land: the
    * within-partition index comes from monotonically_increasing_id (partition
    * id in the upper 31 bits, local row number in the lower 33), partition
    * start offsets from a tiny count-per-partition job broadcast-joined back.
    *
    * Contract: the input's layout must be deterministic across executions,
    * because this runs two jobs (counts, then result) over it. File scans
    * and hash shuffles are deterministic; a range shuffle or a round-robin
    * `repartition(n)` is NOT — pin those with `materialize` first, as
    * withGlobalIndex does. Deterministic inputs deliberately get no pin:
    * slicing the first lines of a huge file must not materialize the whole
    * file into executor storage. */
  def indexByLayout(df: DataFrame, result: String): DataFrame = {
    val spark = df.sparkSession
    // Uniquified temp names: withColumn on a fixed name would silently
    // replace (then drop) a same-named input column.
    val tag = java.util.UUID.randomUUID.toString.take(8)
    val (pid, mid, off) = (s"__pid_$tag", s"__mid_$tag", s"__offset_$tag")
    val tagged = df.withColumn(pid, spark_partition_id())
      .withColumn(mid, monotonically_increasing_id())
    val counts = tagged.groupBy(col(pid)).agg(count(lit(1)).as("__cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.map(_._1).zip(counts.map(_._2).scanLeft(0L)(_ + _).init)
    val offsetsDf = spark.createDataFrame(offsets.toSeq).toDF(pid, off)
    tagged.join(broadcast(offsetsDf), Seq(pid))
      .withColumn(result,
        col(off) + col(mid) - shiftleft(col(pid).cast(LongType), 33))
      .drop(pid, mid, off)
  }

  /** RunningCountProcessor (BaseProcessors.scala:184): sequence number in
    * explicit `orderBy` order (reference semantics are inherently sequential;
    * the index itself is computed scalably — see withGlobalIndex). */
  def runningCount(df: DataFrame, orderBy: Seq[Column], startAt: Long = 0, stepSize: Long = 1,
                   result: String = "count"): DataFrame =
    withGlobalIndex(df, orderBy, "__idx")
      .withColumn(result, col("__idx") * stepSize + startAt)
      .drop("__idx")

  /** UUIDAdderProcessor (BaseProcessors.scala:1216). */
  def uuidAdder(df: DataFrame, result: String): DataFrame = df.withColumn(result, expr("uuid()"))

  /** FieldsToListProcessor (BaseProcessors.scala:1228). */
  def fieldsToList(df: DataFrame, fields: Seq[String], result: String): DataFrame =
    df.withColumn(result, array(fields.map(col): _*))

  /** ImploderProcessor (BaseProcessors.scala:760): merge array fields into one. */
  def imploder(df: DataFrame, fields: Seq[String], result: String): DataFrame =
    df.withColumn(result, concat(fields.map(col): _*))

  /** KeyImploderProcessor (BaseProcessors.scala:785): collapse group: one row
    * whose field is the list of that field across rows, in explicit order. */
  def keyImploder(df: DataFrame, groupKeys: Seq[String], field: String, orderField: String,
                  result: String): DataFrame =
    df.groupBy(groupKeys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col(orderField).as("o"), col(field).as("v")))),
        x => x.getField("v")).as(result))

  /** DatumMergeProcessor (app/tuktu/processors/DatumMergeProcessor.scala:14):
    * fold all rows of a group into one — last non-null value per column in
    * the given order. */
  def datumMerge(df: DataFrame, groupKeys: Seq[String], orderField: String): DataFrame = {
    val valueCols = df.columns.filterNot(c => groupKeys.contains(c) || c == orderField)
    val aggs = valueCols.map { c =>
      // last-by-order via max_by on the materialized order key
      max_by(col(c), when(col(c).isNotNull, col(orderField))).as(c)
    }
    df.groupBy(groupKeys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** DataPacketWrapperProcessor (BaseProcessors.scala:986): nest each row
    * under one field. */
  def datumToField(df: DataFrame, result: String): DataFrame =
    df.select(struct(df.columns.map(col): _*).as(result))

  /** FlattenerProcessor (BaseProcessors.scala:844): recursively flatten
    * nested structs into `parent<sep>child` columns. */
  def flatten(df: DataFrame, sep: String = "."): DataFrame = {
    def cols(prefix: String, schema: StructType, path: String): Seq[Column] =
      schema.fields.flatMap { f =>
        val p = if (path.isEmpty) s"`${f.name}`" else s"$path.`${f.name}`"
        val n = if (prefix.isEmpty) f.name else s"$prefix$sep${f.name}"
        f.dataType match {
          case s: StructType => cols(n, s, p)
          case _             => Seq(col(p).alias(n))
        }
      }
    df.select(cols("", df.schema, ""): _*)
  }

  /** MapFlattenerProcessor (BaseProcessors.scala:1134): splice struct field's
    * entries to top level. */
  def mapFlattener(df: DataFrame, field: String): DataFrame =
    df.select(col("*"), col(s"$field.*")).drop(field)

  /** ListMapFlattenerProcessor (BaseProcessors.scala:1030): from
    * array-of-structs, project inner field into array. */
  def listMapFlattener(df: DataFrame, listField: String, innerField: String,
                       result: String): DataFrame =
    df.withColumn(result, transform(col(listField), x => x.getField(innerField)))

  /** SequenceExploderProcessor (BaseProcessors.scala:900). */
  def sequenceExplode(df: DataFrame, field: String, result: String): DataFrame =
    df.withColumn(result, explode(col(field)))

  /** ZipExplodeProcessor (BaseProcessors.scala:1175): zip two arrays, explode pairs. */
  def zipExplode(df: DataFrame, f1: String, f2: String, r1: String, r2: String): DataFrame =
    df.withColumn("__z", explode(arrays_zip(col(f1), col(f2))))
      .withColumn(r1, col(s"__z.$f1")).withColumn(r2, col(s"__z.$f2")).drop("__z")

  /** SequenceFlattenerProcessor (BaseProcessors.scala:946). */
  def sequenceFlatten(df: DataFrame, field: String, result: String): DataFrame =
    df.withColumn(result, org.apache.spark.sql.functions.flatten(col(field)))

  /** SequenceLengthProcessor (BaseProcessors.scala:923). */
  def sequenceLength(df: DataFrame, field: String, result: String): DataFrame =
    df.withColumn(result, size(col(field)))

  /** DistinctSequenceProcessor (BaseProcessors.scala:966). */
  def distinctSequence(df: DataFrame, field: String, result: String): DataFrame =
    df.withColumn(result, array_distinct(col(field)))

  /** GetListElementProcessor (BaseProcessors.scala:1291) — 0-based in ref;
    * element_at is 1-based. */
  def getListElement(df: DataFrame, field: String, index: Int, result: String): DataFrame =
    df.withColumn(result, element_at(col(field), index + 1))

  /** HeadOfListProcessor (BaseProcessors.scala:92). */
  def headOfList(df: DataFrame, field: String, result: String): DataFrame =
    df.withColumn(result, element_at(col(field), 1))

  /** ReplaceProcessor (BaseProcessors.scala:213): chained regex replaces. */
  def replace(df: DataFrame, field: String, replacements: Seq[(String, String)]): DataFrame =
    df.withColumn(field, replacements.foldLeft(col(field)) {
      case (c, (from, to)) => regexp_replace(c, from, to)
    })

  /** StringSplitterProcessor (BaseProcessors.scala:1004). */
  def stringSplit(df: DataFrame, field: String, sep: String, result: String): DataFrame =
    df.withColumn(result, split(col(field), java.util.regex.Pattern.quote(sep)))

  /** StringImploderProcessor (BaseProcessors.scala:668). */
  def stringImplode(df: DataFrame, field: String, sep: String, result: String): DataFrame =
    df.withColumn(result, array_join(col(field), sep))

  /** TupleListStringImploder / JsObjectImploderProcessor
    * (BaseProcessors.scala:701, 807): render array<struct> to a joined
    * string of "key<kvSep>value" entries. */
  def tupleListImplode(df: DataFrame, field: String, keyField: String, valField: String,
                       kvSep: String, entrySep: String, result: String): DataFrame =
    df.withColumn(result, array_join(
      transform(col(field), x =>
        concat(x.getField(keyField).cast(StringType), lit(kvSep),
          x.getField(valField).cast(StringType))), entrySep))

  /** ColorHexToRGBProcessor (modules/web/.../ColorHexToRGB-like enrichment):
    * '#RRGGBB' → (r, g, b) ints, pure expressions. */
  def hexToRgb(df: DataFrame, field: String): DataFrame =
    Seq(("r", 2), ("g", 4), ("b", 6)).foldLeft(df) { case (d, (name, off)) =>
      d.withColumn(name, conv(substring(col(field), off, 2), 16, 10).cast(IntegerType))
    }

  /** NumberWithProbabilityProcessor (statistics/ProbabilityProcessors.scala:13):
    * sample from a discrete distribution per row via inverse-CDF on rand. */
  def sampleDiscrete(df: DataFrame, dist: Seq[(Double, Any)], result: String,
                     seed: Long = 42): DataFrame = {
    val cdf = dist.scanLeft(0.0)(_ + _._1).tail.zip(dist.map(_._2))
    // materialize ONE draw per row: rand() is nondeterministic so it gets no
    // CSE — embedding it in every lazy CASE WHEN branch would leave each
    // occurrence with an independent RNG state and skew the distribution
    df.withColumn("__r", rand(seed))
      .withColumn(result,
        cdf.init.foldRight(lit(cdf.last._2)) { case ((p, v), acc) =>
          when(col("__r") < p, lit(v)).otherwise(acc)
        })
      .drop("__r")
  }

  /** ConvertToNumber / ConvertToBigDecimal / ConvertAnyToString / ConvertToDate
    * (app/tuktu/processors/ConvertTo*.scala). */
  def cast(df: DataFrame, field: String, to: DataType, result: String): DataFrame =
    df.withColumn(result, col(field).cast(to))
  def toDate(df: DataFrame, field: String, fmt: String, result: String): DataFrame =
    df.withColumn(result, to_timestamp(col(field), fmt))

  /** JSONParseProcessor (app/tuktu/processors/json/JSONParseProcessor.scala:15):
    * parse a JSON-string field. Schema-on-read: caller supplies the schema DDL,
    * or use `getJsonPath` for point lookups (no full parse). */
  def jsonParse(df: DataFrame, field: String, schemaDdl: String, result: String): DataFrame =
    df.withColumn(result, from_json(col(field), StructType.fromDDL(schemaDdl)))
  def getJsonPath(df: DataFrame, field: String, path: String, result: String): DataFrame =
    df.withColumn(result, get_json_object(col(field), path))

  /** Data-dependent field access (the core of
    * EvaluateNestedTuktuExpressionsProcessor, app/tuktu/processors/meta):
    * fetch the column whose NAME is held in another field, per row. The
    * column set is static (a DataFrame schema), so the dynamic path compiles
    * to a literal name→value map lookup — pure expressions, no reflection.
    * Values render as strings (the reference's datum values are untyped). */
  def dynamicFetch(df: DataFrame, nameField: String, result: String): DataFrame = {
    // When every candidate column shares ONE type the lookup preserves it —
    // the stringified fallback only applies to genuinely mixed schemas
    // (matching the reference's untyped datums).
    val candidates = df.columns.filter(_ != nameField)
    val types = candidates.map(c => df.schema(c).dataType).distinct
    val entries =
      if (types.sizeIs == 1) candidates.flatMap(c => Seq(lit(c), col(c)))
      else candidates.flatMap(c => Seq(lit(c), col(c).cast(StringType)))
    // try_element_at: unknown names yield null under ANSI mode too (plain
    // element_at would throw MAP_KEY_DOES_NOT_EXIST on ANSI sessions)
    df.withColumn(result, try_element_at(map(entries.toSeq: _*), col(nameField).cast(StringType)))
  }

  /** EvaluateNestedTuktuExpressionsProcessor (BaseProcessors.scala:332):
    * substitute `${field}` until the string stops changing, so a field VALUE
    * may itself contain `${other}` references resolved in later passes.
    * Per-row iterative rewriting with data-dependent names has no expression
    * primitive — the UDF takes the row's name→value map (columns are static,
    * so the map is built as a plain expression). Unknown names stay verbatim,
    * which is also what terminates the fixpoint; `maxIters` guards cycles
    * (a↦"${b}", b↦"${a}"). */
  def evaluateNested(df: DataFrame, template: String, result: String,
                     maxIters: Int = 100): DataFrame = {
    val entries = df.columns.flatMap(c => Seq(lit(c), col(c).cast(StringType)))
    val re = "\\$\\{([^}]*)\\}".r
    val fix = udf { (s: String, m: Map[String, String]) =>
      if (s == null) null
      else {
        var cur = s
        var i = 0
        var changed = true
        while (changed && i < maxIters) {
          val next = re.replaceAllIn(cur, mm =>
            scala.util.matching.Regex.quoteReplacement(
              m.get(mm.group(1)).flatMap(Option(_)).getOrElse(mm.matched)))
          changed = next != cur
          cur = next
          i += 1
        }
        cur
      }
    }
    df.withColumn(result, fix(lit(template), map(entries.toSeq: _*)))
  }

  /** JSONMergerProcessor deep merge (modules/api/app/tuktu/api/utils.scala:524-559
    * mergeJson): key union, b wins on conflicts, object-object pairs merge
    * recursively. Schemaful translation: a null field models an absent key,
    * so leaves resolve as coalesce(b, a) and struct-struct pairs recurse.
    * Pure expressions — the whole merge stays in codegen. */
  def mergeStructs(a: Column, b: Column, aType: StructType, bType: StructType): Column = {
    val bFields = bType.fields.map(f => f.name -> f).toMap
    val merged = aType.fields.map { af =>
      bFields.get(af.name) match {
        case Some(bf) => (af.dataType, bf.dataType) match {
          case (as: StructType, bs: StructType) =>
            mergeStructs(a.getField(af.name), b.getField(af.name), as, bs).as(af.name)
          case _ => coalesce(b.getField(af.name), a.getField(af.name)).as(af.name)
        }
        case None => a.getField(af.name).as(af.name)
      }
    } ++ bType.fields.collect {
      case bf if !aType.fieldNames.contains(bf.name) => b.getField(bf.name).as(bf.name)
    }
    struct(merged: _*)
  }

  /** JSON deep-merge over two struct columns of a frame. */
  def jsonMerge(df: DataFrame, fieldA: String, fieldB: String, result: String): DataFrame = {
    val at = df.schema(fieldA).dataType.asInstanceOf[StructType]
    val bt = df.schema(fieldB).dataType.asInstanceOf[StructType]
    df.withColumn(result, mergeStructs(col(fieldA), col(fieldB), at, bt))
  }

  /** Flat map merge (utils.scala mergeMap, single level): b wins per key. */
  def mapMerge(a: Column, b: Column): Column =
    map_zip_with(a, b, (_, va, vb) => coalesce(vb, va))

  /** ArithmeticProcessor (app/tuktu/processors/arithmetics/ArithmeticProcessor.scala:16). */
  def arithmetic(df: DataFrame, exprStr: String, result: String, round: Option[Int] = None): DataFrame = {
    val c = Expr.arithmetic(df, exprStr)
    df.withColumn(result, round.fold(c)(n => org.apache.spark.sql.functions.round(c, n)))
  }

  /** PredicateProcessor (BaseProcessors.scala:355): store predicate result as
    * field. coalesce to false: as a stored value the reference never yields
    * null (filter context doesn't need this — null already drops the row). */
  def predicateField(df: DataFrame, predStr: String, result: String): DataFrame =
    df.withColumn(result, coalesce(Expr.predicate(df, predStr), lit(false)))

  /** MaxFieldByValueProcessor (app/tuktu/processors/arithmetics/MaxByFieldProcessor.scala:10). */
  def maxOfFields(df: DataFrame, a: String, b: String, result: String): DataFrame =
    df.withColumn(result, greatest(col(a), col(b)))

  // ------------------------------------------------- §2.4 filters

  /** PacketFilterProcessor (BaseProcessors.scala:374-496) — Tuktu predicate
    * grammar compiled to a pushdown-friendly Column. */
  def filter(df: DataFrame, predStr: String): DataFrame = df.filter(Expr.predicate(df, predStr))

  /** PacketRegexFilterProcessor (BaseProcessors.scala:501-569): and/or/negate
    * nested regex tree. */
  sealed trait RegexNode
  final case class RegexLeaf(field: String, pattern: String) extends RegexNode
  final case class RegexAnd(children: Seq[RegexNode]) extends RegexNode
  final case class RegexOr(children: Seq[RegexNode]) extends RegexNode
  final case class RegexNot(child: RegexNode) extends RegexNode
  def regexFilter(df: DataFrame, tree: RegexNode): DataFrame = {
    def c(n: RegexNode): Column = n match {
      case RegexLeaf(f, p)  => col(f).rlike(p)
      case RegexAnd(ch)     => ch.map(c).reduce(_ && _)
      case RegexOr(ch)      => ch.map(c).reduce(_ || _)
      case RegexNot(child)  => !c(child)
    }
    df.filter(c(tree))
  }

  /** AbsentFieldsFilterProcessor (BaseProcessors.scala:1201). */
  def absentFieldsFilter(df: DataFrame, required: Seq[String]): DataFrame =
    df.filter(required.map(col(_).isNotNull).reduce(_ && _))

  /** ContainsAllFilterProcessor (BaseProcessors.scala:1102): keep row iff
    * array-of-structs field covers all needle values on `innerField`. */
  def containsAllFilter(df: DataFrame, listField: String, innerField: String,
                        needles: Seq[Any]): DataFrame =
    df.filter(size(array_except(
      array(needles.map(lit): _*),
      transform(col(listField), x => x.getField(innerField)))) === 0)

  // ------------------------------------------------- §2.5 aggregation / stats

  /** AggregateByValueProcessor (bucket/aggregate/AggregateByValue.scala:16-72):
    * groupBy + aggregate-expression — the flagship. Spark's partial/final
    * HashAggregate replaces the reference's per-node fold + recombine
    * (bucket/concurrent/BaseConcurrentProcessor.scala:61-196). */
  def aggregateByValue(df: DataFrame, groupFields: Seq[String],
                       aggs: Seq[(String, String)]): DataFrame = {
    // Mixing a DISTINCT aggregate with an object-hash aggregate (median) in
    // one Aggregate makes Catalyst expand the input 2× and push every stream
    // through the sort-based fallback — profiled 3× slower than the parts.
    // Split the two families into separate aggregations and join on the
    // group keys (group-cardinality rows, broadcast under AQE).
    val (dist, plain) = aggs.partition(_._2.contains("distinct("))
    if (dist.nonEmpty && plain.nonEmpty && groupFields.nonEmpty) {
      def aggOf(part: Seq[(String, String)]) = {
        val cols = part.map { case (alias, e) => Expr.aggregate(df, e).as(alias) }
        df.groupBy(groupFields.map(col): _*).agg(cols.head, cols.tail: _*)
      }
      // null-SAFE join on the keys: a null group key is a real group in both
      // aggregations, and an EqualTo join would silently drop it
      val (a, b) = (aggOf(plain), aggOf(dist))
      return a.join(b, groupFields.map(k => a(k) <=> b(k)).reduce(_ && _))
        .select(groupFields.map(a(_)) ++
          plain.map(p => a(p._1)) ++ dist.map(d => b(d._1)): _*)
        .select((groupFields ++ aggs.map(_._1)).map(col): _*) // declared order
    }
    val cols = aggs.map { case (alias, e) => Expr.aggregate(df, e).as(alias) }
    df.groupBy(groupFields.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  /** Min/MaxProcessor (bucket/aggregate/NumericProcessors.scala:13, 50) —
    * returns the whole extreme ROW; TakeOrderedAndProject in the plan, no
    * full sort at scale. Tie-break keys make it deterministic. */
  def minRow(df: DataFrame, field: String, tieBreak: Seq[Column] = Nil): DataFrame =
    df.orderBy(col(field).asc +: tieBreak: _*).limit(1)
  def maxRow(df: DataFrame, field: String, tieBreak: Seq[Column] = Nil): DataFrame =
    df.orderBy(col(field).desc +: tieBreak: _*).limit(1)

  /** CountValuesProcessor (bucket/statistics/StatisticsProcessors.scala:257):
    * per-value histogram {key, amount}. */
  def countValues(df: DataFrame, field: String): DataFrame =
    df.groupBy(col(field).as("key")).agg(count(lit(1)).as("amount"))

  /** ModeProcessor (StatisticsProcessors.scala:62): most frequent value and
    * its count, deterministic tie-break on the value itself. */
  def mode(df: DataFrame, field: String): DataFrame =
    countValues(df, field).orderBy(col("amount").desc, col("key").asc).limit(1)

  /** ArithmeticAggregateProcessor (arithmetics/ArithmeticProcessor.scala:42):
    * aggregate over a group attached to every row — a window agg. */
  def arithmeticAggregate(df: DataFrame, partitionBy: Seq[String], aggCol: Column,
                          result: String): DataFrame =
    df.withColumn(result, aggCol.over(Window.partitionBy(partitionBy.map(col): _*)))

  // ------------------------------------------------- §2.6 joins / merges

  /** JoinGenerator (app/tuktu/generators/JoinGenerator.scala:68-151): hash
    * equi-join of two flows. Catalyst picks broadcast/SMJ/SHJ + AQE; pass
    * `broadcastRight=true` to force a broadcast of a small dimension. */
  def join(left: DataFrame, right: DataFrame, keys: Seq[String], how: String = "inner",
           broadcastRight: Boolean = false): DataFrame =
    left.join(if (broadcastRight) broadcast(right) else right, keys, how)

  /** IfThenElseProcessor (app/tuktu/processors/meta/IfThenElseProcessor.scala:27):
    * expression form — route each row's value through then/else. */
  def ifThenElse(df: DataFrame, predStr: String, thenCol: Column, elseCol: Column,
                 result: String): DataFrame =
    df.withColumn(result, when(Expr.predicate(df, predStr), thenCol).otherwise(elseCol))

  /** Skew-resistant equi-join: replicate the build side per salt bucket and
    * scatter the probe side across buckets. AQE's skew-join split handles
    * most runtime skew; this is the explicit fallback for extreme single-key
    * hot spots (a known key taking >> 1 partition's worth of rows). */
  def saltedJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
                 salts: Int): DataFrame = {
    val salted = probe.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(salts)))
    val replicated = build.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, keys :+ "__salt").drop("__salt")
  }

  /** Binned interval join: pair each point row (`tsCol`, nonnegative
    * numeric — µs epoch by convention) with every interval row whose
    * [startCol, endCol] contains it. Spark's native plan for the range
    * θ-join is BroadcastNestedLoopJoin — O(points·intervals) compare work
    * AND a broadcast requirement that caps the interval side. Binning
    * makes it an EQUALITY join: each interval explodes into the bins it
    * overlaps, each point falls in exactly ONE bin, the shuffle keys on
    * bin id, and the range predicate refines within-bin candidates. No
    * dedup pass is needed — a point's single bin meets each interval at
    * most once (the Flink/kdb interval-join shape).
    *
    * Pick `binWidth` near the typical interval length: wider bins raise
    * within-bin false candidates, narrower raise the interval explode
    * factor (⌈len/width⌉+1 rows per interval). At 100 TB both sides
    * shuffle once on the bin key — no broadcast, no quadratic stage; skew
    * from a hot bin is ordinary join skew (AQE split / saltedJoin). */
  def intervalJoin(points: DataFrame, tsCol: String, intervals: DataFrame,
                   startCol: String, endCol: String,
                   binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val binned = intervals.withColumn("__bin",
      explode(sequence(expr(s"`$startCol` div ${binWidth}L"),
        expr(s"`$endCol` div ${binWidth}L"))))
    points.withColumn("__bin", expr(s"`$tsCol` div ${binWidth}L"))
      .join(binned,
        Seq("__bin")) // equality shuffle key…
      .filter(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("__bin") // …range predicate refines in-bin
  }

  /** SerialMerger (app/tuktu/processors/merge/BaseMergers.scala:90): concatenate
    * branch outputs (schema union, missing → null). */
  def serialMerge(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** SimpleMerger / PaddingMerger (BaseMergers.scala:14,60): positional
    * zip of branch outputs — row i of the result merges row i of every
    * branch, later branches' fields overwriting earlier ones (`x ++ y`).
    * `pad = false` is SimpleMerger's zipAll (short branches contribute
    * nothing past their end; result length = longest branch). `pad = true`
    * is PaddingMerger: each branch cycles modulo its own length up to the
    * longest, and ANY empty branch empties the result. (The reference
    * indexes `data(i % size)` with i starting at 1 — BaseMergers.scala:81
    * — rotating every branch, the longest included, one position; that
    * looks unintended, so this uses the natural 0-based cycle. The two
    * agree on the documented use: padding a 1-row branch onto a longer
    * one.)
    *
    * Scale shape: per-branch layout index (range partition + offsets, no
    * global window), counts ride as broadcast one-row frames (no driver
    * action), the zip itself is an index-keyed join. "Field present" in
    * the datum model becomes "row present at that index": a later branch
    * that has the column in its SCHEMA but no row at index i does not
    * overwrite. */
  def zipMerge(dfs: Seq[DataFrame], pad: Boolean): DataFrame = {
    require(dfs.nonEmpty, "zipMerge: no branches")
    if (dfs.size == 1) return dfs.head
    val tag = java.util.UUID.randomUUID.toString.take(8)
    def idxCol(k: Int) = s"__zi_${tag}_$k"
    def markCol(k: Int) = s"__zm_${tag}_$k"
    def cntCol(k: Int) = s"__zc_${tag}_$k"
    val maxCol = s"__zmax_$tag"
    // prefix-rename data columns so the joins never collide; remember the
    // first-seen output order and, per column, the branches providing it
    val renamed = dfs.zipWithIndex.map { case (d, k) =>
      d.columns.foldLeft(d)((dd, c) => dd.withColumnRenamed(c, s"__zd_${tag}_${k}_$c"))
    }
    val outCols: Seq[String] = dfs.flatMap(_.columns).distinct
    val marked = renamed.zipWithIndex.map { case (d, k) =>
      indexByLayout(d, idxCol(k)).withColumn(markCol(k), lit(true))
    }
    def zipJoin(frames: Seq[DataFrame], how: String): DataFrame = {
      var acc = frames.head
      for (k <- 1 until frames.size) {
        acc = acc.join(frames(k), col(idxCol(0)) === col(idxCol(k)), how)
        acc = (if (how == "full_outer")
                 acc.withColumn(idxCol(0), coalesce(col(idxCol(0)), col(idxCol(k))))
               else acc).drop(idxCol(k))
      }
      acc
    }
    val zipped =
      if (!pad) zipJoin(marked, "full_outer") // zipAll on the index
      else {
        // modulo padding: cycle each branch to the global max length; the
        // inner join makes any empty branch empty the result (reference
        // returns DataPacket(Nil) when a packet is empty)
        val counts = marked.zipWithIndex
          .map { case (d, k) => d.agg(count(lit(1)).as(cntCol(k))) }
          .reduce(_.crossJoin(_))
          .withColumn(maxCol, greatest((0 until dfs.size).map(k => col(cntCol(k))): _*))
        val cycled = marked.zipWithIndex.map { case (d, k) =>
          val rep = s"__zr_${tag}_$k"
          d.crossJoin(broadcast(counts))
            // count > 0 on every surviving row (empty frames have none),
            // so the sequence bound is never negative
            .withColumn(rep, explode(sequence(lit(0),
              ceil(col(maxCol).cast("double") / col(cntCol(k))).cast("long") - 1)))
            .withColumn(idxCol(k), col(idxCol(k)) + col(rep) * col(cntCol(k)))
            .filter(col(idxCol(k)) < col(maxCol))
            .drop(rep +: maxCol +: (0 until dfs.size).map(cntCol): _*)
        }
        zipJoin(cycled, "inner")
      }
    // per output column: rightmost branch whose row EXISTS at the index wins,
    // even when its value is null — the reference's `x ++ y` overwrites with
    // whatever the later datum holds. The value rides inside a struct gated
    // on the mark, so coalesce selects on row presence, not value nullness.
    val merged = outCols.map { c =>
      val providers = dfs.zipWithIndex.filter(_._1.columns.contains(c)).map(_._2).reverse
      coalesce(providers.map(k =>
        when(col(markCol(k)).isNotNull,
          struct(col(s"__zd_${tag}_${k}_$c").as("v")))): _*)
        .getField("v").as(c)
    }
    zipped.sort(idxCol(0)).select(merged: _*)
  }

  /** PaddingMerger (BaseMergers.scala:60): its real-world use is attaching a
    * 1-row branch (aggregate) to every row of the other branch — a broadcast
    * cross join. */
  def paddingMerge(rows: DataFrame, single: DataFrame): DataFrame =
    rows.crossJoin(broadcast(single))

  /** RecursiveLookupProcessor (modules/nosql/.../sql/RecursiveLookup.scala:16):
    * iterative frontier join to fixpoint; materializing each frontier stops
    * plan growth. */
  def recursiveLookup(edges: DataFrame, seeds: DataFrame, fromCol: String, toCol: String,
                      maxIter: Int = 20): DataFrame = {
    var frontier = seeds
    var acc = seeds
    var i = 0
    while (i < maxIter && !frontier.isEmpty) {
      frontier = frontier.join(edges, frontier("id") === edges(fromCol))
        .select(edges(toCol).as("id")).distinct()
        .join(acc, Seq("id"), "left_anti").transform(materialize)
      acc = acc.union(frontier)
      i += 1
    }
    acc
  }

  // ------------------------------------------------- §2.7 sort / limit / sample / dedup

  /** SortProcessor (bucket/SortProcessor.scala:13). */
  def sort(df: DataFrame, cols: Seq[Column]): DataFrame = df.orderBy(cols: _*)

  /** TakeProcessor (sample/TakeProcessor.scala:13). */
  def take(df: DataFrame, n: Int): DataFrame = df.limit(n)

  /** DropProcessor (sample/DropProcessor.scala:13): drop first N in explicit
    * order. Routed through the scalable global index — a bare
    * `row_number().over(Window.orderBy(...))` would funnel every row through
    * one task. */
  def drop(df: DataFrame, n: Int, orderBy: Seq[Column]): DataFrame =
    withGlobalIndex(df, orderBy, "__idx")
      .filter(col("__idx") >= n).drop("__idx")

  /** DeduplicationProcessor (bucket/DeduplicationProcessor.scala:13): first-seen
    * dedup by key in explicit order — deterministic (row_number=1), unlike a
    * bare dropDuplicates. One shuffle on the key. */
  def dedupFirstSeen(df: DataFrame, keys: Seq[String], orderBy: Seq[Column]): DataFrame =
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(keys.map(col): _*).orderBy(orderBy: _*)))
      .filter(col("__rn") === 1).drop("__rn")

  /** StratifiedSamplingProcessor (sample/StratifiedSamplingProcessor.scala:14):
    * equal-size (min class count) per-class sample, deterministic order. */
  def stratifiedSample(df: DataFrame, classField: String, orderBy: Seq[Column]): DataFrame = {
    val minCount = df.groupBy(col(classField)).count().agg(min("count")).first().getLong(0)
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(col(classField)).orderBy(orderBy: _*)))
      .filter(col("__rn") <= minCount).drop("__rn")
  }

  // ------------------------------------------------- §2.8 time / windows

  /** TimestampNormalizerProcessor (time/TimestampNormalizerProcessor.scala:17):
    * floor timestamp to unit grid — the tumbling event-time window assigner. */
  def timestampNormalize(df: DataFrame, field: String, unit: String, result: String): DataFrame =
    df.withColumn(result, date_trunc(unit, col(field)))

  /** TimestampAdderProcessor (time/TimestampAdderProcessor.scala:13). */
  def timestampAdder(df: DataFrame, result: String): DataFrame =
    df.withColumn(result, current_timestamp())

  /** TimestampPeriodAdderProcessor (time/TimestampPeriodAdderProcessor.scala:18). */
  def periodAdd(df: DataFrame, field: String, result: String,
                years: Int = 0, months: Int = 0, weeks: Int = 0, days: Int = 0,
                hours: Int = 0, minutes: Int = 0, seconds: Int = 0): DataFrame =
    df.withColumn(result, col(field) + make_interval(
      lit(years), lit(months), lit(weeks), lit(days), lit(hours), lit(minutes), lit(seconds)))

  /** DateToMillisProcessor (time/DateToMillisProcessor.scala:15). */
  def dateToMillis(df: DataFrame, field: String, result: String): DataFrame =
    df.withColumn(result, unix_millis(col(field)))

  /** DurationProcessor (time/DurationProcessor.scala:15): difference of two
    * datetimes in `unit`. */
  def duration(df: DataFrame, a: String, b: String, unit: String, result: String): DataFrame =
    df.withColumn(result, expr(s"timestampdiff($unit, $a, $b)"))

  /** GroupByProcessor + bucket op (BufferProcessors.scala:58): the packet
    * reshaping collapses into a plain groupBy in Spark. */
  def groupBy(df: DataFrame, keys: Seq[String]): org.apache.spark.sql.RelationalGroupedDataset =
    df.groupBy(keys.map(col): _*)

  /** SizeBufferProcessor (BufferProcessors.scala:94): N-row batches become an
    * explicit batch-id column derived from a total order (scalable index). */
  def sizeBuffer(df: DataFrame, n: Int, orderBy: Seq[Column], result: String = "batch_id"): DataFrame =
    withGlobalIndex(df, orderBy, "__idx")
      .withColumn(result, floor(col("__idx") / n))
      .drop("__idx")

  /** CountEOFProcessor (BaseProcessors.scala:74): pass-through that reports
    * how many rows flowed past at stream end. Spark-native: an Observation
    * metric rides the action itself — zero extra scan; read the count with
    * `obs.get("rows")` after the first action on the returned frame. */
  def countEof(df: DataFrame, name: String = "count_eof"): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(name)
    (df.observe(obs, count(lit(1)).as("rows")), obs)
  }

  /** SignalBufferProcessor (BufferProcessors.scala:171), batch shape: the
    * reference buffers one branch's packets until the signal branch hits
    * EOF, then releases them unchanged. In Spark's execution model "signal
    * branch EOF" is "the signal plan fully evaluates", so the gate is an
    * artificial broadcast dependency on the signal's 1-row aggregate: the
    * data rows pass through untouched but cannot be produced before the
    * signal side completes. (Streaming shape: Streams.signalBuffer.) */
  def signalBuffer(data: DataFrame, signal: DataFrame): DataFrame = {
    // unique gate column name: a bare drop("__signal_seen") would also drop
    // a same-named column already present in data
    val g = s"__signal_gate_${java.util.UUID.randomUUID.toString.take(8)}"
    val gate = signal.agg(count(lit(1)).as(g))
    data.crossJoin(broadcast(gate)).drop(g)
  }

  /** TimeBufferProcessor (BufferProcessors.scala:114) — event-time version:
    * tumbling window bucket. */
  def timeBuffer(df: DataFrame, tsField: String, duration: String, result: String = "window"): DataFrame =
    df.withColumn(result, window(col(tsField), duration))
}
