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
 *
 * One body per processor: a processor's function here carries the
 * reference semantics, and its reference-FQCN entry ([[TuktuCompat]]), its
 * native flow name ([[Flow]]) and its suite query each decode their own
 * config or arguments into a call of it. So the oracle that checks the
 * suite query checks the code a reference flow config runs.
 */
object Ops {

  // ------------------------------------------------- §2.3 projections / field ops

  /** The column at a dot path from the row root, one field name per step;
    * a one-step path is a top-level column even when its name holds a dot
    * (a flattened `a.b`), where `col(name)` would look for a nested field. */
  private[engine] def colPath(path: Seq[String]): Column =
    path.tail.foldLeft(col(s"`${path.head}`"))(_.getField(_))

  /** A fresh column name: a fixed temp name would silently replace (then
    * drop) a same-named input column. */
  private[engine] def uniq(prefix: String): String =
    prefix + "_" + java.util.UUID.randomUUID.toString.take(8)

  /** FieldFilterProcessor (app/tuktu/processors/BaseProcessors.scala:120):
    * keep only the listed dot paths, each under its result name. A default
    * (keyed by result name) fills nulls, and stands alone when the path's
    * head is absent entirely. */
  def fieldFilter(df: DataFrame, fields: Seq[(Seq[String], String)],
                  defaults: Map[String, String] = Map.empty): DataFrame =
    df.select(fields.map { case (p, out) =>
      (defaults.get(out) match {
        case Some(d) if df.columns.contains(p.head) => coalesce(colPath(p), lit(d))
        case Some(d) => lit(d)
        case None    => colPath(p)
      }).alias(out)
    }: _*)

  /** FieldRemoveProcessor (BaseProcessors.scala:144). */
  def fieldRemove(df: DataFrame, fields: Seq[String]): DataFrame = df.drop(fields: _*)

  /** FieldCopyProcessor (BaseProcessors.scala:160): copy dot paths to
    * top-level result names. One select with every copy read from the
    * ORIGINAL row: sequential withColumn would let a later copy read an
    * earlier copy's overwrite. */
  def fieldCopy(df: DataFrame, copies: Seq[(Seq[String], String)]): DataFrame = {
    val results = copies.map(_._2).toSet
    df.select(df.columns.toSeq.filterNot(results.contains).map(n => colPath(Seq(n))) ++
      copies.map { case (p, r) => colPath(p).alias(r) }: _*)
  }

  /** FieldRenameProcessor (BaseProcessors.scala:292): copy, then remove the
    * path heads, keeping results that recycle a source name; sources read
    * from the original row (as in fieldCopy), and a path whose head is
    * absent is skipped. A rename takes its source head's position. */
  def fieldRename(df: DataFrame, renames: Seq[(Seq[String], String)]): DataFrame = {
    val present = renames.filter(r => df.columns.contains(r._1.head))
    val replaced = present.map(_._1.head).toSet ++ present.map(_._2)
    df.select(df.columns.toSeq.flatMap { n =>
      present.collect { case (p, r) if p.head == n => colPath(p).alias(r) } ++
        Option.when(!replaced(n))(colPath(Seq(n)))
    }: _*)
  }

  /** FieldConstantAdderProcessor (BaseProcessors.scala:574): add a constant
    * field; the value supports `${}` interpolation. */
  def constantAdder(df: DataFrame, result: String, template: String,
                    numeric: Boolean = false): DataFrame = {
    val v = Expr.interpolate(template)
    df.withColumn(result, if (numeric) v.cast(LongType) else v)
  }

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

  /** The 0-based row index under `result`: in arrival order (the current
    * layout, [[indexByLayout]]) when `orderBy` is empty, else in `orderBy`
    * order ([[withGlobalIndex]]). */
  private def rowIndex(df: DataFrame, orderBy: Seq[Column], result: String): DataFrame =
    if (orderBy.isEmpty) indexByLayout(df, result) else withGlobalIndex(df, orderBy, result)

  /** RunningCountProcessor (BaseProcessors.scala:184): startAt, startAt +
    * stepSize, … in arrival order, or in `orderBy` order. The reference
    * semantics are sequential; the index is computed scalably (rowIndex).
    * `perBlock` counts DataPackets: the batch frame is ONE packet, so every
    * row gets startAt. */
  def runningCount(df: DataFrame, orderBy: Seq[Column], startAt: Long = 0, stepSize: Long = 1,
                   perBlock: Boolean = false, result: String = "count"): DataFrame =
    if (perBlock) df.withColumn(result, lit(startAt))
    else rowIndex(df, orderBy, result).withColumn(result, col(result) * stepSize + startAt)

  /** UUIDAdderProcessor (BaseProcessors.scala:1216). */
  def uuidAdder(df: DataFrame, result: String): DataFrame = df.withColumn(result, expr("uuid()"))

  /** FieldsToListProcessor (BaseProcessors.scala:1228). */
  def fieldsToList(df: DataFrame, fields: Seq[String], result: String): DataFrame =
    df.withColumn(result, array(fields.map(col): _*))

  /** ImploderProcessor (BaseProcessors.scala:760): concat the listed
    * fields' values (arrays splice, scalars wrap) into one list under
    * `result`. Element types must agree for concat, so heterogeneous fields
    * fall back to strings like the reference's untyped datum. Without
    * fields: every value, as a string, in column-name order. */
  def imploder(df: DataFrame, fields: Option[Seq[String]], result: String): DataFrame =
    df.withColumn(result, fields match {
      case Some(fs) =>
        val typed = fs.map { f =>
          df.schema(f).dataType match {
            case ArrayType(et, _) => (col(f), et)
            case dt               => (array(col(f)), dt)
          }
        }
        concat((if (typed.map(_._2).distinct.sizeIs == 1) typed.map(_._1)
                else typed.map(_._1.cast(ArrayType(StringType)))): _*)
      case None => array(df.columns.sorted.map(col(_).cast(StringType)).toSeq: _*)
    })

  /** KeyImploderProcessor (BaseProcessors.scala:785): collapse each group
    * (no keys: the whole frame, the reference's packet) to one row; each
    * listed field becomes the list of its values in arrival order, or in
    * `orderField` order. `merge` keeps the first row's other fields. */
  def keyImploder(df: DataFrame, groupKeys: Seq[String], fields: Seq[String],
                  orderField: Option[String] = None, merge: Boolean = false): DataFrame = {
    val ord = orderField.getOrElse(uniq("__ord"))
    val dense = if (orderField.isEmpty) indexByLayout(df, ord) else df
    val listAggs = fields.map(f =>
      transform(array_sort(collect_list(struct(col(ord).as("o"), col(f).as("v")))),
        x => x.getField("v")).as(f))
    val keepAggs =
      if (merge) df.columns.toSeq.filterNot(c => fields.contains(c) || groupKeys.contains(c))
        .map(f => min_by(col(f), col(ord)).as(f))
      else Nil
    val aggs = keepAggs ++ listAggs
    dense.groupBy(groupKeys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

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

  /** FlattenerProcessor (BaseProcessors.scala:844): hoist each listed
    * struct field's nested entries, recursively, to top-level
    * `field<sep>sub<sep>…` columns; other columns stay. */
  def flatten(df: DataFrame, fields: Seq[String], sep: String): DataFrame = {
    def walk(path: Column, name: String, dt: DataType): Seq[Column] = dt match {
      case s: StructType =>
        s.fields.toSeq.flatMap(f => walk(path.getField(f.name), name + sep + f.name, f.dataType))
      case _ => Seq(path.alias(name))
    }
    df.select(df.columns.toSeq.filterNot(fields.contains).map(n => colPath(Seq(n))) ++
      fields.flatMap(f => walk(colPath(Seq(f)), f, df.schema(f).dataType)): _*)
  }

  /** MapFlattenerProcessor (BaseProcessors.scala:1134): splice a struct
    * field's entries to the top level, KEEPING the field (the reference's
    * datum ++ map only adds). */
  def mapFlattener(df: DataFrame, field: String): DataFrame =
    df.select(col("*"), col(s"`$field`.*"))

  /** ListMapFlattenerProcessor (BaseProcessors.scala:1030): from
    * array-of-structs, project inner field into array. */
  def listMapFlattener(df: DataFrame, listField: String, innerField: String,
                       result: String): DataFrame =
    df.withColumn(result, transform(col(listField), x => x.getField(innerField)))

  /** SequenceExploderProcessor (BaseProcessors.scala:900): one row per
    * element under `result` (the reference explodes in place: result = field). */
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

  /** GetListElementProcessor (BaseProcessors.scala:1291) — 0-based in ref;
    * element_at is 1-based. */
  def getListElement(df: DataFrame, field: String, index: Int, result: String): DataFrame =
    df.withColumn(result, element_at(col(field), index + 1))

  /** HeadOfListProcessor (BaseProcessors.scala:92): the list's first
    * element. On an empty list the reference REMOVES the result field (null
    * here) unless `keepOriginal`, which keeps a pre-existing result value. */
  def headOfList(df: DataFrame, field: String, result: String,
                 keepOriginal: Boolean = false): DataFrame = {
    val head = when(size(col(field)) > 0, element_at(col(field), 1))
    df.withColumn(result,
      if (keepOriginal && df.columns.contains(result)) coalesce(head, col(result)) else head)
  }

  /** ReplaceProcessor (BaseProcessors.scala:213): chained regex replaces of
    * `field`, written to `result`. */
  def replace(df: DataFrame, field: String, replacements: Seq[(String, String)],
              result: String): DataFrame =
    df.withColumn(result, replacements.foldLeft(col(field)) {
      case (c, (from, to)) => regexp_replace(c, from, to)
    })

  /** StringSplitterProcessor (BaseProcessors.scala:1004): split on a REGEX
    * separator (String.split), dropping empty parts when `removeEmpty`. */
  def stringSplit(df: DataFrame, field: String, sepRegex: String, removeEmpty: Boolean,
                  result: String): DataFrame = {
    val parts = split(col(field), sepRegex)
    df.withColumn(result,
      if (removeEmpty) org.apache.spark.sql.functions.filter(parts, _ =!= "") else parts)
  }

  /** StringImploderProcessor (BaseProcessors.scala:668): join the list at
    * a dot path with `sep`. */
  def stringImplode(df: DataFrame, path: Seq[String], sep: String, result: String): DataFrame =
    df.withColumn(result, array_join(colPath(path), sep))

  /** TupleListStringImploder (BaseProcessors.scala:701): each tuple
    * (struct) in the list at a dot path renders as its fields joined by
    * `sep`; the list of rendered strings goes to `result`. An explicit
    * interleave with null fields as "", not concat_ws: concat_ws drops null
    * fields AND their separators, corrupting the rendered arity. */
  def tupleListImplode(df: DataFrame, path: Seq[String], sep: String,
                       result: String): DataFrame = {
    val elemType = df.select(colPath(path)).schema.head.dataType match {
      case ArrayType(s: StructType, _) => s
      case other => throw new IllegalArgumentException(
        s"TupleListStringImploder needs array<struct>, got $other")
    }
    df.withColumn(result, transform(colPath(path), x => {
      val parts = elemType.fieldNames.toSeq
        .map(fn => coalesce(x.getField(fn).cast(StringType), lit("")))
      concat(parts.head +: parts.tail.flatMap(f => Seq(lit(sep), f)): _*)
    }))
  }

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

  /** ConvertToDate (app/tuktu/processors/ConvertToDate.scala:19): parse a
    * string field to a timestamp with `format`. The reference default
    * ("EEE MMM dd HH:mm:ss zzz yyyy", java.util.Date toString) uses pattern
    * letters Spark's parser rejects, so without a format the parse goes
    * through a SimpleDateFormat UDF instead of failing analysis. */
  def toDate(df: DataFrame, field: String, format: Option[String], result: String): DataFrame =
    df.withColumn(result, format match {
      case Some(fmt) => to_timestamp(col(field), fmt)
      case None =>
        val parse = udf { (s: String) =>
          if (s == null) null
          else try new java.sql.Timestamp(new java.text.SimpleDateFormat(
            "EEE MMM dd HH:mm:ss zzz yyyy", java.util.Locale.US).parse(s).getTime)
          catch { case _: java.text.ParseException => null }
        }
        parse(col(field))
    })

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
  private def mergeStructs(a: Column, b: Column, aType: StructType, bType: StructType): Column = {
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
  def maxOfFields(df: DataFrame, fields: Seq[String], result: String): DataFrame =
    df.withColumn(result, greatest(fields.map(col): _*))

  // ------------------------------------------------- §2.4 filters

  /** PacketFilterProcessor (BaseProcessors.scala:374-496) — Tuktu predicate
    * grammar compiled to a pushdown-friendly Column. */
  def filter(df: DataFrame, predStr: String): DataFrame = df.filter(Expr.predicate(df, predStr))

  /** Keep a whole packet iff at least `minCount` rows satisfy `cond` —
    * the reference's `batch`/`batch_min_count` filter mode
    * (BaseProcessors.scala:415-425). Broadcast count gate, no driver action. */
  private[engine] def batchGate(df: DataFrame, cond: Column, minCount: Long): DataFrame = {
    val g = uniq("__gate")
    df.crossJoin(broadcast(df.filter(cond).select(count(lit(1)).as(g))))
      .filter(col(g) >= minCount).drop(g)
  }

  /** PacketRegexFilterProcessor (BaseProcessors.scala:501-569): and/or/negate
    * nested regex tree; an empty Or is false, an empty And true. With
    * `batchMinCount` the tree gates the whole packet ([[batchGate]]). */
  sealed trait RegexNode
  final case class RegexLeaf(field: String, pattern: String) extends RegexNode
  final case class RegexAnd(children: Seq[RegexNode]) extends RegexNode
  final case class RegexOr(children: Seq[RegexNode]) extends RegexNode
  final case class RegexNot(child: RegexNode) extends RegexNode
  def regexFilter(df: DataFrame, tree: RegexNode, batchMinCount: Option[Long] = None): DataFrame = {
    def c(n: RegexNode): Column = n match {
      case RegexLeaf(f, p)  => col(f).rlike(p)
      case RegexAnd(ch)     => ch.map(c).reduceOption(_ && _).getOrElse(lit(true))
      case RegexOr(ch)      => ch.map(c).reduceOption(_ || _).getOrElse(lit(false))
      case RegexNot(child)  => !c(child)
    }
    batchMinCount.fold(df.filter(c(tree)))(batchGate(df, c(tree), _))
  }

  /** AbsentFieldsFilterProcessor (BaseProcessors.scala:1201). */
  def absentFieldsFilter(df: DataFrame, required: Seq[String]): DataFrame =
    df.filter(required.map(col(_).isNotNull).reduce(_ && _))

  /** ContainsAllFilterProcessor (BaseProcessors.scala:1102): keep a row iff
    * every value of the `needles` array appears at `innerField` in the
    * array-of-structs `listField`. */
  def containsAllFilter(df: DataFrame, listField: String, innerField: String,
                        needles: Column): DataFrame =
    df.filter(forall(needles, v => exists(col(listField), m => m.getField(innerField) === v)))

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

  /** DropProcessor (sample/DropProcessor.scala:13): drop the first N in
    * arrival order, or in `orderBy` order. Routed through the scalable row
    * index — a bare `row_number().over(Window.orderBy(...))` would funnel
    * every row through one task. */
  def drop(df: DataFrame, n: Int, orderBy: Seq[Column]): DataFrame = {
    val idx = uniq("__idx")
    rowIndex(df, orderBy, idx).filter(col(idx) >= n).drop(idx)
  }

  /** DeduplicationProcessor (bucket/DeduplicationProcessor.scala:13): first-seen
    * dedup by key in explicit order — deterministic (row_number=1), unlike a
    * bare dropDuplicates. One shuffle on the key. */
  def dedupFirstSeen(df: DataFrame, keys: Seq[String], orderBy: Seq[Column]): DataFrame =
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(keys.map(col): _*).orderBy(orderBy: _*)))
      .filter(col("__rn") === 1).drop("__rn")

  /** StratifiedSamplingProcessor (sample/StratifiedSamplingProcessor.scala:14):
    * per class, the first min-class-count rows (capped by `sampleCount`) in
    * `orderBy` order, or else in arrival order — or, with `random`, in the
    * order of a deterministic hash of the arrival index (reproducible where
    * the reference's Random.shuffle is not). An empty frame samples no rows. */
  def stratifiedSample(df: DataFrame, classField: String, orderBy: Seq[Column],
                       random: Boolean = false, sampleCount: Option[Long] = None): DataFrame = {
    val (ord, rn) = (uniq("__ord"), uniq("__rn"))
    // arrival order: 2 consumers of the index, the min-count job and the
    // final window
    val base = if (orderBy.nonEmpty) df else materialize(indexByLayout(df, ord))
    val order =
      if (orderBy.nonEmpty) orderBy
      else Seq(if (random) md5(col(ord).cast(StringType)).asc else col(ord).asc)
    val minRow = base.groupBy(col(classField)).count().agg(min("count")).first()
    if (minRow.isNullAt(0)) df.limit(0)
    else {
      val cap = sampleCount.fold(minRow.getLong(0))(math.min(minRow.getLong(0), _))
      base.withColumn(rn, row_number().over(Window.partitionBy(col(classField)).orderBy(order: _*)))
        .filter(col(rn) <= cap).drop(rn, ord)
    }
  }

  // ------------------------------------------------- §2.8 time / windows

  /** TimestampNormalizerProcessor (time/TimestampNormalizerProcessor.scala:17):
    * floor a timestamp (parsed with `format` if given) to n-unit buckets on
    * the reference's millis→years grid — the tumbling event-time window
    * assigner. `time` holds the reference's {unit: n} config: the first of
    * years, months, weeks, days, hours, minutes, millis with n > 0 wins,
    * else n seconds (default 1). Sub-month units floor on the
    * UTC epoch-millis grid with weeks ISO-Monday-aligned (epoch day 0 is a
    * Thursday — Joda weeks start Monday); months and years bucket on
    * calendar months via an integer month index. */
  def timestampNormalize(df: DataFrame, field: String, format: Option[String],
                         time: Map[String, Int], result: String): DataFrame = {
    val ts = format.fold(col(field).cast(TimestampType))(to_timestamp(col(field).cast(StringType), _))
    def n(k: String): Int = time.getOrElse(k, 0)
    def epochFloor(ms: Long): Column =
      timestamp_millis((floor(unix_millis(ts) / ms) * ms).cast(LongType))
    val monthIdx = year(ts) * 12 + month(ts) - 1 // months since year 0
    def monthFloor(nMonths: Int): Column = {
      val b = floor(monthIdx / nMonths) * nMonths
      to_timestamp(concat((b / 12).cast(IntegerType), lit("-"),
        lpad((pmod(b, lit(12)) + 1).cast(StringType), 2, "0"), lit("-01")))
    }
    df.withColumn(result,
      if (n("years") > 0) monthFloor(12 * n("years"))
      else if (n("months") > 0) monthFloor(n("months"))
      else if (n("weeks") > 0) // shift so buckets land on Monday
        timestamp_millis(((floor((unix_millis(ts) - 345600000L) /
          (604800000L * n("weeks"))) * (604800000L * n("weeks"))) + 345600000L).cast(LongType))
      else if (n("days") > 0) epochFloor(86400000L * n("days"))
      else if (n("hours") > 0) epochFloor(3600000L * n("hours"))
      else if (n("minutes") > 0) epochFloor(60000L * n("minutes"))
      else if (n("millis") > 0) epochFloor(n("millis").toLong)
      else epochFloor(1000L * math.max(1, n("seconds"))))
  }

  /** TimestampPeriodAdderProcessor (time/TimestampPeriodAdderProcessor.scala:18):
    * add a static period, typed like the reference: a string field parses
    * and formats back with `format`, an integer field is epoch millis, and
    * anything else is a timestamp. */
  def periodAdd(df: DataFrame, field: String, result: String, format: Option[String] = None,
                years: Int = 0, months: Int = 0, weeks: Int = 0, days: Int = 0,
                hours: Int = 0, minutes: Int = 0, seconds: Int = 0): DataFrame = {
    val dt = df.schema(field).dataType
    def fmt = format.getOrElse(throw new IllegalArgumentException(
      "TimestampPeriodAdder: string time_field needs format"))
    val base = dt match {
      case StringType => to_timestamp(col(field), fmt)
      case IntegerType | LongType => timestamp_millis(col(field).cast(LongType))
      case _ => col(field)
    }
    val added = base + make_interval(
      lit(years), lit(months), lit(weeks), lit(days), lit(hours), lit(minutes), lit(seconds))
    df.withColumn(result, dt match {
      case StringType => date_format(added, fmt)
      case IntegerType | LongType => unix_millis(added)
      case _ => added
    })
  }

  /** DateToMillisProcessor (time/DateToMillisProcessor.scala:16): unix_millis
    * keeps sub-second precision like the reference's getMillis. */
  def dateToMillis(df: DataFrame, field: String, result: String): DataFrame =
    df.withColumn(result, unix_millis(col(field).cast(TimestampType)))

  /** SizeBufferProcessor (BufferProcessors.scala:94): N-row batches become an
    * explicit batch-id column over arrival order, or `orderBy` order
    * (scalable row index); downstream groupBy(result) = packets. */
  def sizeBuffer(df: DataFrame, n: Int, orderBy: Seq[Column], result: String): DataFrame = {
    val idx = uniq("__idx")
    rowIndex(df, orderBy, idx).withColumn(result, floor(col(idx) / n)).drop(idx)
  }

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
