package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.{Expr, Ops}

/**
 * Core operator queries (SURVEY.md §2.3-§2.9) with DuckDB oracle SQL.
 *
 * Cross-engine determinism rules used throughout:
 *  - sums of 2-dp money doubles go through DECIMAL(18,2) casts of the RAW
 *    columns (exact, order-independent; higher scales diverge because
 *    DuckDB's double→decimal cast multiplies in double); arbitrary doubles
 *    are integerized (floor(x*1e6)) before summing; plain double sums are
 *    only used where values are integral;
 *  - derived doubles (ratios, variances) are computed from exact sums with
 *    an identical IEEE op order on both sides;
 *  - timestamps are emitted as 'yyyy-MM-dd HH:mm:ss' strings or epoch
 *    integers, never as raw timestamp columns;
 *  - every result has a deterministic total ordering.
 */
object QueriesCore {
  private def rd(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)
  /** Exact shuffle-order-independent sum of a RAW 2-dp money column → double.
    * Only raw columns may be cast to decimal: both engines round the binary
    * double to the unambiguous decimal; casting a COMPUTED double diverges
    * in the last decimal digit between engines. */
  private val M = DecimalType(18, 2)
  private def dsum(c: Column): Column = sum(c.cast(M)).cast(DoubleType)
  /** price*(1-discount) computed exactly in decimal from raw 2-dp factors. */
  private def discounted(price: Column, disc: Column): Column =
    price.cast(M) * (lit(1).cast(M) - disc.cast(M))
  /** Order-independent exact sum of an arbitrary double: integerize at 1e-6
    * (floor of an IEEE multiply — identical in any engine), sum as longs. */
  private def vsum(c: Column): Column = sum(floor(c * lit(1000000.0)).cast(LongType))
  private def tstr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---------------- §2.5 AggregateByValueProcessor — flagship groupBy+expr agg
    "agg_by_value" -> ((s, dir) => {
      val li = rd(s, dir, "lineitem")
      Ops.aggregateByValue(li, Seq("l_returnflag", "l_linestatus"), Seq(
        "sum_qty" -> "sum(l_quantity)",
        "avg_qty" -> "avg(l_quantity)",
        "med_qty" -> "median(l_quantity)",
        "max_qty" -> "max(l_quantity)",
        "min_qty" -> "min(l_quantity)",
        "n_rows" -> "count(l_orderkey)",
        "n_orders" -> "distinct(l_orderkey)"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---------------- §2.5 exact decimal revenue aggregation
    "sum_processor" -> ((s, dir) => {
      val li = rd(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(
          dsum(col("l_extendedprice")).as("sum_price"),
          sum(discounted(col("l_extendedprice"), col("l_discount"))).cast(DoubleType).as("sum_disc_price"),
          sum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---------------- §2.5 CountProcessor
    "count_processor" -> ((s, dir) => {
      val o = rd(s, dir, "orders")
      o.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n")).orderBy("o_orderstatus")
    }),

    // ---------------- §2.4 PacketFilterProcessor — Tuktu predicate grammar
    "packet_filter" -> ((s, dir) => {
      val li = rd(s, dir, "lineitem")
      Ops.filter(li, """${l_quantity} > 45 && ${l_returnflag} == "A" || ${l_quantity} <= 2 && ${l_returnflag} == "N"""")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"), col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---------------- §2.4 predicate-grammar functions
    "expr_predicate" -> ((s, dir) => {
      val p = rd(s, dir, "part")
      Ops.filter(p, """containsSubstring(${p_name}, "red") && size(${p_name}) > 7 && toUpperCase(${p_type}) == ${p_type}""")
        .select(col("p_partkey"), col("p_name"), col("p_type"))
        .orderBy("p_partkey")
    }),

    // ---------------- §2.3 ArithmeticProcessor — Tuktu arithmetic grammar
    "expr_arithmetic" -> ((s, dir) => {
      val li = rd(s, dir, "lineitem")
      Ops.arithmetic(li, "${l_extendedprice} * (1 - ${l_discount}) * (1 + ${l_tax})", "gross")
        .withColumn("rounded", org.apache.spark.sql.functions.round(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")), 0).cast(DoubleType))
        .select(col("l_orderkey"), col("l_linenumber"), col("gross"), col("rounded"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---------------- §2.3 FieldFilterProcessor
    "field_filter" -> ((s, dir) => {
      Ops.fieldFilter(rd(s, dir, "customer"),
        Seq(Seq("c_custkey") -> "key", Seq("c_name") -> "name", Seq("c_mktsegment") -> "segment"))
        .orderBy("key")
    }),

    // ---------------- §2.3 FieldRemoveProcessor
    "field_remove" -> ((s, dir) => {
      Ops.fieldRemove(rd(s, dir, "customer"), Seq("c_acctbal", "c_nationkey"))
        .orderBy("c_custkey")
    }),

    // ---------------- §2.3 FieldCopyProcessor
    "field_copy" -> ((s, dir) => {
      Ops.fieldCopy(rd(s, dir, "orders").select("o_orderkey", "o_orderstatus"),
        Seq(Seq("o_orderstatus") -> "status_copy"))
        .orderBy("o_orderkey")
    }),

    // ---------------- §2.3 FieldRenameProcessor
    "field_rename" -> ((s, dir) => {
      Ops.fieldRename(rd(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        Seq(Seq("o_totalprice") -> "total"))
        .orderBy("o_orderkey")
    }),

    // ---------------- §2.3 FieldConstantAdderProcessor w/ ${} interpolation
    "constant_adder" -> ((s, dir) => {
      Ops.constantAdder(rd(s, dir, "customer").select("c_custkey", "c_name"),
        "tag", "cust-${c_name}-x")
        .orderBy("c_custkey")
    }),

    // ---------------- §2.3 RunningCountProcessor
    "running_count" -> ((s, dir) => {
      Ops.runningCount(rd(s, dir, "events").select("event_id", "user_id"),
        Seq(col("event_id")), startAt = 10, stepSize = 2, result = "seq")
        .orderBy("event_id")
    }),

    // ---------------- §2.3 FieldsToListProcessor + SequenceLengthProcessor
    // (r4 benched this at 3.9s vs ~1s comparables; re-profiled r5 at 1.07s
    // median-of-5 with the code unchanged — box noise, plan is scan →
    // project → range-partition sort, nothing to fix)
    "fields_to_list" -> ((s, dir) => {
      val li = rd(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
      // flags emitted as a joined string: the driver gate canonicalizes via
      // pandas, which cannot sort array columns — nested outputs must be
      // stringified on BOTH sides (same in every array-output query below).
      Ops.sequenceLength(
        Ops.fieldsToList(li, Seq("l_returnflag", "l_linestatus"), "flags"), "flags", "n_flags")
        .withColumn("flags", array_join(col("flags"), ","))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---------------- §2.3 StringSplitterProcessor
    "string_split" -> ((s, dir) => {
      Ops.stringSplit(rd(s, dir, "part").select("p_partkey", "p_name"), "p_name",
        java.util.regex.Pattern.quote(" "), removeEmpty = false, "words")
        .withColumn("words", array_join(col("words"), "|"))
        .orderBy("p_partkey")
    }),

    // ---------------- §2.3 StringImploderProcessor
    "string_implode" -> ((s, dir) => {
      val p = Ops.stringSplit(rd(s, dir, "part").select("p_partkey", "p_name"), "p_name",
        java.util.regex.Pattern.quote(" "), removeEmpty = false, "words")
      Ops.stringImplode(p, Seq("words"), "_", "joined").drop("words")
        .orderBy("p_partkey")
    }),

    // ---------------- §2.3 SequenceExploderProcessor
    "sequence_explode" -> ((s, dir) => {
      val p = rd(s, dir, "part").select("p_partkey", "p_name")
      Ops.sequenceExplode(
        p.withColumn("words", array_distinct(split(col("p_name"), " "))).drop("p_name"),
        "words", "word")
        .drop("words")
        .orderBy("p_partkey", "word")
    }),

    // ---------------- §2.3 ZipExplodeProcessor
    "zip_explode" -> ((s, dir) => {
      val p = rd(s, dir, "part").select("p_partkey", "p_name", "p_type")
        .withColumn("a", split(col("p_name"), " "))
        .withColumn("b", split(col("p_type"), " "))
      Ops.zipExplode(p, "a", "b", "x", "y")
        .select(col("p_partkey"), col("x"), col("y"))
        .orderBy("p_partkey", "x", "y")
    }),

    // ---------------- §2.3 SequenceFlattenerProcessor
    "sequence_flatten" -> ((s, dir) => {
      val p = rd(s, dir, "part").select("p_partkey", "p_name", "p_type")
        .withColumn("nested", array(split(col("p_name"), " "), split(col("p_type"), " ")))
      Ops.sequenceFlatten(p, "nested", "flat")
        .select(col("p_partkey"), array_join(col("flat"), "|").as("flat"))
        .orderBy("p_partkey")
    }),

    // ---------------- §2.3 DistinctSequenceProcessor (sorted for determinism)
    "distinct_sequence" -> ((s, dir) => {
      rd(s, dir, "part").select("p_partkey", "p_type")
        .withColumn("toks",
          array_join(array_sort(array_distinct(split(lower(col("p_type")), " "))), ","))
        .drop("p_type")
        .orderBy("p_partkey")
    }),

    // ---------------- §2.3 GetListElementProcessor / HeadOfListProcessor
    "get_list_element" -> ((s, dir) => {
      val p = rd(s, dir, "part").select("p_partkey", "p_name")
        .withColumn("words", split(col("p_name"), " "))
      Ops.headOfList(Ops.getListElement(p, "words", 1, "second"), "words", "first")
        .drop("words")
        .orderBy("p_partkey")
    }),

    // ---------------- §2.3 ReplaceProcessor (regex replace chain)
    "replace_processor" -> ((s, dir) => {
      Ops.replace(rd(s, dir, "part").select("p_partkey", "p_name"), "p_name",
        Seq("[aeiou]" -> "_", "^sm" -> "SM"), "p_name")
        .orderBy("p_partkey")
    }),

    // ---------------- §2.3 JSON ops: JsonFetcher / get_json_object
    "json_fetcher" -> ((s, dir) => {
      Ops.getJsonPath(rd(s, dir, "events").select("event_id", "props"), "props", "$.k", "k_str")
        .withColumn("k", col("k_str").cast(LongType)).drop("props")
        .orderBy("event_id")
    }),

    // ---------------- §2.3 casts: ConvertToNumber / ConvertToString
    "convert_casts" -> ((s, dir) => {
      rd(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
        .withColumn("qty_int", col("l_quantity").cast(LongType))
        .withColumn("line_str", col("l_linenumber").cast(StringType))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---------------- §2.3 PredicateProcessor (predicate as stored field)
    "predicate_field" -> ((s, dir) => {
      Ops.predicateField(rd(s, dir, "customer").select("c_custkey", "c_acctbal", "c_mktsegment"),
        """${c_acctbal} >= 0 && ${c_mktsegment} != "BUILDING"""", "flag")
        .orderBy("c_custkey")
    }),

    // ---------------- §2.3 MaxFieldByValueProcessor
    "max_of_fields" -> ((s, dir) => {
      Ops.maxOfFields(rd(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_discount", "l_tax"),
        Seq("l_discount", "l_tax"), "max_rate")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---------------- §2.4 PacketRegexFilterProcessor
    "regex_filter" -> ((s, dir) => {
      Ops.regexFilter(rd(s, dir, "part").select("p_partkey", "p_name", "p_brand"),
        Ops.RegexAnd(Seq(
          Ops.RegexOr(Seq(Ops.RegexLeaf("p_name", "^(red|blue) .*"), Ops.RegexLeaf("p_name", ".*(bolt|gear)$"))),
          Ops.RegexNot(Ops.RegexLeaf("p_brand", "Brand#1\\d")))))
        .orderBy("p_partkey")
    }),

    // ---------------- §2.4 AbsentFieldsFilterProcessor
    "absent_fields_filter" -> ((s, dir) => {
      val e = rd(s, dir, "events").select("event_id", "event_type", "props")
        .withColumn("k", get_json_object(col("props"), "$.missing"))
      Ops.absentFieldsFilter(e.drop("props"), Seq("event_type"))
        .orderBy("event_id")
    }),

    // ---------------- §2.5 Min/MaxProcessor — whole extreme row
    "max_row" -> ((s, dir) => {
      Ops.maxRow(rd(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice"),
        "l_extendedprice", Seq(col("l_orderkey"), col("l_linenumber")))
    }),

    // ---------------- §2.5 statistics: mean/median/mode/midrange/stdev/var
    "statistics" -> ((s, dir) => {
      val li = rd(s, dir, "lineitem")
      val n = count(lit(1)).cast(DoubleType)
      val sx = sum(col("l_quantity"))                        // integral → exact
      val sxx = sum(col("l_quantity") * col("l_quantity"))   // integral → exact
      li.agg(
        (sx / n).as("mean_qty"),
        median(col("l_quantity")).as("median_qty"),
        ((min(col("l_quantity")) + max(col("l_quantity"))) / lit(2.0)).as("midrange_qty"),
        (sxx / n - (sx / n) * (sx / n)).as("var_qty"),
        sqrt(sxx / n - (sx / n) * (sx / n)).as("stdev_qty"))
    }),

    // ---------------- §2.5 ModeProcessor (deterministic tie-break)
    "mode_processor" -> ((s, dir) => {
      Ops.mode(rd(s, dir, "events"), "event_type")
    }),

    // ---------------- §2.5 CountValuesProcessor
    "count_values" -> ((s, dir) => {
      Ops.countValues(rd(s, dir, "events"), "event_type").orderBy("key")
    }),

    // ---------------- §2.5 Correlation/CovarianceProcessor — exact-sum formula
    "correlation" -> ((s, dir) => {
      val li = rd(s, dir, "lineitem")
      val n = count(lit(1)).cast(DoubleType)
      val sx = sum(col("l_quantity"))
      // discount (not price) as the second operand: bounded values keep every
      // exact decimal sum within double's 53-bit exact range at any SF — a
      // price-squared sum exceeds it and the decimal->double cast diverges
      // between engines in the last ulp.
      val pd = col("l_discount").cast(M)
      val qd = col("l_quantity").cast(M)
      val sy = sum(pd).cast(DoubleType)
      val sxx = sum(col("l_quantity") * col("l_quantity"))
      val syy = sum(pd * pd).cast(DoubleType)
      val sxy = sum(qd * pd).cast(DoubleType)
      val covar = sxy / n - (sx / n) * (sy / n)
      val varx = sxx / n - (sx / n) * (sx / n)
      val vary = syy / n - (sy / n) * (sy / n)
      li.agg(
        covar.as("covar_pop"),
        (covar / (sqrt(varx) * sqrt(vary))).as("corr"))
    }),

    // ---------------- §2.5 CorrelationMatrixProcessor — k×k pairwise matrix
    // in ONE aggregation pass (long form). Inputs integerized so the double
    // sums are exact and order-independent; formula order matches the oracle.
    "corr_matrix" -> ((s, dir) => {
      val li = rd(s, dir, "lineitem").select(
        col("l_quantity").cast(LongType).as("q"),
        floor(col("l_discount") * 100.0).cast(LongType).as("d"),
        floor(col("l_tax") * 100.0).cast(LongType).as("t"))
      graft.ml.Stats.correlationMatrix(li, Seq("q", "d", "t")).orderBy("x", "y")
    }),

    // ---------------- §2.5 ArithmeticAggregateProcessor — window agg per row
    "arithmetic_aggregate" -> ((s, dir) => {
      val e = rd(s, dir, "events").select("event_id", "user_id", "value")
      Ops.arithmeticAggregate(
        Ops.arithmeticAggregate(e, Seq("user_id"),
          sum(floor(col("value") * lit(1000000.0)).cast(LongType)), "user_sum"),
        Seq("user_id"), count(lit(1)), "user_n")
        .orderBy("event_id")
    }),

    // ---------------- §2.6 JoinGenerator — multi-way equi-join w/ broadcast dims
    "join_inner" -> ((s, dir) => {
      val c = rd(s, dir, "customer"); val o = rd(s, dir, "orders"); val li = rd(s, dir, "lineitem")
      Ops.filter(c, """${c_mktsegment} == "BUILDING"""")
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(discounted(col("l_extendedprice"), col("l_discount"))).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // ---------------- §2.6 broadcast dimension join (nation⋈region)
    "join_broadcast" -> ((s, dir) => {
      val c = rd(s, dir, "customer"); val n = rd(s, dir, "nation"); val r = rd(s, dir, "region")
      Ops.join(
        Ops.join(c, n.withColumnRenamed("n_nationkey", "c_nationkey"), Seq("c_nationkey"),
          broadcastRight = true),
        r.withColumnRenamed("r_regionkey", "n_regionkey"), Seq("n_regionkey"), broadcastRight = true)
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy("r_name")
    }),

    // ---------------- §2.6 semi/anti joins (engine extras over reference)
    "join_anti" -> ((s, dir) => {
      val o = rd(s, dir, "orders"); val li = rd(s, dir, "lineitem")
      o.join(li, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy("o_orderkey")
    }),

    // ---------------- §2.6 SerialMerger — union of branches
    "serial_merger" -> ((s, dir) => {
      val o = rd(s, dir, "orders")
      Ops.serialMerge(Seq(
        o.filter(col("o_orderstatus") === "O").select("o_orderkey", "o_orderstatus", "o_totalprice"),
        o.filter(col("o_orderstatus") === "F").select("o_orderkey", "o_orderstatus", "o_totalprice")))
        .orderBy("o_orderkey")
    }),

    // ---------------- §2.6 PaddingMerger — broadcast 1-row aggregate to all rows
    "padding_merger" -> ((s, dir) => {
      val c = rd(s, dir, "customer")
      val avgBal = c.agg((sum(col("c_acctbal").cast(M)).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("avg_bal"))
      Ops.paddingMerge(c.select("c_custkey", "c_acctbal"), avgBal)
        .withColumn("ratio", col("c_acctbal") / col("avg_bal"))
        .orderBy("c_custkey")
    }),

    // ---------------- §2.7 SortProcessor + TakeProcessor (top-k plan)
    "sort_take" -> ((s, dir) => {
      Ops.take(Ops.sort(rd(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal"),
        Seq(col("c_acctbal").desc, col("c_custkey").asc)), 25)
    }),

    // ---------------- §2.7 DropProcessor (offset)
    "drop_processor" -> ((s, dir) => {
      Ops.drop(rd(s, dir, "region").select("r_regionkey", "r_name"), 2, Seq(col("r_regionkey")))
        .orderBy("r_regionkey")
    }),

    // ---------------- §2.7 DeduplicationProcessor — first-seen by key
    "deduplication" -> ((s, dir) => {
      Ops.dedupFirstSeen(rd(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        Seq("o_custkey"), Seq(col("o_orderkey")))
        .orderBy("o_custkey")
    }),

    // ---------------- §2.7 StratifiedSamplingProcessor
    "stratified_sampling" -> ((s, dir) => {
      Ops.stratifiedSample(rd(s, dir, "orders").select("o_orderkey", "o_orderstatus"),
        "o_orderstatus", Seq(col("o_orderkey")))
        .orderBy("o_orderstatus", "o_orderkey")
    }),

    // ---------------- §2.8 TimestampNormalizerProcessor ⇄ tumbling window
    "timestamp_normalizer" -> ((s, dir) => {
      val e = rd(s, dir, "events")
      Ops.timestampNormalize(e, "ts", None, Map("hours" -> 1), "hour_ts")
        .groupBy(tstr(col("hour_ts")).as("hour"))
        .agg(count(lit(1)).as("n"), vsum(col("value")).as("sum_vmicros"))
        .orderBy("hour")
    }),

    // ---------------- §2.8 TimestampPeriodAdderProcessor
    "period_adder" -> ((s, dir) => {
      Ops.periodAdd(rd(s, dir, "orders").select("o_orderkey", "o_orderdate"),
        "o_orderdate", "due", months = 1, days = 3)
        .select(col("o_orderkey"), tstr(col("due")).as("due_str"))
        .orderBy("o_orderkey")
    }),

    // ---------------- §2.8 DateToMillisProcessor
    "date_to_millis" -> ((s, dir) => {
      Ops.dateToMillis(rd(s, dir, "events").select("event_id", "ts"), "ts", "ms")
        .select("event_id", "ms")
        .orderBy("event_id")
    }),

    // ---------------- §2.8 DurationProcessor — first-to-last per user (µs math)
    "duration_processor" -> ((s, dir) => {
      rd(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(floor((unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))) / 1000000L)
          .as("span_sec"), count(lit(1)).as("n"))
        .orderBy("user_id")
    }),

    // ---------------- §2.8 GroupByProcessor + KeyImploderProcessor
    "key_imploder" -> ((s, dir) => {
      Ops.keyImploder(rd(s, dir, "events"), Seq("user_id"), Seq("event_type"), Some("event_id"))
        .select(col("user_id"), array_join(col("event_type"), ",").as("types"))
        .orderBy("user_id")
    }),

    // ---------------- §2.8 SizeBufferProcessor — count-based batching
    "size_buffer" -> ((s, dir) => {
      Ops.sizeBuffer(rd(s, dir, "events").select("event_id", "value"), 1000, Seq(col("event_id")),
        "batch_id")
        .groupBy(col("batch_id"))
        .agg(count(lit(1)).as("n"), vsum(col("value")).as("sum_vmicros"))
        .orderBy("batch_id")
    }),

    // ---------------- §2.8 EOFBufferProcessor — whole-stream aggregation
    "eof_buffer" -> ((s, dir) => {
      rd(s, dir, "events").agg(
        count(lit(1)).as("n"),
        vsum(col("value")).as("sum_vmicros"),
        countDistinct(col("user_id")).as("n_users"))
    }),

    // ---------------- §2.3 DatumMergeProcessor — last non-null per column
    "datum_merge" -> ((s, dir) => {
      val e = rd(s, dir, "events").select(col("user_id"), col("event_id"),
        col("event_type"),
        when(col("value") > 50.0, floor(col("value") * 1000.0).cast(LongType)).as("big_vm"))
      Ops.datumMerge(e, Seq("user_id"), "event_id").orderBy("user_id")
    }),

    // ---------------- §2.3 TupleListImploder — "k=v|k=v" rendering
    "tuple_implode" -> ((s, dir) => {
      // a null event_type leaves its entry out, as the oracle's string_agg
      // skips the null `k=v` (the imploder renders a null field as "")
      val grouped = rd(s, dir, "events").groupBy(col("user_id"))
        .agg(array_sort(collect_list(when(col("event_type").isNotNull,
          struct(col("event_id").as("k"), col("event_type").as("v"))))).as("recs"))
      Ops.tupleListImplode(grouped, Seq("recs"), "=", "kv")
        .select(col("user_id"), array_join(col("kv"), "|").as("kv"))
        .orderBy("user_id")
    }),

    // ---------------- §2.3 ColorHexToRGB — hex decode as expressions
    "hex_to_rgb" -> ((s, dir) => {
      val p = rd(s, dir, "part").select(col("p_partkey"),
        concat(lit("#"), lpad(hex(pmod(col("p_partkey") * 2654435761L, lit(16777216L))),
          6, "0")).as("hexcol"))
      Ops.hexToRgb(p, "hexcol").orderBy("p_partkey")
    }),

    // ---------------- §2.10 capitalize (first-char-only, ≠ initcap)
    "capitalize_fn" -> ((s, dir) => {
      rd(s, dir, "part").select("p_partkey", "p_name")
        .withColumn("cap", Expr.capitalize(col("p_name")))
        .orderBy("p_partkey")
    }),

    // ---------------- §1.3 nearlyEqual epsilon comparison
    "nearly_equal" -> ((s, dir) => {
      val li = rd(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_discount")
      li.filter(Expr.nearlyEqual(col("l_discount"), lit(0.05)))
        .orderBy("l_orderkey", "l_linenumber")
    }))

  val oracleSql: Seq[(String, String)] = Seq(
    "agg_by_value" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
         CAST(avg(l_quantity) AS DOUBLE) AS avg_qty,
         CAST(median(l_quantity) AS DOUBLE) AS med_qty,
         CAST(max(l_quantity) AS DOUBLE) AS max_qty,
         CAST(min(l_quantity) AS DOUBLE) AS min_qty,
         count(l_orderkey) AS n_rows,
         count(DISTINCT l_orderkey) AS n_orders
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "sum_processor" ->
      """SELECT l_returnflag,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         SUM(l_quantity) AS sum_qty
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "count_processor" ->
      "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1 ORDER BY 1",
    "packet_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_extendedprice
         FROM lineitem
         WHERE l_quantity > 45 AND l_returnflag = 'A' OR l_quantity <= 2 AND l_returnflag = 'N'
         ORDER BY l_orderkey, l_linenumber""",
    "expr_predicate" ->
      """SELECT p_partkey, p_name, p_type FROM part
         WHERE contains(p_name, 'red') AND length(p_name) > 7 AND upper(p_type) = p_type
         ORDER BY p_partkey""",
    "expr_arithmetic" ->
      """SELECT l_orderkey, l_linenumber,
         l_extendedprice * (1 - l_discount) * (1 + l_tax) AS gross,
         CAST(round(l_extendedprice * (1.0 - l_discount)) AS DOUBLE) AS rounded
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "field_filter" ->
      "SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment FROM customer ORDER BY 1",
    "field_remove" ->
      "SELECT c_custkey, c_name, c_mktsegment FROM customer ORDER BY 1",
    "field_copy" ->
      "SELECT o_orderkey, o_orderstatus, o_orderstatus AS status_copy FROM orders ORDER BY 1",
    "field_rename" ->
      "SELECT o_orderkey, o_totalprice AS total FROM orders ORDER BY 1",
    "constant_adder" ->
      "SELECT c_custkey, c_name, 'cust-' || c_name || '-x' AS tag FROM customer ORDER BY 1",
    "running_count" ->
      """SELECT event_id, user_id,
         (row_number() OVER (ORDER BY event_id) - 1) * 2 + 10 AS seq
         FROM events ORDER BY event_id""",
    "fields_to_list" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
         array_to_string([l_returnflag, l_linestatus], ',') AS flags, 2 AS n_flags
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "string_split" ->
      "SELECT p_partkey, p_name, array_to_string(string_split(p_name, ' '), '|') AS words FROM part ORDER BY 1",
    "string_implode" ->
      "SELECT p_partkey, p_name, array_to_string(string_split(p_name, ' '), '_') AS joined FROM part ORDER BY 1",
    "sequence_explode" ->
      """SELECT p_partkey, unnest(list_distinct(string_split(p_name, ' '))) AS word
         FROM part ORDER BY p_partkey, word""",
    "zip_explode" ->
      """SELECT p_partkey, unnest(string_split(p_name, ' ')) AS x, unnest(string_split(p_type, ' ')) AS y
         FROM part ORDER BY p_partkey, x, y""",
    "sequence_flatten" ->
      """SELECT p_partkey,
         array_to_string(flatten([string_split(p_name, ' '), string_split(p_type, ' ')]), '|') AS flat
         FROM part ORDER BY p_partkey""",
    "distinct_sequence" ->
      """SELECT p_partkey,
         array_to_string(list_sort(list_distinct(string_split(lower(p_type), ' '))), ',') AS toks
         FROM part ORDER BY p_partkey""",
    "get_list_element" ->
      """SELECT p_partkey, p_name,
         string_split(p_name, ' ')[2] AS second, string_split(p_name, ' ')[1] AS first
         FROM part ORDER BY p_partkey""",
    "replace_processor" ->
      """SELECT p_partkey,
         regexp_replace(regexp_replace(p_name, '[aeiou]', '_', 'g'), '^sm', 'SM', 'g') AS p_name
         FROM part ORDER BY p_partkey""",
    "json_fetcher" ->
      """SELECT event_id, regexp_extract(props, '"k": *([0-9]+)', 1) AS k_str,
         CAST(regexp_extract(props, '"k": *([0-9]+)', 1) AS BIGINT) AS k
         FROM events ORDER BY event_id""",
    "convert_casts" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
         CAST(floor(l_quantity) AS BIGINT) AS qty_int,
         CAST(l_linenumber AS VARCHAR) AS line_str
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "predicate_field" ->
      """SELECT c_custkey, c_acctbal, c_mktsegment,
         (c_acctbal >= 0 AND c_mktsegment != 'BUILDING') AS flag
         FROM customer ORDER BY c_custkey""",
    "max_of_fields" ->
      """SELECT l_orderkey, l_linenumber, l_discount, l_tax,
         greatest(l_discount, l_tax) AS max_rate
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "regex_filter" ->
      """SELECT p_partkey, p_name, p_brand FROM part
         WHERE (regexp_matches(p_name, '^(red|blue) .*') OR regexp_matches(p_name, '.*(bolt|gear)$'))
           AND NOT regexp_matches(p_brand, 'Brand#1\d')
         ORDER BY p_partkey""",
    "absent_fields_filter" ->
      """SELECT event_id, event_type, CAST(NULL AS VARCHAR) AS k FROM events
         WHERE event_type IS NOT NULL ORDER BY event_id""",
    "max_row" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 1""",
    "statistics" ->
      """SELECT
         SUM(l_quantity) / CAST(count(*) AS DOUBLE) AS mean_qty,
         CAST(median(l_quantity) AS DOUBLE) AS median_qty,
         (min(l_quantity) + max(l_quantity)) / 2.0 AS midrange_qty,
         SUM(l_quantity * l_quantity) / CAST(count(*) AS DOUBLE)
           - (SUM(l_quantity) / CAST(count(*) AS DOUBLE)) * (SUM(l_quantity) / CAST(count(*) AS DOUBLE)) AS var_qty,
         sqrt(SUM(l_quantity * l_quantity) / CAST(count(*) AS DOUBLE)
           - (SUM(l_quantity) / CAST(count(*) AS DOUBLE)) * (SUM(l_quantity) / CAST(count(*) AS DOUBLE))) AS stdev_qty
         FROM lineitem""",
    "mode_processor" ->
      """SELECT event_type AS key, count(*) AS amount FROM events
         GROUP BY 1 ORDER BY amount DESC, key ASC LIMIT 1""",
    "count_values" ->
      "SELECT event_type AS key, count(*) AS amount FROM events GROUP BY 1 ORDER BY 1",
    "correlation" ->
      """WITH s AS (SELECT
           CAST(count(*) AS DOUBLE) AS n,
           SUM(l_quantity) AS sx,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           SUM(l_quantity * l_quantity) AS sxx,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS syy,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sxy
         FROM lineitem)
         SELECT sxy / n - (sx / n) * (sy / n) AS covar_pop,
           (sxy / n - (sx / n) * (sy / n)) /
             (sqrt(sxx / n - (sx / n) * (sx / n)) * sqrt(syy / n - (sy / n) * (sy / n))) AS corr
         FROM s""",
    "corr_matrix" -> {
      // same exact-sum formula, same IEEE op order as Stats.correlationMatrix
      val f = Map("q" -> 0, "d" -> 1, "t" -> 2)
      val rows = (for (x <- Seq("q", "d", "t"); y <- Seq("q", "d", "t")) yield {
        val (i, j) = (f(x), f(y))
        val (a, b) = (math.min(i, j), math.max(i, j))
        s"""SELECT '$x' AS x, '$y' AS y,
            (n * ss${a}$b - s$i * s$j) /
            (sqrt(n * ss${i}$i - s$i * s$i) * sqrt(n * ss${j}$j - s$j * s$j)) AS corr
            FROM m"""
      }).mkString(" UNION ALL ")
      s"""WITH v AS (
            SELECT CAST(l_quantity AS BIGINT) AS q,
                   CAST(floor(l_discount * 100.0) AS BIGINT) AS d,
                   CAST(floor(l_tax * 100.0) AS BIGINT) AS t
            FROM lineitem),
          m AS (
            SELECT CAST(count(*) AS DOUBLE) AS n,
              CAST(SUM(q) AS DOUBLE) AS s0, CAST(SUM(d) AS DOUBLE) AS s1, CAST(SUM(t) AS DOUBLE) AS s2,
              CAST(SUM(q*q) AS DOUBLE) AS ss00, CAST(SUM(q*d) AS DOUBLE) AS ss01, CAST(SUM(q*t) AS DOUBLE) AS ss02,
              CAST(SUM(d*d) AS DOUBLE) AS ss11, CAST(SUM(d*t) AS DOUBLE) AS ss12, CAST(SUM(t*t) AS DOUBLE) AS ss22
            FROM v)
          SELECT x, y, corr FROM ($rows) ORDER BY x, y"""
    },
    "arithmetic_aggregate" ->
      """SELECT event_id, user_id, value,
         CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) OVER (PARTITION BY user_id) AS BIGINT) AS user_sum,
         count(*) OVER (PARTITION BY user_id) AS user_n
         FROM events ORDER BY event_id""",
    "join_inner" ->
      """SELECT o_orderkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         count(*) AS n_lines
         FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY 1 ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "join_broadcast" ->
      """SELECT r_name, count(*) AS n_customers,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1 ORDER BY 1""",
    "join_anti" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
         WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
         ORDER BY o_orderkey""",
    "serial_merger" ->
      """SELECT * FROM (
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'O'
           UNION ALL
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'F')
         ORDER BY o_orderkey""",
    "padding_merger" ->
      """WITH a AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE) AS avg_bal FROM customer)
         SELECT c_custkey, c_acctbal, avg_bal, c_acctbal / avg_bal AS ratio
         FROM customer, a ORDER BY c_custkey""",
    "sort_take" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 25""",
    "drop_processor" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey OFFSET 2",
    "deduplication" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) = 1
         ORDER BY o_custkey""",
    "stratified_sampling" ->
      """WITH m AS (SELECT min(n) AS mn FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderstatus))
         SELECT o_orderkey, o_orderstatus FROM (
           SELECT o_orderkey, o_orderstatus,
             row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS rn
           FROM orders), m
         WHERE rn <= mn ORDER BY o_orderstatus, o_orderkey""",
    "timestamp_normalizer" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         count(*) AS n, CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_vmicros
         FROM events GROUP BY 1 ORDER BY 1""",
    "period_adder" ->
      """SELECT o_orderkey,
         strftime(o_orderdate + INTERVAL 1 MONTH + INTERVAL 3 DAY, '%Y-%m-%d %H:%M:%S') AS due_str
         FROM orders ORDER BY o_orderkey""",
    "date_to_millis" ->
      "SELECT event_id, epoch_ms(ts) AS ms FROM events ORDER BY event_id",
    "duration_processor" ->
      """SELECT user_id,
         CAST(floor((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0) AS BIGINT) AS span_sec,
         count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",
    "key_imploder" ->
      """SELECT user_id, array_to_string(list(event_type ORDER BY event_id), ',') AS types
         FROM events GROUP BY 1 ORDER BY 1""",
    "size_buffer" ->
      """SELECT batch_id, count(*) AS n,
         CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_vmicros
         FROM (SELECT CAST(floor((row_number() OVER (ORDER BY event_id) - 1) / 1000) AS BIGINT) AS batch_id, value
               FROM events)
         GROUP BY 1 ORDER BY 1""",
    "eof_buffer" ->
      """SELECT count(*) AS n,
         CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_vmicros,
         count(DISTINCT user_id) AS n_users
         FROM events""",
    "datum_merge" ->
      """SELECT user_id,
         arg_max(event_type, CASE WHEN event_type IS NOT NULL THEN event_id END) AS event_type,
         arg_max(big_vm, CASE WHEN big_vm IS NOT NULL THEN event_id END) AS big_vm
         FROM (SELECT user_id, event_id, event_type,
                 CASE WHEN value > 50.0 THEN CAST(floor(value * 1000.0) AS BIGINT) END AS big_vm
               FROM events)
         GROUP BY 1 ORDER BY 1""",
    "tuple_implode" ->
      """SELECT user_id,
         string_agg(event_id || '=' || event_type, '|' ORDER BY event_id) AS kv
         FROM events GROUP BY 1 ORDER BY 1""",
    "hex_to_rgb" ->
      """WITH h AS (
           SELECT p_partkey,
             '#' || lpad(upper(to_hex((p_partkey * 2654435761) % 16777216)), 6, '0') AS hexcol
           FROM part)
         SELECT p_partkey, hexcol,
           CAST(('0x' || substr(hexcol, 2, 2))::BIGINT AS INTEGER) AS r,
           CAST(('0x' || substr(hexcol, 4, 2))::BIGINT AS INTEGER) AS g,
           CAST(('0x' || substr(hexcol, 6, 2))::BIGINT AS INTEGER) AS b
         FROM h ORDER BY p_partkey""",
    "capitalize_fn" ->
      """SELECT p_partkey, p_name, upper(substr(p_name, 1, 1)) || substr(p_name, 2) AS cap
         FROM part ORDER BY p_partkey""",
    "nearly_equal" ->
      """SELECT l_orderkey, l_linenumber, l_discount FROM lineitem
         WHERE abs(l_discount - 0.05) < 1e-9 ORDER BY l_orderkey, l_linenumber""")
}
