package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Ops

/**
 * Coverage batch 2: struct/JSON reshaping (SURVEY.md §2.3), window analytics,
 * sessionization + as-of carry-forward (engine extras beyond the reference —
 * §2.8 notes Tuktu has no sessionization), rollup (§2.5 extras), and the
 * recursive lookup loop (§2.6) checked against a DuckDB recursive CTE.
 */
object QueriesExtra {
  private def rd(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---------------- §2.3 FlattenerProcessor — recursive struct flatten
    "flattener" -> ((s, dir) => {
      val o = rd(s, dir, "orders").select(col("o_orderkey"),
        struct(col("o_orderstatus").as("status"),
          struct(col("o_totalprice").as("price")).as("inner")).as("meta"))
      Ops.flatten(o, o.columns.toSeq, "_").orderBy("o_orderkey")
    }),

    // ---------------- §2.3 MapFlattenerProcessor — splice struct entries
    "map_flattener" -> ((s, dir) => {
      val r = rd(s, dir, "region")
        .withColumn("meta", struct(col("r_name").as("name_inner")))
      Ops.mapFlattener(r, "meta").drop("meta").orderBy("r_regionkey")
    }),

    // ---------------- §2.3 ListMapFlattenerProcessor — inner field of array<struct>
    "list_map_flattener" -> ((s, dir) => {
      val li = rd(s, dir, "lineitem")
      val grouped = li.groupBy(col("l_orderkey"))
        .agg(array_sort(collect_list(struct(col("l_linenumber"), col("l_quantity")))).as("lines"))
      // quantities are integral doubles: emit as BIGINT-joined string — the
      // driver's pandas canonicalization can't sort array columns.
      Ops.listMapFlattener(grouped, "lines", "l_quantity", "quantities")
        .drop("lines")
        .withColumn("quantities",
          array_join(transform(col("quantities"), x => x.cast(LongType).cast(StringType)), ","))
        .orderBy("l_orderkey")
    }),

    // ---------------- §2.3 DataPacketWrapperProcessor — nest row under field
    "datum_to_field" -> ((s, dir) => {
      Ops.datumToField(rd(s, dir, "region"), "datum")
        .select(to_json(col("datum")).as("datum"))
        .orderBy("datum")
    }),

    // ---------------- §2.3 ImploderProcessor — concat array fields
    "imploder" -> ((s, dir) => {
      val p = rd(s, dir, "part")
        .withColumn("a", split(col("p_name"), " "))
        .withColumn("b", split(col("p_type"), " "))
      Ops.imploder(p, Some(Seq("a", "b")), "merged")
        .select(col("p_partkey"), array_join(col("merged"), "|").as("merged"))
        .orderBy("p_partkey")
    }),

    // ---------------- §2.3 ConvertToDate — string parse roundtrip
    "convert_to_date" -> ((s, dir) => {
      val o = rd(s, dir, "orders").select("o_orderkey", "o_orderdate")
        .withColumn("ds", date_format(col("o_orderdate"), "yyyy-MM-dd"))
      Ops.toDate(o, "ds", Some("yyyy-MM-dd"), "parsed")
        .select(col("o_orderkey"), col("ds"),
          date_format(col("parsed"), "yyyy-MM-dd HH:mm:ss").as("parsed_str"))
        .orderBy("o_orderkey")
    }),

    // ---------------- §2.7 ReverseProcessor
    "reverse_processor" -> ((s, dir) => {
      rd(s, dir, "events").select("event_id", "event_type")
        .orderBy(col("event_id").desc).limit(50)
    }),

    // ---------------- §2.5 MinProcessor — whole minimum row
    "min_row" -> ((s, dir) => {
      Ops.minRow(rd(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal"),
        "c_acctbal", Seq(col("c_custkey")))
    }),

    // ---------------- §2.3 JSONParseProcessor — from_json into typed struct
    "json_parse_struct" -> ((s, dir) => {
      val e = rd(s, dir, "events").select("event_id", "props")
      Ops.jsonParse(e, "props", "k INT", "st")
        .select(col("event_id"), col("st.k").as("k"))
        .orderBy("event_id")
    }),

    // ---------------- §2.3 ConvertToJson — render struct to JSON string
    "to_json_render" -> ((s, dir) => {
      rd(s, dir, "orders")
        .select(col("o_orderkey"),
          to_json(struct(col("o_orderkey"), col("o_orderstatus"))).as("js"))
        .orderBy("o_orderkey")
    }),

    // ---------------- §2.5 extras: rollup (absent in reference, free in Spark)
    "rollup_extra" -> ((s, dir) => {
      rd(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"), col("sum_qty"))
        .orderBy("flag", "status")
    }),

    // ---------------- Z-order layout key (r9): Morton-interleave
    // (o_custkey, order epoch-day) ranks — the data-layout clustering key
    // behind multi-dimension file skipping at 100 TB (OPTIMIZE ZORDER BY
    // shape). Exact integer rank + shift/or fold, fully codegen'd; the
    // write path is Layout.clusterByZorder (range partition + local sort
    // on this key), whose range boundaries are sampled and therefore not
    // oracle-able — the KEY is the deterministic core.
    "zorder_key" -> ((s, dir) => {
      val o = rd(s, dir, "orders")
      // o_orderdate arrives as TIMESTAMP_NTZ; the NTZ→TIMESTAMP cast
      // re-reads the wall clock in the UTC-pinned session, so the epoch
      // day is exact and engine-agnostic
      val day = expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
      o.select(col("o_orderkey"),
        graft.operators.Layout.zorderKey(Seq(
          (col("o_custkey"), 0L, 200000L),
          (day, 9000L, 11600L)), bits = 20).as("zkey"))
        .orderBy("o_orderkey")
    }),

    // ---------------- Z-order with a STRING dimension (r9): domain ×
    // size clustering, the crawl-store layout — the string rank is a
    // lexicographic 5-bit-per-char prefix code, so same-domain rows land
    // adjacent and the interleave stays pure codegen'd integer work
    "zorder_domain_key" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      d.select(col("doc_id"),
        graft.operators.Layout.mortonKey(Seq(
          graft.operators.Layout.prefixRank(col("source"), bits = 20),
          graft.operators.Layout.zorderRank(col("n_chars"), 0L, 20000L,
            bits = 20)), bits = 20).as("zkey"))
        .orderBy("doc_id")
    }),

    // ---------------- window analytics: lag + delta per user
    "window_lead_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      rd(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .select(col("event_id"), col("user_id"),
          (unix_micros(col("ts")) - col("prev_us")).as("gap_us"))
        .orderBy("event_id")
    }),

    // ---------------- window analytics: running counts/sums per user
    "running_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rd(s, dir, "events")
        .select(col("event_id"),
          count(lit(1)).over(w).as("running_n"),
          sum(floor(col("value") * lit(1000000.0)).cast(LongType)).over(w).as("running_vmicros"))
        .orderBy("event_id")
    }),

    // ---------------- sessionization: 30-min-gap sessions per user
    "sessionization" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val e = rd(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1L).otherwise(0L))
        .withColumn("session_id",
          sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      e.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          floor((max(col("us")) - min(col("us"))) / 1000000L).as("span_sec"))
        .orderBy("user_id", "session_id")
    }),

    // ---------------- as-of carry-forward: last purchase time at each event
    "asof_carry_forward" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rd(s, dir, "events")
        .withColumn("last_purchase_us",
          max(when(col("event_type") === "purchase", unix_micros(col("ts")))).over(w))
        .select(col("event_id"), col("last_purchase_us"))
        .orderBy("event_id")
    }),

    // ---------------- binned interval join (r8): the range θ-join as an
    // equality join on time bins — Catalyst's native plan for the range
    // predicate is BroadcastNestedLoopJoin (quadratic compare work + a
    // broadcast cap on the interval side); binning shuffles both sides
    // once on the bin key instead
    "interval_join" -> ((s, dir) => {
      val ev = rd(s, dir, "events")
        .select(col("event_id"), unix_micros(col("ts")).as("tsu"))
      val iv = ev.filter(col("event_id") % 50 === 0)
        .select(col("event_id").as("interval_id"), col("tsu").as("start_us"),
          (col("tsu") + lit(3600000000L)).as("end_us"))
      Ops.intervalJoin(ev, "tsu", iv, "start_us", "end_us",
        binWidth = 600000000L)
        .select(col("interval_id"), col("event_id"), col("tsu"))
        .orderBy("interval_id", "event_id")
    }),

    // ---------------- the RangeBinJoinRule path (r8): the IDENTICAL range
    // θ-join written naively — the optimizer rule (gated on the conf)
    // rewrites it to the binned equality join; the oracle is the same SQL
    // as interval_join, so the rule's semantics-preservation is under the
    // hash gate. The conf must be ACTIVE when the caller's action runs:
    // every action (write/count) builds a fresh QueryExecution and re-runs
    // the optimizer, so a set-then-unset falls back to the nested loop
    // (measured: 2.5 s vs 0.45 s). The whole frame is therefore built on a
    // child session that carries the conf, and the caller's session never
    // sees it.
    "interval_join_rule" -> ((s, dir) => {
      val c = SparkEntry.childSession(s, "spark.graft.rangeJoin.binWidth" -> "600000000")
      val ev = rd(c, dir, "events")
        .select(col("event_id"), unix_micros(col("ts")).as("tsu"))
      val iv = ev.filter(col("event_id") % 50 === 0)
        .select(col("event_id").as("interval_id"), col("tsu").as("start_us"),
          (col("tsu") + lit(3600000000L)).as("end_us"))
      val df = ev.join(iv,
          col("tsu") >= col("start_us") && col("tsu") <= col("end_us"))
        .select(col("interval_id"), col("event_id"), col("tsu"))
        .orderBy("interval_id", "event_id")
      require(df.queryExecution.optimizedPlan.toString.contains("__graft_bin"),
        "RangeBinJoinRule did not fire")
      df
    }),

    // ---------------- §2.4 ContainsAllFilterProcessor — array-of-structs coverage
    "contains_all_filter" -> ((s, dir) => {
      val perUser = rd(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(array_distinct(collect_list(struct(col("event_type").as("et")))).as("recs"))
      Ops.containsAllFilter(perUser, "recs", "et", array(lit("click"), lit("purchase")))
        .select("user_id")
        .orderBy("user_id")
    }),

    // ---------------- §2.4 IfThenElseProcessor — predicate-routed values
    "if_then_else" -> ((s, dir) => {
      val o = rd(s, dir, "orders")
      Ops.ifThenElse(
        Ops.ifThenElse(o, "${o_totalprice} > 200000", lit("big"), lit("rest"), "size1"),
        "${o_totalprice} > 100000 && ${o_totalprice} <= 200000",
        lit("mid"), col("size1"), "bucket")
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),

    // ---------------- §2.2 CSVStringProcessor — render row as CSV string field
    "csv_render" -> ((s, dir) => {
      rd(s, dir, "orders").select(col("o_orderkey"),
        concat_ws(",", col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
          .as("csv"))
        .orderBy("o_orderkey")
    }),

    // ---------------- §2.8 TimeBufferProcessor — native tumbling window fn
    "time_window" -> ((s, dir) => {
      val e = rd(s, dir, "events")
      Ops.timeBuffer(e, "ts", "30 minutes")
        .groupBy(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy("w_start")
    }),

    // ---------------- §2.11 time-series: rolling statistics (ARIMA-adjacent)
    "rolling_stats" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-9, Window.currentRow)
      val vm = floor(col("value") * lit(1000000.0)).cast(LongType)
      rd(s, dir, "events")
        .select(col("event_id"),
          count(lit(1)).over(w).as("roll_n"),
          sum(vm).over(w).as("roll_vmicros"),
          min(col("value")).over(w).as("roll_min"),
          max(col("value")).over(w).as("roll_max"))
        .orderBy("event_id")
    }),

    // ---------------- §2.11 change-point detection: deviation vs prior window
    "changepoint" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-10, -1)
      val vm = floor(col("value") * lit(1000000.0)).cast(LongType)
      rd(s, dir, "events")
        .withColumn("prior_mean",
          sum(vm).over(w).cast(DoubleType) / count(vm).over(w).cast(DoubleType))
        .filter(abs(vm.cast(DoubleType) - col("prior_mean")) > 25000000.0)
        .select("event_id", "user_id")
        .orderBy("event_id")
    }),

    // ---------------- §2.11 ARIMA(2,0,0): per-user AR(2) fit via exact
    // integer normal equations + Cramer's rule in doubles (identical IEEE op
    // order on both engines — see ml/TimeSeries.arFit for the general-p form)
    "ar2_fit" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val e = rd(s, dir, "events")
        .withColumn("vm", floor(col("value") * lit(1000.0)).cast(LongType))
        .withColumn("l1", lag(col("vm"), 1).over(w))
        .withColumn("l2", lag(col("vm"), 2).over(w))
        .filter(col("l2").isNotNull)
      val g = e.groupBy(col("user_id")).agg(
        count(lit(1)).as("n"),
        sum(col("l1")).as("s1"), sum(col("l2")).as("s2"), sum(col("vm")).as("sy"),
        sum(col("l1") * col("l1")).as("s11"), sum(col("l2") * col("l2")).as("s22"),
        sum(col("l1") * col("l2")).as("s12"),
        sum(col("vm") * col("l1")).as("sy1"), sum(col("vm") * col("l2")).as("sy2"))
      def D(c: String) = col(c).cast(DoubleType)
      val det = D("n") * (D("s11") * D("s22") - D("s12") * D("s12")) -
        D("s1") * (D("s1") * D("s22") - D("s12") * D("s2")) +
        D("s2") * (D("s1") * D("s12") - D("s11") * D("s2"))
      val detC = D("sy") * (D("s11") * D("s22") - D("s12") * D("s12")) -
        D("s1") * (D("sy1") * D("s22") - D("s12") * D("sy2")) +
        D("s2") * (D("sy1") * D("s12") - D("s11") * D("sy2"))
      val detP1 = D("n") * (D("sy1") * D("s22") - D("s12") * D("sy2")) -
        D("sy") * (D("s1") * D("s22") - D("s12") * D("s2")) +
        D("s2") * (D("s1") * D("sy2") - D("sy1") * D("s2"))
      val detP2 = D("n") * (D("s11") * D("sy2") - D("sy1") * D("s12")) -
        D("s1") * (D("s1") * D("sy2") - D("sy1") * D("s2")) +
        D("sy") * (D("s1") * D("s12") - D("s11") * D("s2"))
      g.filter(col("n") >= 10 && det =!= 0.0)
        .select(col("user_id"), col("n"),
          (detC / det).as("c0"), (detP1 / det).as("phi1"), (detP2 / det).as("phi2"))
        .orderBy("user_id")
    }),

    // ---------------- §2.3 JSONMergerProcessor — recursive deep merge
    // (ref utils.scala:524 mergeJson: b wins, object-object recurses; null b
    // leaf = absent key, so a's value survives). Oracle uses DuckDB's
    // json_merge_patch as an independent merge implementation.
    "json_merge" -> ((s, dir) => {
      val o = rd(s, dir, "orders")
      val withAB = o.select(col("o_orderkey"),
        struct(col("o_orderkey").as("k"),
          struct(col("o_orderstatus").as("status"), col("o_orderpriority").as("prio")).as("meta"),
          concat(lit("c_"), col("o_custkey")).as("clerk")).as("a"),
        struct(when(col("o_orderkey") % 2 === 0, lit("EVEN")).as("clerk"),
          struct(col("o_custkey").as("ship")).as("meta"),
          lit("tag").as("src")).as("b"))
      Ops.jsonMerge(withAB, "a", "b", "m")
        .select(col("o_orderkey"), to_json(col("m")).as("merged"))
        .orderBy("o_orderkey")
    }),

    // ---------------- §2.6 RecursiveLookupProcessor — iterative closure
    "recursive_lookup" -> ((s, dir) => {
      val c = rd(s, dir, "customer"); val n = rd(s, dir, "nation")
      val edges =
        c.select(concat(lit("c"), col("c_custkey")).as("src"),
          concat(lit("n"), col("c_nationkey")).as("dst"))
          .union(n.select(concat(lit("n"), col("n_nationkey")).as("src"),
            concat(lit("r"), col("n_regionkey")).as("dst")))
      val seeds = c.filter(col("c_custkey") <= 50)
        .select(concat(lit("c"), col("c_custkey")).as("id"))
      Ops.recursiveLookup(edges, seeds, "src", "dst").orderBy("id")
    }),

    // ---------------- §2.1 TimeGenerator — timestamp sequence source
    // (timestamps rendered as strings: driver canonicalization rule)
    "time_range" -> ((s, dir) => {
      graft.sources.Sources.timeRange(s,
          "2024-01-01 00:00:00", "2024-01-03 00:00:00", "37 minutes")
        .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"))
        .orderBy("ts")
    }),

    // ---------------- §2.6 SimpleMerger — positional zip of two branches
    // (Ops.zipMerge, the Parallel(Config)Processor merge path). Branches
    // are pre-sorted so the layout index is the sort order; the shared
    // `name` column shows the later branch overwriting while its rows
    // last, then falling back to the longer branch's values.
    "zip_merge" -> ((s, dir) => {
      val a = rd(s, dir, "customer")
        .select(col("c_custkey"), col("c_name").as("name"))
        .orderBy("c_custkey")
      val b = rd(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name").as("name"))
        .orderBy("n_nationkey")
      Ops.zipMerge(Seq(a, b), pad = false).orderBy("c_custkey")
    }),

    // ---------------- §2.6 PaddingMerger — modulo-cycled positional zip:
    // the short branch repeats over the long one, so the later branch's
    // shared column wins at EVERY index
    "zip_merge_pad" -> ((s, dir) => {
      val a = rd(s, dir, "customer")
        .select(col("c_custkey"), col("c_name").as("name"))
        .orderBy("c_custkey")
      val b = rd(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name").as("name"))
        .orderBy("n_nationkey")
      Ops.zipMerge(Seq(a, b), pad = true).orderBy("c_custkey")
    }))

  val oracleSql: Seq[(String, String)] = Seq(
    "flattener" ->
      """SELECT o_orderkey, o_orderstatus AS meta_status, o_totalprice AS meta_inner_price
         FROM orders ORDER BY o_orderkey""",
    "map_flattener" ->
      "SELECT r_regionkey, r_name, r_name AS name_inner FROM region ORDER BY r_regionkey",
    "list_map_flattener" ->
      """SELECT l_orderkey,
         array_to_string(list(CAST(l_quantity AS BIGINT) ORDER BY l_linenumber, l_quantity), ',') AS quantities
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "datum_to_field" ->
      """SELECT to_json({'r_regionkey': r_regionkey, 'r_name': r_name})::VARCHAR AS datum
         FROM region ORDER BY 1""",
    "imploder" ->
      """SELECT p_partkey,
         array_to_string(list_concat(string_split(p_name, ' '), string_split(p_type, ' ')), '|') AS merged
         FROM part ORDER BY p_partkey""",
    "convert_to_date" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS ds,
         strftime(strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d'), '%Y-%m-%d %H:%M:%S') AS parsed_str
         FROM orders ORDER BY o_orderkey""",
    "reverse_processor" ->
      "SELECT event_id, event_type FROM events ORDER BY event_id DESC LIMIT 50",
    "min_row" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         ORDER BY c_acctbal ASC, c_custkey LIMIT 1""",
    "json_parse_struct" ->
      """SELECT event_id, CAST(regexp_extract(props, '"k": *([0-9]+)', 1) AS INTEGER) AS k
         FROM events ORDER BY event_id""",
    "to_json_render" ->
      """SELECT o_orderkey,
         to_json(struct_pack(o_orderkey := o_orderkey, o_orderstatus := o_orderstatus))::VARCHAR AS js
         FROM orders ORDER BY o_orderkey""",
    "rollup_extra" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag, coalesce(l_linestatus, 'ALL') AS status,
         count(*) AS n, sum(l_quantity) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY 1, 2""",
    "zorder_key" ->
      // identical integer math: clamp, scale to 20-bit rank, interleave —
      // dimension i owns absolute bit positions 2b+i
      """WITH r AS (SELECT o_orderkey,
           ((least(200000, greatest(0, o_custkey)) - 0) * 1048575) // 200000 AS r1,
           ((least(11600, greatest(9000, CAST(epoch_ms(o_orderdate) // 1000 AS BIGINT) // 86400)) - 9000) * 1048575) // 2600 AS r2
         FROM orders)
         SELECT o_orderkey,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(0, 20), b ->
               (((r1 >> b) & 1) << (2 * b)) | (((r2 >> b) & 1) << (2 * b + 1)))),
             (a, t) -> a | t) AS zkey
         FROM r ORDER BY o_orderkey""",
    "zorder_domain_key" -> {
      def code(i: Int) =
        s"""(CASE WHEN ascii(substr(lower(source), $i, 1)) = 0 THEN 0
                  WHEN ascii(substr(lower(source), $i, 1)) BETWEEN 97 AND 122
                    THEN ascii(substr(lower(source), $i, 1)) - 96
                  ELSE 27 END)"""
      val r1 = (1 to 4).map(i => s"${code(i)} * ${1L << ((4 - i) * 5)}")
        .mkString(" + ")
      s"""WITH r AS (SELECT doc_id,
           CAST($r1 AS BIGINT) AS r1,
           ((least(20000, greatest(0, n_chars)) - 0) * 1048575) // 20000 AS r2
         FROM documents)
         SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(0, 20), b ->
               (((r1 >> b) & 1) << (2 * b)) | (((r2 >> b) & 1) << (2 * b + 1)))),
             (a, t) -> a | t) AS zkey
         FROM r ORDER BY doc_id"""
    },
    "window_lead_lag" ->
      """SELECT event_id, user_id,
         epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
         FROM events ORDER BY event_id""",
    "running_window" ->
      """SELECT event_id,
         count(*) OVER w AS running_n,
         CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) OVER w AS BIGINT) AS running_vmicros
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "sessionization" ->
      """WITH g AS (
           SELECT user_id, epoch_us(ts) AS us,
             lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us,
             event_id
           FROM events),
         f AS (
           SELECT user_id, us, event_id,
             CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
           FROM g),
         s AS (
           SELECT user_id, us,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM f)
         SELECT user_id, session_id, count(*) AS n_events,
           CAST(floor((max(us) - min(us)) / 1000000.0) AS BIGINT) AS span_sec
         FROM s GROUP BY 1, 2 ORDER BY 1, 2""",
    "asof_carry_forward" ->
      """SELECT event_id,
         max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_us
         FROM events ORDER BY event_id""",
    "interval_join_rule" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS tsu FROM events),
         iv AS (SELECT event_id AS interval_id, tsu AS start_us,
                  tsu + 3600000000 AS end_us
                FROM ev WHERE event_id % 50 = 0)
         SELECT iv.interval_id, ev.event_id, ev.tsu
         FROM ev JOIN iv ON ev.tsu >= iv.start_us AND ev.tsu <= iv.end_us
         ORDER BY iv.interval_id, ev.event_id""",
    "interval_join" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS tsu FROM events),
         iv AS (SELECT event_id AS interval_id, tsu AS start_us,
                  tsu + 3600000000 AS end_us
                FROM ev WHERE event_id % 50 = 0)
         SELECT iv.interval_id, ev.event_id, ev.tsu
         FROM ev JOIN iv ON ev.tsu >= iv.start_us AND ev.tsu <= iv.end_us
         ORDER BY iv.interval_id, ev.event_id""",
    "contains_all_filter" ->
      """SELECT user_id FROM events GROUP BY 1
         HAVING list_has_all(list(DISTINCT event_type), ['click', 'purchase'])
         ORDER BY 1""",
    "if_then_else" ->
      """SELECT CASE WHEN o_totalprice > 200000 THEN 'big'
                     WHEN o_totalprice > 100000 AND o_totalprice <= 200000 THEN 'mid'
                     ELSE 'rest' END AS bucket, count(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1""",
    "csv_render" ->
      """SELECT o_orderkey, o_orderkey || ',' || o_orderstatus || ',' || o_orderpriority AS csv
         FROM orders ORDER BY o_orderkey""",
    "time_window" ->
      """SELECT strftime(time_bucket(INTERVAL 30 MINUTE, ts), '%Y-%m-%d %H:%M:%S') AS w_start,
         count(*) AS n, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1 ORDER BY 1""",
    "rolling_stats" ->
      """SELECT event_id,
         count(*) OVER w AS roll_n,
         CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) OVER w AS BIGINT) AS roll_vmicros,
         min(value) OVER w AS roll_min,
         max(value) OVER w AS roll_max
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "changepoint" ->
      """WITH p AS (
           SELECT event_id, user_id,
             CAST(floor(value * 1000000.0) AS BIGINT) AS vm,
             CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) OVER w AS DOUBLE)
               / CAST(count(CAST(floor(value * 1000000.0) AS BIGINT)) OVER w AS DOUBLE) AS prior_mean
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
         SELECT event_id, user_id FROM p
         WHERE abs(CAST(vm AS DOUBLE) - prior_mean) > 25000000.0
         ORDER BY event_id""",
    "ar2_fit" ->
      """WITH l AS (
           SELECT user_id,
             CAST(floor(value * 1000.0) AS BIGINT) AS vm,
             lag(CAST(floor(value * 1000.0) AS BIGINT), 1) OVER w AS l1,
             lag(CAST(floor(value * 1000.0) AS BIGINT), 2) OVER w AS l2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         g AS (
           SELECT user_id, count(*) AS n,
             CAST(SUM(l1) AS BIGINT) AS s1, CAST(SUM(l2) AS BIGINT) AS s2,
             CAST(SUM(vm) AS BIGINT) AS sy,
             CAST(SUM(l1*l1) AS BIGINT) AS s11, CAST(SUM(l2*l2) AS BIGINT) AS s22,
             CAST(SUM(l1*l2) AS BIGINT) AS s12,
             CAST(SUM(vm*l1) AS BIGINT) AS sy1, CAST(SUM(vm*l2) AS BIGINT) AS sy2
           FROM l WHERE l2 IS NOT NULL GROUP BY 1),
         d AS (
           SELECT user_id, n,
             CAST(n AS DOUBLE) AS a, CAST(s1 AS DOUBLE) AS b, CAST(s2 AS DOUBLE) AS c,
             CAST(sy AS DOUBLE) AS y0, CAST(s11 AS DOUBLE) AS p11, CAST(s22 AS DOUBLE) AS p22,
             CAST(s12 AS DOUBLE) AS p12, CAST(sy1 AS DOUBLE) AS y1, CAST(sy2 AS DOUBLE) AS y2
           FROM g),
         k AS (
           SELECT user_id, n,
             a * (p11 * p22 - p12 * p12) - b * (b * p22 - p12 * c) + c * (b * p12 - p11 * c) AS det,
             y0 * (p11 * p22 - p12 * p12) - b * (y1 * p22 - p12 * y2) + c * (y1 * p12 - p11 * y2) AS detc,
             a * (y1 * p22 - p12 * y2) - y0 * (b * p22 - p12 * c) + c * (b * y2 - y1 * c) AS detp1,
             a * (p11 * y2 - y1 * p12) - b * (b * y2 - y1 * c) + y0 * (b * p12 - p11 * c) AS detp2
           FROM d)
         SELECT user_id, n, detc / det AS c0, detp1 / det AS phi1, detp2 / det AS phi2
         FROM k WHERE n >= 10 AND det <> 0.0 ORDER BY user_id""",
    "json_merge" ->
      """WITH j AS (
           SELECT o_orderkey,
             to_json({'k': o_orderkey,
                      'meta': {'status': o_orderstatus, 'prio': o_orderpriority},
                      'clerk': 'c_' || o_custkey}) AS a,
             CASE WHEN o_orderkey % 2 = 0
               THEN to_json({'clerk': 'EVEN', 'meta': {'ship': o_custkey}, 'src': 'tag'})
               ELSE to_json({'meta': {'ship': o_custkey}, 'src': 'tag'}) END AS b
           FROM orders),
         m AS (SELECT o_orderkey, json_merge_patch(a, b) AS mm FROM j)
         SELECT o_orderkey,
           to_json({'k': (mm->>'k')::BIGINT,
                    'meta': {'status': mm->'meta'->>'status', 'prio': mm->'meta'->>'prio',
                             'ship': (mm->'meta'->>'ship')::BIGINT},
                    'clerk': mm->>'clerk', 'src': mm->>'src'})::VARCHAR AS merged
         FROM m ORDER BY o_orderkey""",
    "recursive_lookup" ->
      """WITH RECURSIVE edges AS (
           SELECT 'c' || c_custkey AS src, 'n' || c_nationkey AS dst FROM customer
           UNION ALL
           SELECT 'n' || n_nationkey, 'r' || n_regionkey FROM nation),
         r AS (
           SELECT 'c' || c_custkey AS id FROM customer WHERE c_custkey <= 50
           UNION
           SELECT e.dst FROM r JOIN edges e ON e.src = r.id)
         SELECT id FROM r ORDER BY id""",
    "time_range" ->
      """SELECT strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts
         FROM (SELECT unnest(generate_series(
           TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-03 00:00:00',
           INTERVAL '37 minutes')) AS ts)
         ORDER BY ts""",
    "zip_merge" ->
      // positional zipAll: row i pairs branch rows by their sort order;
      // customer is strictly longer than nation at every SF, so a LEFT
      // join models the full outer zip, and the later branch's `name`
      // wins exactly while its rows exist
      """WITH a AS (SELECT row_number() OVER (ORDER BY c_custkey) - 1 AS i,
                    c_custkey, c_name AS name FROM customer),
         b AS (SELECT row_number() OVER (ORDER BY n_nationkey) - 1 AS i,
               n_nationkey, n_name AS name FROM nation)
         SELECT a.c_custkey, coalesce(b.name, a.name) AS name, b.n_nationkey
         FROM a LEFT JOIN b ON a.i = b.i
         ORDER BY a.c_custkey""",
    "zip_merge_pad" ->
      // the short branch cycles modulo its own length, so every index
      // pairs and the later branch's shared `name` always wins
      """WITH a AS (SELECT row_number() OVER (ORDER BY c_custkey) - 1 AS i,
                    c_custkey, c_name AS name FROM customer),
         b AS (SELECT row_number() OVER (ORDER BY n_nationkey) - 1 AS i,
               n_nationkey, n_name AS name FROM nation),
         n AS (SELECT count(*) AS cnt FROM b)
         SELECT a.c_custkey, b.name AS name, b.n_nationkey
         FROM a, n
         JOIN b ON b.i = a.i % n.cnt
         ORDER BY a.c_custkey""")
}
