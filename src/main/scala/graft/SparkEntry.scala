package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §7.
  *
  * Queries are assembled from:
  *  - [[QueriesCore]]: the reference's operator inventory (SURVEY.md §2)
  *  - [[QueriesExtra]]: struct/JSON reshaping, window analytics,
  *    sessionization, rollup and the recursive lookup
  *  - [[QueriesLLM]]: training-data-pipeline extras (dedup, similarity,
  *    text analysis, multimodal)
  */
object SparkEntry {

  /** Session defaults applied by Verify/Bench/tests: reference semantics are
    * lenient (no ANSI errors), AQE re-plans shuffles at runtime. */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    // r15: the JVM-wide whole-stage-codegen class cache defaults to 100
    // entries (StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES). This suite runs
    // 239 distinct queries per pass — thousands of distinct codegen
    // fragments — so at the default size every fragment is evicted between
    // passes and EVERY execution re-pays Janino compilation (measured:
    // wall − stageWallSum ≈ 1-1.5 s of driver time per query while task
    // time is milliseconds; see OPTIMIZATION_r15.md). Any long-lived
    // production driver that serves a workload of many distinct queries
    // wants the same setting; 4096 compiled classes ≈ tens of MB of
    // metaspace, trivial against the driver heap.
    .config("spark.sql.codegen.cache.maxEntries", "4096")
  // NOTE (r7): r6 carried a harness-wide 256 KB maxPartitionBytes + 512 KB
  // AQE advisory here so the per-row-heavy text operators would fan out on
  // the single-file SF tables — but the global knob taxed every small query
  // with extra tasks/exchanges (like-for-like bench ~1.2-1.4× slower per
  // the r6 adjudication). The fan-out now lives where the dedup family
  // always put it: an explicit `repartition(n, key)` after the first
  // narrow stage of each scan-bound heavy query (see QueriesLLM), which
  // ALSO pins the wide stages' partitioning against AQE's small-input
  // coalescing and is the shape a cluster run wants — session configs stay
  // at Spark defaults.

  /** The one session the mains and the test suites run on: `tune` on a
    * `local[cpus]` master, `cpus` shuffle partitions, no web UI. */
  def local(cpus: Int): SparkSession = tune(SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  /** `SPARK_GRAFT_CPUS` (default 4): the core count the mains run on. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Why a query failed, in one line: the exception class and the first
    * line of its message (which may be null). */
  def describe(e: Throwable): String =
    e.getClass.getName + Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .map(": " + _).getOrElse("")

  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL or in an exception
    * message would otherwise make a reader's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A child session of `s` with `conf` set on it only: it shares the
    * SparkContext and the cache, starts from the SparkSession.Builder
    * options (so the `tune` defaults carry over), and has its own SQL conf
    * and temp views.
    * A query that needs a session setting builds on the child, so its
    * caller's session is never changed. */
  def childSession(s: SparkSession, conf: (String, String)*): SparkSession = {
    val c = s.newSession()
    conf.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * filter → groupBy-agg (AggregateByValue) → sort, the §7.3 slice. */
  def entry(spark: SparkSession): DataFrame = {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    engine.Ops.filter(li, "${l_quantity} > 5")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        avg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (QueriesCore.queries ++ QueriesExtra.queries ++ QueriesLLM.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    (QueriesCore.oracleSql ++ QueriesExtra.oracleSql ++ QueriesLLM.oracleSql).toMap
}
