package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** One benchmark run of one workload, driven by `run.py`.
  *
  * Reads a plan (JSON) naming the workload's tasks, then:
  *  1. starts a `local[4]` session with the `SparkEntry.tune` defaults;
  *  2. runs every task once (the warm-up pass), writing each result where
  *     `run.py` compares it with DuckDB once the JVM has exited;
  *  3. runs `settle_passes` untimed passes, then `passes` timed ones, each
  *     in a seeded order, one task at a time (a closed loop with one client);
  *  4. writes `result.json` (samples, hygiene, and in traced runs the raw
  *     listener records and spans).
  *
  * A task is a build (query function or `Flow.run`, which constructs the
  * DataFrames) followed by an action (a `noop` write, or the flow's real
  * sinks). Both run under one job group named after the task, so jobs a
  * build launches are attributed to it.
  *
  * With `trace` on, half of the passes are traced: listeners are attached
  * only for those, so the pass times of the two kinds give the tracing
  * overhead within the same run.
  */
object Harness {
  private val mapper = new ObjectMapper()

  final case class Task(name: String, build: () => Seq[(String, DataFrame)],
                        act: (Seq[(String, DataFrame)], Boolean) => Unit,
                        parse: Option[() => Unit] = None)

  final case class Sample(pass: Int, task: String, traced: Boolean, start: Double,
                          buildMs: Double, actionMs: Double, ok: Boolean, error: String,
                          codegenCompiles: Long, codegenMs: Double)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(Files.readString(Paths.get(args(0))))
    val out = plan.get("out_dir").asText
    val seed = plan.get("seed").asLong
    val passCount = plan.get("passes").asInt
    val trace = plan.get("trace").asBoolean

    val spark = graft.SparkEntry.tune(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val clock = new Clock
    val sessionReady = clock.nowMs
    val tasks = plan.get("tasks").elements().asScala.toSeq.map(makeTask(spark, plan, _))
    val oracleJson = mapper.createObjectNode()
    tasks.map(_.name).filter(oracles.contains).foreach(n => oracleJson.put(n, oracles(n)))
    Files.writeString(Paths.get(s"$out/oracle.json"), oracleJson.toString)
    val streamTimes = new StreamListener(clock)
    spark.streams.addListener(streamTimes)

    // ---- warm-up pass: every task once, results kept for the oracle check
    val warm = tasks.map(t => runTask(spark, t, 0, warm = true, traced = false, clock))
    hygieneAfterPass(spark)
    // untimed passes that take the JIT past its steepest warm-up
    for (_ <- 1 to plan.get("settle_passes").asInt) {
      tasks.foreach(t => runTask(spark, t, 0, warm = false, traced = false, clock))
      hygieneAfterPass(spark)
    }
    val warmJson = mapper.createObjectNode()
    warm.foreach(s => warmJson.set[JsonNode](s.task, sampleJson(s)))
    warmJson.put("_session_ready_ms", sessionReady).put("_warm_end_ms", clock.nowMs)
    Files.writeString(Paths.get(s"$out/warm.json"), warmJson.toString)

    // ---- timed passes
    val tracer = if (trace) Some(new Tracer(spark, clock)) else None
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val passes = scala.collection.mutable.ArrayBuffer.empty[ObjectNode]
    val t0 = clock.nowMs
    for (pass <- 1 to passCount) {
      // traced runs make twice the passes in the order U T T U U T T U ..., so
      // the warm-up trend across passes cancels out of the overhead estimate
      val traced = trace && (pass / 2) % 2 == 1
      if (traced) tracer.get.attach()
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(tasks)
      val p0 = clock.nowMs
      val got = order.map(t => runTask(spark, t, pass, warm = false, traced, clock))
      val p1 = clock.nowMs
      samples ++= got
      if (traced) tracer.get.detach()
      val h = hygieneAfterPass(spark)
      h.put("pass", pass).put("traced", traced).put("start_ms", p0).put("end_ms", p1)
      // traced passes time each flow-config parse on its own, after the pass
      // window, so the pass times stay comparable with the untraced ones
      if (traced) {
        val parseMs = h.putArray("parse_ms")
        tasks.flatMap(_.parse).foreach { parse =>
          val q0 = clock.nowMs
          parse()
          parseMs.add(clock.nowMs - q0)
        }
      }
      passes += h
    }
    val t1 = clock.nowMs
    spark.streams.removeListener(streamTimes)

    val res = mapper.createObjectNode()
    res.put("measure_start_ms", t0).put("measure_end_ms", t1)
    val sArr = res.putArray("samples")
    samples.foreach(s => sArr.add(sampleJson(s)))
    val pArr = res.putArray("passes")
    passes.foreach(pArr.add)
    res.set[JsonNode]("triggers", streamTimes.json)
    tracer.foreach(tr => res.set[JsonNode]("trace", tr.json))
    Files.writeString(Paths.get(s"$out/result.json"), res.toString)
    spark.stop()
  }

  // ------------------------------------------------------------------ tasks

  private lazy val oracles: Map[String, String] = graft.SparkEntry.oracleSql

  private def makeTask(spark: SparkSession, plan: JsonNode, t: JsonNode): Task = {
    val name = t.get("name").asText
    val out = plan.get("out_dir").asText
    t.get("kind").asText match {
      case "suite" =>
        val dir = plan.get("data_dir").asText
        val fn = if (name == FailingQuery) failingQuery
          else suite.getOrElse(name, throw new IllegalArgumentException(s"no query named $name"))
        // every result is checked against DuckDB, so a query must have an oracle
        if (name != FailingQuery && !oracles.contains(name))
          throw new IllegalArgumentException(s"query $name has no oracleSql")
        Task(name, () => Seq(name -> fn(spark, dir)), (dfs, warm) => {
          val df = dfs.head._2
          if (warm) df.write.mode("overwrite").parquet(s"$out/warm/$name")
          else df.write.format("noop").mode("overwrite").save()
        })
      case "flow" =>
        val json = t.get("flow").toString
        val vars = t.get("vars").properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
        val sinks = t.get("sinks").properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
        val resolved = graft.engine.Flow.interpolateVars(json, vars)
        Task(name, () => graft.engine.Flow.run(spark, resolved).toSeq.sortBy(_._1),
          // the warm-up output and the last pass's are both checked
          (dfs, warm) => dfs.foreach { case (terminal, df) =>
            val path = s"$out/flows/${if (warm) "warm" else "last"}/$name/$terminal"
            sinks(terminal) match {
              case "parquet" => graft.sources.Sinks.parquet(df, path)
              case "json" => graft.sources.Sinks.json(df, path)
            }
          },
          parse = Some(() => graft.engine.Flow.parse(resolved)))
    }
  }

  private lazy val suite: Map[String, (SparkSession, String) => DataFrame] =
    (graft.QueriesCore.queries ++ graft.QueriesExtra.queries ++ graft.QueriesLLM.queries).toMap

  /** A query that fails in its action, for the benchmark's own tests. */
  private val FailingQuery = "perfbench_failing_query"
  private val failingQuery: (SparkSession, String) => DataFrame = (s, dir) => {
    import org.apache.spark.sql.functions._
    s.read.parquet(s"$dir/region.parquet")
      .select(assert_true(col("r_regionkey") < 0, lit("perfbench deliberate failure")).as("x"))
  }

  private def runTask(spark: SparkSession, t: Task, pass: Int, warm: Boolean, traced: Boolean,
                      clock: Clock): Sample = {
    val sc = spark.sparkContext
    val cg0 = if (traced) codegenNow() else (0L, 0L)
    sc.setJobGroup(s"perfbench:${t.name}", s"pass $pass", interruptOnCancel = false)
    val start = clock.nowMs
    var buildEnd = Double.NaN
    var error = ""
    try {
      val dfs = t.build()
      buildEnd = clock.nowMs
      t.act(dfs, warm)
    } catch {
      case e: Throwable =>
        error = (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(400)
    } finally sc.clearJobGroup()
    val end = clock.nowMs
    if (buildEnd.isNaN) buildEnd = end
    val cg1 = if (traced) codegenNow() else (0L, 0L)
    Sample(pass, t.name, traced, start, buildEnd - start, end - buildEnd, error.isEmpty, error,
      cg1._1 - cg0._1, (cg1._2 - cg0._2) / 1e6)
  }

  /** Compilations so far and the compile time spent on them (ns), JVM-wide. */
  private def codegenNow(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  private def sampleJson(s: Sample): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("pass", s.pass).put("task", s.task).put("traced", s.traced).put("start_ms", s.start)
      .put("build_ms", s.buildMs).put("action_ms", s.actionMs).put("ok", s.ok).put("error", s.error)
      .put("codegen_compiles", s.codegenCompiles).put("codegen_ms", s.codegenMs)
  }

  /** Leftovers a pass leaves behind: temporary views (memory-sink tables)
    * and persisted RDDs (cache entries and local checkpoints), counted
    * before the cache is cleared; then the driver heap still live after a
    * full GC. */
  private def hygieneAfterPass(spark: SparkSession): ObjectNode = {
    val views = spark.catalog.listTables().collect().count(_.isTemporary)
    val persisted = spark.sparkContext.getPersistentRDDs
    // release what a pass cached before the heap is read, and give Spark's
    // cleaner (it polls every 100 ms) time to free the broadcasts and
    // shuffles the GC found unreachable, so the reading does not depend on
    // which task ran last
    spark.catalog.clearCache()
    persisted.values.foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(500)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    mapper.createObjectNode().put("temp_views", views).put("persisted_rdds", persisted.size)
      .put("heap_live_mb", heap / 1048576.0)
  }

  private[perfbench] def arr(xs: Iterable[ObjectNode]): ArrayNode = {
    val a = mapper.createArrayNode()
    xs.foreach(a.add)
    a
  }
  private[perfbench] def obj(): ObjectNode = mapper.createObjectNode()
}

/** Wall-clock milliseconds with sub-millisecond resolution, on the same
  * epoch as Spark's listener event times. */
final class Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6
}
