package graft

import org.apache.spark.sql.execution.FilterExec

/** The whole-suite form of the winnowing-blowup gate (SCALE.md r14): every
  * query's physical plan is swept for a FilterExec whose condition contains
  * a higher-order function over an expensive leaf — the signature of
  * `InferFiltersFromGenerate` + pushdown re-inlining a whole computed-array
  * pipeline into a per-row (or per-element) filter, which multiplied
  * winnowing's cost ~50× before the r14 fix. The pathology class is real
  * and silent, so the sweep runs in CI.
  *
  * The sweep reads `queryExecution.sparkPlan` — the optimized physical plan
  * BEFORE AQE/execution — because the re-inlining is an optimizer-time
  * artifact (AQE only re-plans exchanges, never rewrites filter
  * expressions), and skipping execution keeps the 230-query sweep to
  * planning cost. Streaming replay queries still execute at
  * build time by construction (their builder runs the MemoryStream replay);
  * that is the bulk of this suite's wall time. */
class PlanSweepSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("no query's physical plan re-inlines an expensive HOF chain into a Filter") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    // expensive leaves (per-call cost that must not multiply) × HOF markers
    // (the multiplier): a filter condition containing both re-evaluates a
    // whole computed array per row or per element
    val leaves = Seq("md5", "conv(", "regexp_extract", "regexp_replace",
      "regexp_like", "from_json", "to_json")
    val hofs = Seq("transform(", "element_at(", "aggregate(", "zip_with(",
      "array_sort(", "exists(")
    val flagged = scala.collection.mutable.ListBuffer.empty[String]
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    def tempViews = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val confBefore = spark.conf.getAll
    val viewsBefore = tempViews
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val conds = fn(spark, sfDir).queryExecution.sparkPlan.collect {
          case f: FilterExec => f.condition.toString
        }
        val bad = conds.filter(c => leaves.exists(c.contains) && hofs.exists(c.contains))
        if (bad.nonEmpty) flagged += s"$name: ${bad.head.take(160)}"
      } catch {
        case e: Throwable =>
          errors += s"$name: ${Option(e.getMessage).getOrElse(e.toString).take(120)}"
      }
    }
    assert(errors.isEmpty, s"queries failed to plan at sf0.001:\n${errors.mkString("\n")}")
    assert(flagged.isEmpty,
      s"filter re-evaluates an expensive HOF chain in:\n${flagged.mkString("\n")}")
    // no query may change the session it is given: its SQL conf and its
    // temp views (a streaming replay's memory sink registers one) must be
    // exactly as they were before the sweep
    val confAfter = spark.conf.getAll
    val changed = (confBefore.keySet ++ confAfter.keySet)
      .filter(k => confBefore.get(k) != confAfter.get(k))
    val leaked = tempViews -- viewsBefore
    assert(changed.isEmpty && leaked.isEmpty,
      s"the sweep changed session conf: " + changed.toSeq.sorted
        .map(k => s"$k ${confBefore.get(k)} -> ${confAfter.get(k)}").mkString(", ") +
      s"; and left ${leaked.size} temp views: ${leaked.mkString(", ")}")
    // materialization goes through Ops.materialize, which registers no
    // CacheManager entry, so none may outlive the queries (a leaked entry
    // would let a later bench rep read an earlier rep's data)
    assert(spark.sharedState.cacheManager.isEmpty,
      "building the queries left a CacheManager entry")
  }
}
