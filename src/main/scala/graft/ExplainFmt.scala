package graft

/** Dev tool: write `explain("formatted")` for named queries to files —
  * the committed plan evidence under plans/r15/. Under AQE the final plan
  * only exists after execution, so each query is executed (noop-equivalent
  * toRdd materialization) and the post-execution formatted plan is dumped.
  * Run: sbt "runMain graft.ExplainFmt <sfDir> <outDir> <suffix> <query...>" */
object ExplainFmt {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val suffix = args(2)
    val names = args.drop(3).toSeq
    val spark = SparkEntry.local(SparkEntry.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    // r16: no base-table cache — the bench dropped it (judge flag), and the
    // committed plan evidence should show the REAL parquet scans
    // (PushedFilters/ReadSchema) instead of InMemoryTableScan nodes.
    new java.io.File(outDir).mkdirs()
    val all = SparkEntry.queries
    for (n <- names; fn <- all.get(n)) {
      try {
        val df = fn(spark, sfDir)
        df.queryExecution.toRdd.foreach(_ => ())
        val fmt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), fmt)
        println(s"[explain] wrote $outDir/${n}_$suffix.txt")
      } catch { case e: Throwable => println(s"[explain] $n FAILED: ${SparkEntry.describe(e)}") }
    }
    spark.stop()
  }
}
