package graft

/** Smoke main mirroring the driver's t1 check: SparkEntry.entry rows > 0;
  * exits with status 1 when the entry returns no rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.local(SparkEntry.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry schema: ${df.schema.simpleString}")
    rows.foreach(r => println(s"[smoke] $r"))
    println(s"[smoke] rows=${rows.length} ${if (rows.nonEmpty) "OK" else "FAIL"}")
    spark.stop()
    if (rows.isEmpty) sys.exit(1)
  }
}
