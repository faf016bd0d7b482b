package graft.sources

import org.apache.spark.sql.DataFrame

/**
 * Sink operators (SURVEY.md §2.2). File sinks are `df.write` with explicit
 * format/partitioning — the reference's per-datum streams and time-based file
 * rotation map to partitioned directory layouts (rotation = partitionBy on a
 * time-derived column, which also gives partition pruning on read-back).
 * TuktuDB buckets (ref: modules/tuktudb/.../DBDaemon.scala:36-214, a
 * replicated TrieMap) are the session catalog's temp views: write is
 * `createOrReplaceTempView`, read `spark.table`, delete `dropTempView`,
 * list `spark.catalog.listTables` — named per session, nothing JVM-global.
 */
object Sinks {

  /** FileStreamProcessor / CSVWriterProcessor (ref: FileProcessors.scala:25,
    * modules/csv/.../CsvProcessors.scala:116). */
  def csv(df: DataFrame, path: String, header: Boolean = true, sep: String = ",",
          partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.option("header", header).option("sep", sep).mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).csv(path)
  }

  def json(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).json(path)
  }

  def parquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** FileRotatingStreamProcessor (ref: FileProcessors.scala:64-149): rotation
    * = partitioning by a time bucket column. */
  def rotatingText(df: DataFrame, path: String, bucketCol: String): Unit =
    df.write.mode("overwrite").partitionBy(bucketCol).text(path)

  /** ConsoleWriterProcessor (ref: BaseProcessors.scala:641). */
  def console(df: DataFrame, n: Int = 20): Unit = df.show(n, truncate = false)

  /** SQLProcessor write mode (ref: modules/nosql/.../sql.scala:11). */
  def jdbc(df: DataFrame, url: String, table: String, mode: String = "append"): Unit =
    df.write.format("jdbc").option("url", url).option("dbtable", table).mode(mode).save()
}
