package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table readers for the driver fixtures.
  *
  * `events.parquet` has shipped with two physical `ts` encodings across
  * driver rounds, both normalized here to a plain UTC TimestampType:
  *  - TIMESTAMP(NANOS), which Spark's vectorized reader rejects; with
  *    `spark.sql.legacy.parquet.nanosAsLong=true` (set in SparkEntry.tune)
  *    it reads as a nanos LongType which we convert to a microsecond
  *    timestamp with integer arithmetic (`div` — a double division would
  *    lose precision: 2024 epoch-nanos ≈ 1.7e18 > 2^53);
  *  - timestamp[us] with isAdjustedToUTC=false (r7 data), which Spark 4
  *    infers as TIMESTAMP_NTZ; the session timezone is pinned to UTC, so
  *    the cast to TimestampType is value-preserving and agrees with the
  *    oracle's naive reading. */
object Tables {
  def read(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = graft.sources.Sources.load(s, "parquet", Map.empty, s"$dir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    } else df
  }
}
