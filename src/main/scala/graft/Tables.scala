package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical loaders for the driver-generated fixture tables
  * (`/root/testdata/sf*`; schemas in FIXTURES.md §B).
  *
  * Scale notes: these are plain columnar parquet scans — Catalyst pushes
  * filters/column pruning into the scan, so callers should NOT pre-select
  * or cache here. At 100 TB the same loaders work unchanged provided the
  * data lands partitioned (e.g. by date for `events`); nothing here
  * assumes single-file inputs.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one fixture table from `sfDir`. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, sfDir)
      case n        => spark.read.parquet(s"$sfDir/$n.parquet")
    }

  /** Schema-adaptive loader for `events.parquet`. The fixture has shipped
    * with two physical encodings for `ts` across driver regenerations:
    *
    *  - TIMESTAMP(NANOS): Spark 4.1.2 rejects it by default
    *    (PARQUET_TYPE_ILLEGAL), so we read ns-as-long and truncate to
    *    microseconds with exact integer arithmetic (`div`, not double `/`:
    *    epoch-ns ≈ 1.7e18 exceeds a double's 53-bit exact-integer range).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): loads as TIMESTAMP_NTZ;
    *    we cast to the session-TZ timestamp type so downstream time-series
    *    operators (windows, watermarks, interval joins) see one type. All
    *    driver/bench/test entry points pin the session TZ to UTC, so the
    *    cast is value-preserving against the DuckDB oracle's naive read.
    *
    * Branching on the loaded schema (not an assumed fixture property) means
    * the next regeneration can't silently break the events query set; both
    * branches are property-tested in TablesSpec.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _: org.apache.spark.sql.types.TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts stored as unsupported type $other — extend Tables.events")
    }
  }
}
