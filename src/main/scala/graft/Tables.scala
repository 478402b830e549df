package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Loaders for the driver fixture tables (TESTDATA.md / FIXTURES.md §A).
  *
  * All engine I/O is columnar Parquet (SURVEY.md §2.1 S9); Catalyst pushes
  * filters and prunes columns into these scans, so operators downstream
  * should never `select *` more than they need.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")
  /** `events.ts` has shipped in three parquet encodings across driver
    * fixture generations; normalize all of them to a session-TZ
    * `TimestampType` column here so no downstream query has to care:
    *
    *  - TIMESTAMP(NANOS): with `spark.sql.legacy.parquet.nanosAsLong` it
    *    arrives as long nanos. The fixture data is µs-aligned, so
    *    integer-divide to micros (NOT a double divide — 1.7e18 ns exceeds
    *    double's 53-bit mantissa) and convert via `timestamp_micros`.
    *  - timestamp[us] with no timezone: Spark 4 reads `TIMESTAMP_NTZ`;
    *    cast to `timestamp` (session TZ is pinned UTC in GraftSession, so
    *    the cast is deterministic and matches the DuckDB oracle).
    *  - plain TIMESTAMP: pass through.
    */
  def events: DataFrame = Tables.normalizeTs(table("events"))
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {
  /** `raw` events with `ts` as a session-TZ `TimestampType`, whichever of
    * the three encodings it was read in (see [[Tables.events]]). */
  private[graft] def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw
    }
}
