package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver testdata tables (see /root/repo/TESTDATA.md).
  *
  * Design notes for 100 TB scale: every loader is a plain parquet scan so
  * Catalyst's `FileSourceScanExec` keeps predicate pushdown / column
  * pruning / partition pruning intact. At production scale these paths
  * would point at a `dt=`-partitioned lake (reference layout:
  * scrape.py:613-622) and the same code works unchanged — partition
  * pruning is handled by the optimizer, not by the loaders.
  *
  * Two tables TESTDATA.md does not list feed the LlmOps keys:
  *  - `documents` (doc_id BIGINT, text, lang, source STRING, n_chars
  *    BIGINT) and
  *  - `embeddings` (vec_id BIGINT, embedding ARRAY<FLOAT> of 64 dims,
  *    label INT).
  * They hold 500 and 500 rows at sf0.001 and sf0.01 (258 KB on disk
  * together), and 5000 and 2000 rows at sf0.1 (1.39 MB together).
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `events.ts` has shipped under three live parquet encodings, so the
    * loader adapts to whichever the file on disk actually carries and
    * normalizes all of them to session-timezone `TimestampType` at
    * microsecond precision (sessions run with `session.timeZone=UTC`, so
    * every branch yields identical epoch-micros values):
    *
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it outright
    *    ([PARQUET_TYPE_ILLEGAL]) unless the session sets
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (done in the
    *    Verify/Bench/test session builders — loaders stay
    *    side-effect-free), under which `ts` reads as a `LongType` of
    *    epoch nanos → truncate to micros. `ScaleGen` writes this shape
    *    as a plain BIGINT too, handled by the same branch.
    *  - TIMESTAMP(MICROS), isAdjustedToUTC=false (driver testdata as of
    *    2026-08-13): reads as `TimestampNTZType` → cast to
    *    `TimestampType` (identity on the stored micros under UTC).
    *  - TIMESTAMP(MICROS), isAdjustedToUTC=true: reads as
    *    `TimestampType` → pass through.
    *
    * All oracle SQL that orders or compares `ts` does
    * `CAST(ts AS TIMESTAMP)` on the DuckDB side so both engines see
    * identical microsecond values regardless of encoding.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType =>
        df
      case other =>
        throw new IllegalStateException(
          s"events.ts read as unsupported type $other — expected BIGINT nanos, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
}
