package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** Readers for the driver's synthetic testdata tables (TESTDATA.md).
  * One parquet per table; filters and column pruning push into the scan,
  * and the schema comes from one footer read on the driver
  * ([[graft.sources.Parquet]]), so building a frame runs no job. */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  /** `events.ts` has shipped under two physical encodings across driver
    * testdata generations: INT64 TIMESTAMP(NANOS) — which Spark's parquet
    * reader rejects (no nanosecond TimestampType), so the legacy flag
    * reads it as raw nanos and integer `div` converts to micros — and
    * plain TIMESTAMP(MICROS) with isAdjustedToUTC=false, which arrives as
    * TIMESTAMP_NTZ whose wall-clock fields are the UTC instant. Branch on
    * the observed type so both read to the same TimestampType instants
    * (every entrypoint pins spark.sql.session.timeZone=UTC, making the
    * NTZ cast unambiguous). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
