package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Readers for the driver testdata star schema (TESTDATA.md / FIXTURES.md §B).
  *
  * Parquet scans are the engine's canonical bounded source: Catalyst pushes
  * predicates and prunes columns into the scan (verify with
  * `.explain("formatted")` → PushedFilters / ReadSchema), and file splitting
  * gives free partition-parallel reads at cluster scale. No driver-side
  * chunking (the reference's 100-row pandas chunks,
  * batch_pipeline/write_session_batch.py:133-134, are replaced by Spark's
  * input-split batching).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `dir/name.parquet` read with its footer schema ([[Footers.read]]):
    * building a frame runs no job, however often a query references the
    * table, and a table regenerated in place is re-read with its new
    * schema. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    Footers.read(spark, s"$dir/$name.parquet")

  /** events.ts arrives in one of two parquet encodings depending on the
    * testdata generation: TIMESTAMP(NANOS), which Spark reads (under
    * spark.sql.legacy.parquet.nanosAsLong=true) as nanos-since-epoch long —
    * truncate to micros, the same thing DuckDB's nanos→TIMESTAMP cast does;
    * or TIMESTAMP(MICROS) with isAdjustedToUTC=false, which Spark reads as
    * TIMESTAMP_NTZ — cast to session-local TIMESTAMP (session tz is pinned
    * UTC, so the instant is identical and DuckDB's naive reading agrees).
    * Downstream code (event-time watermarks, unix_micros, epoch casts)
    * requires the instant-typed TIMESTAMP either way.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
