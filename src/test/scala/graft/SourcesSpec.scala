package graft

import graft.sources.Tables
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the source-layer timestamp normalization contract.
  *
  * The driver testdata has shipped `events.ts` in two parquet encodings
  * across rounds: TIMESTAMP(NANOS) (read as nanos-since-epoch LONG under
  * spark.sql.legacy.parquet.nanosAsLong=true) and TIMESTAMP(MICROS) with
  * isAdjustedToUTC=false (read as TIMESTAMP_NTZ). The round-8 regeneration
  * to the NTZ form silently broke every event-time consumer (watermarks,
  * unix_micros, epoch casts) until Tables.events learned the second
  * encoding — this spec makes the contract a tested invariant instead of a
  * per-round surprise: whatever the on-disk form, `Tables.events` yields an
  * instant-typed TIMESTAMP with the same UTC wall-clock reading.
  */
class SourcesSpec extends SparkSpec {

  private val wall = "2020-03-01 12:34:56.789"
  private val micros = 1583066096789000L // wall, UTC, micros since epoch

  private def stage(writer: String => Unit): String = {
    val dir = TempDirs.create("graft_sources_spec")
    writer(new java.io.File(dir, "events.parquet").getAbsolutePath)
    dir
  }

  test("events: long-nanos encoding normalizes to TIMESTAMP at the UTC wall time") {
    val dir = stage { path =>
      val schema = StructType(Seq(
        StructField("user_id", StringType), StructField("ts", LongType)))
      val rows = java.util.List.of(Row("u1", micros * 1000L))
      spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    }
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSS"))
      .head.getString(0) == wall)
    assert(df.select(unix_micros(col("ts"))).head.getLong(0) == micros)
  }

  test("events: TIMESTAMP_NTZ encoding normalizes to TIMESTAMP at the UTC wall time") {
    val dir = stage { path =>
      val schema = StructType(Seq(
        StructField("user_id", StringType), StructField("ts", TimestampNTZType)))
      val rows = java.util.List.of(Row("u1", java.time.LocalDateTime.parse("2020-03-01T12:34:56.789")))
      spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    }
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSS"))
      .head.getString(0) == wall)
    assert(df.select(unix_micros(col("ts"))).head.getLong(0) == micros)
  }

  test("events: instant-typed ts already — passthrough unchanged") {
    val dir = stage { path =>
      val schema = StructType(Seq(
        StructField("user_id", StringType), StructField("ts", TimestampType)))
      val rows = java.util.List.of(Row("u1", java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(micros / 1000000L, (micros % 1000000L) * 1000L))))
      spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    }
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(unix_micros(col("ts"))).head.getLong(0) == micros)
  }

  test("driver contract: SparkEntry.entry returns rows on the smoke SF") {
    // the driver's smoke check — entry() must keep working on any session
    // (it sets the nanos/UTC confs itself) and return rows > 0 at sf0.001;
    // pinned here so a registry reshuffle can't silently break the first
    // thing the driver runs each round
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get("/root/testdata/sf0.001")))
    assert(SparkEntry.entry(spark).limit(1).count() === 1L)
  }
}
