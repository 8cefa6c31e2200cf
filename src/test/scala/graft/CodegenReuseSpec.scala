package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Generated code is compiled once per JVM, not once per session: every
  * session and every streaming query (which runs on a clone of its
  * session) shares one executor class loader, so the codegen cache — keyed
  * by class loader and source — serves them all (GraftSession). */
class CodegenReuseSpec extends SparkSpec {

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Janino compiles made while `f` runs. */
  private def compilesIn(f: => Unit): Long = {
    val before = compiles()
    f
    compiles() - before
  }

  private def query(s: SparkSession): DataFrame =
    s.range(0, 5000, 1, 2)
      .select((col("id") % 13).as("k"), (col("id") * 7 + 3).as("v"))
      .filter(col("v") % 5 =!= 0)
      .groupBy("k").agg(sum("v").as("s"), max("v").as("m"))

  test("a query in a new session reuses the code another session compiled") {
    val first = compilesIn(query(spark.newSession()).collect())
    assert(first > 0, "the query must generate code for this check to mean anything")
    assert(compilesIn(query(spark.newSession()).collect()) === 0L)
  }

  test("restarting a streaming query reuses the code its first run compiled") {
    val src = TempDirs.create("graft_codegen_src_")
    spark.range(0, 2000, 1, 2).select(col("id"), (col("id") * 3).as("v"))
      .write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .select(col("id"), (col("v") * 2 + 1).as("w"))
        .filter(col("w") % 3 =!= 0)
        .writeStream.format("noop")
        .option("checkpointLocation", TempDirs.create("graft_codegen_chk_"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    assert(compilesIn(run()) > 0)
    assert(compilesIn(run()) === 0L)
  }
}
