package graft

import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lower, udf, upper}
import org.apache.spark.sql.streaming.Trigger

/** The engine maps case with the JVM's Unicode tables, not ICU
  * (GraftSession): every session it builds carries the setting, Spark's
  * `lower`/`upper` then equal `String`'s over every Unicode scalar value,
  * and the case-mapping queries give the rows they give with ICU. Where the
  * JVM and ICU differ, DuckDB (the oracle) settles it: tools/case_sweep.py,
  * BASELINE.md "Case mapping on the JVM". */
class CaseMappingSpec extends SparkSpec {

  private val Icu = "spark.sql.icu.caseMappings.enabled"

  test("engine sessions, new sessions and streaming batch sessions map case without ICU") {
    assert(spark.conf.get(Icu) === "false")
    assert(spark.newSession().conf.get(Icu) === "false")
    val src = TempDirs.create("graft_case_src_")
    spark.range(0, 10).write.mode("overwrite").parquet(src)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.readStream.schema(spark.range(0).schema).parquet(src)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) => seen.add(b.sparkSession.conf.get(Icu)); () }
      .option("checkpointLocation", TempDirs.create("graft_case_chk_"))
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    assert(seen.asScala.toSeq.nonEmpty && seen.asScala.forall(_ == "false"), seen)
  }

  test("a JVM whose default locale changes case mapping is refused") {
    val prev = Locale.getDefault
    try {
      Locale.setDefault(Locale.forLanguageTag("tr"))
      val e = intercept[IllegalStateException](GraftSession.builder("local[1]"))
      assert(e.getMessage.contains("tr") && e.getMessage.contains("-Duser.language"),
        e.getMessage)
      for (ok <- Seq(Locale.US, Locale.ROOT)) {
        Locale.setDefault(ok)
        GraftSession.builder("local[1]")
      }
    } finally Locale.setDefault(prev)
  }

  /** Every Unicode scalar value (surrogates excluded) whose Spark
    * `lower` or `upper` differs from `String`'s root-locale mapping, as
    * (code point, Spark lower, String lower, Spark upper, String upper),
    * and the number of code points swept. */
  private def sweep(): (Seq[(Long, String, String, String, String)], Long) = {
    val str = udf((cp: Long) => new String(Character.toChars(cp.toInt)))
    val jvmLower = udf((s: String) => s.toLowerCase(Locale.ROOT))
    val jvmUpper = udf((s: String) => s.toUpperCase(Locale.ROOT))
    val cps = spark.range(0, Character.MAX_CODE_POINT + 1L)
      .filter(col("id") < Character.MIN_SURROGATE.toLong || col("id") > Character.MAX_SURROGATE.toLong)
      .select(col("id").as("cp"), str(col("id")).as("s"))
    val mapped = cps.select(col("cp"),
      lower(col("s")).as("lo"), jvmLower(col("s")).as("jlo"),
      upper(col("s")).as("up"), jvmUpper(col("s")).as("jup"))
    val bad = mapped.filter(col("lo") =!= col("jlo") || col("up") =!= col("jup"))
      .orderBy("cp").limit(10).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
    (bad.toSeq, cps.count())
  }

  test("lower/upper equal String's root-locale mapping on every Unicode scalar value") {
    val (bad, n) = sweep()
    assert(n === 1112064L)
    assert(bad.isEmpty, bad)
  }

  test("lower/upper equal String's mapping on the interpreted path too") {
    Confs.withConfs(spark, "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val (bad, n) = sweep()
      assert(n === 1112064L)
      assert(bad.isEmpty, bad)
    }
  }

  test("q22 and q29 give the same rows as a session with ICU case mapping on") {
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    for (name <- Seq("q22_exact_dedup", "q29_stream_dedup_attribution")) {
      val off = rows(SparkEntry.queries(name)(spark, sf))
      val icu = spark.newSession()
      icu.conf.set(Icu, "true")
      val on = rows(SparkEntry.queries(name)(icu, sf))
      assert(off.nonEmpty, name)
      assert(on === off, name)
    }
  }
}
