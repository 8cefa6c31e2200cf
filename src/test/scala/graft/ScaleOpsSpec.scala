package graft

import graft.operators.Skew
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Scale-path operators: salted aggregation/join equivalence, and bucketed
  * tables giving shuffle-free co-located joins (SURVEY.md §0 scale stance). */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedCount equals plain groupBy count") {
    val events = Tables.events(spark, sf)
    val plain = events.groupBy($"event_type".as("key")).agg(count(lit(1)).as("cnt"))
      .as[(String, Long)].collect().toMap
    val salted = Skew.saltedCount(events, $"event_type", 8)
      .as[(String, Long)].collect().toMap
    assert(salted === plain)
  }

  test("saltedJoin equals plain join") {
    val li = Tables.lineitem(spark, sf)
    val part = Tables.part(spark, sf)
    val plain = li.join(part, li("l_partkey") === part("p_partkey"))
      .agg(count(lit(1)), sum($"l_extendedprice".cast("decimal(28,6)")))
      .collect()(0)
    val salted = Skew.saltedJoin(li, part, "l_partkey", "p_partkey", "l_orderkey", 4)
      .agg(count(lit(1)), sum($"l_extendedprice".cast("decimal(28,6)")))
      .collect()(0)
    assert(salted === plain)
  }

  test("date-partitioned layout prunes partitions at the scan") {
    val dir = TempDirs.create("graft_part_")
    Tables.events(spark, sf)
      .withColumn("event_date", to_date($"ts"))
      .write.partitionBy("event_date").mode("overwrite").parquet(dir)
    val allDates = spark.read.parquet(dir).select("event_date").distinct().count()
    assert(allDates > 1)
    val oneDay = spark.read.parquet(dir)
      .filter($"event_date" === spark.read.parquet(dir).agg(min($"event_date"))
        .collect()(0).getDate(0))
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_date"), plan.take(600))
    // pruning means the scan touches one partition's rows, not the table's
    assert(oneDay.count() < Tables.events(spark, sf).count())
  }

  test("small-files compaction: repartition + maxRecordsPerFile bound file count and size") {
    // the 100 TB write-side hygiene pass: a shuffle-partitioned or
    // per-trigger streaming write leaves thousands of tiny files whose
    // open/footer overhead dominates later scans; compaction rewrites to
    // few bounded files with zero row/content change
    def files(dir: String): Int =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    val events = Tables.events(spark, sf)
    val fragmented = TempDirs.create("graft_frag_")
    events.repartition(64).write.mode("overwrite").parquet(fragmented)
    assert(files(fragmented) == 64)
    val compacted = TempDirs.create("graft_compact_")
    spark.read.parquet(fragmented)
      .repartition(2)
      .write.option("maxRecordsPerFile", events.count() / 3 + 1)
      .mode("overwrite").parquet(compacted)
    // 2 tasks, each splitting at the record cap → at most 4, far below 64
    val n = files(compacted)
    assert(n >= 2 && n <= 4, s"got $n files")
    // content unchanged as a MULTISET: per-row-hash occurrence counts must
    // agree in both directions. (An xor-of-hashes signature is multiset-weak
    // — any row occurring an even number of times cancels out, so a rewrite
    // swapping one duplicated row pair for another would slip through.)
    def hashCounts(dir: String) =
      spark.read.parquet(dir)
        .select(xxhash64(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props")).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("n"))
    val frag = hashCounts(fragmented)
    val comp = hashCounts(compacted)
    assert(comp.exceptAll(frag).isEmpty && frag.exceptAll(comp).isEmpty,
      "compaction changed row content")
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // the 100-TB join hygiene AQE gives for free: a selective dimension
    // filter is turned into a bloom filter evaluated on the fact side's
    // scan, so non-matching fact rows die before the shuffle instead of
    // crossing the network. Thresholds forced so the tiny test tables
    // qualify; at warehouse scale the defaults trigger it.
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = Tables.lineitem(spark, sf)
      val urgent = Tables.orders(spark, sf).filter($"o_orderpriority" === "1-URGENT")
      val j = li.join(urgent, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("cnt"))
      assert(j.queryExecution.optimizedPlan.toString.contains("bloom"),
        "expected a runtime bloom filter injected on the fact side")
      assert(j.collect().map(_.getLong(1)).sum > 0)
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    Tables.orders(spark, sf).write
      .bucketBy(4, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    Tables.lineitem(spark, sf).write
      .bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    try {
      // co-located join: both sides pre-hashed into the same 4 buckets, so
      // the sort-merge join needs no Exchange on either side
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("q38b compaction plan: conservation, partition isolation, exact bin rule") {
    val rows = graft.queries.ScaleQueries.defs
      .find(_.name == "q38b_compaction_plan").get
      .df(spark, sf)
      .select("d", "h", "n_rows", "est_bytes", "bin")
      .as[(java.sql.Date, Long, Long, Long, Long)].collect().toSeq
    // every event lands in exactly one planned file
    assert(rows.map(_._3).sum === Tables.events(spark, sf).count())
    rows.groupBy(_._1).foreach { case (d, fs) =>
      val inOrder = fs.sortBy(_._2)
      // bins are dense-from-zero per day and never decrease along file order
      assert(inOrder.head._5 === 0L, s"$d first bin")
      inOrder.sliding(2).foreach {
        case Seq(a, b) => assert(a._5 <= b._5, s"$d bins decrease")
        case _ => ()
      }
      // the bin id IS floor(exclusive-prefix-bytes / target), recomputed here
      var cum = 0L
      inOrder.foreach { case (_, h, _, bytes, bin) =>
        assert(bin === cum / 16384L, s"$d h=$h bin rule")
        cum += bytes
      }
    }
  }

  test("Bucketed materialization is session-cached per (tag, source dir)") {
    // the layout job must run ONCE per session: a second request for the
    // same tag returns the same catalog table (no rebuild), and the scan
    // it yields reports bucketing to the planner
    val a = graft.queries.Bucketed(spark, sf, "spec_bucket_cache", 4, "n_nationkey")(
      Tables.nation(spark, sf))
    val b = graft.queries.Bucketed(spark, sf, "spec_bucket_cache", 4, "n_nationkey")(
      fail("second request must hit the cache, not rebuild"))
    assert(a.count() === b.count())
    val scan = b.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("expected a file scan over the bucketed table"))
    assert(scan.relation.bucketSpec.exists(_.numBuckets == 4), scan.toString)
  }

  test("layout variants return exactly their flat twins' rows") {
    // the round-10 layout executions (cell-partitioned PQ codes, bucketed
    // baskets/events) must change I/O shape ONLY — row-for-row equality
    // with the flat forms, on the ordered output both declare
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq
    assert(rows("q32d_copurchase_bucketed") === rows("q32_copurchase_pairs"))
    assert(rows("q33d_sessionize_bucketed") === rows("q33_sessionize"))
    assert(rows("q24m_ivfpq_partitioned") === rows("q24l_ivfpq_topk"))
  }

  test("ScaleUp rejects unknown table names before touching anything (ADVICE r11)") {
    // a typo'd [tables] arg must fail loudly, not silently emit a corpus
    // that is entirely byte-copied while labeled as scaled — the require
    // fires before any session or filesystem access
    val e = intercept[IllegalArgumentException](
      graft.tools.ScaleUp.main(Array("/nonexistent/src", "/nonexistent/dst", "2", "eventz")))
    assert(e.getMessage.contains("eventz"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      graft.tools.ScaleUp.main(Array("/nonexistent/src", "/nonexistent/dst", "2", "")))
    assert(e2.getMessage.contains("unknown table"), e2.getMessage)
  }

  test("ScaleUp copies Spark-written table directories whole when re-scaling its own output") {
    // dir A's events is a Spark-written directory; scaling A's documents
    // into B must copy that directory with its files, not as an empty dir
    val a = TempDirs.create("graft_scaleup_a_")
    val b = TempDirs.create("graft_scaleup_b_")
    graft.tools.ScaleUp.run(spark, sf, a, 2, Seq("events"))
    graft.tools.ScaleUp.run(spark, a, b, 2, Seq("documents"))
    val aEvents = spark.read.parquet(s"$a/events.parquet").count()
    assert(aEvents === 2 * spark.read.parquet(s"$sf/events.parquet").count())
    assert(spark.read.parquet(s"$b/events.parquet").count() === aEvents)
    assert(spark.read.parquet(s"$b/documents.parquet").count() ===
      2 * spark.read.parquet(s"$a/documents.parquet").count())
  }
}
