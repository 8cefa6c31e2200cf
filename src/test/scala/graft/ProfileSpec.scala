package graft

import scala.collection.mutable.ArrayBuffer

import graft.tools.Profile

/** The profiler's contract: one JSON line per (target, pass) carrying
  * Bench's row, the jobs and (for streaming queries) the micro-batch
  * breakdown; bad arguments fail before any job runs; the session's
  * listeners are left as they were. */
class ProfileSpec extends SparkSpec {

  private def profile(targets: Seq[String], passes: Int): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    Profile.run(spark, sf, targets, passes, emit = out += _)
    out.toSeq
  }

  private def long(line: String, field: String): Long =
    s""""$field":(-?[0-9]+)""".r.findFirstMatchIn(line).map(_.group(1).toLong)
      .getOrElse(fail(s"no $field in $line"))

  test("q03 and q20 give one line per pass with task CPU, jobs and q20's batches") {
    val listenersBefore = spark.streams.listListeners().toSeq
    val lines = profile(Seq("q03", "q20_tumbling_window"), 2)
    assert(spark.streams.listListeners().toSeq === listenersBefore)
    assert(lines.size === 4)
    val (q03, q20) = lines.partition(_.contains(""""target":"q03_daily_counts""""))
    assert(q03.size === 2 && q20.size === 2)
    assert(q20.forall(_.contains(""""target":"q20_tumbling_window"""")))
    lines.foreach { l =>
      assert(long(l, "task_cpu_ms") > 0, l)
      assert(l.contains(""""jobs":[["""), l)
      assert(long(l, "input_b") > 0, l)
    }
    assert(lines.map(long(_, "pass")) === Seq(1L, 2L, 1L, 2L))
    q20.foreach { l =>
      val batches = l.substring(l.indexOf(""""batches":["""))
      assert(batches.contains(""""addBatch":""") && batches.contains(""""triggerExecution":"""), l)
    }
  }

  test("every fixed frame resolves, and semdedup_k8 runs") {
    Seq("semdedup_k8", "sa_night0", "sa_night3", "ann_build", "ann_encode_batch",
      "ann_encode_scratch").foreach(t => assert(Profile.resolve(t).name === t))
    assert(Profile.resolve("q20").name === "q20_tumbling_window")
    val lines = profile(Seq("semdedup_k8"), 1)
    assert(lines.size === 1 && long(lines.head, "tasks") > 0, lines)
  }

  test("an unknown target or passes=0 fails before any job runs") {
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val m = Bench.measure(listener) {
        val e = intercept[IllegalArgumentException](profile(Seq("q03", "q99_nope"), 2))
        assert(e.getMessage.contains("q99_nope"))
        val e2 = intercept[IllegalArgumentException](profile(Seq("q03"), 0))
        assert(e2.getMessage.contains("0"))
        Seq("sa_night4", "semdedup_k0").foreach(t =>
          intercept[IllegalArgumentException](Profile.resolve(t)))
      }
      assert(m.jobs.isEmpty && m.row(Bench.cols.indexOf("tasks")) === 0L, m.jobs)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
