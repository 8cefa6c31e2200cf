package graft

import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import graft.tools.Profile
import org.apache.spark.sql.SparkSession

/** The profiler's contract: one JSON line per (target, pass) carrying
  * Bench's row, the jobs and (for streaming queries) the micro-batch
  * breakdown and the processes the JVM started; bad arguments fail before
  * any job runs; the session's listeners are left as they were. */
class ProfileSpec extends SparkSpec {

  private def profile(targets: Seq[String], passes: Int,
                      session: SparkSession = spark): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    Profile.run(session, sf, targets, passes, emit = out += _)
    out.toSeq
  }

  private def long(line: String, field: String): Long =
    s""""$field":(-?[0-9]+)""".r.findFirstMatchIn(line).map(_.group(1).toLong)
      .getOrElse(fail(s"no $field in $line"))
  private def double(line: String, field: String): Double =
    s""""$field":(-?[0-9]+\\.[0-9]+)""".r.findFirstMatchIn(line).map(_.group(1).toDouble)
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
      // every fork in the JVM counts, Spark's own asynchronous ones too
      // (a collected session's artifact-dir `rm -rf`), so only its presence
      assert(long(l, "forks") >= 0L, l)
      assert(double(l, "large_alloc_mb") >= 0.0, l)
    }
    assert(lines.map(long(_, "pass")) === Seq(1L, 2L, 1L, 2L))
    q20.foreach { l =>
      val batches = l.substring(l.indexOf(""""batches":["""))
      assert(batches.contains(""""addBatch":""") && batches.contains(""""triggerExecution":"""), l)
      val names = """"query":"([^"]*)"""".r.findAllMatchIn(batches).map(_.group(1)).toSeq
      assert(names.nonEmpty && names.forall(_.startsWith("q20")), names)
    }
  }

  test("forks counts the processes started inside its window, and only those") {
    val jvm = new Profile.JvmEvents
    try {
      def fork(n: Int): Unit = (1 to n).foreach { _ =>
        new ProcessBuilder("true").start().waitFor(); Thread.sleep(10)
      }
      fork(5)
      val from = Instant.now()
      fork(10)
      val to = Instant.now()
      fork(5)
      // Spark may fork on its own meanwhile (a collected session's
      // artifact-dir `rm -rf`): at most a couple more
      assert((10 to 12).contains(jvm.within(from, to).forks))
      assert((5 to 7).contains(jvm.within(to, Instant.now()).forks)) // the next window's
    } finally jvm.close()
  }

  test("large_alloc_mb counts an allocation of at least 512 KiB in its window, and only there") {
    val jvm = new Profile.JvmEvents
    try {
      val from = Instant.now()
      val big = new Array[Byte](4 << 20)
      big(big.length - 1) = 1
      val to = Instant.now()
      assert(big.sum === 1)
      val within = jvm.within(from, to).largeAllocB
      assert(within >= (4L << 20), within)
      // Spark's own threads may allocate meanwhile, but not this array again
      val next = jvm.within(to, Instant.now()).largeAllocB
      assert(next < (4L << 20), next)
    } finally jvm.close()
  }

  test("every q10 job, AQE stage jobs included, carries its SQL execution id") {
    // a fresh session: its first frame build reads every table schema off
    // the footers, so no job runs outside a SQL execution
    val lines = profile(Seq("q10_region_revenue"), 2, spark.newSession())
    assert(lines.size === 2)
    lines.foreach { l =>
      val jobs = l.substring(l.indexOf(""""jobs":["""), l.indexOf(""""batches":"""))
      val exec = """\[[0-9]+,[0-9]+,"(?:[^"\\]|\\.)*",([0-9]+|null)\]""".r
        .findAllMatchIn(jobs).map(_.group(1)).toSeq
      assert(exec.size === """\[[0-9]+,[0-9]+,"""".r.findAllMatchIn(jobs).size, jobs)
      assert(exec.nonEmpty && !exec.contains("null"), jobs)
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
