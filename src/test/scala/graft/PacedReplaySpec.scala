package graft

import graft.sources.Tables
import graft.streaming.StreamRunner
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Event-time-paced replay (SURVEY.md §2.9 T4, §3.2): the stream arrives in
  * multiple event-time-ordered micro-batches, so watermark advancement and
  * incremental append-mode emission actually exercise across batches — a
  * stronger contract than single-batch AvailableNow. Also pins the fast
  * hashing path's algebraic properties. */
class PacedReplaySpec extends SparkSpec {
  import spark.implicits._

  test("paced replay emits exactly the batch windows closed by the final watermark") {
    val events = Tables.events(spark, sf).select($"ts", $"event_type")
    val paced = StreamRunner.replayPaced(spark, events, "ts", slices = 8, tag = "paced")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("cnt"))
      .select($"window.start".as("ws"), $"event_type", $"cnt")
    // append mode: only watermark-closed windows are emitted
    val streamed = StreamRunner.toParquet(spark, paced, "paced")
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map(r => (r._1.getTime, r._2) -> r._3).toMap

    val batch = events
      .groupBy(window($"ts", "1 hour").getField("start").as("ws"), $"event_type")
      .agg(count(lit(1)).as("cnt"))
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map(r => (r._1.getTime, r._2) -> r._3).toMap

    // windows closed by the final watermark are only flushed by a LATER
    // batch, so the guaranteed-emitted set is bounded by the watermark as of
    // an earlier slice — use the 70th percentile of event time as a
    // conservative lower bound on that watermark
    // cast timestamp→long yields epoch seconds
    val tsSorted = events.select($"ts".cast("long")).as[Long].collect().sorted
    val watermark = tsSorted((tsSorted.length * 7) / 10) * 1000L - 10 * 60 * 1000L
    val mustEmit = batch.filter { case ((ws, _), _) => ws + 3600 * 1000L <= watermark }

    assert(streamed.nonEmpty)
    // every emitted window matches batch exactly
    streamed.foreach { case (k, v) => assert(batch(k) === v, s"window $k") }
    // every batch window closed by the final watermark was emitted
    mustEmit.foreach { case (k, v) => assert(streamed.get(k).contains(v), s"missing $k") }
  }

  test("per-event pacing refuses a null pace timestamp instead of dropping rows") {
    // a null time cannot be ordered into a commit, so its rows would
    // silently vanish from the replay — the primitive must fail fast,
    // before anything is written
    val df = spark.range(3).selectExpr("id AS v",
      "IF(id = 1, CAST(NULL AS timestamp), timestamp_seconds(1704067200 + id)) AS ts")
    val dir = TempDirs.create("graft_nullts_")
    val e = intercept[IllegalArgumentException](
      StreamRunner.writePerEventSlices(df, "ts", dir, maxTimes = 10))
    assert(e.getMessage.contains("non-null"))
    assert(new java.io.File(dir).list().isEmpty,
      s"left behind: ${new java.io.File(dir).list().mkString(",")}")
  }

  test("scale-up text perturbation is never the identity for replicas 1..99") {
    // consonant rotation alone cycles at k = 20 (byte-identical replicas →
    // accidental dup-deepening); the vowel rotation breaks the cycle
    val doc = spark.range(1).selectExpr("id AS doc_id", "'the quick brown fox' AS text")
    // one union plan, one job — not 99 single-row driver actions
    val texts = (1 until 100)
      .map(k => graft.tools.ScaleUp.replica("documents", doc, k).select($"text"))
      .reduce(_.unionByName(_)).collect().map(_.getString(0)).toSeq
    assert(texts.length == 99)
    assert(!texts.contains("the quick brown fox"), "found an identity replica")
    assert(texts.distinct.size == texts.size, "two replicas share a transform")
  }

  /** xxhash64 folded into [[graft.functions.TextHash.hash32]]'s [0, 2^32)
    * domain: ~10× cheaper per value than md5, but with no DuckDB twin, so
    * no oracle-checked query can use it. */
  private def hash32Fast(c: Column): Column = pmod(xxhash64(c), lit(1L << 32))

  test("hash32Fast stays in the 32-bit domain and agrees with itself") {
    import graft.functions.TextHash._
    val h = Seq("a", "b", "a").toDF("t").select(hash32Fast(col("t"))).as[Long].collect()
    assert(h.forall(x => x >= 0 && x < (1L << 32)))
    assert(h(0) === h(2))
    assert(h(0) !== h(1))
  }

  test("minhash over the fast hash path keeps the identical-doc property") {
    import graft.functions.TextHash._
    val doc = "alpha beta gamma delta epsilon zeta eta theta"
    val out = Seq((doc, doc)).toDF("a", "b")
      .select(
        minhashSig(transform(tokens(col("a")), hash32Fast(_))).as("sa"),
        minhashSig(transform(tokens(col("b")), hash32Fast(_))).as("sb"))
      .select(estJaccard(col("sa"), col("sb"))).as[Double].head()
    assert(out === 1.0)
  }
}
