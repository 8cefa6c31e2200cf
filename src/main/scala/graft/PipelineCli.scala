package graft

import graft.operators.{EcommerceOps, EcommercePipelines}
import graft.sources.Ecommerce
import graft.streaming.{Channels, StreamRunner}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Thin CLI drivers for the two reference pipelines — the user-facing entry
  * points the reference exposes as argparse mains. Argument names mirror the
  * reference scripts 1:1 where the concept survives the platform change;
  * GCP-service coordinates (Spanner instance/database, Pub/Sub topic/
  * subscription) become their Spark-native analogues (a JDBC url/table, a
  * replay slice directory).
  *
  * Args are `--key value` pairs; unknown keys fail fast with usage text.
  */
private[graft] object CliArgs {
  def parse(args: Array[String], known: Set[String], usage: String): Map[String, String] = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") && known(k.drop(2)) => k.drop(2) -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}\n$usage")
    }.toMap
    kv
  }

  def require(kv: Map[String, String], key: String, usage: String): String =
    kv.getOrElse(key, sys.error(s"missing required --$key\n$usage"))
}

/** ≙ `batch_pipeline/write_session_batch.py:106-130`: CSV in, transformed
  * sessions out. `--input` is the CSV path (the reference's GCS path);
  * `--output` writes the sink-shaped frame as parquet, and/or
  * `--jdbcUrl`/`--table` writes the OLTP analogue of the reference's
  * `--instance_id`/`--database_id` Spanner target.
  */
object BatchPipelineCli {
  private val usage =
    "usage: graft.BatchPipelineCli --input <csv> [--output <parquetDir>] " +
      "[--jdbcUrl <url> --table <name>]\n" +
      "       (--instance_id / --database_id are accepted as aliases of " +
      "--jdbcUrl / --table for reference arg-surface parity)"

  /** Reference-script arg aliases (`write_session_batch.py:111-121` names
    * the Spanner target `--instance_id`/`--database_id`): accepted 1:1 and
    * canonicalized onto the Spark-native JDBC coordinates. Passing an alias
    * and its canonical form together is ambiguous and fails fast. */
  private val aliases = Map("instance_id" -> "jdbcUrl", "database_id" -> "table")

  def main(args: Array[String]): Unit = {
    val raw = CliArgs.parse(args,
      Set("input", "output", "jdbcUrl", "table") ++ aliases.keySet, usage)
    for ((a, c) <- aliases if raw.contains(a) && raw.contains(c))
      sys.error(s"--$a is an alias of --$c; pass one, not both\n$usage")
    val kv = raw.map { case (k, v) => aliases.getOrElse(k, k) -> v }
    val input = CliArgs.require(kv, "input", usage)
    val spark = GraftSession.get()
    val out = EcommercePipelines.runBatch(spark, input, kv.get("output"))
    // the transform runs ONCE: downstream consumers (JDBC sink, count
    // receipt) read the parquet sink back when one was written, else a
    // cached frame — re-executing the lazy plan would re-mint record_ids
    // (monotonically_increasing_id is layout-dependent) and re-scan the CSV
    val result = kv.get("output").map(spark.read.parquet)
      .getOrElse(if (kv.contains("jdbcUrl")) out.cache() else out)
    for (url <- kv.get("jdbcUrl"))
      EcommercePipelines.writeOltp(result, url, kv.getOrElse("table", "user_sessions"))
    // one aggregate to the driver — the run receipt, never the rows
    println(s"[batch] wrote ${result.count()} rows" +
      kv.get("output").fold("")(d => s" to $d") +
      kv.get("jdbcUrl").fold("")(u => s" and table ${kv.getOrElse("table", "user_sessions")} at $u"))
  }
}

/** ≙ `streaming_pipeline/send_session_stream.py:114-118` +
  * `simulate_session_stream.py:63-108` + `write_session_stream.py`: encode
  * each CSV row onto the wire format, replay it paced by event time,
  * decode + transform per event, append to the sink. Two pacing surfaces,
  * one per reference script:
  *   - `--speedFactor` (send_session_stream.py) — hours of data published
  *     per (simulated) minute, 1–5 — mapped deterministically: one
  *     micro-batch per simulated publishing minute, i.e.
  *     `slices = ceil(span_hours / speedFactor)`.
  *   - `--perEvent true` (simulate_session_stream.py's per-event Δt loop) —
  *     one micro-batch per distinct event time, in event-time order; the
  *     reference's inter-event sleep becomes commit order
  *     ([[StreamRunner.writePerEventSlices]]).
  * Mutually exclusive, like the two reference scripts.
  */
object ReplayPipelineCli {
  private val usage =
    "usage: graft.ReplayPipelineCli --input <csv> --output <parquetDir> " +
      "[--speedFactor 1..5 | --perEvent true] " +
      "[--wallclock true [--minuteMs <ms>]] " +
      "[--topic <name> --subscription <name> [--channelRoot <dir>]]"

  /** Slice count for a data span and speedFactor, bounded to [1, 96] so a
    * months-long file cannot demand thousands of micro-batches. */
  def sliceCount(spanHours: Double, speedFactor: Int): Int =
    math.min(96, math.max(1, math.ceil(spanHours / speedFactor).toInt))

  def main(args: Array[String]): Unit = {
    val kv = CliArgs.parse(args,
      Set("input", "output", "speedFactor", "perEvent", "topic", "subscription",
        "channelRoot", "wallclock", "minuteMs"),
      usage)
    val input = CliArgs.require(kv, "input", usage)
    val output = CliArgs.require(kv, "output", usage)
    val perEvent = kv.get("perEvent").exists(_.toBoolean)
    if (perEvent && kv.contains("speedFactor")) sys.error(
      s"--perEvent and --speedFactor are mutually exclusive\n$usage")
    // --wallclock: consume on a REAL ProcessingTime trigger, one firing per
    // simulated publishing minute (the reference demo's cadence,
    // simulate_session_stream.py:89-93) — quantile-slice pacing only (the
    // per-event variant's cadence is commit order by design)
    val wallclock = kv.get("wallclock").exists(_.toBoolean)
    if (wallclock && perEvent) sys.error(
      s"--wallclock applies to speed-factor pacing; not with --perEvent\n$usage")
    // the length of one simulated publishing minute in real ms: 60000 is
    // the reference's literal demo cadence; tests/demos compress it
    val minuteMs = kv.getOrElse("minuteMs", "60000").toLong
    require(minuteMs >= 50 && minuteMs <= 600000,
      s"--minuteMs must be 50..600000, got $minuteMs\n$usage")
    val speed = kv.getOrElse("speedFactor", "5").toInt
    require(speed >= 1 && speed <= 5, s"--speedFactor must be 1..5, got $speed\n$usage")
    val spark = GraftSession.get()

    val cols = Ecommerce.schema.fieldNames
    val events = Ecommerce.readCsv(spark, input)
    // parsed ts carried alongside the encoded message purely as the pacing
    // key; dropped before decode so the wire schema stays value-only
    // try_to_timestamp, not to_timestamp: ANSI mode aborts the whole job on
    // the first malformed value with a mid-stage Spark error; the NULLs are
    // counted and reported as one clean CLI error below instead
    val messages = events.select(
      try_to_timestamp(col("event_time"), lit("yyyy-MM-dd HH:mm:ss zzz"))
        .as("__pace_ts"),
      EcommerceOps.encodeMessage(cols.map(col).toIndexedSeq).as("value"))
    // fail fast on rows the pacing key can't be derived from: the paced
    // writers refuse a null __pace_ts themselves, but only after writing
    // the whole replay and without naming the input format — and an
    // all-null/empty input would NPE on the span aggregate below. The
    // reference's strptime loop dies on the first bad row; one clear error
    // listing the count, before anything is written, beats both.
    val Row(total: Long, parsed: Long, spanOrNull) = messages
      .select(count(lit(1)), count(col("__pace_ts")),
        (unix_timestamp(max(col("__pace_ts"))) -
          unix_timestamp(min(col("__pace_ts")))).cast("double"))
      .collect()(0)
    if (total == 0) sys.error(s"--input $input contains no data rows\n$usage")
    if (parsed < total) sys.error(
      s"--input $input: ${total - parsed} of $total rows have an event_time " +
        s"not matching 'yyyy-MM-dd HH:mm:ss zzz'; refusing to silently drop them")
    val span = spanOrNull.asInstanceOf[Double]
    val slices = sliceCount(span / 3600.0, speed)
    // with --topic the wire goes through the managed channel lifecycle
    // (create topic + bound subscription, paced publish, subscribe), the
    // analogue of simulate_session_stream.py:141-156; otherwise straight
    // through the anonymous paced-replay scratch dir
    // with a channel, consume THROUGH the subscription's checkpoint so the
    // CLI's run advances the delivery cursor it created (a later drain of
    // the same subscription delivers nothing already consumed here)
    val (stream, cursor, nBatches) = kv.get("topic") match {
      case Some(topic) =>
        val sub = kv.getOrElse("subscription", s"$topic-sub")
        val ch = Channels(
          kv.getOrElse("channelRoot", TempDirs.create("graft_channels_")))
        ch.createTopic(topic)
        ch.createSubscription(sub, topic)
        val wire = messages.select(col("value"), col("__pace_ts"))
        val n =
          if (perEvent) ch.publishPerEvent(wire, "__pace_ts", topic)
          else { ch.publishPaced(wire, "__pace_ts", slices, topic); slices }
        println(s"[replay] created topic $topic, subscription $sub")
        val (df, checkpoint) = ch.open(spark, sub)
        (df, Some(checkpoint), n)
      case None if perEvent =>
        val (df, n) = StreamRunner
          .replayPerEvent(spark, messages, "__pace_ts", "cli_replay")
        (df.drop("__pace_ts"), None, n)
      case None =>
        (StreamRunner
          .replayPaced(spark, messages, "__pace_ts", slices, "cli_replay")
          .drop("__pace_ts"), None, slices)
    }
    val transformed =
      EcommerceOps.streamTransform(EcommercePipelines.decodeWire(stream))
    val sink =
      if (wallclock) {
        val (df, fired) = StreamRunner.toParquetWallclock(
          spark, transformed, "cli_sink", minuteMs, nBatches, cursor)
        println(s"[replay] wall-clock trigger: $fired non-empty micro-batches " +
          s"at $minuteMs ms per publishing minute")
        df
      } else StreamRunner.toParquet(spark, transformed, "cli_sink", cursor)
    sink.write.mode("overwrite").parquet(output)
    val pacing =
      if (perEvent) "per-event Δt"
      else f"span ${span / 3600.0}%.1f h, speedFactor $speed" +
        (if (wallclock) s", wall-clock $minuteMs ms/min" else "")
    println(s"[replay] $nBatches micro-batches ($pacing); " +
      s"wrote ${spark.read.parquet(output).count()} rows to $output")
  }
}
