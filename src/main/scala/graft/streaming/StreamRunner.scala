package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import graft.sources.Footers
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.streaming.Trigger

/** Test/driver harness for the streaming operators (SURVEY.md §2.9, §3.2-3.3):
  * replays a bounded table as a file stream and runs a Structured Streaming
  * query to completion with `Trigger.AvailableNow`, so streaming results are
  * plain DataFrames the correctness gate can compare against batch oracles.
  *
  * This replaces the reference's wall-clock replay scripts
  * (streaming_pipeline/send_session_stream.py:82-83,
  * simulate_session_stream.py:89-93): correctness comes from event-time
  * processing + watermarks, not arrival pacing, so tests drive the stream
  * deterministically instead of sleeping. `speedFactor`/pacing map to
  * trigger configuration in production.
  */
object StreamRunner {

  private val n = new AtomicInteger(0)

  private def tempDir(tag: String): String =
    graft.TempDirs.create(s"graft_${tag}_${n.incrementAndGet()}_")

  /** A started stream's name: its tag, so progress events (Profile's
    * `batches`) say which stream they belong to, plus the counter, because
    * active queries must have distinct names. */
  private def queryName(tag: String): String = s"${tag}_${n.incrementAndGet()}"

  /** Replay-source dirs, shared across queries: several streaming queries
    * replay the same bounded table, so the materialization is written once
    * per (session, source, shape) and re-read by every query (each query
    * still gets its own checkpoint/sink). */
  private val replayCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** File-level signature of every file-source relation under `df`'s plan
    * (each root's full recursive [[Footers.listing]]: names, sizes,
    * mtimes). Replay keys include it because the logical plan's
    * semanticHash sees only the PATH: regenerating a source in place (even
    * preserving max(ts), even a nested part file of a partitioned layout
    * rewritten under the same name) would otherwise leave every key
    * unchanged and silently replay the stale slice materialization of the
    * old data. */
  private def sourceSig(df: DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
    }.flatten.sorted
      .map(Footers.listing(df.sparkSession, _).signature).mkString("||")
  }

  /** Replay-cache key of `df`: its session, schema, canonical plan and
    * [[sourceSig]]. Callers append their replay shape. */
  private def frameKey(df: DataFrame): String =
    s"${graft.SessionToken(df.sparkSession)}|${df.schema.catalogString}|" +
      s"${df.queryExecution.logical.canonicalized.semanticHash()}|${sourceSig(df)}"

  /** Materialize a bounded frame and re-open it as a parquet file stream.
    * `singleFile=true` forces one input file so `AvailableNow` runs exactly
    * one micro-batch (required by operators whose emission the harness wants
    * to compare 1:1 with batch, e.g. flatMapGroupsWithState). */
  def replay(spark: SparkSession, df: DataFrame, tag: String,
             singleFile: Boolean = false): DataFrame = {
    val dir = replayCache.computeIfAbsent(s"${frameKey(df)}|$singleFile", { _ =>
      val d = tempDir(s"replay_$tag")
      val w = if (singleFile) df.coalesce(1) else df
      w.write.mode("overwrite").parquet(d)
      d
    })
    spark.readStream.schema(df.schema).parquet(dir)
  }

  /** T4 — event-time-paced replay: split the table into `slices` time-ordered
    * files ([[writePacedSlices]]: at most two reads of `df`, one write) and feed ONE
    * slice per micro-batch (`maxFilesPerTrigger=1`), so a downstream query
    * processes the stream incrementally in event-time order — exactly
    * `slices` batches, empty slices included — the deterministic stand-in
    * for the reference's wall-clock-paced publisher
    * (simulate_session_stream.py:89-93); `speedFactor` maps to slice count /
    * trigger rate, not to sleeps. A null `tsCol` fails the replay. */
  def replayPaced(spark: SparkSession, df: DataFrame, tsCol: String,
                  slices: Int, tag: String): DataFrame = {
    // cached like [[replay]] (+ the slice shape): the bench harness replays
    // each paced query three times, and re-slicing an identical bounded
    // frame per pass is pure write waste — the slice files'
    // strictly-increasing mtimes (SliceStamper) replay in the same order
    // from a reused dir
    val dir = replayCache.computeIfAbsent(s"paced|${frameKey(df)}|$tsCol|$slices", { _ =>
      val d = tempDir(s"paced_$tag")
      writePacedSlices(df, tsCol, slices, d)
      d
    })
    spark.readStream
      .schema(df.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
  }

  /** Explicit, strictly increasing mtimes for a sequence of slice commits
    * into `dir`. The file source replays files in modification-time order,
    * and back-to-back commits can TIE on filesystems with coarse (1 s)
    * mtime granularity — replaying an earlier-range slice after a later one
    * turns its whole range into droppable late data. Instead of trusting
    * the write clock, each commit gets the next 2 s step past both "now"
    * and anything already in the dir (so appends to a topic with prior
    * publishes stay ordered after them). */
  private final class SliceStamper(dir: String) {
    private val t0 = {
      val existing = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      val maxExisting = existing.map(_.lastModified()).foldLeft(0L)(math.max)
      math.max(System.currentTimeMillis(), maxExisting + 2000L)
    }
    private var step = 0
    def next(): Long = { val t = t0 + step * 2000L; step += 1; t }
  }

  /** A fresh staging dir INSIDE `dir`: a dot-prefixed subdir is invisible
    * to the file source's listing (hidden-path filter), and staying on the
    * target's own filesystem is what makes the commit renames atomic — a
    * /tmp staging dir would throw AtomicMoveNotSupported whenever the
    * channel root lives on another mount. */
  private def stagingDir(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(
      dir, s".staging_${java.util.UUID.randomUUID().toString.take(8)}")

  /** The parquet data files directly under `d` (no `_SUCCESS`, no hidden
    * checksum files); none when `d` does not exist. */
  private def dataFiles(d: java.io.File): Array[java.io.File] =
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))

  /** Stamp `f` with `stamp`, then rename it atomically to `to`. */
  private def moveStamped(f: java.io.File, to: java.nio.file.Path,
                          stamp: Long): Unit = {
    f.setLastModified(stamp)
    java.nio.file.Files.move(
      f.toPath, to, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** The one slice commit every publisher here goes through: `tagged`
    * carries each row's slice index in `__slice` (0 until `slices`), and
    * `dir` receives exactly `slices` file commits, one per slice in slice
    * order, empty slices included — so a reader at `maxFilesPerTrigger=1`
    * sees exactly `slices` micro-batches.
    *
    * `tagged` is written ONCE, its slices laid out as partitions of a
    * hidden staging dir (one task, so one file, per slice; one slice is
    * `coalesce(1)`, which needs no shuffle). The slices are
    * then committed one by one, each file stamped by [[SliceStamper]]
    * BEFORE it becomes visible and renamed into `dir` under a per-publish
    * unique, visible name. The file source replays files in
    * modification-time order: a multi-part write's own files carry
    * task-completion (arbitrary) mtimes, and a write-then-restamp sequence
    * would let a concurrently listing consumer (Channels doc:
    * "publishers/consumers are separate jobs") checkpoint a wall-clock
    * mtime that sorts between earlier future-stamped slices. Renaming
    * matters twice: one task can write several slices under the same
    * part-file name, and a name starting with "." or "_" would be hidden
    * from the file source.
    *
    * A row with a null `__slice` has no slice, so it is refused rather
    * than dropped: the write puts such rows in Spark's null partition, and
    * the publish fails with `unsliced` when that partition exists, before
    * any slice is committed, leaving `dir` as it was (no extra scan on
    * success). */
  private def commitSlices(tagged: DataFrame, slices: Int, dir: String,
                           unsliced: String = "every row needs a slice"): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    val staging = stagingDir(dir)
    try {
      (if (slices == 1) tagged.coalesce(1) else tagged.repartition(slices, col("__slice")))
        .write.partitionBy("__slice").parquet(staging.toString)
      val nulls = staging.resolve(s"__slice=$DEFAULT_PARTITION_NAME")
      require(!java.nio.file.Files.exists(nulls), s"$unsliced; " +
        s"${tagged.sparkSession.read.parquet(nulls.toString).count()} rows have none")
      val files = (0 until slices).map { j =>
        val fs = dataFiles(staging.resolve(s"__slice=$j").toFile)
        require(fs.length <= 1, s"slice $j was written as ${fs.length} files")
        fs.headOption
      }
      // an empty slice still commits (one micro-batch each): a copy of an
      // empty file with the output schema, written only when needed
      lazy val empty = {
        val d = staging.resolve("_empty")
        tagged.sparkSession.createDataFrame(
          java.util.Collections.emptyList[Row](), tagged.drop("__slice").schema)
          .write.parquet(d.toString)
        dataFiles(d.toFile).head
      }
      val publish = java.util.UUID.randomUUID().toString.take(8)
      val stamper = new SliceStamper(dir)
      for ((f, j) <- files.zipWithIndex) {
        val src = f.getOrElse {
          val c = staging.resolve(s"_empty_$j.parquet")
          java.nio.file.Files.copy(empty.toPath, c)
          c.toFile
        }
        moveStamped(src, java.nio.file.Paths.get(dir, f"part-$j%05d-$publish.parquet"),
          stamper.next())
      }
    } finally {
      // cleanup failure past the renames must not fail the publish; a
      // survivor is scratch inside a TempDirs-tracked tree
      graft.TempDirs.delete(staging.toString)
    }
  }

  /** Slice index of `ts` for ascending `boundaries`: the number of
    * boundaries <= ts, so slice j holds `boundaries(j-1) <= ts <
    * boundaries(j)`; null (no slice) for a null `ts`. */
  private def sliceOf(ts: Column, boundaries: Seq[Any]): Column =
    when(ts.isNotNull,
      boundaries.map(b => when(ts >= lit(b), 1).otherwise(0)).foldLeft(lit(0))(_ + _))

  /** One ordered bulk commit into `dir`, stamped past everything already
    * there. A plain unstamped write carries wall-clock mtimes, and
    * [[SliceStamper]] deliberately stamps AHEAD of the wall clock (2 s per
    * slice) — so a bulk publish following a paced publish could land its
    * files BETWEEN earlier slices in mtime order, turning earlier-range
    * data into droppable late data. Used by [[Channels.publish]]. */
  def writeOrderedCommit(df: DataFrame, dir: String): Unit =
    commitSlices(df.withColumn("__slice", lit(0)), 1, dir)

  /** Write `df` into `dir` as `slices` event-time-ordered file commits
    * ([[commitSlices]]), quantile-split on `tsCol`: with `qs` the exact
    * `slices`-quantiles of `tsCol`, slice j holds the rows with
    * `qs(j-1) <= ts < qs(j)` (the first slice is open below, the last open
    * above; tied boundaries leave a slice empty); an empty frame gives
    * `slices` empty commits. The source is read at most twice, whatever
    * `slices` is: once for the quantiles (not needed for one slice) and
    * once for the commit's one write. A null `tsCol` has no slice: the
    * publish fails, leaving `dir` as it was. Shared by [[replayPaced]] and
    * the channel publisher ([[Channels]]). */
  def writePacedSlices(df: DataFrame, tsCol: String, slices: Int,
                       dir: String, dropCols: Seq[String] = Nil): Unit = {
    require(slices >= 1, s"paced replay needs at least one slice, got $slices")
    val withD = df.withColumn("__ts_d", col(tsCol).cast("double"))
    // no boundaries for one slice, nor for an empty (or all-null) frame
    val qs =
      if (slices == 1) Array.empty[Double]
      else withD.stat.approxQuantile(
        "__ts_d", (1 until slices).map(_.toDouble / slices).toArray, 0.0)
    commitSlices(
      withD.withColumn("__slice", sliceOf(col("__ts_d"), qs.toSeq))
        .drop("__ts_d").drop(dropCols: _*),
      slices, dir, s"paced replay requires a non-null $tsCol on every row")
  }

  /** Per-event-Δt slicing (the reference's simulate_session_stream.py:63-108
    * publish loop): one file commit per DISTINCT `tsCol` value, ascending,
    * so — opened with `maxFilesPerTrigger=1` — micro-batch k carries exactly
    * the events of the k-th timestamp. The reference sleeps each
    * inter-event gap before publishing; here the gap becomes commit order
    * (correctness is event-time processing, never arrival pacing). The
    * source is read twice: once to collect the times, once for the
    * commit's one write ([[commitSlices]]). Bounded: more than `maxTimes`
    * distinct times is refused (each is a micro-batch) — long spans belong
    * to quantile-slice pacing ([[writePacedSlices]]). Returns the commit
    * count. */
  def writePerEventSlices(df: DataFrame, tsCol: String, dir: String,
                          maxTimes: Int, dropCols: Seq[String] = Nil): Int = {
    val times = df.select(col(tsCol)).distinct().orderBy(col(tsCol))
      .limit(maxTimes + 1).collect().map(_.get(0))
    require(times.nonEmpty, "per-event replay of an empty frame")
    // fail fast, before anything is written: a null pace time cannot be
    // ordered (and would burn one of the maxTimes commit slots)
    require(!times.contains(null),
      s"per-event pacing requires a non-null $tsCol on every row")
    require(times.length <= maxTimes,
      s"per-event pacing supports at most $maxTimes distinct event times; " +
        "use speed-factor (quantile-slice) pacing for longer spans")
    // the k-th time is slice k: every time after the first is a boundary
    commitSlices(
      df.withColumn("__slice", sliceOf(col(tsCol), times.toSeq.drop(1))).drop(dropCols: _*),
      times.length, dir)
    times.length
  }

  /** [[writePerEventSlices]] into a scratch dir, reopened as a
    * one-commit-per-trigger stream; returns (stream, micro-batch count). */
  def replayPerEvent(spark: SparkSession, df: DataFrame, tsCol: String,
                     tag: String, maxTimes: Int = 96): (DataFrame, Int) = {
    val dir = tempDir(s"pevent_$tag")
    val n = writePerEventSlices(df, tsCol, dir, maxTimes)
    (spark.readStream
      .schema(df.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir), n)
  }

  /** Ordered multi-batch replay: commit each slice ([[commitSlices]],
    * modification-time order = slice order) so that, opened with
    * `maxFilesPerTrigger=1` via `openSlices`, slice k is exactly micro-batch
    * k. Callers append far-future sentinel slices as EOF/flush punctuation:
    * watermark-gated emissions (outer-join null rows, final append-mode
    * windows) need one batch that ADVANCES the watermark past the data's
    * tail and a later batch that EXECUTES under it — a live stream gets both
    * for free from continuing traffic, a bounded replay must punctuate.
    * Returns the dir; call `openSlices` once per required source instance
    * (twice for a self-join's two sides). */
  def writeSlices(slices: Seq[DataFrame], tag: String): String =
    replayCache.computeIfAbsent(slices.map(frameKey).mkString("+"), { _ =>
      val dir = tempDir(s"slices_$tag")
      commitSlices(
        slices.zipWithIndex.map { case (df, k) => df.withColumn("__slice", lit(k)) }
          .reduce(_.unionByName(_)),
        slices.length, dir)
      dir
    })

  def openSlices(spark: SparkSession, dir: String,
                 schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)

  /** State partitions for harness-scale streaming queries. Stateful
    * streaming fixes its shuffle-partition count into the checkpoint at the
    * first batch, and per-batch state-store overhead scales with it — the
    * fixed per-partition cost (store open/commit + delta files + listener
    * traffic) dominates at harness scale and does NOT parallelize away:
    * measured on the full 15-query streaming subset at sf0.1 (warm pass,
    * identical code), 2 parts → 22.0 s, 4 → 24.7 s, 8 → 26.5 s,
    * 16 → 71.8 s. Two partitions keep the multi-partition code path
    * (cross-partition key hashing) exercised. Batch queries keep the
    * session's setting; on a real cluster this is sized to state volume,
    * not taken from the batch default. */
  val StateParts: String = "2"

  /** Run a streaming frame to completion with a caller-supplied
    * `foreachBatch` body — the `toParquet`/`toUpsert` lifecycle
    * (AvailableNow trigger, bounded await, state-store unload) exposed for
    * pipelines that maintain their own cross-batch state tables (q45b's
    * seen-key set and packing offsets). `checkpoint`: pass a caller-owned
    * location to make the run RESUMABLE — a later call with the same
    * checkpoint continues from the committed source offsets with
    * continuing batch ids (the restart path a production streaming job
    * exercises on every redeploy); defaults to fresh one-shot scratch. */
  def runBatches(spark: SparkSession, sdf: DataFrame, tag: String,
                 flush: Boolean = true, checkpoint: Option[String] = None)(
                 f: (DataFrame, Long) => Unit): Unit =
    withStateParts(spark, flush) {
      val q = sdf.writeStream
        .queryName(queryName(tag))
        .foreachBatch(f)
        .option("checkpointLocation", checkpoint.getOrElse(tempDir(s"chk_$tag")))
        .trigger(Trigger.AvailableNow())
        .start()
      awaitAndUnload(q, tag)
    }

  /** Run `f` (a runner's query) on [[StateParts]] state partitions.
    * `flush`: whether the query's OUTPUT depends on trailing no-data
    * micro-batches. The bounded-replay flush design for watermark-gated
    * APPEND emission (q19d's outer-join null rows, q20*'s final windows)
    * RELIES on them: sentinel rows ride in the final data slice, its
    * end-of-batch watermark clears everything real, and the no-data
    * batch(es) AvailableNow keeps running while stateful operators have
    * pending work execute the evictions that EMIT those results — pinned
    * on, because turning it off would silently EMPTY those sinks.
    * Queries whose emission is EAGER (inner joins, dropDuplicates*,
    * update-mode aggregation, NoTimeout flatMapGroupsWithState) emit
    * everything during the data batches; their trailing no-data batch is a
    * pure state-eviction scan producing zero output rows (measured ~0.3–1 s
    * per stateful operator at sf0.1) — those pass `flush = false` and skip
    * it. Production streams keep the default: there, eviction IS the
    * mechanism that bounds state. */
  private def withStateParts[T](spark: SparkSession, flush: Boolean)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, StateParts)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", flush.toString)
    try f
    finally {
      spark.conf.set(key, old)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    }
  }

  /** Last EXECUTED micro-batch plan per tag, captured at termination: a
    * streaming frame explained before `start()` shows only source
    * placeholders — the incremental shapes that matter (stateful operators,
    * append-mode eviction, the stream-static join) exist only in the
    * micro-batch execution, so `graft.Explain` reads them from here after
    * running the query. Session-lifetime, last run wins. */
  private val lastPlans = scala.collection.concurrent.TrieMap.empty[String, String]

  def lastStreamingPlan(tag: String): Option[String] = lastPlans.get(tag)

  /** Await a started query with a bounded wait (a wedged stream must fail
    * the one query, not hang the whole verification round), then unload the
    * terminated query's state-store providers — in a `finally`, so even a
    * timed-out/failed query can't leave completed-query state (session
    * windows, dedup maps) resident to degrade every later stateful query in
    * the same JVM. */
  private def awaitAndUnload(q: org.apache.spark.sql.streaming.StreamingQuery,
                             tag: String): Unit =
    try {
      if (!q.awaitTermination(10 * 60 * 1000L)) {
        q.stop()
        throw new IllegalStateException(s"streaming query $tag timed out")
      }
    } finally {
      // best-effort plan capture (q.explain() prints the last micro-batch's
      // physical plan; throws if no batch ever executed) before the state
      // stores unload
      try {
        val bos = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(bos, true, "UTF-8"))(q.explain())
        val p = bos.toString("UTF-8")
        if (p.nonEmpty) lastPlans.put(tag, p)
      } catch { case scala.util.control.NonFatal(_) => () }
      StateStore.stop()
    }

  /** Read a finished stream's sink dir back. An empty replay (zero
    * micro-batches, or batches that emitted no rows) leaves no data files,
    * and schema *inference* over an empty dir throws — so the read is
    * pinned to the stream's own schema, under which zero matched files is
    * simply an empty frame. */
  private def readSink(spark: SparkSession, out: String,
                       schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).parquet(out)

  /** Run an update-mode streaming frame into a KEYED parquet state table:
    * each micro-batch carries only the groups whose aggregate changed, and
    * `foreachBatch` merges them in by key — old rows for the batch's keys
    * are replaced (anti-join), everything else is carried forward — i.e.
    * MERGE INTO of a warehouse sink, the standard way Structured Streaming
    * maintains a keyed serving table. Each batch writes a NEW versioned dir
    * (never in-place over the dir it is reading), so a retried batch id
    * simply overwrites its own version — idempotent, preserving
    * exactly-once from the checkpointed source offsets. */
  def toUpsert(spark: SparkSession, sdf: DataFrame, keys: Seq[String],
               tag: String, flush: Boolean = true): DataFrame = {
    val base = tempDir(s"upsert_$tag")
    @volatile var current: Option[String] = None
    withStateParts(spark, flush) {
      val q = sdf.writeStream
        .queryName(queryName(tag))
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val ss = batch.sparkSession
          val merged = current match {
            case None => batch
            case Some(dir) =>
              ss.read.schema(sdf.schema).parquet(dir)
                .join(batch.select(keys.map(col): _*), keys, "left_anti")
                .unionByName(batch)
          }
          val v = s"$base/v$id"
          merged.write.mode("overwrite").parquet(v)
          current = Some(v)
        }
        .option("checkpointLocation", tempDir(s"chk_$tag"))
        .trigger(Trigger.AvailableNow())
        .start()
      awaitAndUnload(q, tag)
    }
    current match {
      case Some(dir) => spark.read.schema(sdf.schema).parquet(dir)
      case None => spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), sdf.schema)
    }
  }

  /** Run an append-mode streaming frame to a parquet sink (row-level
    * results too big for the driver) and read the sink back. `checkpoint`: pass a caller-owned location (e.g. a [[Channels]]
    * subscription's delivery cursor) so consumption is durable across runs;
    * defaults to a fresh scratch dir (one-shot replay semantics). */
  def toParquet(spark: SparkSession, sdf: DataFrame, tag: String,
                checkpoint: Option[String] = None,
                flush: Boolean = true): DataFrame = {
    val out = tempDir(s"sink_$tag")
    withStateParts(spark, flush) {
      val q = sdf.writeStream
        .queryName(queryName(tag))
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", checkpoint.getOrElse(tempDir(s"chk_$tag")))
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      awaitAndUnload(q, tag)
    }
    readSink(spark, out, sdf.schema)
  }

  /** Run an append-mode streaming frame on a REAL wall-clock trigger — the
    * reference demo's pacing behavior (simulate_session_stream.py:89-93
    * sleeps the inter-event gap; send_session_stream.py publishes one
    * simulated minute per real minute): micro-batches FIRE every
    * `intervalMs` of wall time instead of AvailableNow draining the backlog
    * as fast as it can. With the source slice-committed and opened at
    * `maxFilesPerTrigger=1`, each firing consumes exactly one publishing
    * minute of data. A ProcessingTime query never self-terminates, so the
    * run is bounded: poll progress until `expectBatches` NON-EMPTY batches
    * have fired (or `timeoutMs`, a flake bound for CI hosts — partial
    * progress is returned, never an exception), then stop and unload state.
    * Returns (sink frame, observed non-empty batch count). Correctness is
    * identical to [[toParquet]] — event-time semantics don't depend on
    * arrival pacing (SURVEY §3.2) — this mode exists because the demo
    * cadence itself is reference behavior a user may want to reproduce. */
  def toParquetWallclock(spark: SparkSession, sdf: DataFrame, tag: String,
                         intervalMs: Long, expectBatches: Int,
                         checkpoint: Option[String] = None,
                         timeoutMs: Long = 120000L): (DataFrame, Int) = {
    val out = tempDir(s"sink_$tag")
    var nonEmpty = 0
    withStateParts(spark, flush = false) {
      val q = sdf.writeStream
        .queryName(queryName(tag))
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", checkpoint.getOrElse(tempDir(s"chk_$tag")))
        .outputMode("append")
        .trigger(Trigger.ProcessingTime(intervalMs))
        .start()
      try {
        val deadline = System.nanoTime() + timeoutMs * 1000000L
        while (nonEmpty < expectBatches && System.nanoTime() < deadline) {
          Thread.sleep(math.max(20L, intervalMs / 4))
          nonEmpty = q.recentProgress.count(_.numInputRows > 0)
        }
      } finally {
        try q.stop() finally StateStore.stop()
      }
    }
    (readSink(spark, out, sdf.schema), nonEmpty)
  }
}
