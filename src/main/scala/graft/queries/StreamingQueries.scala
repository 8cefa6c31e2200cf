package graft.queries

import graft.sources.{Footers, Tables}
import graft.streaming.StreamRunner
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, TimeMode}

/** Q19–Q21 — streaming operators (SURVEY.md §2.9 T1–T7), run to completion
  * over a deterministic file-replay of the `events` table and compared
  * against batch SQL oracles (stream–batch parity: for a bounded in-order
  * replay the final streaming result must equal the batch computation).
  *
  * Scale notes: all stateful operators keep bounded per-key state (counts,
  * min/max timestamps, boolean flags) and rely on watermarks for eviction in
  * production; the replay harness runs with AvailableNow so results are
  * deterministic without wall-clock pacing (SURVEY.md §3.2).
  */
object StreamingQueries {

  /** Far-future sentinel rows over the `events` schema: flush punctuation
    * for watermark-gated append emission on a bounded replay (see q19d's
    * comment for why read-back filtering, not in-stream filtering, must
    * drop these). The sentinel rides IN THE SAME slice as the data: the
    * watermark computed at that batch's end is already past every real
    * window/row, and the no-data micro-batch that AvailableNow runs after
    * the last data batch (`noDataMicroBatches`, pinned on by StreamRunner)
    * executes under it — evicting and emitting everything real. One data
    * batch total, where the earlier two-staggered-sentinel-slices design
    * paid three (the second sentinel did exactly what the no-data batch
    * does). `days` remains for callers needing a specific offset. */
  private def eventsFlush(s: org.apache.spark.sql.SparkSession,
                          maxTs: java.sql.Timestamp,
                          days: Int): org.apache.spark.sql.DataFrame =
    s.range(1).select(
      lit(-days.toLong).as("event_id"),
      (lit(maxTs) + expr(s"INTERVAL $days DAYS")).as("ts"),
      lit(-1L).as("user_id"), lit("__flush").as("event_type"),
      lit(0.0).as("value"), lit(null).cast("string").as("props"))

  /** max(ts) of the events table, once per (session, dir, data state):
    * five sentinel-flush streams (q19d, q20, q20b, q20c, q20d) anchor
    * their far-future sentinels on the same scalar, and each `agg(max)`
    * is a full-table driver action — cached so a suite pass pays one
    * scan, not five (same pattern as SimilarityQueries' guardCount). The
    * key includes a file-level signature of the source: a stale maxTs
    * after in-session data regeneration would anchor the sentinels BEFORE
    * the new data's tail (watermark never passes it → final windows /
    * outer null rows silently missing) AND keep the writeSlices replay
    * key identical, silently replaying the old slice dir. */
  private val maxTsCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.sql.Timestamp]()
  private def maxEventTs(s: org.apache.spark.sql.SparkSession,
                         dir: String): java.sql.Timestamp =
    maxTsCache.computeIfAbsent(Footers.cacheKey(s, s"$dir/events.parquet"),
      _ => Tables.events(s, dir).agg(max(col("ts"))).head().getTimestamp(0))

  val defs: Seq[QueryDef] = Seq(
    // T1-T3/Q19 — unbounded ingest + stateless per-event transform + append
    // sink (the reference's Beam pipeline, write_session_stream.py:100-113,
    // as readStream → select → parquet sink).
    QueryDef(
      "q19_stream_pipeline",
      """SELECT event_id, event_type,
        |CAST(value AS DOUBLE) AS price,
        |CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour
        |FROM events WHERE event_type <> 'error'
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val stream = StreamRunner.replay(s, Tables.events(s, dir), "q19")
        .filter(col("event_type") =!= "error")
        .select(
          col("event_id"), col("event_type"),
          col("value").cast("double").as("price"),
          hour(col("ts")).as("hour"))
      StreamRunner.toParquet(s, stream, "q19").orderBy("event_id")
    },

    // T2+/Q19b — stream-static enrichment join: the event stream joins a
    // bounded dimension (nation, 25 rows — broadcast) per micro-batch. The
    // standard enrichment shape at scale: dim broadcast to executors, no
    // stream-side state.
    QueryDef(
      "q19b_stream_enrich",
      """SELECT e.event_id, e.user_id, n.n_name AS region_name
        |FROM events e JOIN nation n ON n.n_nationkey = e.user_id % 25
        |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
      val dim = Tables.nation(s, dir)
      val stream = StreamRunner.replay(s, Tables.events(s, dir), "q19b")
        .withColumn("nk", col("user_id") % 25)
        .join(broadcast(dim), col("nk") === col("n_nationkey"))
        .select(col("event_id"), col("user_id"), col("n_name").as("region_name"))
      StreamRunner.toParquet(s, stream, "q19b").orderBy("event_id")
    },

    // T5+/Q19c — stream-stream interval join: views ⋈ purchases per user
    // within 1 hour, both sides watermarked so join state is evicted once
    // the watermark passes the interval (bounded state). Inner joins emit
    // eagerly, so the bounded replay equals the batch interval join.
    QueryDef(
      "q19c_stream_interval_join",
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
        |  (epoch_us(p.ts) - epoch_us(v.ts)) // 1000000 AS gap_s
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id AND v.event_type = 'view'
        |  AND p.event_type = 'purchase'
        |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY view_id, purchase_id""".stripMargin) { (s, dir) =>
      val src = Tables.events(s, dir)
      val views = StreamRunner.replay(s, src, "q19c")
        .filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
        .withWatermark("vts", "1 hour")
      val purchases = StreamRunner.replay(s, src, "q19c")
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("pts"))
        .withWatermark("pts", "1 hour")
      val joined = views.join(purchases,
        col("user_id") === col("p_user") &&
          col("pts") >= col("vts") &&
          col("pts") <= col("vts") + expr("INTERVAL 1 HOUR"))
        .select(
          col("view_id"), col("purchase_id"), col("user_id"),
          floor((unix_micros(col("pts")) - unix_micros(col("vts"))) / 1000000)
            .as("gap_s"))
      StreamRunner.toParquet(s, joined, "q19c", flush = false)
        .orderBy("view_id", "purchase_id")
    },

    // T5+/Q19d — stream-stream LEFT OUTER interval join: every view, with
    // its purchases in the following hour, or a null-extended row once the
    // watermark proves no purchase can still arrive. The outer side is the
    // part q19c can't express — null rows are emitted by state EVICTION, so
    // the bounded replay needs flush punctuation: far-future sentinel rows
    // (one per side, so BOTH streams' watermarks — the global watermark is
    // their min — move past the data) ride in the single data slice; the
    // end-of-batch watermark then clears every real view, and the trailing
    // no-data micro-batch evicts and null-emits every unmatched one. In
    // production a live stream's own traffic advances the watermark; the
    // sentinel is the bounded stand-in (same role as Flink's end-of-input
    // watermark). Sentinel rows use user_id = -1 and are dropped from the
    // BATCH read-back of the sink, NOT by an in-stream filter: Catalyst
    // pushes a post-join `user_id >= 0` through the outer join and the
    // watermark node into the parquet scan, which silently drops the
    // watermark-driving sentinel rows at the source (observed: per-source
    // offsets advanced, numInputRows 0, watermark pinned at maxTs - 1h,
    // tail null rows never emitted).
    // State is bounded: both sides evict at watermark + 1 h interval.
    QueryDef(
      "q19d_stream_outer_join",
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
        |  (epoch_us(p.ts) - epoch_us(v.ts)) // 1000000 AS gap_s
        |FROM events v LEFT JOIN events p
        |  ON v.user_id = p.user_id AND p.event_type = 'purchase'
        |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |WHERE v.event_type = 'view'
        |ORDER BY view_id, purchase_id""".stripMargin) { (s, dir) =>
      val src = Tables.events(s, dir)
      val maxTs = maxEventTs(s, dir)
      // one 'view' + one 'purchase' sentinel, in-slice (see the QueryDef
      // comment above): the data batch's END-of-batch watermark clears the
      // tail, the no-data micro-batch executes the evictions under it
      def flush(days: Int): org.apache.spark.sql.DataFrame =
        s.range(1)
          .select(explode(array(lit("view"), lit("purchase"))).as("event_type"))
          .select(
            lit(-days.toLong).as("event_id"),
            (lit(maxTs) + expr(s"INTERVAL $days DAYS")).as("ts"),
            lit(-1L).as("user_id"), col("event_type"),
            lit(0.0).as("value"), lit(null).cast("string").as("props"))
      val sliceDir =
        StreamRunner.writeSlices(Seq(src.unionByName(flush(1))), "q19d")
      val views = StreamRunner.openSlices(s, sliceDir, src.schema)
        .filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
        .withWatermark("vts", "1 hour")
      val purchases = StreamRunner.openSlices(s, sliceDir, src.schema)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("pts"))
        .withWatermark("pts", "1 hour")
      val joined = views.join(purchases,
        col("user_id") === col("p_user") &&
          col("pts") >= col("vts") &&
          col("pts") <= col("vts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
        .select(
          col("view_id"), col("purchase_id"), col("user_id"),
          floor((unix_micros(col("pts")) - unix_micros(col("vts"))) / 1000000)
            .as("gap_s"))
      StreamRunner.toParquet(s, joined, "q19d")
        .filter(col("user_id") >= 0)
        .orderBy("view_id", "purchase_id")
    },

    // T3+/Q19e — update-mode aggregation into an UPSERT (MERGE) sink: the
    // keyed serving table a streaming warehouse maintains. Each micro-batch
    // emits only the groups whose running aggregate changed; foreachBatch
    // merges them by key into a versioned parquet state
    // (`StreamRunner.toUpsert`) — replace-by-key, carry the rest — so the
    // final table equals the batch aggregate however the input was sliced.
    // Replayed as 3 deterministic slices so several distinct upsert rounds
    // actually execute (AvailableNow over one file would be a single
    // trivial merge). Exact-decimal sums keep the totals engine-identical.
    QueryDef(
      "q19e_stream_upsert",
      s"""SELECT event_type, COUNT(*) AS cnt, ${Det.sqlSum("value")} AS value_sum
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val src = Tables.events(s, dir)
      val sliceDir = StreamRunner.writeSlices(
        (0 until 3).map(k => src.filter(col("event_id") % 3 === k)), "q19e")
      val stream = StreamRunner.openSlices(s, sliceDir, src.schema)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), Det.dsum(col("value")).as("value_sum"))
      StreamRunner.toUpsert(s, stream, Seq("event_type"), "q19e", flush = false)
        .orderBy("event_type")
    },

    // T5/Q20 — watermark + tumbling event-time window counts, APPEND mode:
    // each window is emitted exactly once, when the watermark passes its
    // end and its state is EVICTED — the bounded-state production shape (a
    // complete-mode snapshot would keep every window's state forever and
    // rewrite the full result each micro-batch). The bounded replay gets
    // its end-of-input flush from a far-future sentinel riding in the data
    // slice + the trailing no-data micro-batch (see eventsFlush), dropped
    // in the batch read-back. The one slice is SHARED with q20b/q20c/q20d
    // (identical construction → one materialization per suite pass).
    QueryDef(
      "q20_tumbling_window",
      """SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin) { (s, dir) =>
      val src = Tables.events(s, dir)
      val maxTs = maxEventTs(s, dir)
      val sliceDir = StreamRunner.writeSlices(
        Seq(src.unionByName(eventsFlush(s, maxTs, 1))), "q20")
      val stream = StreamRunner.openSlices(s, sliceDir, src.schema)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      StreamRunner.toParquet(s, stream, "q20")
        .filter(col("event_type") =!= "__flush")
        .select(col("window.start").as("ws"), col("event_type"), col("cnt"))
        .orderBy("ws", "event_type")
    },

    // T5+++/Q20d — CHAINED stateful aggregations in one streaming query
    // (Spark 4 multiple-stateful-operator support): a 15-minute tumbling
    // pre-aggregate re-aggregated to hourly via window(window_time(...)).
    // This is the streaming rollup pattern — the fine windows are the
    // serving table, the coarse ones derive from their EMISSIONS without
    // a second pipeline or a re-scan. Chained aggs require append mode
    // (complete would have let the bounded replay skip the flush problem),
    // so the replay carries an in-slice far-future sentinel; the trailing
    // no-data micro-batches (AvailableNow keeps running them while any
    // stateful operator still has evictions pending under the advanced
    // watermark) cascade the 15-min flush through the hourly state.
    // Sentinels are dropped from the BATCH read-back, not in-stream (the
    // q19d pushdown hazard: a source-pushed filter would drop the
    // watermark-driving rows).
    QueryDef(
      "q20d_chained_windows",
      """SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin) { (s, dir) =>
      val src = Tables.events(s, dir)
      val maxTs = maxEventTs(s, dir)
      val sliceDir = StreamRunner.writeSlices(
        Seq(src.unionByName(eventsFlush(s, maxTs, 1))), "q20d")
      val stream = StreamRunner.openSlices(s, sliceDir, src.schema)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("c15"))
        .groupBy(window(window_time(col("window")), "1 hour"), col("event_type"))
        .agg(sum(col("c15")).as("cnt"))
      StreamRunner.toParquet(s, stream, "q20d")
        .filter(col("event_type") =!= "__flush")
        .select(col("window.start").as("ws"), col("event_type"), col("cnt"))
        .orderBy("ws", "event_type")
    },

    // T6/Q20b — session windows (30-minute gap) per user: the streaming
    // native form of the reference's `user_session` concept
    // (write_session_batch.py:159). Oracle = gaps-and-islands in SQL.
    // APPEND mode: a session is emitted once, when the watermark proves no
    // event can still extend it, and its state is evicted — per-user open
    // sessions are the only state (bounded), vs complete mode's
    // all-sessions-forever snapshot. An in-slice sentinel + the no-data
    // micro-batch flush the tail; the sentinel's own user_id = -1 session
    // is dropped in the read-back.
    QueryDef(
      "q20b_session_window",
      """WITH o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS st
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(st) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      val src = Tables.events(s, dir)
      val maxTs = maxEventTs(s, dir)
      val sliceDir = StreamRunner.writeSlices(
        Seq(src.unionByName(eventsFlush(s, maxTs, 1))), "q20b")
      val stream = StreamRunner.openSlices(s, sliceDir, src.schema)
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      StreamRunner.toParquet(s, stream, "q20b")
        .filter(col("user_id") >= 0)
        .select(
          col("user_id"),
          col("session_window.start").as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // T6/Q20c — sliding event-time windows (1 hour every 15 minutes) with a
    // 10-minute watermark: each event lands in exactly 4 overlapping windows
    // (60/15), the overlapping-rate-metric shape. APPEND mode with
    // watermark eviction + sentinel flush (same migration as Q20; state is
    // only the open windows, ≤ 4 slides deep). Oracle: a sliding window is
    // SQL-expressible by fanning each event out to its 4 covering window
    // starts (floor-to-15-min minus k slides, k = 0..3) — every covering
    // start w satisfies w <= ts < w + 1h by construction.
    QueryDef(
      "q20c_sliding_window",
      """WITH w AS (
        |  SELECT date_trunc('minute', ts)
        |      - to_minutes(CAST(EXTRACT(minute FROM ts) AS BIGINT) % 15)
        |      - to_minutes(15 * k) AS ws,
        |    event_type
        |  FROM events, (SELECT unnest(generate_series(0, 3)) AS k))
        |SELECT ws, event_type, COUNT(*) AS cnt
        |FROM w GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin) { (s, dir) =>
      val src = Tables.events(s, dir)
      val maxTs = maxEventTs(s, dir)
      val sliceDir = StreamRunner.writeSlices(
        Seq(src.unionByName(eventsFlush(s, maxTs, 1))), "q20c")
      val stream = StreamRunner.openSlices(s, sliceDir, src.schema)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      StreamRunner.toParquet(s, stream, "q20c")
        .filter(col("event_type") =!= "__flush")
        .select(col("window.start").as("ws"), col("event_type"), col("cnt"))
        .orderBy("ws", "event_type")
    },

    // T7/Q21 — stateful streaming dedup: first occurrence of each
    // (user_id, event_type); append-mode state-backed distinct.
    QueryDef(
      "q21_stream_distinct",
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      val stream = StreamRunner.replay(s, Tables.events(s, dir), "q21")
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
      StreamRunner.toParquet(s, stream, "q21", flush = false)
        .orderBy("user_id", "event_type")
    },

    // T7/Q21c — watermark-scoped streaming dedup: the input is replayed
    // twice (every event is an exact duplicate), and
    // dropDuplicatesWithinWatermark keeps one copy per event_id while its
    // state is evicted once the watermark passes — the bounded-state dedup
    // for unbounded streams (plain dropDuplicates state grows forever).
    // Duplicates here arrive within the watermark, so the result equals
    // batch DISTINCT.
    QueryDef(
      "q21c_stream_dedup_watermark",
      """SELECT DISTINCT event_id, user_id, event_type FROM events
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val doubled = Tables.events(s, dir).select("event_id", "user_id", "event_type", "ts")
      val stream = StreamRunner
        .replay(s, doubled.union(doubled), "q21c")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("user_id"), col("event_type"))
      StreamRunner.toParquet(s, stream, "q21c", flush = false).orderBy("event_id")
    },

    // T7+X1/Q29 — streaming exact dedup WITH canonical-id attribution: the
    // incremental-corpus-ingestion operator. Each arriving document is
    // keyed by its content hash; per-hash state holds the canonical (first)
    // doc_id, and every doc is emitted with its `dup_of` attribution — what
    // a training pipeline needs to build dedup maps, not just drop rows
    // (plain dropDuplicates loses the attribution). State is one long per
    // distinct content hash; in production the same operator runs with a
    // watermark TTL. Single-batch replay + in-group sort makes canonical =
    // min doc_id, matching the batch oracle exactly.
    QueryDef(
      "q29_stream_dedup_attribution",
      """WITH h AS (SELECT doc_id, sha256(lower(trim(text))) AS sha FROM documents),
        |c AS (SELECT sha, MIN(doc_id) AS canon FROM h GROUP BY sha)
        |SELECT h.doc_id, c.canon AS dup_of, (h.doc_id <> c.canon) AS is_dup
        |FROM h JOIN c ON h.sha = c.sha ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), sha2(lower(trim(col("text"))), 256).as("sha"))
      val stream = StreamRunner.replay(s, docs, "q29", singleFile = true)
        .as[(Long, String)]
        .groupByKey(_._2)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (_: String, rows: Iterator[(Long, String)], state: GroupState[Long]) =>
            val ids = rows.map(_._1).toArray.sorted
            val canon = state.getOption.fold(ids.head)(c => math.min(c, ids.head))
            state.update(canon)
            ids.iterator.map(id => (id, canon, id != canon))
        }
        .toDF("doc_id", "dup_of", "is_dup")
      StreamRunner.toParquet(s, stream, "q29", flush = false).orderBy("doc_id")
    },

    // X1+/Q29b — the same dedup-attribution semantics on the Spark 4.x
    // `transformWithState` API (typed ValueState per content hash, RocksDB
    // state store — the API requires it, and it is the 100 TB state
    // backend). Same batch oracle as q29: the legacy and modern stateful
    // APIs must agree exactly.
    QueryDef(
      "q29b_stream_dedup_tws",
      """WITH h AS (SELECT doc_id, sha256(lower(trim(text))) AS sha FROM documents),
        |c AS (SELECT sha, MIN(doc_id) AS canon FROM h GROUP BY sha)
        |SELECT h.doc_id, c.canon AS dup_of, (h.doc_id <> c.canon) AS is_dup
        |FROM h JOIN c ON h.sha = c.sha ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), sha2(lower(trim(col("text"))), 256).as("sha"))
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val stream = StreamRunner.replay(s, docs, "q29b", singleFile = true)
          .as[(Long, String)]
          .groupByKey(_._2)
          .transformWithState(
            new graft.streaming.DedupAttributionProcessor,
            TimeMode.None(), OutputMode.Append())
          .toDF("doc_id", "dup_of", "is_dup")
        StreamRunner.toParquet(s, stream, "q29b", flush = false).orderBy("doc_id")
      } finally {
        prev.fold(s.conf.unset(key))(v => s.conf.set(key, v))
        // unload the RocksDB providers so later queries get default state
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      }
    },

    // T7/Q21b — per-user funnel state machine via flatMapGroupsWithState:
    // earliest view and earliest purchase per user, emitted once both exist.
    // Replayed as a single micro-batch (singleFile) so emission matches the
    // batch oracle exactly; in production the same operator runs with a
    // watermark-driven state TTL.
    QueryDef(
      "q21b_funnel_state",
      """WITH f AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        |  FROM events GROUP BY user_id)
        |SELECT user_id, first_view, first_purchase,
        |  (epoch_us(first_purchase) - epoch_us(first_view)) // 1000000 AS latency_s
        |FROM f
        |WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        |  AND first_purchase >= first_view
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import java.sql.Timestamp
      val stream = StreamRunner
        .replay(s, Tables.events(s, dir), "q21b", singleFile = true)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_type"), col("ts"))
        .as[(Long, String, Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (user: Long, rows: Iterator[(Long, String, Timestamp)],
           state: GroupState[(Option[Long], Option[Long])]) =>
            var (view, purchase) = state.getOption.getOrElse((None: Option[Long], None: Option[Long]))
            rows.foreach { case (_, t, ts) =>
              val micros = ts.getTime / 1000 * 1000000 + ts.getNanos / 1000
              if (t == "view" && view.forall(_ > micros)) view = Some(micros)
              if (t == "purchase" && purchase.forall(_ > micros)) purchase = Some(micros)
            }
            state.update((view, purchase))
            (view, purchase) match {
              case (Some(v), Some(p)) if p >= v => Iterator((user, v, p, (p - v) / 1000000))
              case _ => Iterator.empty
            }
        }
        .toDF("user_id", "fv", "fp", "latency_s")
        .select(
          col("user_id"),
          timestamp_micros(col("fv")).as("first_view"),
          timestamp_micros(col("fp")).as("first_purchase"),
          col("latency_s"))
      StreamRunner.toParquet(s, stream, "q21b", flush = false).orderBy("user_id")
    }
  )
}
