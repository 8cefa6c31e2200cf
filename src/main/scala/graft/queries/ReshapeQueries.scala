package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Q08c / Q30–Q31b / Q37 — relational reshaping + profiling operators:
  * GROUPING SETS, PIVOT (long→wide), UNPIVOT (wide→long), fixed-bin and
  * equi-depth histograms, and single-pass column profiling.
  *
  * Scale notes: pivot with an explicit value list is ONE hash aggregation
  * (no shuffle per output column, and no driver-side distinct-value scan —
  * always pass the list at 100 TB); unpivot is a narrow Expand (rows × k,
  * no shuffle); grouping sets is one Expand + one hash aggregate, same as
  * rollup/cube; the histogram computes its global extent as a 1-row
  * aggregate broadcast back onto the scan, so binning rides the scan and
  * the only shuffle carries (event_type, bin) partial counts.
  */
object ReshapeQueries {

  /** The pivot value list, fixed in both engines: an explicit list keeps
    * the plan static (Spark would otherwise run a distinct-value job on the
    * driver) and keeps the output schema identical across engines. */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  val defs: Seq[QueryDef] = Seq(
    // A6+/Q08c — explicit GROUPING SETS ((date), (event_type), ()): the
    // general form of rollup/cube (q08/q08b) — exactly the requested
    // combinations, one Expand + one hash aggregate, no second scan.
    QueryDef(
      "q08c_grouping_sets",
      s"""SELECT CAST(ts AS DATE) AS date, event_type,
         |CAST(GROUPING(CAST(ts AS DATE)) AS INTEGER) AS g_date,
         |CAST(GROUPING(event_type) AS INTEGER) AS g_type,
         |COUNT(*) AS cnt, ${Det.sqlSum("value")} AS val_sum
         |FROM events GROUP BY GROUPING SETS ((date), (event_type), ())
         |ORDER BY g_date, g_type, date NULLS FIRST, event_type NULLS FIRST""".stripMargin) {
      (s, dir) =>
        Tables.events(s, dir)
          .withColumn("date", to_date(col("ts")))
          .groupingSets(
            Seq(Seq(col("date")), Seq(col("event_type")), Seq()),
            col("date"), col("event_type"))
          .agg(
            grouping(col("date")).cast("int").as("g_date"),
            grouping(col("event_type")).cast("int").as("g_type"),
            count(lit(1)).as("cnt"),
            Det.dsum(col("value")).as("val_sum"))
          .select(col("date"), col("event_type"), col("g_date"), col("g_type"),
            col("cnt"), col("val_sum"))
          .orderBy(col("g_date"), col("g_type"),
            col("date").asc_nulls_first, col("event_type").asc_nulls_first)
    },

    // Q30 — PIVOT: daily event-type matrix, one row per day with one count
    // column per event type. Missing (day, type) cells are zero-filled so
    // the wide frame is total (and so q30b's round trip is well-defined).
    QueryDef(
      "q30_pivot_event_matrix",
      s"""SELECT CAST(ts AS DATE) AS date,
         |${EventTypes.map(t => s"COUNT(*) FILTER (WHERE event_type = '$t') AS n_$t").mkString(", ")}
         |FROM events GROUP BY date ORDER BY date""".stripMargin) { (s, dir) =>
      val wide = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("date"))
        .pivot("event_type", EventTypes)
        .agg(count(lit(1)))
      wide.select(
        col("date") +: EventTypes.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
        .orderBy("date")
    },

    // Q30b — UNPIVOT (melt): the q30 wide matrix back to long
    // (date, event_type, cnt). Distinct from a plain groupBy count: the
    // zero cells pivot materialized survive the round trip, so the long
    // form is a dense day × type grid.
    QueryDef(
      "q30b_unpivot_event_matrix",
      s"""WITH c AS (SELECT CAST(ts AS DATE) AS date, event_type, COUNT(*) AS cnt
         |           FROM events GROUP BY 1, 2),
         |d AS (SELECT DISTINCT CAST(ts AS DATE) AS date FROM events),
         |t AS (SELECT unnest([${EventTypes.map(t => s"'$t'").mkString(", ")}]) AS event_type)
         |SELECT d.date, t.event_type, COALESCE(c.cnt, 0) AS cnt
         |FROM d CROSS JOIN t
         |LEFT JOIN c ON c.date = d.date AND c.event_type = t.event_type
         |ORDER BY d.date, t.event_type""".stripMargin) { (s, dir) =>
      val wide = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("date"))
        .pivot("event_type", EventTypes)
        .agg(count(lit(1)))
        .select(
          col("date") +: EventTypes.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      wide.unpivot(
          Array(col("date")),
          EventTypes.map(t => col(s"n_$t")).toArray,
          "event_type", "cnt")
        // unpivot's variable column carries the source column NAMES — strip
        // the n_ prefix back to the event-type value
        .withColumn("event_type", expr("substring(event_type, 3)"))
        .orderBy("date", "event_type")
    },

    // Q31 — fixed-bin histogram: 20 equal-width bins of `value` per event
    // type over the GLOBAL [min, max]. The extent is a 1-row aggregate
    // broadcast-joined back onto the scan (no second pass over sorted data,
    // no driver round trip in the plan); bin arithmetic is identical double
    // IEEE ops in both engines, so bounds hash-match without tolerance.
    QueryDef(
      "q31_value_histogram",
      """WITH mm AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
        |b AS (SELECT event_type,
        |  CAST(least(floor((value - lo) * 20.0 / (hi - lo)), 19.0) AS BIGINT) AS bin,
        |  lo, hi FROM events CROSS JOIN mm)
        |SELECT event_type, bin,
        |round(lo + CAST(bin AS DOUBLE) * (hi - lo) / 20.0, 6) AS bin_lo,
        |round(lo + (CAST(bin AS DOUBLE) + 1.0) * (hi - lo) / 20.0, 6) AS bin_hi,
        |COUNT(*) AS cnt
        |FROM b GROUP BY event_type, bin, lo, hi
        |ORDER BY event_type, bin""".stripMargin) { (s, dir) =>
      val events = Tables.events(s, dir)
      val mm = events.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      events.crossJoin(broadcast(mm))
        .withColumn("bin",
          least(floor((col("value") - col("lo")) * 20.0 / (col("hi") - col("lo"))),
            lit(19.0)).cast("long"))
        .groupBy(col("event_type"), col("bin"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          col("event_type"), col("bin"),
          round(col("lo") + col("bin").cast("double") * (col("hi") - col("lo")) / 20.0, 6)
            .as("bin_lo"),
          round(col("lo") + (col("bin").cast("double") + 1.0) * (col("hi") - col("lo")) / 20.0, 6)
            .as("bin_hi"),
          col("cnt"))
        .orderBy("event_type", "bin")
    },

    // Q31b — equi-DEPTH histogram (decile buckets): cutoffs are the 9 exact
    // inner percentiles — a 1-row aggregate broadcast onto the scan, like
    // q31's extent — and each value's bucket is 1 + #cutoffs strictly
    // below it, computed as a sum of comparisons that rides the scan.
    // Exact `percentile` ≡ DuckDB `quantile_cont` (the q27 parity result);
    // cutoffs land strictly between adjacent data values (or exactly on a
    // shared one), so bucket assignment is stable cross-engine. At 100 TB
    // the cutoff source swaps to `approx_percentile` (q27b) — same plan,
    // sketch-bounded memory.
    QueryDef(
      "q31b_equidepth_histogram",
      s"""WITH c AS (SELECT ${(1 to 9).map(i => s"quantile_cont(value, 0.${i}) AS c$i").mkString(", ")}
         |           FROM events)
         |SELECT 1 + ${(1 to 9).map(i => s"(CASE WHEN value > c$i THEN 1 ELSE 0 END)").mkString(" + ")} AS bucket,
         |  COUNT(*) AS n, round(MIN(value), 6) AS lo, round(MAX(value), 6) AS hi
         |FROM events CROSS JOIN c
         |GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      val events = Tables.events(s, dir)
      val cuts = events.agg(
        expr("percentile(value, 0.1)").as("c1"),
        (2 to 9).map(i => expr(s"percentile(value, 0.$i)").as(s"c$i")): _*)
      events.crossJoin(broadcast(cuts))
        .withColumn("bucket",
          (1 to 9).map(i => when(col("value") > col(s"c$i"), 1).otherwise(0))
            .reduce(_ + _) + 1)
        .groupBy(col("bucket"))
        .agg(
          count(lit(1)).as("n"),
          round(min(col("value")), 6).as("lo"),
          round(max(col("value")), 6).as("hi"))
        .orderBy("bucket")
    },

    // Q31c — the 100 TB equi-depth histogram: cutoffs from
    // `approx_percentile` (mergeable bounded-memory sketch riding one scan;
    // q31b's exact `percentile` materializes every group's values — the
    // named swap in q31b's comment, now executed under the oracle). Sketch
    // cutoffs are engine-specific, so the cross-engine contract anchors on
    // what IS exact — the row total and the global extent — plus a
    // per-bucket `depth_ok` flag asserting the equi-depth property the
    // cutoffs exist to deliver: each decile bucket holds n/10 rows within
    // 2% of n (+1 absolute for tiny fixtures) — two orders of magnitude
    // looser than the sketch's rank-error bound of n/accuracy = n/10000 per
    // cutoff, yet tight enough that a broken sketch (or a wrong bucket
    // assignment) floods a bucket and flips the flag. The bucket frame is a
    // 10-row range left-join so a pathologically empty bucket still
    // surfaces as a row (with a FALSE flag) instead of vanishing from the
    // compare. Plan shape: two 1-row aggregates broadcast onto the scan —
    // no Expand, no global sort of data (the final ORDER BY sorts 10 rows).
    QueryDef(
      "q31c_approx_equidepth",
      """WITH t AS (SELECT COUNT(*) AS n_rows, round(MIN(value), 6) AS lo_global,
        |                  round(MAX(value), 6) AS hi_global FROM events)
        |SELECT g.g AS bucket, n_rows, lo_global, hi_global, TRUE AS depth_ok
        |FROM generate_series(1, 10) g(g) CROSS JOIN t
        |ORDER BY bucket""".stripMargin) { (s, dir) =>
      val events = Tables.events(s, dir)
      // ONE global aggregate carries the sketch cutoffs AND the
      // count/min/max totals, and the SAME 1-row frame broadcasts into
      // both consumers (identical broadcast plans → ReuseExchange dedups
      // the build): two corpus scans total where cutoffs/totals/buckets
      // as three separate aggs cost three — a full redundant fact-table
      // read per run at the scale this query exists for
      val stats = events.agg(
        expr(s"approx_percentile(value, array(${(1 to 9).map(i => s"0.$i").mkString(",")}), 10000)")
          .as("c"),
        count(lit(1)).as("n_rows"),
        round(min(col("value")), 6).as("lo_global"),
        round(max(col("value")), 6).as("hi_global"))
      val counted = events.crossJoin(broadcast(stats))
        .withColumn("bucket",
          ((1 to 9).map(i => when(col("value") > element_at(col("c"), i), 1).otherwise(0))
            .reduce(_ + _) + 1).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"))
      s.range(1, 11).select(col("id").as("bucket"))
        .join(broadcast(counted), Seq("bucket"), "left")
        .na.fill(0, Seq("cnt"))
        .crossJoin(broadcast(stats))
        .select(
          col("bucket"), col("n_rows"), col("lo_global"), col("hi_global"),
          (abs(col("cnt") - col("n_rows") / 10.0) <= col("n_rows") * 0.02 + 1.0)
            .as("depth_ok"))
        .orderBy("bucket")
    },

    // Q37 — column profiling (the data-quality pass a pipeline runs before
    // training ingest): per column — row count, null count, distinct
    // count, formatted min/max, exploded from 1-row aggregates into the
    // long per-column form (the explode is driver-cheap: 6 rows from 1).
    // The distinct counts and the count/min/max battery run as TWO
    // separate aggregations cross-joined as 1-row sides: a single
    // combined agg would drag all 19 non-distinct aggregate inputs
    // through the multi-distinct Expand — every input row replicated
    // ×(k+1) at full width — measured 5× slower (2.14 s vs 0.43 s warm at
    // sf0.1, BASELINE.md round 7) than the split, which keeps the Expand
    // over only the 6 distinct columns and the wide battery Expand-free.
    // Multi-column exact DISTINCT still expands the scan ×k — acceptable
    // for a profile job; the 100 TB variant swaps `approx_count_distinct`
    // (q06b's HLL path) into the same plan and the Expand disappears.
    // Formatting is printf-style on both engines (C-style %.6f is
    // correctly rounded from the same IEEE double in both), timestamps
    // through an explicit second-precision pattern, so min/max hash-match
    // as strings.
    QueryDef(
      "q37_column_profile",
      {
        val profSql = Seq(
          ("event_id", "CAST(MIN(event_id) AS VARCHAR)", "CAST(MAX(event_id) AS VARCHAR)"),
          ("event_type", "MIN(event_type)", "MAX(event_type)"),
          ("props", "MIN(props)", "MAX(props)"),
          ("ts", "strftime(MIN(ts), '%Y-%m-%d %H:%M:%S')", "strftime(MAX(ts), '%Y-%m-%d %H:%M:%S')"),
          ("user_id", "CAST(MIN(user_id) AS VARCHAR)", "CAST(MAX(user_id) AS VARCHAR)"),
          ("value", "printf('%.6f', MIN(value))", "printf('%.6f', MAX(value))"))
        profSql.map { case (c, mn, mx) =>
          s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
             |  COUNT(*) - COUNT($c) AS n_nulls, COUNT(DISTINCT $c) AS n_distinct,
             |  $mn AS min_s, $mx AS max_s FROM events""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
      }) { (s, dir) =>
      val prof = Seq[(String, Column => Column)](
        ("event_id", _.cast("string")),
        ("event_type", identity),
        ("props", identity),
        ("ts", date_format(_, "yyyy-MM-dd HH:mm:ss")),
        ("user_id", _.cast("string")),
        ("value", v => format_string("%.6f", v)))
      val ev = Tables.events(s, dir)
      val distincts = ev.agg(
        countDistinct(col(prof.head._1)).as(s"nd_${prof.head._1}"),
        prof.tail.map { case (c, _) => countDistinct(col(c)).as(s"nd_$c") }: _*)
      val battery = ev.agg(
        count(lit(1)).as("n_rows"),
        prof.flatMap { case (c, fmt) =>
          Seq(
            count(col(c)).as(s"nn_$c"),
            fmt(min(col(c))).as(s"mn_$c"),
            fmt(max(col(c))).as(s"mx_$c"))
        }: _*)
      distincts.crossJoin(battery)
        .select(explode(array(prof.map { case (c, _) =>
          struct(
            lit(c).as("col_name"),
            col("n_rows"),
            (col("n_rows") - col(s"nn_$c")).as("n_nulls"),
            col(s"nd_$c").as("n_distinct"),
            col(s"mn_$c").as("min_s"),
            col(s"mx_$c").as("max_s"))
        }: _*)).as("p"))
        .select(col("p.*"))
        .orderBy("col_name")
    },

    // Q37b — the 100 TB column profile: the `approx_count_distinct` swap
    // named in q37's comment, executed under the oracle. The profile proper
    // is ONE aggregation — count/null/min/max battery plus an HLL sketch
    // per column — with no Expand anywhere (HLL is an ordinary mergeable
    // aggregate, not a distinct-rewrite), no split-agg workaround, and no
    // second scan: the multi-distinct Expand that forced q37's two-branch
    // shape simply does not exist on this path. Cross-engine contract
    // (q06b's pattern): exact n_distinct + a 15% `nd_ok` flag (3× the HLL's
    // default 5% rsd). The exact companion exists ONLY to power the flag —
    // production is the single agg above — and is itself Expand-free: one
    // Generate pass explodes each row into (col_name, value-as-string)
    // pairs (cast-to-string is round-trip injective for every profiled
    // type, so string distinct ≡ native distinct), then a SINGLE
    // countDistinct per group plans as two-stage hash agg, not a
    // distinct-rewrite.
    QueryDef(
      "q37b_column_profile_approx",
      {
        val profSql = Seq(
          ("event_id", "CAST(MIN(event_id) AS VARCHAR)", "CAST(MAX(event_id) AS VARCHAR)"),
          ("event_type", "MIN(event_type)", "MAX(event_type)"),
          ("props", "MIN(props)", "MAX(props)"),
          ("ts", "strftime(MIN(ts), '%Y-%m-%d %H:%M:%S')", "strftime(MAX(ts), '%Y-%m-%d %H:%M:%S')"),
          ("user_id", "CAST(MIN(user_id) AS VARCHAR)", "CAST(MAX(user_id) AS VARCHAR)"),
          ("value", "printf('%.6f', MIN(value))", "printf('%.6f', MAX(value))"))
        profSql.map { case (c, mn, mx) =>
          s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
             |  COUNT(*) - COUNT($c) AS n_nulls, COUNT(DISTINCT $c) AS n_distinct,
             |  $mn AS min_s, $mx AS max_s, TRUE AS nd_ok FROM events""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
      }) { (s, dir) =>
      val prof = Seq[(String, Column => Column)](
        ("event_id", _.cast("string")),
        ("event_type", identity),
        ("props", identity),
        ("ts", date_format(_, "yyyy-MM-dd HH:mm:ss")),
        ("user_id", _.cast("string")),
        ("value", v => format_string("%.6f", v)))
      val ev = Tables.events(s, dir)
      val battery = ev.agg(
        count(lit(1)).as("n_rows"),
        prof.flatMap { case (c, fmt) =>
          Seq(
            count(col(c)).as(s"nn_$c"),
            fmt(min(col(c))).as(s"mn_$c"),
            fmt(max(col(c))).as(s"mx_$c"),
            approx_count_distinct(col(c)).as(s"ad_$c"))
        }: _*)
      val exact = ev
        .select(explode(array(prof.map { case (c, _) =>
          struct(lit(c).as("col_name"), col(c).cast("string").as("v"))
        }: _*)).as("p"))
        .select(col("p.col_name"), col("p.v"))
        .filter(col("v").isNotNull)
        .groupBy(col("col_name"))
        .agg(countDistinct(col("v")).as("n_distinct"))
      battery
        .select(explode(array(prof.map { case (c, _) =>
          struct(
            lit(c).as("col_name"),
            col("n_rows"),
            (col("n_rows") - col(s"nn_$c")).as("n_nulls"),
            col(s"ad_$c").as("approx_nd"),
            col(s"mn_$c").as("min_s"),
            col(s"mx_$c").as("max_s"))
        }: _*)).as("p"))
        .select(col("p.*"))
        // LEFT join + coalesce: an all-NULL column has no row in the exact
        // frame (isNotNull precedes its groupBy) and an inner join would
        // silently drop exactly the pathological column a profiler exists
        // to surface, while the oracle still emits it with n_distinct = 0
        .join(broadcast(exact), Seq("col_name"), "left")
        .withColumn("n_distinct", coalesce(col("n_distinct"), lit(0L)))
        .select(
          col("col_name"), col("n_rows"), col("n_nulls"), col("n_distinct"),
          col("min_s"), col("max_s"),
          (abs(col("approx_nd") - col("n_distinct")) <= col("n_distinct") * 0.15)
            .as("nd_ok"))
        .orderBy("col_name")
    }
  )
}
