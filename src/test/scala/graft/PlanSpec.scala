package graft

import graft.sources.Tables
import org.apache.spark.sql.functions.{col, concat, count, lit, to_date, when}

/** Physical-plan regression guards: the properties that make these queries
  * scale — predicate pushdown into the parquet scan, column pruning,
  * broadcast joins for dims, top-k without a global sort — asserted on the
  * executed plan text so a refactor can't silently regress them
  * (SURVEY.md §4.2; the 100-TB design contract). */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q04: filter pushed to scan, columns pruned, top-k via TakeOrderedAndProject") {
    val p = plan("q04_top_viewed_keys")
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,view)]"))
    assert(p.contains("TakeOrderedAndProject"))
    // the scan must not read unused columns (events has ts/user_id/value...)
    assert(p.contains("ReadSchema: struct<event_type:string,props:string>"))
  }

  test("q09: small dim side is broadcast, fact scan pruned to 3 columns") {
    val p = plan("q09_brand_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("struct<l_partkey:bigint,l_extendedprice:double,l_discount:double>"))
  }

  test("q10: the 5-table chain broadcasts every dim (no shuffle join at this SF)") {
    val p = plan("q10_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4)
    // order-grain pre-agg: countDistinct degenerated to count — no Expand,
    // and the one big shuffle carries per-order partial sums, not lineitems
    assert(!p.contains("Expand"), s"countDistinct Expand survived the pre-agg:\n$p")
  }

  test("q24: query side broadcast; corpus streams through one nested-loop pass") {
    val p = plan("q24_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("vec_dot"))
  }

  test("q03: single hash aggregate with partial (map-side) aggregation") {
    val p = plan("q03_daily_counts")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expect partial+final HashAggregate")
    // the scan reads only the two needed columns
    assert(p.contains("ReadSchema: struct<ts:"))
  }

  test("q01: ingest transform is a narrow plan (no shuffle before the sort)") {
    val p = plan("q01_batch_transform")
    // exactly one exchange: the final orderBy's range partitioning
    assert("Exchange".r.findAllIn(p).size <= 1, p)
  }

  test("q22b: rank-1 filter becomes a WindowGroupLimit before the window shuffle") {
    val p = plan("q22b_corpus_curation")
    assert(p.contains("WindowGroupLimit"),
      "dup_rank = 1 must prune groups pre-shuffle, not post-window")
  }

  test("q25s: quota rank filter becomes a WindowGroupLimit before the shuffle") {
    val p = plan("q25s_source_quota")
    assert(p.contains("WindowGroupLimit"),
      "rnk <= quota must bound per-source rows map-side, not post-window")
  }

  test("q25e: vocabulary (df) and corpus-size frames broadcast onto the tf rows") {
    val p = plan("q25e_tfidf_keywords")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("WindowGroupLimit"), "per-doc top-3 must prune pre-shuffle")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q25f: stratum rates broadcast; the big documents side never shuffles") {
    val p = plan("q25f_stratified_sample")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q25i/q25j: redaction and split assignment ride the scan (no shuffle but the sort)") {
    for (name <- Seq("q25i_pattern_redaction", "q25j_split_assign")) {
      val p = plan(name)
      // exactly one exchange: the final orderBy's range partitioning
      assert("Exchange".r.findAllIn(p).size <= 1, s"$name:\n$p")
    }
  }

  test("q25h: exploded union compresses map-side before each shuffle") {
    val p = plan("q25h_quality_rules")
    // partial+final for both aggregations = ≥4 HashAggregate nodes
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    // (doc_id,kind,v) agg + doc_id agg + final sort — nothing else shuffles
    assert("Exchange".r.findAllIn(p).size <= 3, p)
  }

  test("q06c: sketch rollup re-aggregates partials, never re-scans for the union") {
    val p = plan("q06c_sketch_rollup")
    // the HLL path must be partial (map-side) sketch agg → union agg of the
    // daily partials; plus the exact-count branch = exactly 2 event scans
    assert(p.contains("hll_sketch_agg"), p)
    assert(p.contains("hll_union_agg"), p)
    assert("Scan parquet".r.findAllIn(p).size <= 2,
      "union rollup must consume daily sketches, not re-scan events")
  }

  test("q36b: both snapshots shuffle once on user_id; the diff join reuses it") {
    val p = plan("q36b_snapshot_diff")
    assert(p.contains("FullOuter"), p)
    // two agg exchanges (one per snapshot) + the final orderBy range
    // exchange — the full-outer join itself must NOT add a shuffle
    assert("Exchange".r.findAllIn(p).size <= 3, p)
    // max-of-struct compaction aggregates partially before the shuffle
    // (struct max is not hash-aggregable — it lowers to SortAggregate)
    assert("partial_max".r.findAllIn(p).size >= 2, p)
  }

  test("q25k: BM25 scans the raw corpus zero times (postings reused), joins broadcast") {
    val p = plan("q25k_bm25_search")
    // tf/df/stats all read the materialized postings parquet — the raw
    // documents table was tokenized exactly once, at materialization
    assert(!p.contains("documents.parquet"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    // per-query top-5 via the bounded aggregator, not a rank window
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("RunningWindowFunction"), p)
  }

  test("q25l: CMS sketch joins broadcast; corpus tokenized at most twice") {
    val p = plan("q25l_cms_heavy_hitters")
    assert(!p.contains("SortMergeJoin"), p)
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
  }

  test("q25p: chunking rides the scan — no join, no shuffle but the output sort") {
    val p = plan("q25p_doc_chunks")
    assert(!p.contains("Join"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    // tokenize → range-explode → slice/join are all per-row: exactly the
    // one exchange the global ORDER BY needs
    assert("Exchange".r.findAllIn(p).size <= 1, p)
  }

  test("q25q: quota via distributed top-k + broadcast threshold, no global window") {
    val p = plan("q25q_dsir_selection")
    // pass 1 built the materialized model and per-doc score frames; the
    // final plan reads the tiny score parquet twice (boundary + projection)
    assert("documents.parquet".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the 100-doc quota must NOT be a single-partition window over every
    // doc (the 100 TB scale-killer): boundary key via TakeOrderedAndProject
    // (per-partition top-100, driver k-row merge), broadcast back.
    // NOTE: SparkPlan node names print WITHOUT the Exec suffix, so a window
    // shows as `Window [...]` — match that, not "WindowExec" (which would be
    // vacuously absent), and don't trip on WindowGroupLimit.
    assert("""\bWindow \[""".r.findFirstIn(p).isEmpty, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q35: deliberate single-partition window over the bounded per-day aggregate") {
    val p = plan("q35_user_growth")
    // q35's cumulative-users sum is a GLOBAL ordered window — its
    // `WindowExec: No Partition Defined` WARN in bench logs is expected,
    // not an accident: the window input is the per-day aggregate (≤ 1 row
    // per day, a few hundred rows at any SF), never the event stream. Pin
    // the shape: the Window node sits ABOVE the reducing aggregates
    // (first-day per user, then per-day counts), so a refactor can't
    // silently feed it raw events.
    val wIdx = p.indexOf("Window ")
    assert(wIdx >= 0 && """\bWindow \[""".r.findFirstIn(p).isDefined,
      s"expected the deliberate global Window node: $p")
    val below = p.substring(wIdx)
    assert("HashAggregate".r.findAllIn(below).size >= 2,
      s"the global window must consume the per-day aggregate, not raw events: $p")
  }

  test("q38: both layouts aggregate straight off pruned scans, no join") {
    val p = plan("q38_zorder_stats")
    assert(!p.contains("Join"), p)
    assert(p.contains("ReadSchema: struct<event_id:bigint,ts:"), p)
  }

  test("q39: every correlated subquery decorrelates to a join — no per-row loops") {
    val p = plan("q39_sql_subqueries")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    // the two scalar COUNT subqueries become aggregate + outer join
    assert("Join".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("InSubqueryExec"), p)
  }

  test("q41: the scan prunes to exactly the filtered date partitions at plan time") {
    val scan = graft.queries.ScaleQueries.prunedWeek(spark, sf)
      .queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("expected a FileSourceScanExec over the partitioned layout"))
    // the d-filter is a partition filter (resolved against directory names,
    // never evaluated per row) and only the matching day-directories of the
    // full written set survive planning. Both counts are derived from the
    // data (not hardcoded) so regenerated testdata with a different day
    // span or a gap day cannot fail the suite without a real plan defect.
    val days = Tables.events(spark, sf).select(to_date(col("ts")).as("d")).distinct()
    val expected = days
      .filter(col("d").between(
        lit("2024-01-08").cast("date"), lit("2024-01-14").cast("date")))
      .count()
    val written = days.count()
    assert(scan.partitionFilters.nonEmpty, scan.toString)
    assert(expected > 0 && expected < written,
      s"fixture no longer spans the filter range ($expected of $written days)")
    assert(scan.selectedPartitions.partitionCount == expected,
      s"expected $expected pruned partitions, scanned ${scan.selectedPartitions.partitionCount}")
    assert(scan.dataFilters.isEmpty,
      "date filter must prune directories, not re-filter rows")
  }

  test("q32d: the basket aggregation plans with NO exchange over the bucketed table") {
    // VERDICT r9 #8: the q32 family's corpus-sized order-key shuffle moves
    // into the one-time CLUSTERED BY layout job; the recurring basket
    // aggregation must then start map-side — zero ShuffleExchange anywhere
    // in its plan (the scan's bucketing satisfies the agg's distribution)
    val baskets = graft.queries.BehaviorQueries.bucketedBaskets(spark, sf)
    val plan = baskets.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(baskets.limit(1).count() === 1L, "bucketed basket table is empty")
  }

  test("q33d: sessionize + session agg plan with ZERO exchanges over bucketed events") {
    // the user-bucketed scan's HashPartitioning(user_id) must satisfy both
    // the session windows and the (user_id, sid) aggregation — the whole
    // pipeline short of the presentation sort runs without a shuffle
    val sess = graft.queries.BehaviorQueries.bucketedSessionized(spark, sf)
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"))
    val plan = sess.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(sess.limit(1).count() === 1L, "bucketed events table is empty")
  }

  test("q51b: bucketed snapshot diff plans with ZERO exchanges before the full-outer SMJ") {
    // VERDICT r12 #5: q51's "at 100 TB both snapshots bucket by doc_id and
    // the diff is a zero-exchange sort-merge" claim, executed — both
    // fingerprint sides are 32-bucket CLUSTERED-BY-id tables, so the scans
    // carry HashPartitioning(id) into the full-outer join and no shuffle
    // exists anywhere in the diff (only in-partition sorts may remain)
    val d = graft.queries.CurationPipeline.bucketedSnapshotDiff(spark, sf)
    val plan = d.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("SortMergeJoin"), plan)
    assert(d.limit(1).count() === 1L, "diff is empty on the fixture corpus")
  }

  test("q24m: the PQ codes scan prunes to exactly the probed cells at plan time") {
    // the ANN serving layout (VERDICT r9 #2): codes partitionBy(cell), the
    // probe routed as a literal partition-column filter — unprobed cells'
    // directories are never listed, opened, or scanned
    val pruned = graft.queries.SimilarityQueries.prunedCellCodes(spark, sf)
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("expected a FileSourceScanExec over the cell-partitioned codes"))
    // both counts derived from the data: the probed set is the frame's own
    // distinct cells; the written set is the full coarse-label domain
    val probed = pruned.select("cell").distinct().count()
    val written = graft.sources.Tables.embeddings(spark, sf)
      .select("label").distinct().count()
    assert(scan.partitionFilters.nonEmpty, scan.toString)
    assert(probed > 0 && probed < written,
      s"fixture probes every cell ($probed of $written) — pruning unobservable")
    assert(scan.selectedPartitions.partitionCount == probed,
      s"expected $probed pruned partitions, scanned ${scan.selectedPartitions.partitionCount}")
    assert(scan.dataFilters.isEmpty,
      "cell filter must prune directories, not re-filter rows")
  }

  test("q24p: the MERGED codes scan keeps q24m's static pruning after the nightly append") {
    // the incrementally maintained layout must serve exactly like the
    // build-once one: probe as a literal partition filter, unprobed cells
    // (including the appended batch files in them) never listed or read
    val pruned = graft.queries.SimilarityQueries.q24pPrunedCodes(spark, sf)
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("expected a FileSourceScanExec over the merged cell-partitioned codes"))
    val probed = pruned.select("cell").distinct().count()
    val written = graft.sources.Tables.embeddings(spark, sf)
      .select("label").distinct().count()
    assert(scan.partitionFilters.nonEmpty, scan.toString)
    assert(probed > 0 && probed < written,
      s"fixture probes every cell ($probed of $written) — pruning unobservable")
    assert(scan.selectedPartitions.partitionCount == probed,
      s"expected $probed pruned partitions, scanned ${scan.selectedPartitions.partitionCount}")
    assert(scan.dataFilters.isEmpty,
      "cell filter must prune directories, not re-filter rows")
  }

  private def withConfs[T](pairs: (String, String)*)(f: => T): T =
    graft.Confs.withConfs(spark, pairs: _*)(f)

  /** The physical plan under AQE's wrapper (AdaptiveSparkPlanExec exposes
    * no children to tree traversal): the final plan of an EXECUTED frame;
    * before any stage runs, the prepared plan — EnsureRequirements
    * applied, so an aggregate's or a join's own shuffle is in it (the plan
    * `Spread.hasShuffle` reads). */
  private def adaptivePlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  /** Collect file scans through AQE query-stage boundaries (QueryStageExec
    * holds its materialized subtree as a field, not a child, so a plain
    * `collect` never reaches scans inside completed stages). */
  private def collectScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      collectScans(q.plan)
    case other => other.children.flatMap(collectScans)
  }

  test("q41b: the day filter arrives ONLY via a dynamic-pruning subquery at runtime") {
    val df = graft.queries.ScaleQueries.dppJoinFrame(spark, sf).groupBy("d").count()
    df.collect()
    val scan = collectScans(adaptivePlan(df)).headOption
      .getOrElse(fail("expected a FileSourceScanExec over the partitioned layout"))
    // the dim's attribute filter is NOT expressible on the partition column,
    // so the scan's only pruning predicate must be the DPP subquery
    assert(scan.partitionFilters.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]),
      scan.partitionFilters.mkString("; "))
    // no STATIC day-set filter may coexist with the DPP subquery (a
    // constant-folded `d IN (...)` would make DPP decorative); the only
    // non-DPP partition predicates allowed are null-intolerance guards
    val static = scan.partitionFilters.filterNot(pf =>
      pf.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]))
    assert(static.forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.IsNotNull]),
      s"dim predicate must not be statically propagated — that would make " +
        s"DPP decorative: ${static.mkString("; ")}")
    // and at runtime it pruned to exactly the audit days present in the data
    val days = Tables.events(spark, sf).select(to_date(col("ts")).as("d")).distinct()
    val expected = days.filter(
      org.apache.spark.sql.functions.datediff(
        col("d"), lit("2024-01-01").cast("date")) % 10 === 2).count()
    val written = days.count()
    assert(expected > 0 && expected < written,
      s"fixture no longer exercises pruning ($expected of $written days)")
    assert(scan.metrics("numPartitions").value == expected,
      s"expected $expected dynamically selected partitions, " +
        s"read ${scan.metrics("numPartitions").value}")
  }

  test("q43: a Bloom runtime filter prunes the big join side before its shuffle") {
    graft.queries.ScaleQueries.withBloomConfs(spark) {
      val df = graft.queries.ScaleQueries.bloomJoinFrame(spark, sf)
        .groupBy("o_orderpriority").count()
      df.collect()
      val p = adaptivePlan(df).toString
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("bloom_filter_agg"),
        "expected an injected Bloom build over the filtered orders keys")
      assert(p.contains("might_contain"),
        "expected the lineitem side filtered by might_contain pre-shuffle")
    }
  }

  test("skewed join: AQE splits the hot key's partition (OptimizeSkewedJoin)") {
    import spark.implicits._
    // one hot key carrying ~10^4× the median partition's rows — the
    // heavy-hitter shape q22c/q26c cite as "AQE's skew case". Thresholds
    // are scaled to the fixture (defaults gate on 256 MB partitions);
    // broadcast is disabled so the join is the SMJ a 100-TB dim would be.
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      // the hot partition is ~5 MB pre-shuffle but its repeated key
      // compresses hard in the shuffle files — the thresholds must sit
      // below the COMPRESSED hot-partition size, well above the others'
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB") {
      val left = spark.range(200000)
        .select(
          when(col("id") < lit(190000L), lit("hot"))
            .otherwise(concat(lit("k"), col("id") % 64)).as("k"),
          col("id").as("v"))
      val right = (Seq("hot") ++ (0 until 64).map("k" + _)).toDF("k")
        .withColumn("tag", org.apache.spark.sql.functions.length(col("k")))
      val joined = left.join(right, "k").groupBy("tag").count()
      joined.collect()
      val p = adaptivePlan(joined).toString
      assert(p.contains("skew=true"),
        s"expected OptimizeSkewedJoin to mark the SMJ skew=true:\n${p.take(3000)}")
    }
  }

  test("q42: each PageRank round is one edge join + one inflow aggregation") {
    val p = plan("q42_pagerank")
    // ranks and edges co-shuffle per round; the node-set left joins
    // broadcast (nodes ≪ edges at any scale where PageRank is worth running)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // 3 unrolled rounds re-read the materialized graph, never re-mine pairs
    assert(!p.contains("lineitem.parquet"), p)
  }

  test("q24g: both top-k sides reuse the bounded aggregator over broadcast candidates") {
    val p = plan("q24g_recall_eval")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("vec_dot"))
    assert(p.contains("topkbyscore"), "top-k must stay the bounded aggregator")
    // (the final brute⟕ivf eval join is NQueries×K rows — its join strategy
    // is irrelevant at any scale, so it is deliberately not constrained)
  }

  test("q25r: top-k pairs via TakeOrderedAndProject, never a global sort") {
    val p = plan("q25r_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"))
    // two hash aggregations (token tf, then pair counts), both with
    // map-side partials — the corpus collapses to the vocab before the
    // pair explode, which is the whole 100 TB argument
    assert("HashAggregate".r.findAllIn(p).size >= 4)
  }

  // The three declared 100 TB approx paths (VERDICT r8 #1): their whole
  // point is the plan shape — no multi-distinct Expand, no exact global
  // sort of data — so the shape is pinned, not just the oracle result.

  test("q37b: approx profile has NO Expand — the swap that kills q37's rewrite") {
    val p = plan("q37b_column_profile_approx")
    assert(!p.contains("Expand"), s"Expand survived in the approx profile:\n$p")
    assert(p.contains("approx_count_distinct") || p.contains("HyperLogLog"),
      "HLL aggregate missing from the approx profile")
  }

  test("q31c: approx equi-depth — sketch cutoffs, no Expand, no sort of data") {
    val p = plan("q31c_approx_equidepth")
    assert(!p.contains("Expand"), p)
    assert(p.contains("approx_percentile"))
    // the only Sort may be the final 10-row bucket ordering; the exact
    // path's per-group value materialization (q31b's percentile) is gone
    assert("(?<!approx_)percentile\\(".r.findFirstIn(p).isEmpty,
      "exact percentile leaked into the approx path")
  }

  test("q25qb: quantile-threshold quota — cutoffs broadcast, no global window") {
    val p = plan("q25qb_dsir_approx_threshold")
    assert(p.contains("approx_percentile"))
    assert(!p.contains("Window"), "quota must not need a global-sort window")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row cutoff frame must broadcast back onto the score frame")
  }

  test("q25v: mixture weights — both corpus totals broadcast, no sort of data") {
    val p = plan("q25v_mixture_weights")
    // the token totals and the weight normalizer are 1-row/|langs|-row
    // frames that must come back as broadcasts, never a shuffle join
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q33c: transitions ride the sessionize window sort — one data shuffle") {
    val p = plan("q33c_markov_transitions")
    // exchanges: user_id (the one window sort), src/dst agg, per-src
    // normalization window, final order — only the FIRST carries event
    // rows; everything after runs on the event-type² frame
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3, s"expected at most 3 hash exchanges, got $exchanges\n$p")
    assert("Window".r.findAllIn(p).size >= 1, p)
  }

  test("q36e: rewrite source scan prunes to affected buckets; pass-through scans the complement") {
    // the partition-scoped MERGE (VERDICT r10 #4): the rewrite path's events
    // scan and the pass-through history scan are BOTH statically partition-
    // pruned — together they prove the merge touches |affected| directories
    // and leaves the other 64−|affected| unread on the rewrite side
    import org.apache.spark.sql.execution.FileSourceScanExec
    def onlyScan(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case f: FileSourceScanExec => f }
        .getOrElse(fail("expected a FileSourceScanExec"))
    val affected = graft.queries.BehaviorQueries.affectedBuckets(spark, sf)
    val nb = graft.queries.BehaviorQueries.ScdBuckets
    assert(affected.nonEmpty && affected.size < nb,
      s"fixture affects ${affected.size} of $nb buckets — pruning unobservable")
    val rw = onlyScan(graft.queries.BehaviorQueries.scdRewriteSourceScan(spark, sf))
    assert(rw.partitionFilters.nonEmpty, rw.toString)
    assert(rw.selectedPartitions.partitionCount == affected.size,
      s"rewrite scan: expected ${affected.size} partitions, " +
        s"got ${rw.selectedPartitions.partitionCount}")
    assert(rw.dataFilters.isEmpty, "bucket filter must prune directories, not rows")
    val pt = onlyScan(graft.queries.BehaviorQueries.scdPassthroughScan(spark, sf))
    // written partitions = buckets that actually hold ≥1 base user at this
    // SF (≤ 64); the pass-through must select exactly those minus affected
    val written = graft.queries.BehaviorQueries
      .scdRewriteSourceScan(spark, sf).sparkSession.read
      .parquet(rw.relation.location.rootPaths.head.toString)
      .select("ub").distinct().count().toInt
    assert(pt.partitionFilters.nonEmpty, pt.toString)
    assert(pt.selectedPartitions.partitionCount == written - affected.size,
      s"pass-through scan: expected ${written - affected.size} partitions, " +
        s"got ${pt.selectedPartitions.partitionCount}")
  }

  test("q44: the curation DAG scans the raw corpus exactly once end-to-end") {
    // VERDICT r10 #8: the five composed stages must not re-scan the corpus
    // per stage. Stage 1 (dedup) is the ONE raw scan; span-clean reads only
    // the materialized survivor table (its df-agg and anti-join branches
    // would otherwise each re-scan raw); quality/split/packing read only
    // the materialized curated table.
    import org.apache.spark.sql.execution.FileSourceScanExec
    def allScans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] =
      adaptivePlan(df).collect { case f: FileSourceScanExec => f }
    def rawScans(df: org.apache.spark.sql.DataFrame): Int =
      allScans(df).count(
        _.relation.location.rootPaths.exists(_.toString.contains("documents.parquet")))
    assert(rawScans(graft.queries.CurationPipeline.keptFrame(spark, sf)) === 1,
      "stage 1 (dedup) must be the single raw-corpus scan")
    val q44 = SparkEntry.queries("q44_curation_pipeline")(spark, sf)
    assert(rawScans(q44) === 0,
      "the final quality/split/packing plan must read only the curated materialization")
    val scans = allScans(q44)
    // round 16: the stage-3 quality verdicts are a materialized boundary
    // too (graft_q44_quality) — the final plan reads the curated text and
    // the quality doc-id table, still zero raw-corpus scans
    assert(scans.nonEmpty &&
      scans.forall(_.relation.location.rootPaths.exists(p =>
        p.toString.contains("graft_q44_curated") ||
          p.toString.contains("graft_q44_quality"))),
      "every scan in the final plan must target a stage-boundary table")

    // q45 (incremental): history is never re-scanned RAW — its curated
    // artifacts (kept set, boilerplate list, token totals) and the batch's
    // own curated checkpoint come from q45_* materializations, so the
    // FINAL plan touches no raw documents at all; the raw batch scans live
    // in the checkpoint builds, whose work is proportional to the BATCH
    val q45 = SparkEntry.queries("q45_incremental_curation")(spark, sf)
    assert(rawScans(q45) === 0,
      "the final incremental plan must read only stage-boundary materializations")
    assert(allScans(q45).exists(_.relation.location.rootPaths
        .exists(_.toString.contains("graft_q45_"))),
      "history/batch artifacts must be read from the q45 materializations")

    // q68 (the nightly-ops composite, VERDICT r15 #5): raw batch documents
    // are scanned exactly ONCE across the whole composite — by the
    // night-batch builder; the report plan itself reads ONLY stored
    // frames (night_batch, the q68 stage checkpoints, the standing
    // indexes) and the embeddings table (q67's side — a different raw
    // table, with its own shared sig materialization)
    assert(rawScans(graft.queries.CurationPipeline.nightBatchBuilder(spark, sf)) === 1,
      "the night-batch builder must be the single raw batch-documents scan")
    val q68 = SparkEntry.queries("q68_night_report")(spark, sf)
    assert(rawScans(q68) === 0,
      "the composite night report must never re-scan raw documents")
    val s68 = allScans(q68).flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(s68.exists(_.contains("graft_night_batch_")),
      "stages must read the shared materialized night-batch frame")
    assert(s68.exists(_.contains("graft_q68_")),
      "the composite curation stage must read its q68_* checkpoints")
  }

  test("q24j: MMR rounds are checkpointed — the final plan reads only the tiny result") {
    // the greedy rounds run eagerly through per-round Materialize
    // checkpoints (the relevance pass itself is q24's already-pinned
    // broadcast+bounded-agg shape); what must hold HERE is that the final
    // consumer plan is a kilobyte parquet read plus the output sort — no
    // join and no corpus re-derivation may survive into it
    val p = plan("q24j_mmr_topk")
    assert(!p.contains("Join"), p)
    assert("Exchange".r.findAllIn(p).size <= 1, p)
    assert(p.contains("Scan parquet"), p)
  }

  test("q60: eval split broadcasts; the train side never sort-merge joins") {
    // the decontamination scan must stream the (large) train side through a
    // broadcast of the (small-by-construction) eval set — a SortMergeJoin
    // here would shuffle the full corpus on a non-key
    val p = plan("q60_semantic_decontamination")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("vec_dot"), p)
  }

  test("q59: corpus-prefix bucketing is scan-riding — no rank window, stats broadcast") {
    // the decile assignment must not be ntile/rank over the corpus: the only
    // Window in the plan is the ≤10-row running total over the decile frame
    val p = plan("q59_vocab_growth")
    assert(!p.contains("ntile"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q62: batch ranks scope to (pclass, shard) — no corpus-global window") {
    val p = plan("q62_dynamic_batching")
    // the row_number window must partition by both class and shard columns
    // (windowspecdefinition lists partition columns first)
    assert("""windowspecdefinition\(pclass#\d+L?, shard#\d+L?,""".r
      .findFirstIn(p).nonEmpty, p)
  }

  test("q25i2: the five-class redaction cascade rides the scan in one projection") {
    val p = plan("q25i2_pii_redaction")
    // per-row projection: the only exchange is the final presentation sort,
    // and no aggregate/join/window/UDF exists anywhere in the plan
    assert("Exchange".r.findAllIn(p).size === 1, p)
    assert(!p.contains("Aggregate") && !p.contains("Join") &&
      !p.contains("Window") && !p.contains("UDF"), p)
  }

  test("q63e: threshold selection is window-free bounded arithmetic off the stored LCP table") {
    val p = plan("q63e_threshold_select")
    // the candidate grid joins the ≤32-group spectrum and two 1-row frames
    // broadcast — a corpus-global rank/window here would mean the report
    // rebuilt what the index already stores
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q63f: removal at the recommended width serves from the STORED LCP table") {
    val p = plan("q63f_recommended_removal")
    // detection must read the sa_lcp materialization, not rebuild the
    // index: the scan path carries the Materialize scratch prefix, and no
    // zip_with suffix compare (the LCP construction) appears anywhere —
    // changing the width re-runs only the removal tail
    assert(p.contains("graft_sa_lcp_"), p)
    assert(!p.contains("zip_with"), p)
  }

  test("q63g: the merge report serves from the SHARED sa_merged materialization") {
    val p = plan("q63g_incremental_sa")
    // the report reads the stored merge table (VERDICT r15 #2: one
    // materialization shared with q63h — the corpus-linear merge pass is
    // paid once per night, and the serving plan carries NO windows at
    // all; the range-exchange + per-range windows ran at build time)
    assert(p.contains("graft_sa_merged_"), p)
    assert(!p.contains("windowspecdefinition"),
      s"expected a window-free serving plan over the stored merge:\n$p")
  }

  test("q63h: history LCPs carry forward by anti-join; fresh compares are batch-proportional") {
    val p = plan("q63h_incremental_lcp")
    // the retained branch reads the standing sa_hist_lcp artifact and the
    // update reads the SHARED stored merge frame — never rebuilds it
    assert(p.contains("graft_sa_hist_lcp_"), p)
    assert(p.contains("graft_sa_merged_"), p)
    // exactly ONE DISTINCT zip_with compare expression exists (counted by
    // its first-argument expression id, robust to how many times the
    // pretty-printer renders it per node/line — ADVICE r15): a second
    // distinct compare would mean a history-sized re-compare branch
    val zw = """zip_with\(\w+#\d+""".r.findAllIn(p).toSet
    assert(zw.size === 1, s"expected one distinct zip_with compare, got $zw:\n$p")
    // no broadcast is FORCED — AQE applies the size gate, which at the
    // spec fixture resolves to broadcasting the tiny probe frames (the
    // ADVICE-r15 envelope rule: at production batch sizes the same plan
    // shuffle-hashes them instead)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q63i/q63j: the chain serves from the night-3 snapshot, never a rebuild") {
    val pi = plan("q63i_chained_sa")
    // the SA report reads night-3's stored merge frame (its keys ARE the
    // standing snapshot); no prefix-doubling window machinery in serving
    assert(pi.contains("graft_sa_chain_merged_v3_"), pi)
    assert(!pi.contains("windowspecdefinition"), pi)
    val pj = plan("q63j_chained_lcp")
    // the histogram reads night-3's stored LCP table — nothing else: no
    // merge frames, no compares, no standing-table anti-joins re-run
    assert(pj.contains("graft_sa_chain_lcp_v3_"), pj)
    assert(!pj.contains("zip_with") && !pj.contains("graft_sa_chain_merged_"), pj)
  }

  test("q64b/q65b/q67b: chained monitors serve from materialized night state") {
    // q64b's served report is a pure union of the materialized per-night
    // probe frames: ZERO raw document scans survive into the final plan
    // (each night's batch was scanned once, at probe build)
    val pv = plan("q64b_chained_vocab_drift")
    assert(!pv.contains("documents.parquet"), pv)
    for (k <- 0 until 3) assert(pv.contains(s"graft_q64b_probe_v${k}_"), pv)
    // q65b/q67b: the per-night verdicts are materialized (no band join, no
    // jaccard/cosine confirm re-runs in serving); the only raw reads are
    // the column-pruned per-night source lookups
    val pb = plan("q65b_chained_neardup_drift")
    for (k <- 0 until 3) assert(pb.contains(s"graft_q65b_conf_v${k}_"), pb)
    assert(!pb.contains("graft_q65b_bands_"), pb)
    assert("documents\\.parquet".r.findAllIn(pb).size === 3, pb)
    val pe = plan("q67b_chained_embedding_drift")
    for (k <- 0 until 3) assert(pe.contains(s"graft_q67b_conf_v${k}_"), pe)
    assert(!pe.contains("graft_q67b_bands_"), pe)
    assert(!pe.contains("BroadcastNestedLoopJoin") && !pe.contains("CartesianProduct"), pe)
  }

  test("q67: candidates come from a band equi-join over the shared sig table, never history × batch") {
    val p = plan("q67_embedding_drift")
    // signatures read the q24d shared materialization; no nested-loop /
    // cartesian pair producer anywhere — candidate generation is keyed
    assert(p.contains("graft_q24d_sig_"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("sigtok build: one documents scan, a narrow kernel projection, only the spread exchange") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import graft.queries.{DedupQueries, Materialize}
    val build = Materialize.spread(spark, sf, col("doc_id"))(DedupQueries.sigTokFrame(spark, sf))
    val p = adaptivePlan(build)
    val scans = p.collect { case f: FileSourceScanExec => f }
    assert(scans.size === 1 &&
      scans.head.relation.location.rootPaths.forall(_.toString.contains("documents.parquet")), p)
    assert(p.collect { case g: GenerateExec => g }.isEmpty, p)
    // no aggregate of any kind: ObjectHashAggregate, SortAggregate, HashAggregate
    assert(p.collect { case a: BaseAggregateExec => a }.isEmpty, p)
    val exchanges = p.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.map(_.shuffleOrigin) === Seq(REPARTITION_BY_NUM), p)
    // the kernel runs once per row: its four fields read one bound struct
    assert("doc_signature\\(".r.findAllIn(p.toString).size === 1, p)
  }

  test("Spread: a one-file scan broadcast-joined to a tiny frame is still spread") {
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions.broadcast
    import spark.implicits._
    val tiny = Seq(0L, 1L, 2L).toDF("n_regionkey")
    val joined = Tables.nation(spark, sf).join(broadcast(tiny), Seq("n_regionkey"))
    val p = adaptivePlan(graft.queries.Spread(joined, col("n_nationkey")))
    assert(p.collect { case j: BroadcastHashJoinExec => j }.size === 1, p)
    assert(p.collect { case e: ShuffleExchangeExec => e.shuffleOrigin } === Seq(REPARTITION_BY_NUM), p)
  }

  test("Spread: a one-file scan aggregated by key gets no extra repartition") {
    import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
    val agg = Tables.nation(spark, sf).groupBy("n_regionkey").agg(count(lit(1)).as("n"))
    // spread key other than the aggregate's, so that EnsureRequirements
    // could not drop a spread as a repartition its child already has
    val p = adaptivePlan(graft.queries.Spread(agg, col("n")))
    assert(p.collect { case e: ShuffleExchangeExec => e.shuffleOrigin } === Seq(ENSURE_REQUIREMENTS), p)
  }

  test("writeSlices: a one-slice staging write plans no shuffle") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val helper = new AdaptiveSparkPlanHelper {}
    def writes = plans.asScala.toSeq.filter(p =>
      helper.find(p)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
    val frame = Tables.nation(spark, sf).filter(col("n_regionkey") < 3)
    spark.listenerManager.register(listener)
    val dir = try {
      val d = graft.streaming.StreamRunner.writeSlices(Seq(frame), "plan_one_slice")
      // listeners hear of a finished execution asynchronously
      val deadline = System.nanoTime() + 10000000000L
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      d
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size === 1, plans)
    assert(helper.find(writes.head)(_.isInstanceOf[ShuffleExchangeLike]).isEmpty, writes.head)
    val visible = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_"))
    assert(visible.length === 1, visible.toSeq)
    assert(spark.read.parquet(dir).count() === frame.count())
  }
}
