package graft.queries

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-gated repartition-after-read for CPU-dense work rooted at an
  * unsplittable scan (optimization guide §2.5, "input skew": one huge
  * unsplittable file → repartition immediately after the read).
  *
  * The driver testdata ships each table as ONE single-row-group parquet
  * file, so every scan plans exactly one task regardless of
  * `maxPartitionBytes` — and a query whose cost is per-row compute
  * (tokenize → explode, regex cascades, JSON parse, vector dot products)
  * runs that compute serially while the other cores idle. The measured
  * signature at sf0.1/32 cores: task_cpu ≈ task_run ≈ wall with ≤ 8 tasks
  * (bench/metrics_r16_head.json — q24c, q18b, q02, q25i2, q22e, q58's scan
  * stage, clsScored's two passes).
  *
  * The repartition is GATED on the frame's actual planned scan parallelism:
  * it fires only when the plan yields fewer than half the session's default
  * parallelism, i.e. the small-local-file case. At production file counts a
  * 100 TB table scans as tens of thousands of splits, the gate never fires,
  * and no corpus-wide shuffle is introduced — so the helper is the identity
  * exactly where a shuffle would be a regression. This keeps the
  * partitioning scale-adaptive (derived from the input, not a constant
  * tuned to either local mode or the cluster).
  *
  * Partitioning is HASH on a caller-named near-unique key (doc_id /
  * event_id / vec_id — hundreds-to-thousands of distinct values per
  * partition, guide §2.5's 20–100× rule), not round-robin: round-robin
  * pays a per-task local sort (`spark.sql.execution.sortBeforeRepartition`)
  * and a deterministic key keeps row placement stable under task retries.
  *
  * A second effect the call sites rely on (guide §2.4): consumers that fan
  * out from the spread frame embed byte-identical Exchange subtrees, so
  * ReuseExchange collapses what used to be N serial re-scans (q22e
  * tokenizes its segment stream once instead of three times; clsScored's
  * unigram and bigram passes share one tokenize) — and downstream
  * aggregations keyed on the spread column reuse the partitioning outright.
  */
object Spread {

  /** Planned FILE-SCAN parallelism of a frame: the sum of the split counts
    * of its FileSourceScan leaves, read off the non-adaptive physical plan
    * (`sparkPlan`) — built on the driver, never executed. This is what
    * `.rdd.getNumPartitions` used to answer here, but `.rdd` under AQE
    * finalizes the adaptive plan, which MATERIALIZES query stages (runs
    * real shuffle jobs) the moment the frame contains an Exchange, and
    * that work is not reused by the later action (ADVICE r16). Reading
    * the scan leaves costs only driver-side split planning. A leaf that
    * is not a file scan (local relation, RDD scan) contributes 0 — the
    * helper is about spreading unsplittable FILES, nothing else. */
  private[graft] def scanParallelism(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collectLeaves().map {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.inputRDDs().map(_.getNumPartitions).sum
      case _ => 0
    }.sum

  /** True when the frame's physical plan contains a shuffle: its
    * post-shuffle parallelism is governed by shuffle partitions / AQE,
    * not by file splits, so the spread gate does not apply. A broadcast
    * exchange does not count — a scan broadcast-joined to a small frame
    * still runs at its file-split parallelism. Read off the PREPARED plan,
    * where `EnsureRequirements` has inserted the shuffles an aggregate or
    * join needs: under AQE that is the adaptive root's current plan before
    * any stage runs. `sparkPlan`, and the adaptive root's `inputPlan`, come
    * before that rule and hold only explicit repartitions. No job runs. */
  private def hasShuffle(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val prepared = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    prepared.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
  }

  /** `df` hash-repartitioned on `key` to the session default parallelism,
    * iff it is scan-rooted (no shuffle anywhere in the plan — a shuffled
    * frame's parallelism is already the session's shuffle-partition
    * setting) and its planned scan parallelism is below half of it (see
    * object doc). Values are unchanged for any caller whose results don't
    * depend on physical row placement (no monotonically_increasing_id /
    * spark_partition_id / unordered limit downstream). */
  def apply(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (hasShuffle(df)) df
    else {
      val planned = scanParallelism(df)
      if (planned * 2 >= target) df
      else df.repartition(target, key)
    }
  }
}
