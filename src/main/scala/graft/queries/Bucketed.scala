package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-cached BUCKETED table materialization — [[Materialize]]'s
  * sibling for layouts that must carry a hash-distribution guarantee into
  * the catalog (plain parquet files lose it; only a bucketed table's
  * metadata lets the planner trust `HashPartitioning(bucketCol)` at read
  * time and elide the exchange).
  *
  * Why: a recurring query keyed on a stable column (baskets per order,
  * sessions per user) pays its keying shuffle on EVERY run over a flat
  * table; bucketing moves that shuffle into the one-time layout job — at
  * 100 TB this is the `CLUSTERED BY` ETL table the co-purchase/behavior
  * jobs all read, and each run's first aggregation starts map-side.
  *
  * The table is EXTERNAL (data under a scratch dir via `option("path")`,
  * metadata in the session's in-memory catalog) so nothing lands in a
  * default warehouse under the repo; written once per (session, tag,
  * source dir, source listing signature) like Materialize, same
  * check-then-putIfAbsent discipline.
  */
object Bucketed {

  private val cache = new ConcurrentHashMap[String, String]()

  /** Process-unique table-name counter (ADVICE r10): a name derived from
    * key.hashCode would send two same-key racers at ONE table (concurrent
    * overwrite saveAsTable, unlike Materialize's racers writing disjoint
    * dirs) and let a hashCode collision between distinct keys sharing a tag
    * silently repoint the first caller's cached table at the second's data.
    * A counter makes every build target a fresh table; the losing racer's
    * table is simply never read again (its data dir is TempDirs-reclaimed
    * on exit, its catalog entry dies with the in-memory session catalog). */
  private val nameSeq = new java.util.concurrent.atomic.AtomicLong()

  def apply(s: SparkSession, srcDir: String, tag: String, buckets: Int,
            bucketCol: String)(df: => DataFrame): DataFrame = {
    val key = s"$tag|$buckets|$bucketCol|${graft.sources.Footers.cacheKey(s, srcDir)}"
    var name = cache.get(key)
    if (name == null) {
      val tbl = s"graft_${tag}_${nameSeq.incrementAndGet()}"
      val dir = graft.TempDirs.create(s"graft_bucket_${tag}_")
      // ONE file per bucket: without the pre-shuffle every upstream task
      // writes its own slice of every bucket (tasks × buckets files), and
      // a bucketed scan only trusts per-bucket sort order when a bucket is
      // a single file — multi-file buckets force the reader to re-sort
      // the whole bucket, which at ×20 scale cost q51b's SMJ more than
      // the exchange it saved. The repartition lives in the one-time
      // layout job (the nightly ETL writer), never in a read plan.
      // df is by-name: bind ONCE — a second reference would construct a
      // fresh plan with new attribute ids that the repartition column
      // could not resolve against
      val d = df
      d.repartition(buckets, d.col(bucketCol))
        .write
        .option("path", dir)
        .bucketBy(buckets, bucketCol)
        .sortBy(bucketCol)
        .mode("overwrite")
        .saveAsTable(tbl)
      val prev = cache.putIfAbsent(key, tbl)
      name = if (prev == null) tbl else prev
    }
    s.table(name)
  }
}
