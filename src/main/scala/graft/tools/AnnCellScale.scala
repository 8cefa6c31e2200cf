package graft.tools

import org.apache.spark.sql.DataFrame

import graft.{Bench, TaskMetricsListener}

/** ANN cell-count crossover capture (VERDICT r10 #3):
  * `runMain graft.tools.AnnCellScale <sfDir> <nCells> <probes> [passes]`.
  *
  * The round-10 growth rows showed q24m's cell-partitioned codes layout
  * moving FEWER bytes than flat q24l but costing MORE wall at the demo
  * geometry — 10 coarse cells with 80–90% of them probed, so the pruned
  * scan read almost everything and paid the partitioned-read overhead on
  * top. This tool re-derives the coarse quantizer at a production cell
  * count (k-means at nCells, probes per query — probed fraction ≤ 10% at
  * nCells ≥ 256/probes·queries) and measures the SAME two serving plans
  * ([[graft.queries.SimilarityQueries.ivfpqAtScale]]): flat codes scan +
  * probe filter vs statically partition-pruned scan of codes laid out
  * partitionBy(cell).
  *
  * All one-time artifacts (codebooks, codes, the partitioned layout, the
  * k-means cells) are built in an UNTIMED warm pass, then each variant runs
  * `passes` noop-sink passes, each one [[graft.Bench.measure]]; reported
  * figure = min of the post-JIT passes, with its scan input bytes (the
  * layout's claim: pruned ≈ probed-fraction × flat) and shuffle writes.
  * The two variants' results are asserted IDENTICAL before anything is
  * timed — same codebooks, same probe map, only the read path differs.
  */
object AnnCellScale {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: AnnCellScale <sfDir> <nCells> <probes> [passes]")
    val dir = args(0)
    val nCells = args(1).toInt
    val probes = args(2).toInt
    val passes = if (args.length > 3) args(3).toInt else 3
    require(passes >= 2, s"passes must be at least 2 (the first is JIT warm-up), got $passes")
    val spark = graft.GraftSession.get()
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    val (flat, pruned) =
      graft.queries.SimilarityQueries.ivfpqAtScale(spark, dir, nCells, probes)
    // correctness pin first (also builds every shared artifact untimed):
    // identical top-k from both read paths, or the capture is meaningless
    // Identity pin on (qid, rank, vec_id) — NOT the float cos column. The
    // admitted ids are already order-deterministic (TopKByScore sorts by
    // (-score, vec_id), so a dotv tie at the shortlist boundary resolves
    // identically in both plans), but comparing the doubles bitwise would
    // couple the pin to expression-tree evaluation order; the id triple is
    // the layout claim, the scores are checked within 1e-9 (ADVICE r11)
    val a = flat.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val b = pruned.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    require(a.nonEmpty, "empty result — nothing was measured")
    require(a.length == b.length, s"flat and partitioned row counts differ (${a.length} vs ${b.length})")
    require(a.map(t => (t._1, t._2, t._3)).toSeq == b.map(t => (t._1, t._2, t._3)).toSeq,
      "flat and partitioned admitted different (qid, rank, vec_id) triples")
    val maxCosDelta = a.zip(b).map { case (x, y) => math.abs(x._4 - y._4) }.max
    require(maxCosDelta <= 1e-9, f"cos diverges between read paths: $maxCosDelta%.2e")
    def run(tag: String, df: DataFrame): (Double, Long, Long) = {
      val all = (1 to passes).map { _ =>
        val row = Bench.cols.zip(
          Bench.measure(listener)(df.write.mode("overwrite").format("noop").save()).row).toMap
        (row("ms") / 1000.0, row("input_b"), row("shuffle_write_b"))
      }
      val best = all.drop(1).minBy(_._1) // post-JIT min, Bench's rule
      System.err.println(s"[annscale] $tag passes=" +
        all.map(p => f"${p._1}%.2fs/${p._2 / 1e6}%.1fMB").mkString(" "))
      best
    }
    val (fSec, fIn, fSh) = run("flat", flat)
    val (pSec, pIn, pSh) = run("pruned", pruned)
    spark.stop()
    println(
      f"""{"metric":"ann_cell_crossover","ncells":$nCells,"probes":$probes,""" +
        f""""flat_s":$fSec%.3f,"flat_input_mb":${fIn / 1e6}%.2f,"flat_shuffle_mb":${fSh / 1e6}%.2f,""" +
        f""""pruned_s":$pSec%.3f,"pruned_input_mb":${pIn / 1e6}%.2f,"pruned_shuffle_mb":${pSh / 1e6}%.2f,""" +
        f""""sf":"$dir"}""")
  }
}
