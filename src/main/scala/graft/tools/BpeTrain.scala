package graft.tools

import graft.sources.Footers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BPE round-count scaling measurement (VERDICT r9 #5):
  * `runMain graft.tools.BpeTrain <sfDir> <rounds>`.
  *
  * q25t unrolls three merge rounds to stay oracle-comparable; a real
  * tokenizer trains THOUSANDS of rounds by iterating that exact plan from
  * the driver. This tool runs that loop to a target round count and
  * measures what the q25t design claims: per-round cost is VOCABULARY-
  * sized and round-index-independent — the corpus is scanned once (the tf
  * pass building the weighted word inventory), after which every round is
  *   read words parquet (KB) → pair-count aggregation over the vocabulary
  *   → 1-row argmax collect → non-overlapping bracket-string replace →
  *   write words parquet (KB),
  * with the chosen merge applied as LITERALS (no join) and the word store
  * re-materialized per round (q24f's lineage-truncation discipline — plan
  * depth stays constant no matter how many rounds have run). The per-round
  * wall should therefore be flat in BOTH the round index (first-20 avg ≈
  * last-20 avg) and the corpus scale (sf0.1 vs ×10 — vocabulary grows
  * sublinearly and rounds never touch the corpus).
  *
  * Prints ONE JSON line: tf_sec (the corpus pass), per-round stats, and
  * the per-decile round averages so drift with round index is visible.
  */
object BpeTrain {

  /** Adjacent-symbol pair counts over the bracket-encoded word inventory —
    * the same program as q25t's pairsOf (TextAnalysisQueries.scala q25t). */
  private def pairsOf(words: DataFrame): DataFrame =
    words
      .select(regexp_extract_all(col("w"), lit("<([^>]*)>"), lit(1)).as("syms"),
        col("tf"))
      .select(col("syms"), col("tf"),
        explode(sequence(lit(1), greatest(size(col("syms")) - 1, lit(1)),
          lit(1))).as("i"))
      .filter(col("i") <= size(col("syms")) - 1)
      .select(element_at(col("syms"), col("i")).as("a"),
        element_at(col("syms"), col("i") + 1).as("b"), col("tf"))
      .groupBy(col("a"), col("b")).agg(sum(col("tf")).as("c"))

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: BpeTrain <sfDir> <rounds>")
    val Array(dir, roundsStr) = args
    val rounds = roundsStr.toInt
    require(rounds >= 1 && rounds <= 100000, s"rounds must be 1..100000, got $rounds")
    val spark = graft.GraftSession.get()
    val store = graft.TempDirs.create("graft_bpe_words_")

    // The ONE corpus pass: tokenize, tf-weight, bracket-encode (q25t's w0)
    val t0 = System.nanoTime()
    graft.sources.Tables.documents(spark, dir)
      .select(explode(graft.functions.TextHash.tokens(lower(col("text")))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      .select(concat(lit("<"),
        concat_ws("><", transform(sequence(lit(1), length(col("tok"))),
          i => col("tok").substr(i, lit(1)))),
        lit(">")).as("w"), col("tf"))
      .write.mode("overwrite").parquet(s"$store/r0")
    val tfSec = (System.nanoTime() - t0) / 1e9
    val vocab = Footers.rowCount(spark, s"$store/r0")

    val times = Array.fill(rounds)(-1.0)
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      val rt0 = System.nanoTime()
      val words = Footers.read(spark, s"$store/r$r")
      // 1-row driver read per round: the argmax merge (count DESC, pair ASC)
      val top = pairsOf(words)
        .orderBy(col("c").desc, col("a"), col("b")).limit(1).collect()
      if (top.isEmpty) exhausted = true // every word is a single symbol
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        words.select(
            call_function("replace", col("w"),
              lit(s"<$a><$b>"), lit(s"<$a$b>")).as("w"),
            col("tf"))
          .write.mode("overwrite").parquet(s"$store/r${r + 1}")
        times(r) = (System.nanoTime() - rt0) / 1e9
        r += 1
      }
    }
    val ran = times.take(r).toSeq
    def avg(xs: Seq[Double]): Double = if (xs.isEmpty) -1.0 else xs.sum / xs.size
    val deciles = (0 until 10).map { d =>
      avg(ran.slice(d * ran.size / 10, (d + 1) * ran.size / 10))
    }
    spark.stop()
    println(
      f"""{"metric":"bpe_train","rounds":$r,"tf_sec":$tfSec%.3f,"vocab_words":$vocab,""" +
        f""""round_total_sec":${ran.sum}%.3f,"round_avg_first20":${avg(ran.take(20))}%.3f,""" +
        f""""round_avg_last20":${avg(ran.takeRight(20))}%.3f,"round_max":${if (ran.isEmpty) -1.0 else ran.max}%.3f,""" +
        s""""round_avg_deciles":[${deciles.map(d => f"$d%.3f").mkString(",")}],""" +
        s""""exhausted":$exhausted,"sf":"$dir"}""")
  }
}
