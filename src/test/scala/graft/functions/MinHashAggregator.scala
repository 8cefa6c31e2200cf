package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** MinHash signature as a typed `Aggregator` (SURVEY.md §2.10): input rows
  * are element hashes (one per shingle, e.g. from
  * [[TextHash.hash32]] over an exploded shingle
  * column), the buffer is the running k-slot minimum vector, the output the
  * finished signature.
  *
  * Algebraically identical to the explode + k `min()` aggregates used by
  * the dedup queries (same [[TextHash.permA]]/[[TextHash.permB]]/
  * [[TextHash.Mod]] constants — `MinHashAggregatorSpec` pins the
  * equivalence). The dedicated-aggregator form exists for callers composing
  * signatures inside `Dataset.groupByKey`/`agg` pipelines where a single
  * typed column beats 16 named ones; its partial state is a fixed k longs
  * per group per task, mergeable slot-wise — the bounded-state shape that
  * scales.
  *
  * Lives in the TEST tree (VERDICT r15 #7): the production dedup path uses
  * the faster explode + min() form (SURVEY §4.3), so this reference
  * implementation exists only for the equivalence pin beside it. */
class MinHashAggregator(k: Int = TextHash.MinhashK)
    extends Aggregator[Long, Array[Long], Seq[Long]] {

  private val as = (0 until k).map(TextHash.permA).toArray
  private val bs = (0 until k).map(TextHash.permB).toArray

  override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)

  override def reduce(buf: Array[Long], h: Long): Array[Long] = {
    var s = 0
    while (s < k) {
      val v = (h * as(s) + bs(s)) % TextHash.Mod
      if (v < buf(s)) buf(s) = v
      s += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var s = 0
    while (s < k) { if (b(s) < a(s)) a(s) = b(s); s += 1 }
    a
  }

  override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
}
