package graft.functions

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.Encoder

/** Typed bounded-top-k aggregator: keeps at most k records per group in
  * the aggregation buffer, ordered by a caller-supplied key.
  *
  * Why: the window formulation (`row_number over partitionBy ... <= k`)
  * sorts EVERY row of every group; this buffer carries only k rows through
  * partial (map-side) and final aggregation — at 100 TB the shuffle
  * payload per group is k rows instead of the whole group. This is the
  * engine's UDAF surface: the same `Aggregator[IN, BUF, OUT]` shape backs
  * any opaque user fold (the reference's `reduce` contract, `app.py:6-14`).
  *
  * The buffer is a sorted Vector (k is small); insert is O(k).
  */
class TopKAggregator[IN](k: Int, ord: Ordering[IN])(implicit seqEnc: Encoder[Seq[IN]])
    extends Aggregator[IN, Seq[IN], Seq[IN]] {

  private def trim(s: Seq[IN]): Seq[IN] = s.sorted(ord).take(k)

  override def zero: Seq[IN] = Vector.empty
  override def reduce(b: Seq[IN], a: IN): Seq[IN] = trim(b :+ a)
  override def merge(b1: Seq[IN], b2: Seq[IN]): Seq[IN] = trim(b1 ++ b2)
  override def finish(r: Seq[IN]): Seq[IN] = r.sorted(ord)
  override def bufferEncoder: Encoder[Seq[IN]] = seqEnc
  override def outputEncoder: Encoder[Seq[IN]] = seqEnc
}
