package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Grouped bounded top-k as a mergeable AGGREGATE — the scale answer to
  * `row_number() over (partition by g order by key)` ranking (SURVEY.md
  * §2.13 custom-aggregate surface; the reference's per-query kNN ranking
  * in `generate_embeddings.py:438-452` is the motivating shape).
  *
  * Why an aggregate and not a window: the window form shuffles the FULL
  * scored input (|corpus| × |queries| rows for kNN) into |groups|
  * partitions and sorts each group in one task — parallelism equals
  * group count, and a 10-query search serializes ten corpus scans into
  * ten tasks. As an `Aggregator`, Spark plans a partial
  * ObjectHashAggregate on the map side: every input partition reduces to
  * at most `groups × k` (key,id) pairs BEFORE the exchange, the shuffle
  * carries only those buffers, and the final merge per group touches
  * `partitions × k` entries. Nothing corpus-sized is ever shuffled or
  * sorted — the same partial/final shape as `sum`, with a bounded-heap
  * buffer instead of a scalar.
  *
  * Buffer layout: a flat `Array[Long]` of (key,id) pairs, kept sorted
  * ascending lexicographically, length ≤ 2k. `reduce` is a primitive
  * binary-search insert whose common full-buffer case (candidate worse
  * than the kept worst) is two long compares and no allocation; `merge`
  * is a linear merge of two sorted arrays truncated at k. Merging is
  * associative and commutative over the (key,id) total order, so any
  * partitioning / AQE re-plan yields the identical result — which is
  * what keeps the output bit-identical to the DuckDB window oracle.
  *
  * Keys are longs: exact for the quantized integer distances the
  * oracle-paired queries rank by, and doubles ride through the
  * order-preserving bit map [[graft.expr.DoubleSortableLong]]. Callers
  * wanting DESCENDING order pass `~key` (bitwise NOT is an
  * order-reversing bijection on longs — no MinValue negation overflow);
  * [[graft.ops.Ops.topKPerGroupAgg]] wraps both conventions.
  */
object GroupedTopK {

  final class TopKAggregator(k: Int)
      extends Aggregator[(Long, Long), Array[Long], Seq[(Long, Long)]] {
    require(k >= 1, s"topK: k must be >= 1, got $k")

    override def zero: Array[Long] = Array.emptyLongArray

    /** Sorted bounded insert; returns `buf` unchanged (no allocation)
      * when the candidate does not make the top k. */
    private def insert(buf: Array[Long], key: Long, id: Long): Array[Long] = {
      val n = buf.length >> 1
      if (n == k) {
        val wk = buf(buf.length - 2)
        if (key > wk || (key == wk && id >= buf(buf.length - 1))) return buf
      }
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val mk = buf(2 * mid)
        if (mk < key || (mk == key && buf(2 * mid + 1) <= id)) lo = mid + 1
        else hi = mid
      }
      val outN = math.min(n + 1, k)
      val out = new Array[Long](2 * outN)
      System.arraycopy(buf, 0, out, 0, 2 * lo)
      out(2 * lo) = key
      out(2 * lo + 1) = id
      val tailPairs = outN - lo - 1
      if (tailPairs > 0)
        System.arraycopy(buf, 2 * lo, out, 2 * (lo + 1), 2 * tailPairs)
      out
    }

    override def reduce(b: Array[Long], in: (Long, Long)): Array[Long] =
      insert(b, in._1, in._2)

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      if (b.isEmpty) return a
      if (a.isEmpty) return b
      val na = a.length >> 1
      val nb = b.length >> 1
      val outN = math.min(na + nb, k)
      val out = new Array[Long](2 * outN)
      var i = 0
      var j = 0
      var o = 0
      while (o < outN) {
        val takeA = j >= nb || (i < na &&
          (a(2 * i) < b(2 * j) ||
            (a(2 * i) == b(2 * j) && a(2 * i + 1) <= b(2 * j + 1))))
        if (takeA) {
          out(2 * o) = a(2 * i); out(2 * o + 1) = a(2 * i + 1); i += 1
        } else {
          out(2 * o) = b(2 * j); out(2 * o + 1) = b(2 * j + 1); j += 1
        }
        o += 1
      }
      out
    }

    override def finish(b: Array[Long]): Seq[(Long, Long)] =
      Seq.tabulate(b.length >> 1)(i => (b(2 * i), b(2 * i + 1)))

    override def bufferEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Seq[(Long, Long)]] =
      ExpressionEncoder[Seq[(Long, Long)]]()
  }

  /** Column-API entry: `df.groupBy(g).agg(topK(k)(keyCol, idCol))` →
    * `array<struct<_1: key, _2: id>>` sorted ascending, length ≤ k.
    * Null keys/ids must be filtered upstream (the tuple decoder would
    * read them as 0 — see [[graft.ops.Ops.topKPerGroupAgg]], which
    * applies the filter and the rank explode). */
  def topK(k: Int): (Column, Column) => Column = {
    val f = udaf(new TopKAggregator(k),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    (key, id) => f(key, id)
  }
}
