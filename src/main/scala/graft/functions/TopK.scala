package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** ClickHouse `topK(k)` / `approx_top_k`: approximate heavy hitters
  * as a typed Aggregator implementing the Misra–Gries frequent-items
  * summary (Misra & Gries 1982) with the mergeable-summaries merge
  * (Agarwal et al., PODS 2012): pointwise-sum both counter sets, then
  * subtract the (capacity+1)-th largest count from every counter and
  * drop the non-positive ones. That merge is associative and
  * commutative, so Spark runs this as partial+final aggregation —
  * fixed `capacity`-bounded state per partition, one tiny struct per
  * group on the shuffle. This is THE sketch shape for "top domains /
  * top tokens over 100 TB": memory is O(capacity) regardless of
  * cardinality.
  *
  * Guarantees (standard MG bounds): every reported count is an
  * undercount by at most n/(capacity+1) where n is the stream size;
  * any item with true frequency > n/(capacity+1) is retained. When
  * `capacity >= distinct(items)` no decrement ever fires and the
  * result is EXACT — the registered `q_topk_freq` runs in that regime,
  * which is what makes it value-oracle-able; the approximate regime is
  * spec-tested on skewed data instead (TopKSpec).
  *
  * Output order: (count desc, item asc) — total, engine-portable.
  */
object TopK {
  case class Buf(counts: Map[String, Long])
  case class Item(item: String, cnt: Long)
  case class Out(items: Seq[Item])
}

class TopK(k: Int, capacity: Int)
    extends Aggregator[String, TopK.Buf, TopK.Out] {
  import TopK._

  // the unit-count summary IS the weighted one at weight 1: with every
  // counter >= 1, min(minCounter, 1) = 1, which is exactly the classic
  // MG decrement-all step — so the whole algorithm lives once, in
  // TopKWeighted, and this class only adapts the input type
  private val weighted = new TopKWeighted(k, capacity)

  override def zero: Buf = weighted.zero
  override def reduce(b: Buf, item: String): Buf =
    weighted.reduce(b, (item, 1L))
  override def merge(a: Buf, b: Buf): Buf = weighted.merge(a, b)
  override def finish(r: Buf): Out = weighted.finish(r)
  override def bufferEncoder: Encoder[Buf] = weighted.bufferEncoder
  override def outputEncoder: Encoder[Out] = weighted.outputEncoder
  // plan text prints the aggregator: keep it free of identity hashes
  override def toString: String = s"TopK($k, $capacity)"
}

/** ClickHouse `topKWeighted`: heavy hitters by SUMMED WEIGHT rather
  * than occurrence count — "top domains by token volume", "top
  * sources by bytes". Same Misra–Gries summary generalized the
  * standard way (each arrival adds its weight; a full summary and a
  * new item subtract the minimum counter, dropping non-positive ones
  * — still an undercount by at most W/(capacity+1) of total weight),
  * and the identical mergeable-summaries merge. Exact when capacity
  * ≥ cardinality, like [[TopK]] — the regime the registered query
  * runs in. Negative/null weights are ignored (weights are
  * volumes).
  */
class TopKWeighted(k: Int, capacity: Int)
    extends Aggregator[(String, Long), TopK.Buf, TopK.Out] {
  import TopK._
  require(k >= 1 && capacity >= k, "need capacity >= k >= 1")
  override def toString: String = s"TopKWeighted($k, $capacity)"

  override def zero: Buf = Buf(Map.empty)

  override def reduce(b: Buf, in: (String, Long)): Buf = {
    val (item, weight) = in
    if (item == null || weight <= 0L) b
    else b.counts.get(item) match {
      case Some(c) => Buf(b.counts.updated(item, c + weight))
      case None if b.counts.size < capacity =>
        Buf(b.counts.updated(item, weight))
      case None =>
        // weighted MG step: subtract the smaller of (min counter,
        // arriving weight); the remainder of the arrival (if any)
        // enters at its surplus
        val minC = b.counts.values.min
        val dec = math.min(minC, weight)
        val kept = b.counts.flatMap { case (i, c) =>
          if (c - dec > 0) Some(i -> (c - dec)) else None
        }
        if (weight - dec > 0) Buf(kept.updated(item, weight - dec))
        else Buf(kept)
    }
  }

  override def merge(a: Buf, b: Buf): Buf = {
    val summed = b.counts.foldLeft(a.counts) { case (m, (i, c)) =>
      m.updated(i, m.getOrElse(i, 0L) + c)
    }
    if (summed.size <= capacity) Buf(summed)
    else {
      val cut = summed.values.toSeq.sorted(Ordering[Long].reverse)(capacity)
      Buf(summed.flatMap { case (i, c) =>
        if (c - cut > 0) Some(i -> (c - cut)) else None
      })
    }
  }

  override def finish(r: Buf): Out = Out(
    r.counts.toSeq
      .map { case (i, c) => Item(i, c) }
      .sortBy(it => (-it.cnt, it.item))
      .take(k))

  override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
  override def outputEncoder: Encoder[Out] = Encoders.product[Out]
}
