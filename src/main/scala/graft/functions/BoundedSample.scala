package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** ClickHouse `groupArraySample(n)`, deterministic-hash form: a
  * per-group uniform sample without replacement as a BOUNDED MERGEABLE
  * summary — keep the `n` elements with the smallest (rank, item)
  * pair, where rank is a cross-engine hash of the row id computed by
  * the caller (md5 hex, the X12 convention). "Smallest n by a uniform
  * hash" IS a uniform sample without replacement, and unlike
  * ClickHouse's seeded-RNG form it is reproducible across runs,
  * engines, and re-shards.
  *
  * This is the scale path `Curation.stratifiedSample`'s doc promised:
  * the window form sorts EVERY row of a stratum through one task
  * (stratum count = parallelism floor; a 5-stratum corpus pins 5 tasks
  * sorting 20% of the input each), while this Aggregator carries O(n)
  * state per group per partition through a partial+final
  * ObjectHashAggregate — the shuffle moves ≤ n rows per group per
  * input partition and nothing is ever globally sorted. Same output
  * set by construction (the min-n-by-rank rule is identical;
  * equivalence law in CurationSpec, measured at 30× in ScaleBench).
  *
  * Null items are skipped (no rank). Output: the winners ascending by
  * (rank, item) — a total, engine-portable order.
  */
object BoundedSample {
  case class Item(rank: String, item: String)
  case class Buf(items: Seq[Item])
  case class Out(items: Seq[Item])

  val ord: Ordering[Item] = Ordering.by(i => (i.rank, i.item))
}

/** ClickHouse `groupArraySorted(k)`: the k smallest (rank, item)
  * pairs per group under NUMERIC rank order — [[BoundedSample]]'s
  * bounded mergeable summary with a long rank instead of a hash, so
  * it is the bounded-state execution shape for per-group top-k
  * (negate the rank for largest-k). The window `row_number() <= k`
  * form sorts every group's full volume through one task per group;
  * this carries O(k) state per group per partition through a
  * partial+final ObjectHashAggregate. Null ranks/items skip; output
  * ascending (rank, item).
  */
object BoundedTopK {
  case class Item(rank: Long, item: String)
  case class Buf(items: Seq[Item])
  case class Out(items: Seq[Item])

  val ord: Ordering[Item] = Ordering.by(i => (i.rank, i.item))
}

class BoundedTopK(k: Int)
    extends Aggregator[(java.lang.Long, String), BoundedTopK.Buf,
      BoundedTopK.Out] {
  import BoundedTopK._
  require(k >= 1, "need k >= 1")
  // plan text prints the aggregator: keep it free of identity hashes
  override def toString: String = s"BoundedTopK($k)"

  override def zero: Buf = Buf(Vector.empty)

  override def reduce(b: Buf, in: (java.lang.Long, String)): Buf = {
    val (rank, item) = in
    if (rank == null || item == null) b
    else {
      val it = Item(rank, item)
      if (b.items.size >= k && ord.gteq(it, b.items.last)) b
      else Buf((b.items :+ it).sorted(ord).take(k))
    }
  }

  override def merge(a: Buf, b: Buf): Buf =
    Buf((a.items ++ b.items).sorted(ord).take(k))

  override def finish(r: Buf): Out = Out(r.items)

  override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
  override def outputEncoder: Encoder[Out] = Encoders.product[Out]
}

class BoundedSample(n: Int)
    extends Aggregator[(String, String), BoundedSample.Buf,
      BoundedSample.Out] {
  import BoundedSample._
  require(n >= 1, "need n >= 1")
  override def toString: String = s"BoundedSample($n)"

  override def zero: Buf = Buf(Vector.empty)

  override def reduce(b: Buf, in: (String, String)): Buf = {
    val (rank, item) = in
    if (rank == null || item == null) b
    else {
      val it = Item(rank, item)
      if (b.items.size >= n && ord.gteq(it, b.items.last)) b
      else Buf((b.items :+ it).sorted(ord).take(n))
    }
  }

  override def merge(a: Buf, b: Buf): Buf =
    Buf((a.items ++ b.items).sorted(ord).take(n))

  override def finish(r: Buf): Out = Out(r.items)

  override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
  override def outputEncoder: Encoder[Out] = Encoders.product[Out]
}
