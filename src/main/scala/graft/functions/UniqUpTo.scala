package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bounded witness set for [[UniqUpTo]] — a SORTED, duplicate-free
  * array wrapped in a case class so the aggregation buffer rides a
  * transparent product/array encoder (columnar, Tungsten-packed)
  * instead of an opaque Kryo blob: smaller shuffle/spill bytes and a
  * schema the planner can see.
  */
case class UniqUpToState(sorted: Array[String])

/** ClickHouse `uniqUpTo(N)(x)`: EXACT distinct count when it is
  * ≤ N, the sentinel N+1 otherwise — with state bounded at N+1
  * witnesses regardless of stream size. The shape behind "show the
  * exact count up to 100, then '100+'" UI facets: a plain
  * count_distinct shuffles every distinct value; this carries at
  * most N+1 per group through the map-side combine, so cardinality
  * spikes cannot balloon the exchange.
  *
  * The merge is the capped sorted-set union — associative and
  * commutative (once any side saturates past N the result
  * saturates), so Spark runs it as partial+final aggregation.
  * Exactness law: for |distinct| <= N the result equals
  * count_distinct EXACTLY (the registered query's oracle-able
  * regime); beyond, the sentinel. Nulls are skipped like
  * count_distinct. Reduce is a binary search + O(n) insert over the
  * ≤ N+1-element array — bounded by the cap, not the stream.
  */
class UniqUpTo(n: Int) extends Aggregator[String, UniqUpToState, Long] {
  require(n >= 1, s"n must be >= 1: $n")
  // plan text prints the aggregator: keep it free of identity hashes
  override def toString: String = s"UniqUpTo($n)"

  override def zero: UniqUpToState = UniqUpToState(Array.empty)

  override def reduce(b: UniqUpToState, v: String): UniqUpToState = {
    if (v == null || b.sorted.length > n) return b
    val idx = java.util.Arrays.binarySearch(
      b.sorted.asInstanceOf[Array[AnyRef]], v)
    if (idx >= 0) b
    else {
      val at = -idx - 1
      val out = new Array[String](b.sorted.length + 1)
      System.arraycopy(b.sorted, 0, out, 0, at)
      out(at) = v
      System.arraycopy(b.sorted, at, out, at + 1, b.sorted.length - at)
      UniqUpToState(out)
    }
  }

  override def merge(a: UniqUpToState, b: UniqUpToState): UniqUpToState = {
    // capped sorted union: stop absorbing once saturated — the result
    // only needs to WITNESS that the count exceeds n
    if (a.sorted.length > n) a
    else if (b.sorted.length > n) b
    else {
      val cap = n + 1
      val out = new Array[String](math.min(a.sorted.length + b.sorted.length, cap))
      var i = 0; var j = 0; var k = 0
      while (k < cap && (i < a.sorted.length || j < b.sorted.length)) {
        val takeA =
          j >= b.sorted.length ||
            (i < a.sorted.length && a.sorted(i).compareTo(b.sorted(j)) <= 0)
        val v = if (takeA) a.sorted(i) else b.sorted(j)
        if (takeA) {
          if (j < b.sorted.length && a.sorted(i) == b.sorted(j)) j += 1
          i += 1
        } else j += 1
        out(k) = v
        k += 1
      }
      UniqUpToState(if (k == out.length) out else out.take(k))
    }
  }

  override def finish(b: UniqUpToState): Long =
    math.min(b.sorted.length, n + 1).toLong

  override def bufferEncoder: Encoder[UniqUpToState] =
    Encoders.product[UniqUpToState]
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}
