package graft.streaming

import java.util.concurrent.atomic.AtomicLong

/** The one Prometheus histogram of the ingest service, rendered in text
  * format 0.0.4 the way promhttp serves the reference's
  * `prometheus.Histogram` (internal/metrics/metrics.go:18-24):
  * `le` buckets are CUMULATIVE, `+Inf` equals `_count`, then `_sum`.
  *
  * Observations are whole `unitsPerLabel`-ths of the rendered unit (ms
  * rendered as ms: 1; ns rendered as seconds: 1e9). Bounds are kept in
  * the same raw unit, so bucketing is an exact integer compare; a
  * histogram rendered in its raw unit prints integral labels and sum.
  */
final class PromHistogram(name: String, val bounds: Array[Long], unitsPerLabel: Double = 1.0) {

  // non-cumulative per-bucket counts, plus one overflow cell
  private val cells = Array.fill(bounds.length + 1)(new AtomicLong(0L))
  val sum = new AtomicLong(0L)

  def observe(v: Long): Unit = {
    val i = bounds.indexWhere(v <= _) match {
      case -1 => bounds.length
      case i => i
    }
    cells(i).incrementAndGet()
    sum.addAndGet(v)
  }

  def count: Long = cells.map(_.get).sum

  def reset(): Unit = { cells.foreach(_.set(0L)); sum.set(0L) }

  private def label(v: Long): String =
    if (unitsPerLabel == 1.0) v.toString else (v / unitsPerLabel).toString

  def render(): String = {
    val cumulative = cells.map(_.get).scanLeft(0L)(_ + _).tail
    val total = cumulative.last
    (bounds.indices.map(i => s"""${name}_bucket{le="${label(bounds(i))}"} ${cumulative(i)}""") ++ Seq(
      s"""${name}_bucket{le="+Inf"} $total""",
      s"${name}_count $total",
      s"${name}_sum ${label(sum.get)}")).mkString("\n")
  }
}

object PromHistogram {

  /** Prometheus DefBuckets (5 ms .. 10 s) in units of 1/`perSecond` s. */
  def defBuckets(perSecond: Long): Array[Long] =
    Array(0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1, 2.5, 5, 10).map(b => math.round(b * perSecond))
}
