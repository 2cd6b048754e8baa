package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.time.Instant

/** Wall clock in epoch microseconds with nanoTime resolution, so harness
  * timings, stub receipt times and rate-source due times share one base.
  */
object Clock {
  private val epoch0Us = {
    val i = Instant.now(); i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  private val nano0 = System.nanoTime()
  def nowUs: Long = epoch0Us + (System.nanoTime() - nano0) / 1000L
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}

/** Serializes the harness's result and trace files (Scala maps,
  * sequences and options) with Jackson.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def encode(v: Any): String = mapper.writeValueAsString(v)
}

/** Tolerance within which a traced unit's layer times must sum to its
  * measured wall: a query execution's loads, thunk, Catalyst phases and
  * SQL execution against its wall, a micro-batch's `durationMs` phases
  * against its `triggerExecution`. A unit outside it fails the traced run.
  */
object LayerSum {
  val share = 0.10
  val slackMs = 15.0
  def within(residualMs: Double, wallMs: Double): Boolean =
    math.abs(residualMs) <= share * wallMs + slackMs
  val statement = s"|wall - sum of layers| <= ${share * 100}% of wall + $slackMs ms"
}
