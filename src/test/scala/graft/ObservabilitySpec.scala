package graft

import graft.functions.StringRollingHash
import graft.operators.Multimodal
import graft.streaming.IngestionMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the metrics surface and cross-module hash
  * consistency.
  */
class ObservabilitySpec extends AnyFunSuite {

  test("latency histogram renders CUMULATIVE le buckets with +Inf == _count, plus _sum") {
    val m = new IngestionMetrics
    assert(m.latency.bounds.toSeq === Seq(5, 10, 25, 50, 100, 250, 500, 1000, 2500, 5000, 10000))
    assert(m.latency.bounds.sliding(2).forall(p => p(0) < p(1)))
    // two obs in bucket 0 (<=5ms), one in bucket 2 (<=25ms), one overflow
    Seq(3L, 2L, 20L, 60000L).foreach(m.latency.observe)
    val r = m.render()
    def bucket(le: String): Long =
      r.linesIterator.find(_.startsWith(s"""ingest_batch_ms_bucket{le="$le"}"""))
        .get.split(' ').last.toLong
    // Prometheus semantics: each le bucket counts ALL observations <= bound
    assert(bucket("5") === 2)
    assert(bucket("10") === 2)  // cumulative: includes the le=5 observations
    assert(bucket("25") === 3)
    assert(bucket("10000") === 3)
    assert(bucket("+Inf") === 4) // total including overflow, == _count
    assert(r.linesIterator.exists(_ == "ingest_batch_ms_count 4"))
    assert(r.linesIterator.exists(_ == "ingest_batch_ms_sum 60025"))
    val cum = m.latency.bounds.map(b => bucket(b.toString))
    assert(cum.sliding(2).forall(p => p(0) <= p(1)), "le buckets must be monotone")
    assert(r.linesIterator.count(_.startsWith("ingest_batch_ms_bucket")) === 12)
  }

  test("multimodal decode checksum is the same base-31 polynomial as rolling_hash") {
    val payload = "some document text".getBytes("UTF-8")
    val (crc, _, _) = Multimodal.decodeStub(payload)
    assert(crc === StringRollingHash.hash(payload))
  }

  test("decodeStub features are deterministic and bounded") {
    val p = Array.tabulate(5000)(i => (i % 251).toByte)
    val a = Multimodal.decodeStub(p)
    val b = Multimodal.decodeStub(p)
    assert(a === b)
    assert(a._2 >= 0.0 && a._2 <= 1.0)
    assert(Multimodal.decodeStub(Array.empty[Byte]) === ((0L, 0.0, 0.0)))
  }
}
