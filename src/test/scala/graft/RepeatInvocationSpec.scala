package graft

import org.scalatest.funsuite.AnyFunSuite

/** Idempotent re-invocation for the STATEFUL queries — the ones that
  * write scratch state (persisted indexes, streaming checkpoints,
  * snapshot stores) keyed by `SparkEntry.scratchDir`: a second call in
  * the same JVM must wipe-and-rebuild to the byte-identical result,
  * never resume into stale state. (Verify and Bench each invoke once
  * per JVM today; this pins the contract for any harness that doesn't.)
  */
class RepeatInvocationSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val dir = "/root/testdata/sf0.001"

  private def rows(name: String): Set[String] =
    SparkEntry.queries(name)(spark, dir)
      .collect().map(_.toString).toSet

  for (q <- Seq(
      "q47_rule_registry", "q90_stream_extract", "q106_stream_windows",
      "q180_stream_drop_audit", "q185_ivf_index_scan",
      "q191_ivf_quantized_index", "q194_time_travel",
      "q196_snapshot_changelog")) {
    test(s"$q: second same-JVM invocation reproduces the first exactly") {
      val first = rows(q)
      val second = rows(q)
      assert(first.nonEmpty, s"$q returned no rows")
      assert(second == first, s"$q drifted across invocations")
    }
  }
}
