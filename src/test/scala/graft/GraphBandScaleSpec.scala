package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.{GraphAnn, LlmOps}

/** Pins the graph-ANN build's scale law: the band scheme is
  * OCCUPANCY-BOUNDED (bits = ⌈log₂(n/32)⌉), so the banded self-join's
  * candidate volume grows ∝ n, not Θ(n²/2^bits). Measured on two SFs
  * with a 4× row-count gap: linear growth predicts ~4× the pairs,
  * quadratic at fixed key cardinality would predict ~16×. Also pins
  * the bits clamp itself at the sizes that matter (test SFs, floor,
  * 100 TB-scale counts, pool ceiling). */
class GraphBandScaleSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark

  test("bitsFor: the occupancy clamp at the sizes that matter") {
    GraphAnn.bitsFor(500) shouldBe 4 // sf0.001 / sf0.01 corpora
    GraphAnn.bitsFor(400) shouldBe 4 // their 80% corpus split (scheme
    GraphAnn.bitsFor(2000) shouldBe 6 // sf0.1 …
    GraphAnn.bitsFor(1600) shouldBe 6 // … == rebuild's, oracle identity)
    GraphAnn.bitsFor(1) shouldBe 2 // floor
    GraphAnn.bitsFor(32L << 20) shouldBe 20 // exact power boundary
    GraphAnn.bitsFor(1L << 30) shouldBe 25 // ~10⁹ vectors
    GraphAnn.bitsFor(Long.MaxValue) shouldBe 26 // pool ceiling
    // monotone: more corpus never means fewer buckets
    val probes = Seq(1L, 100L, 501L, 10000L, 1L << 22, 1L << 40)
    probes.map(GraphAnn.bitsFor) shouldBe sorted
  }

  test("candidate volume grows ∝ n across SFs, not n²") {
    val small = "/root/testdata/sf0.001" // n = 500  → bits 4
    val large = "/root/testdata/sf0.1" // n = 2000 → bits 6
    // the band self-join the build feeds its first cut: one row per
    // (pair, table) collision, so it bounds the distinct pair count too
    def volume(dir: String) =
      LlmOps.bandCollisions(GraphAnn.graphBandRows(spark, dir)).count().toDouble
    val vSmall = volume(small)
    val vLarge = volume(large)
    val nRatio = 2000.0 / 500.0
    withClue(s"volume $vSmall → $vLarge (n ×$nRatio): ") {
      // linear predicts ×4, quadratic-at-fixed-bits predicts ×16;
      // allow 2× slack over linear for bucket-skew variance
      vLarge / vSmall should be <= nRatio * 2
      // and the build really is sub-all-pairs at both SFs
      vSmall should be < 500.0 * 499 / 2
      vLarge should be < 2000.0 * 1999 / 2
    }
  }
}
