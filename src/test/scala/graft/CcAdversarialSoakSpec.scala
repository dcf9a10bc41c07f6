package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.LlmOps

/** Adversarial soak for the production connected-components engine
  * (r14 verdict item 6): the two shapes that break naive CC at scale —
  * ONE GIANT near-dup component (an everything-similar slab whose
  * diameter is in the hundreds, the propagation worst case) and HEAVY
  * SKEW (a hub whose degree is a large fraction of the graph) — pushed
  * through ccLargeSmallStar and the keep decision. Truth is a
  * driver-side union-find over the same crafted edge list (exact, no
  * Spark), so the equality check is independent of every distributed
  * code path. Round count must stay in the O(log² n) band regardless
  * of diameter or skew — the property that makes the dedup-graph tier
  * survive a 100 TB everything-similar slab where propagation would
  * run diameter-many full-edge shuffles. */
@org.scalatest.tags.Slow // slow tier: GRAFT_TEST_TIER=slow|all (SURVEY §7)
class CcAdversarialSoakSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark
  import CcTruth.unionFind

  /** Pins the star rounds: both graphs fit under the local-finish limit. */
  private val StarsOnly = Some(-1L)

  /** The adversary, all three shapes at once (23,001 vertices). */
  private lazy val soakGraph: Seq[(Long, Long)] = {
    //  - SLAB: 3000-vertex window graph (i — i+1..i+4): one dense
    //    component of diameter ~750 — propagation would need ~750
    //    full-edge-shuffle rounds; chained near-dup text produces
    //    exactly this shape
    val slab = for (i <- 0L until 3000L; j <- 1L to 4L if i + j < 3000L)
      yield (i, i + j)
    //  - HUB: vertex 100000 linked to 20000 leaves — the degree skew
    //    that melts a groupBy-per-round engine into one hot task
    val hub = (1L to 20000L).map(l => (100000L, 100000L + l))
    //  - BRIDGES: seeded pseudo-random chords binding slab to hub (one
    //    giant component) plus scattered 2-cliques as background
    val rnd = new scala.util.Random(0xC0FFEE)
    val bridges = Seq.fill(32)((rnd.nextInt(3000).toLong,
      100000L + 1 + rnd.nextInt(20000).toLong))
    slab ++ hub ++ bridges
  }

  test("giant slab + skewed hub converge in O(log n) star rounds, labels exact, keep = one per component") {
    import spark.implicits._
    val pairsList = soakGraph
    val pairs = pairsList.toDF("da", "db")

    val t0 = System.nanoTime()
    val (comp, rounds) = LlmOps.ccLargeSmallStar(pairs, localFinishBytes = StarsOnly)
    val labels = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wall = (System.nanoTime() - t0) / 1e9
    info(f"[cc-soak] wall=$wall%.1f s rounds=$rounds edges=${pairsList.size} verts=${labels.size}")

    // O(log² n) band, diameter- and skew-independent: the bound that
    // makes the engine production-safe. Empirically 5-7 on this graph;
    // 12 is the loud-regression line (propagation would need ~750).
    rounds should be <= 12
    // exact equality with the driver-side union-find truth
    labels shouldBe unionFind(pairsList)
    // the bridges glue everything into ONE component rooted at the min
    labels.values.toSet shouldBe Set(0L)
    // the keep decision over the crafted graph: label equality keeps
    // exactly one doc per component (q_dedup_keep's rule)
    val kept = labels.count { case (v, c) => v == c }
    kept shouldBe 1
  }

  test("forest of many small components under the same engine: roots are minima, rounds stay flat") {
    import spark.implicits._
    // 5000 disjoint triangles: fixpoint must be reached in the same
    // round band as the giant slab — round count tracks log n, not
    // component count or shape
    val tris = (0L until 5000L).flatMap { t =>
      val b = 200000L + 3 * t
      Seq((b, b + 1), (b + 1, b + 2), (b, b + 2))
    }
    val (comp, rounds) = LlmOps.ccLargeSmallStar(tris.toDF("da", "db"), localFinishBytes = StarsOnly)
    rounds should be <= 6
    val labels = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels shouldBe unionFind(tris)
    labels.count { case (v, c) => v == c } shouldBe 5000
  }

  test("the soak graph finishes locally with the star rounds' labels") {
    import spark.implicits._
    val pairsList = soakGraph
    val t0 = System.nanoTime()
    val (comp, rounds) = LlmOps.ccLargeSmallStar(pairsList.toDF("da", "db"))
    val labels = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    info(f"[cc-soak local] wall=${(System.nanoTime() - t0) / 1e9}%.1f s rounds=$rounds")
    rounds shouldBe 0
    labels shouldBe unionFind(pairsList)
  }
}
