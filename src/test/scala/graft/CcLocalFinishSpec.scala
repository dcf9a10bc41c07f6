package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.LlmOps

/** Exact driver-side truth for connected components, shared by the CC
  * specs: path-compressed union-find labeling each vertex with its
  * component MINIMUM (the engine's contract). */
object CcTruth {
  def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }
}

/** ccLargeSmallStar's local finish (the broadcast-sized edge set is
  * collected and rooted by a driver-side union-find) against the star
  * rounds it replaces and the union-find truth: the same labels on
  * seeded graph shapes and on every edge case the label aggregate
  * handles (empty, loops, duplicates, NULL endpoints, id types). */
class CcLocalFinishSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark
  import CcTruth.unionFind

  private val StarsOnly = Some(-1L)

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Label rows as values, NULLs included. */
  private def rows(df: DataFrame): Set[(Any, Any)] =
    df.collect().map(r => (r.get(0), r.get(1))).toSet

  private val rnd = new scala.util.Random(0x51A7)
  private def ids(n: Int): IndexedSeq[Long] =
    rnd.shuffle((0 until n * 50).map(_.toLong)).take(n).toIndexedSeq

  private lazy val shapes: Seq[(String, Seq[(Long, Long)])] = {
    val p = ids(200)
    val path = (0 until 199).map(i => (p(i), p(i + 1)))
    val h = ids(301)
    val hub = (1 to 300).map(i => (h(0), h(i))) ++
      Seq.fill(20)((h(1 + rnd.nextInt(300)), h(1 + rnd.nextInt(300))))
    val c = ids(40)
    val clique = for (a <- 0 until 40; b <- a + 1 until 40) yield (c(b), c(a))
    val f = ids(600)
    var next = 0
    val forest = (0 until 50).flatMap { _ =>
      val size = 2 + rnd.nextInt(10)
      val tree = f.slice(next, next + size)
      next += size
      (1 until size).map(i => (tree(rnd.nextInt(i)), tree(i)))
    }
    Seq("path" -> path, "hub" -> hub, "clique" -> clique, "forest" -> forest)
  }

  test("local finish == star rounds == union-find on seeded path, hub, clique and forest graphs") {
    import spark.implicits._
    for ((name, edges) <- shapes) withClue(s"$name: ") {
      val pairs = edges.toDF("da", "db")
      val (local, localRounds) = LlmOps.ccLargeSmallStar(pairs)
      val (stars, starRounds) = LlmOps.ccLargeSmallStar(pairs, localFinishBytes = StarsOnly)
      localRounds shouldBe 0
      starRounds should be >= 1
      val truth = unionFind(edges)
      labels(local) shouldBe truth
      labels(stars) shouldBe truth
    }
  }

  test("a limit between the input and its first round's size finishes after some rounds") {
    import spark.implicits._
    val edges = shapes.flatMap(_._2)
    val pairs = edges.toDF("da", "db")
    val (comp, rounds) =
      LlmOps.ccLargeSmallStar(pairs, localFinishBytes = Some(edges.size * 16L - 1))
    rounds should be >= 1
    labels(comp) shouldBe unionFind(edges)
  }

  test("edge cases: empty, loops only, duplicates, NULL endpoints, int and mixed ids") {
    import spark.implicits._
    val cases: Seq[(String, DataFrame)] = Seq(
      "empty" -> Seq.empty[(Long, Long)].toDF("da", "db"),
      "loops only" -> Seq((1L, 1L), (2L, 2L), (2L, 2L)).toDF("da", "db"),
      "duplicates" -> Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 3L)).toDF("da", "db"),
      "NULL endpoints" -> Seq[(java.lang.Long, java.lang.Long)](
        (1L, null), (null, null), (2L, 3L), (3L, 3L), (null, 4L)).toDF("da", "db"),
      "int ids" -> Seq((5, 7), (7, 9), (1, 2), (3, 3)).toDF("da", "db"),
      "int and long ids" -> Seq((5, 7L), (7, 3000000000L), (1, 2L)).toDF("da", "db"))
    for ((name, pairs) <- cases) withClue(s"$name: ") {
      val (local, localRounds) = LlmOps.ccLargeSmallStar(pairs)
      val (stars, _) = LlmOps.ccLargeSmallStar(pairs, localFinishBytes = StarsOnly)
      localRounds shouldBe 0
      local.schema.map(_.dataType) shouldBe stars.schema.map(_.dataType)
      rows(local) shouldBe rows(stars)
    }
    val (nulls, _) = LlmOps.ccLargeSmallStar(Seq[(java.lang.Long, java.lang.Long)](
      (1L, null), (null, null), (2L, 3L)).toDF("da", "db"))
    rows(nulls) shouldBe Set((1L, 1L), (null, null), (2L, 2L), (3L, 2L))
  }

  test("string ids stay on the star path") {
    import spark.implicits._
    val (comp, rounds) =
      LlmOps.ccLargeSmallStar(Seq(("b", "c"), ("c", "d"), ("x", "y")).toDF("da", "db"))
    rounds should be >= 1
    rows(comp) shouldBe Set(("b", "b"), ("c", "b"), ("d", "b"), ("x", "x"), ("y", "x"))
  }
}
