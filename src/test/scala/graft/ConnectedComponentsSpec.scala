package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.LlmOps

/** The two connected-components engines behind q_dedup_clusters:
  * alternating large-star/small-star (production — O(log² n) rounds,
  * skew-safe partial-aggregated mins) vs min-label propagation
  * (reference — O(component diameter) rounds, full edge shuffle per
  * round). They must agree exactly; stars must converge in far fewer
  * rounds on the propagation worst case (a chained-duplicate path). */
class ConnectedComponentsSpec extends AnyFunSuite with Matchers {
  import TestSpark.{sf, spark}

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Pins the star rounds: every input here is far under the local-finish
    * limit, which would otherwise replace the rounds under test. */
  private val StarsOnly = Some(-1L)

  test("stars == propagation on a chained-duplicate path graph, in far fewer rounds") {
    import spark.implicits._
    // path 0-1-2-...-47: diameter 47 — propagation's worst case (labels
    // spread one hop per round), exactly the shape chained near-dup
    // documents produce
    val pairs = (0L until 47L).map(i => (i, i + 1)).toDF("da", "db")
    val (prop, propRounds) = LlmOps.ccPropagation(pairs, maxRounds = 128)
    val (stars, starRounds) = LlmOps.ccLargeSmallStar(pairs, localFinishBytes = StarsOnly)
    labels(stars) shouldBe labels(prop)
    labels(stars).values.toSet shouldBe Set(0L)
    propRounds should be >= 24
    starRounds should be <= 10
    starRounds should be < propRounds
  }

  test("ccLargeSmallStar evaluates its input plan exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udf}
    // the first round, its convergence diff and the final vertex set all
    // read the input — without the shared base materialization each
    // would re-run the full input plan (for production callers: the
    // whole MinHash+verify candidate chain). Count evaluations with an
    // accumulator behind a nondeterministic udf (nondeterminism stops
    // the optimizer from collapsing or duplicating the call): one
    // evaluation per input row.
    val acc = spark.sparkContext.longAccumulator("pairsEval")
    val tick = udf { (x: Long) => acc.add(1L); x }.asNondeterministic()
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
      .select(tick(col("a")).as("da"), col("b").as("db"))
    val (comp, _) = LlmOps.ccLargeSmallStar(pairs)
    comp.collect() // the lazy label plan reads materialized state only
    // exact equality assumes deterministic local mode: no task retries
    // and no speculative execution (both true for this suite's
    // local[*] session), under which an accumulator in a transformation
    // counts each row exactly once. A retried task would over-count —
    // on a retrying cluster assert a multiple-of-40 bound instead
    // (advice r20).
    acc.value shouldBe 40L
  }

  test("ccLargeSmallStar leaks no checkpoint when the edges checkpoint fails") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.apache.spark.sql.functions.col
    // ccLargeSmallStar checkpoints its input, then each star round's
    // edge set, each as its own SQL execution. The listener cancels
    // every job of the second execution — the first star round's
    // checkpoint, after the input has materialized — starting with its
    // first shuffle-map job, so the round's checkpoint RDD is never
    // created and the input checkpoint must be released on the way
    // out. Executions are numbered in start order, so one that runs no
    // job of its own (the input here has no shuffle) still counts. The
    // input is large enough that the map job outlives the listener's
    // delivery.
    val group = "cc-leak-spec"
    val execs = scala.collection.mutable.ArrayBuffer[Long]()
    val sc = spark.sparkContext
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execs.synchronized(execs += s.executionId)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = js.properties
        val exec = if (p == null) null else p.getProperty("spark.sql.execution.id")
        if (exec != null && p.getProperty("spark.jobGroup.id") == group)
          execs.synchronized {
            if (execs.size >= 2 && execs(1) == exec.toLong) sc.cancelJob(js.jobId)
          }
      }
    }
    val pairs = spark.range(500000).select((col("id") % 400000).as("da"),
      ((col("id") + 1) % 400000).as("db"))
    graft.ops.Ckpt.releaseAll(spark)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "cancel the first star-round checkpoint")
    val ex =
      try intercept[Exception](LlmOps.ccLargeSmallStar(pairs, localFinishBytes = StarsOnly))
      finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" ") should include("cancel")
    sc.getPersistentRDDs shouldBe empty
  }

  test("ccLargeSmallStar leaks no checkpoint when the local-finish collect fails") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.apache.spark.sql.functions.col
    // 500k edges of 16 bytes are 8 MB, under the default 10 MB limit, so
    // the second execution is the local finish's collect of the input
    // checkpoint. The listener cancels its job; the call must fail with
    // the cancellation and leave no persisted RDD behind.
    val group = "cc-local-leak-spec"
    val execs = scala.collection.mutable.ArrayBuffer[Long]()
    val sc = spark.sparkContext
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execs.synchronized(execs += s.executionId)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = js.properties
        val exec = if (p == null) null else p.getProperty("spark.sql.execution.id")
        if (exec != null && p.getProperty("spark.jobGroup.id") == group)
          execs.synchronized {
            if (execs.size >= 2 && execs(1) == exec.toLong) sc.cancelJob(js.jobId)
          }
      }
    }
    val pairs = spark.range(500000).select((col("id") % 400000).as("da"),
      ((col("id") + 1) % 400000).as("db"))
    graft.ops.Ckpt.releaseAll(spark)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "cancel the local-finish collect")
    val ex =
      try intercept[Exception](LlmOps.ccLargeSmallStar(pairs))
      finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" ") should include("cancel")
    sc.getPersistentRDDs shouldBe empty
  }

  test("equal fingerprints with a non-empty exact diff do not stop the loop") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // A constant edge hash makes every fingerprint (count, 0), so any two
    // rounds with the same edge count collide. On the path 0-1-2-3 each
    // round keeps 3 edges while the set changes twice:
    //   E0 {(0,1),(1,2),(2,3)} → E1 {(1,0),(2,0),(3,1)} → E2 {(1,0),(2,0),(3,0)}
    // Stopping on the fingerprint alone would return E1's labels (3 → 1);
    // the exact diff must reject both collisions and run to E2 = E3.
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("da", "db")
    val (hashed, hashedRounds) = LlmOps.ccLargeSmallStar(pairs, localFinishBytes = StarsOnly)
    val (collided, collidedRounds) = LlmOps.ccLargeSmallStar(pairs,
      edgeHash = (_, _) => lit(0L), localFinishBytes = StarsOnly)
    labels(collided) shouldBe Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L)
    labels(collided) shouldBe labels(hashed)
    collidedRounds shouldBe hashedRounds
    collidedRounds shouldBe 3
  }

  test("multiple components + skewed hub: labels are component minima") {
    import spark.implicits._
    val edges =
      (101L to 140L).map(v => (100L, v)) ++ // star: hub 100, 40 leaves
        Seq((1L, 2L), (2L, 3L), (1L, 3L),   // triangle + tail chain
          (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L),
          (200L, 201L))                     // isolated edge
    val pairs = edges.toDF("da", "db")
    val (stars, _) = LlmOps.ccLargeSmallStar(pairs)
    val (prop, _) = LlmOps.ccPropagation(pairs)
    labels(stars) shouldBe labels(prop)
    val m = labels(stars)
    (100L to 140L).foreach(v => m(v) shouldBe 100L)
    (1L to 7L).foreach(v => m(v) shouldBe 1L)
    m(200L) shouldBe 200L
    m(201L) shouldBe 200L
  }

  test("brute-force guard trips over the cap, is conf-overridable, passes at test SF") {
    // the guard now lives on the demoted SPEC-ONLY baselines — the
    // production entries (prefix filter / banded candidates) are
    // unguarded by design
    spark.conf.set("spark.graft.bruteForceCap", "10")
    try {
      val ex = intercept[IllegalArgumentException] {
        LlmOps.ngramJaccardSharedKey(
          graft.io.Tables.documents(spark, sf)).count()
      }
      ex.getMessage should include("prefix filter")
      intercept[IllegalArgumentException] {
        LlmOps.dedupCosineAllPairs(spark, sf)
      }
    } finally spark.conf.unset("spark.graft.bruteForceCap")
    LlmOps.qNgramJaccard(spark, sf).count() should be > 0L
  }

  test("cluster stats: components are connected (edges >= n-1) and density <= 1") {
    import org.apache.spark.sql.functions._
    val cs = graft.ops.LlmOps.qClusterStats(TestSpark.spark, TestSpark.sf).cache()
    cs.count() should be > 0L
    cs.filter(col("n_docs") < 2).count() shouldBe 0
    // a component's verified edges are what connected it, so a cluster
    // of n docs must carry at least the spanning n-1 of them
    cs.filter(col("n_edges") < col("n_docs") - 1).count() shouldBe 0
    cs.filter(col("density") > 1.0 || col("density") <= 0.0).count() shouldBe 0
    cs.filter(col("min_jacc") > col("max_jacc")).count() shouldBe 0
  }

  test("pagerank: hand-computed star graph; regular graphs are fixpoints") {
    import spark.implicits._
    // star a(1)-b(2), a-c: deg(a)=2, deg(b)=deg(c)=1 — three exact
    // integer damping rounds computed by hand in micro-units
    val star = Seq((1L, 2L), (1L, 3L)).toDF("da", "db")
    val got = LlmOps.pagerankOf(star).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    got shouldBe Map(
      1L -> (2L, 1741625L), 2L -> (1L, 629187L), 3L -> (1L, 629187L))
    // a triangle is 2-regular: every round redistributes uniformly, so
    // ranks stay at the initial 1.0 (damping identity: 150000+850000)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("da", "db")
    LlmOps.pagerankOf(tri).collect().map(_.getLong(2)).toSet shouldBe
      Set(1000000L)
  }

  test("pagerank on the corpus: ranks bounded below by the jump mass") {
    val pr = graft.ops.LlmOps.qPagerank(TestSpark.spark, TestSpark.sf).cache()
    pr.count() should be > 0L
    import org.apache.spark.sql.functions._
    pr.filter(col("rank_micro") < 150000L).count() shouldBe 0
    pr.filter(col("deg") < 1).count() shouldBe 0
  }
}
