package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.{GraphAnn, LlmOps}

/** Spark jobs per step of the driver-sequenced LLM operators. At small
  * scale each job costs a fixed driver round trip (task binary
  * broadcast, scheduling, codegen) that dwarfs its compute, so the job
  * count per step is pinned here. Jobs are attributed to SQL executions
  * in start order; a job outside any execution (the final write of a
  * [[graft.ops.Ckpt]]) belongs to the execution before it. */
class JobBudgetSpec extends AnyFunSuite with Matchers {
  import TestSpark.{sf, spark}

  /** Jobs per SQL execution (in start order) that `body` ran. */
  private def jobsPerExecution[T](body: => T): (T, Seq[Int]) = {
    val group = s"job-budget-${System.nanoTime()}"
    val execOrder = mutable.ArrayBuffer[Long]()
    val jobs = mutable.ArrayBuffer[Option[Long]]() // exec id per job, in start order
    var open = 0
    val sc = spark.sparkContext
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => synchronized(execOrder += s.executionId)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = js.properties
        if (p != null && p.getProperty("spark.jobGroup.id") == group) synchronized {
          jobs += Option(p.getProperty("spark.sql.execution.id")).map(_.toLong)
          open += 1
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized(open -= 1)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget")
    val out =
      try body
      finally sc.clearJobGroup()
    // the bus delivers asynchronously: wait until every started job has
    // ended and nothing new arrived for a while
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    var (last, stable) = (-1, 0)
    while (stable < 2 && System.nanoTime() < deadline) {
      Thread.sleep(200)
      val (n, running) = listener.synchronized((jobs.size, open))
      stable = if (n == last && running <= 0) stable + 1 else 0
      last = n
    }
    sc.removeSparkListener(listener)
    listener.synchronized {
      val idx = execOrder.zipWithIndex.toMap
      val per = Array.fill(execOrder.size)(0)
      var cur = -1
      jobs.foreach { j =>
        j.flatMap(idx.get).foreach(cur = _)
        if (cur >= 0) per(cur) += 1
      }
      (out, per.toSeq)
    }
  }

  // Budgets carry one job of slack over the counts measured when they
  // were set (4 per star round, 4 for the diff, 3 for the first cut, 5
  // per descent round). The shapes they replaced ran 8 jobs per star
  // round plus 5-6 per except().count() (two per converged round), 4
  // for the first cut and 7 per descent round.
  test("ccLargeSmallStar: one job for a local input, <= 5 per star round, one convergence diff") {
    import spark.implicits._
    graft.ops.Ckpt.releaseAll(spark)
    // a path takes several rounds; a local input needs no shuffle, so its
    // checkpoint is the one materialization job
    val pairs = (0L until 24L).map(i => (i, i + 1)).toDF("da", "db")
    val ((_, rounds), per) = jobsPerExecution(LlmOps.ccLargeSmallStar(pairs))
    info(s"rounds=$rounds jobs per execution=${per.mkString(",")}")
    rounds should be >= 3
    // input checkpoint, one checkpoint per round, then ONE exact diff:
    // convergence costs no job while fingerprints differ
    per.size shouldBe rounds + 2
    per.head should be <= 1
    per.slice(1, rounds + 1).foreach(_ should be <= 5)
    per.last should be <= 5
    graft.ops.Ckpt.releaseAll(spark)
  }

  test("knnEdgesFrom: <= 3 jobs for the first cut, <= 6 per descent round") {
    graft.ops.Ckpt.releaseAll(spark)
    val corpus = graft.io.Tables.embeddings(spark, sf)
    val (_, per) = jobsPerExecution(GraphAnn.knnEdgesFrom(spark, corpus))
    info(s"jobs per execution=${per.mkString(",")}")
    // corpus count, first-cut checkpoint, two descent-round checkpoints
    per.size shouldBe 4
    per(1) should be <= 3
    per.drop(2).foreach(_ should be <= 6)
    graft.ops.Ckpt.releaseAll(spark)
  }
}
