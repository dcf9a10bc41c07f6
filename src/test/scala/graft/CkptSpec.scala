package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.Ckpt

/** [[Ckpt]]'s storage contract on its own failure path: a checkpoint
  * whose materialization job fails must not leave its half-written RDD
  * persisted, since the caller never receives a handle to release it. */
class CkptSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark

  test("a cancelled materialization leaves no persisted RDD") {
    // No shuffle, so the only job is the one that writes the checkpoint's
    // blocks; the listener cancels every job of the group. Each task
    // sleeps, so the job outlives the listener's delivery.
    val group = "ckpt-leak-spec"
    val sc = spark.sparkContext
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = js.properties
        if (p != null && p.getProperty("spark.jobGroup.id") == group)
          sc.cancelJob(js.jobId)
      }
    }
    val slow = udf { (x: Long) => Thread.sleep(100); x }.asNondeterministic()
    val df = spark.range(0, 40, 1, 4).select(slow(col("id")).as("id"))
    Ckpt.releaseAll(spark)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "cancel the checkpoint's materialization")
    val ex =
      try intercept[Exception](Ckpt(df))
      finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" ") should include("cancel")
    sc.getPersistentRDDs shouldBe empty
  }
}
