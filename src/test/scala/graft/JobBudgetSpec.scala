package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.io.TxTable
import graft.ops.{GraphAnn, LlmOps}

/** Spark jobs per step of the driver-sequenced LLM operators and per tx
  * commit and read. At small scale each job costs a fixed driver round
  * trip (task binary broadcast, scheduling, codegen) that dwarfs its
  * compute, so the job count per step is pinned here. Jobs are
  * attributed to SQL executions in start order; a job outside any
  * execution (the final write of a [[graft.ops.Ckpt]]) belongs to the
  * execution before it. */
class JobBudgetSpec extends AnyFunSuite with Matchers {
  import TestSpark.{sf, spark}

  /** Jobs per SQL execution (in start order) that `body` ran. */
  private def jobsPerExecution[T](body: => T): (T, Seq[Int]) = {
    val (out, per, _) = recordJobs(body)
    (out, per)
  }

  /** `body`'s result, its jobs per SQL execution, and all the jobs it
    * ran — also those before its first execution (a path listing or a
    * schema inference while a DataFrame is being built). */
  private def recordJobs[T](body: => T): (T, Seq[Int], Int) = {
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
      (out, per.toSeq, jobs.size)
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

  // Tx commits and reads find their files through the manifest (no
  // listing or schema-inference job), take file stats from the written
  // footers (no stats job), and a one-file write needs no exchange. The
  // table has more than 32 files, so a path-listed read would also run
  // Spark's parallel listing job.
  private lazy val txRoot: String = {
    val r = s"/tmp/graft_jobspec_p${ProcessHandle.current.pid}/tx"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(r))
    TxTable.create(spark, r, txRows(0, 4000), "k", nFiles = 40)
    r
  }

  private def txRows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id").as("k"),
      (col("id") % 97).cast("double").as("v"))

  /** All jobs `body` ran. */
  private def txJobs[T](body: => T): (T, Int) = {
    val (out, _, n) = recordJobs(body)
    (out, n)
  }

  private def drainedRead(root: String) =
    TxTable.read(spark, root).agg(count(lit(1)), sum(col("v"))).head

  test("tx: a latest read drained by an aggregate runs <= 2 jobs") {
    TxTable.snapshot(txRoot).files.size should be > 32
    val (_, n) = txJobs(drainedRead(txRoot))
    info(s"read jobs=$n")
    n should be <= 2
  }

  test("tx: one-file append and delete are one job, upsertBatch <= 5, compact(4) <= 3") {
    val (_, append) = txJobs(TxTable.append(spark, txRoot, txRows(5000, 5200), nFiles = 1))
    val (_, delete) = txJobs(TxTable.delete(spark, txRoot, 100L, 140L, nFiles = 1))
    val (_, upsert) = txJobs(TxTable.upsertBatch(spark, txRoot, "jobspec", 1L,
      txRows(5100, 5300), nFiles = 1))
    val (_, compact) = txJobs(TxTable.compact(spark, txRoot, nFiles = 4))
    info(s"jobs: append=$append delete=$delete upsert=$upsert compact=$compact")
    append should be <= 2
    delete should be <= 2
    upsert should be <= 5
    compact should be <= 3
    TxTable.read(spark, txRoot).count() shouldBe 4000L - 41L + 300L
  }

  // The tombstones are one manifest scan broadcast into an anti-join,
  // and a broadcast materializes in a job of its own; a read with
  // deletion vectors may run that one job more, but no listing or
  // schema-inference job.
  test("tx: a read with deletion vectors adds only the tombstone broadcast") {
    val base = s"/tmp/graft_jobspec_p${ProcessHandle.current.pid}"
    val (plain, dv) = (s"$base/plain", s"$base/dv")
    Seq(plain, dv).foreach { r =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(r))
      TxTable.create(spark, r, txRows(0, 400), "k", nFiles = 4)
    }
    TxTable.deleteMor(spark, dv, 10L, 19L)
    TxTable.snapshot(dv).dvs should have size 1
    val (p, nPlain) = txJobs(drainedRead(plain))
    val (d, nDv) = txJobs(drainedRead(dv))
    info(s"read jobs: plain=$nPlain with dvs=$nDv")
    p.getLong(0) shouldBe 400L
    d.getLong(0) shouldBe 390L
    nDv should be <= nPlain + 1
  }

  test("tx: changes() over a pure append plans no join") {
    val r = s"/tmp/graft_jobspec_p${ProcessHandle.current.pid}/feed"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(r))
    TxTable.create(spark, r, txRows(0, 400), "k", nFiles = 4)
    val v = TxTable.append(spark, r, txRows(400, 450), nFiles = 1)
    val feed = TxTable.changes(spark, r, v - 1, v)
    feed.queryExecution.optimizedPlan.collect { case j: Join => j } shouldBe empty
    feed.groupBy("change_type").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap shouldBe Map("insert" -> 50L)
  }
}
