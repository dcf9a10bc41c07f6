package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide counters every run reads: wall, process CPU and
  * main-thread CPU. They cost a few system calls and register nothing
  * with Spark. */
object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean

  def wallNs: Long = System.nanoTime()
  def processCpuNs: Long = os.getProcessCpuTime
  def mainCpuNs: Long = threads.getCurrentThreadCpuTime
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Hypervisor steal of the whole host, in seconds summed over CPUs
    * (the eighth field of the `cpu` line of /proc/stat, USER_HZ = 100). */
  def stealS: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toDouble / 100.0
      finally src.close()
    } catch { case _: Exception => 0.0 }

  /** Heap still in use after a full collection, in MB. A collection
    * lets Spark's ContextCleaner drop unreferenced broadcasts and
    * shuffles, which frees more on the next one, so collect until two
    * readings agree. */
  def liveHeapMb(): Double = {
    def used(): Double = {
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (prev, cur, n) = (Double.MaxValue, used(), 1)
    while (n < 10 && math.abs(prev - cur) > 0.002 * cur) { prev = cur; cur = used(); n += 1 }
    cur
  }
}

/** The traced run's listeners: Catalyst phase and rule times from every
  * QueryExecution, and job, stage, task, shuffle, input and storage
  * counts from the scheduler. Installed only with `--trace 1`; the
  * untraced run registers nothing, and the difference between the two
  * runs' round times is the tracing overhead. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = sums.synchronized(sums(k) += v)

  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val blocks = mutable.Map.empty[String, Long]
  private var blockBytes = 0L
  private var blockPeak = 0L

  // ---- QueryExecutionListener
  private def onQe(qe: QueryExecution): Unit = {
    val t = qe.tracker
    add("catalyst.queries", 1)
    Seq("analysis", "optimization", "planning").foreach { p =>
      t.phases.get(p).foreach(s => add(s"catalyst.${p}_s", s.durationMs / 1000.0))
    }
    add("plans.graft_rules_s",
      t.rules.collect { case (r, s) if r.startsWith("graft.") => s.totalTimeNs }.sum / 1e9)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = onQe(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = onQe(qe)

  // ---- SparkListener
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("exec.jobs", 1)
    jobStart.synchronized(jobStart(e.jobId) = e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobStart.synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("exec.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      add("exec.task_run_s", m.executorRunTime / 1000.0)
      add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("exec.input_bytes", m.inputMetrics.bytesRead)
      add("exec.input_rows", m.inputMetrics.recordsRead)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = blocks.synchronized {
    val i = e.blockUpdatedInfo
    val id = i.blockId.name
    val now = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
    blockBytes += now - blocks.getOrElse(id, 0L)
    if (now == 0L) blocks.remove(id) else blocks(id) = now
    blockPeak = math.max(blockPeak, blockBytes)
  }

  /** Wait for every posted event, then return the figures gathered
    * since the last call and reset them. `fromMs`/`toMs` bound the span
    * over which the time with a job running is taken. */
  def take(fromMs: Long, toMs: Long): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    val counts = sums.synchronized { val m = sums.toMap; sums.clear(); m }
    val busyMs = jobStart.synchronized {
      val spans = jobSpans.toSeq.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      jobSpans.clear()
      var covered = 0L; var end = Long.MinValue
      spans.foreach { case (s, e) =>
        if (s > end) { covered += e - s; end = e }
        else if (e > end) { covered += e - end; end = e }
      }
      covered
    }
    val peak = blocks.synchronized { val p = blockPeak; blockPeak = blockBytes; p }
    (counts ++ Map("driver.job_busy_s" -> busyMs / 1000.0, Probe.Peak -> peak.toDouble))
      .withDefaultValue(0.0)
  }
}

object Probe {
  /** The one figure that is a maximum over the timed rounds, not a sum. */
  val Peak = "ops.cache_peak_bytes"

  def install(spark: SparkSession): Probe = {
    val p = new Probe(spark)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }
}
