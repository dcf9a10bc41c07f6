package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one workload in one JVM, one closed-loop client.
  *
  * Set-up (session start, standing-store builds, one untimed warm round)
  * is followed by about `--seconds` of timed rounds; a round is one pass
  * over the workload's operations in a seeded order. The
  * figures go to `--out` as JSON; `perfbench/run.py` turns them into the
  * benchmark's result line and runs the DuckDB oracle on the results the
  * warm round wrote.
  *
  * Args: --workload relational|llm_pipeline|tx_churn --seed N --seconds S
  *       --trace 0|1 --cores K --data DIR --work DIR --out FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val (data, work) = (a("data"), a("work"))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      // the status store's history would otherwise grow with the number
      // of rounds and blur the live-heap figure
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = if (trace) Some(Probe.install(spark)) else None

    val stats = new Stats
    // (workload, its round time on a 4-vCPU reference host in seconds)
    val (wl, nominalRoundS) = workload match {
      case "relational" => (new EntryMix(spark, data, work, Mixes.relational, seed, stats), 3.0)
      case "llm_pipeline" => (new EntryMix(spark, data, work, Mixes.llmPipeline, seed, stats), 10.0)
      case "tx_churn" => (new TxChurn(spark, data, work, seed, stats), 4.0)
    }
    // A fixed number of timed rounds, not "until the time is up": every
    // run then attempts the same operations and takes the median over
    // the same number of rounds, however fast the host is that day.
    val timedRounds = math.max(1, math.round(seconds / nominalRoundS).toInt)

    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val opWall = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val opTaskCpu = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val traced = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

    /** One round; returns the summed wall time of its operations. */
    def runRound(r: Int): Double = {
      var wall = 0.0
      wl.round(r).foreach { op =>
        attempted += 1
        val t0 = System.currentTimeMillis()
        val w0 = Clock.wallNs
        try op.run()
        catch { case NonFatal(e) => failures += s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}" }
        val dt = (Clock.wallNs - w0) / 1e9
        val t1 = System.currentTimeMillis()
        wall += dt
        if (r > 0) {
          opWall(op.name) += dt
          stats.sample(op.name, dt)
          probe.foreach { p =>
            val m = p.take(t0, t1)
            opTaskCpu(op.name) += m("exec.task_cpu_s")
            m.foreach { case (k, v) =>
              traced(k) = if (k == Probe.Peak) math.max(traced(k), v) else traced(k) + v
            }
            traced("driver.job_gap_s") += dt - m("driver.job_busy_s")
          }
        }
        wl.betweenOps()
      }
      wall
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def log(msg: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s: $msg")
    log("session started")
    wl.prepare()
    log("prepared")
    runRound(0)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    log("warm round done")
    probe.foreach(_.take(0L, 0L)) // set-up events belong to no round
    stats.sums.clear()
    stats.samples.clear()

    val roundWall = mutable.ArrayBuffer.empty[Double]
    val roundCpu = mutable.ArrayBuffer.empty[Double]
    val (cpu0, main0, jit0, gc0) = (Clock.processCpuNs, Clock.mainCpuNs, Clock.jitMs, Clock.gcMs)
    val (steal0, replays0) = (Clock.stealS, graft.io.TxTable.logReplays.get)
    (1 to timedRounds).foreach { r =>
      val c0 = Clock.processCpuNs
      roundWall += runRound(r)
      roundCpu += (Clock.processCpuNs - c0) / 1e9
      log(f"round $r: ${roundWall.last}%.2f s wall, ${roundCpu.last}%.2f s CPU")
    }
    val rounds = roundWall.size.toDouble
    val processCpuS = (Clock.processCpuNs - cpu0) / 1e9
    val mainCpuS = (Clock.mainCpuNs - main0) / 1e9
    val whole = Map(
      "driver.main_cpu_s" -> mainCpuS,
      "jvm.process_cpu_s" -> processCpuS,
      "jvm.jit_s" -> (Clock.jitMs - jit0) / 1000.0,
      "jvm.gc_s" -> (Clock.gcMs - gc0) / 1000.0,
      "host.steal_s" -> (Clock.stealS - steal0),
      "io.log_replays" -> (graft.io.TxTable.logReplays.get - replays0).toDouble)
    val liveHeapMb = Clock.liveHeapMb()

    val mismatches = mutable.ArrayBuffer.empty[String] ++ wl.mismatches
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        // independent sources: the OS's process CPU must cover the task
        // CPU the listener reports plus the driver thread's own CPU
        val taskCpuS = traced("exec.task_cpu_s")
        if (processCpuS + 0.05 < taskCpuS + mainCpuS)
          mismatches += f"trace: process CPU $processCpuS%.3f s < task CPU $taskCpuS%.3f s + main-thread CPU $mainCpuS%.3f s"
        (traced.toMap ++ stats.sums ++ whole).map { case (k, v) =>
          k -> (if (k == Probe.Peak) v else v / rounds)
        } ++ wl.figures
      }

    val oracle = graft.SparkEntry.oracleSql
    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "attempted" -> attempted, "failed" -> failures.size,
      "failures" -> failures.toSeq, "mismatches" -> mismatches.toSeq,
      "results" -> wl.written.map(n => n -> oracle.getOrElse(n, "")).toMap,
      "setup_s" -> setupS, "round_s" -> roundWall.toSeq, "round_cpu_s" -> roundCpu.toSeq,
      "live_heap_mb" -> liveHeapMb, "steal_s" -> whole("host.steal_s"), "layers" -> layers,
      "ops" -> opWall.keys.map(n => n -> Map(
        "wall_s" -> opWall(n) / rounds, "task_cpu_s" -> opTaskCpu(n) / rounds)).toMap)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(a("out")), result)
    spark.stop()
  }
}
