package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Second-JVM tx writer for the TWO-PROCESS commit-contention spec
  * (TxTwoProcessSpec): the hard-link put-if-absent commit protocol is
  * process-safe by construction (POSIX createLink atomicity is a
  * filesystem property, not a JVM lock), and this main is what proves
  * it where it matters — a separate process, separate SparkSession,
  * contending appends on the same table root as the spec's own writers.
  *
  * Args: root appId keyBase nBatches rowsPerBatch.
  * Protocol: write `<root>/_child_ready` once the session is up, wait
  * for `<root>/_go`, then run the appends (each a blind-rebase commit
  * racing the parent's), and exit 0 on success. */
object TxContender {
  def main(args: Array[String]): Unit = {
    val Array(root, appId, keyBase, nBatches, rowsPerBatch) = args.take(5)
    val spark = graft.Sessions.builder(2)
      .appName(s"tx-contender-$appId").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.write(Paths.get(root, "_child_ready"), Array.emptyByteArray)
    val deadline = System.currentTimeMillis() + 60000
    while (!Files.exists(Paths.get(root, "_go"))) {
      if (System.currentTimeMillis() > deadline) sys.error("no _go signal")
      Thread.sleep(20)
    }
    val base = keyBase.toLong
    val n = rowsPerBatch.toLong
    (0 until nBatches.toInt).foreach { i =>
      val lo = base + i * n
      graft.io.TxTable.append(spark, root,
        spark.range(lo, lo + n).select(col("id").as("k"),
          (col("id") * 10).cast("double").as("v"),
          lit(appId).as("tag")),
        nFiles = 1)
    }
    spark.stop()
  }
}
