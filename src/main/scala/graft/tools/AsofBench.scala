package graft.tools

/** Measures the as-of join formulations (SURVEY §2 B8) head-to-head:
  * the union+last single-shuffle window form (q_join_asof), the
  * partitioned sort-merge form (q_join_asof_merge) and the streaming
  * twin (q_stream_asof). Warm best-of-2 each, same session. */
object AsofBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs = Seq("q_join_asof", "q_join_asof_merge", "q_join_asof_tol",
      "q_join_asof_merge_tol", "q_stream_asof")
      .map(n => n -> graft.SparkEntry.queries(n))
    qs.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case scala.util.control.NonFatal(_) => () }
    }
    val results = qs.map { case (name, fn) =>
      val samples = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[asof-bench] $name failed: ${e.getMessage}"); -1.0 }
      }
      name -> (if (samples.exists(_ < 0)) -1.0 else samples.min)
    }
    val qJson = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"asof","queries":$qJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
