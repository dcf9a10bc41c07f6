package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Native bounded-heap topk aggregate vs the two built-in per-group
  * top-k routes (rank window + filter; collect_list+sort+slice) on
  * lineitem grouped by l_partkey (many small groups — the realistic
  * per-entity top-k shape). Warm best-of-2 each. */
object TopKBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    def viaAgg() = li.groupBy("l_partkey")
      .agg(graft.expressions.TopKDoubles.topK(col("l_extendedprice"), 5).as("t"))
    def viaWindow() = {
      val w = Window.partitionBy("l_partkey").orderBy(col("l_extendedprice").desc)
      li.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .groupBy("l_partkey").agg(collect_list("l_extendedprice").as("t"))
    }
    def viaCollect() = li.groupBy("l_partkey")
      .agg(slice(sort_array(collect_list("l_extendedprice"), asc = false), 1, 5).as("t"))
    def time(label: String, q: () => org.apache.spark.sql.DataFrame): Double = {
      q().count()
      val s = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); q().count(); (System.nanoTime() - t0) / 1e9
      }.min
      println(s"""{"topk":"$label","sec":$s,"sf":"$sfDir"}""")
      s
    }
    val a = time("native_heap_agg", viaAgg _)
    val w = time("rank_window", viaWindow _)
    val c = time("collect_sort_slice", viaCollect _)
    println(f"""{"speedup_vs_window":${w / a}%.2f,"speedup_vs_collect":${c / a}%.2f}""")
    spark.stop()
  }
}
