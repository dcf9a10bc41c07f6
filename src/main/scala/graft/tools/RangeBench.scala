package graft.tools

import org.apache.spark.sql.functions._

/** GraftRangeJoin (broadcast + binary search) and
  * GraftShuffledRangeJoin (partitioned tier) vs Spark's
  * BroadcastNestedLoopJoin on the same band predicate (SURVEY §2 B7),
  * sf-dir customer×supplier and customer self-join, warm best-of-2
  * each. The fallback is forced through the strategy's kill switch; the
  * partitioned tier through the explicit RangeJoinOp API. */
object RangeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // small build side (supplier, M≈1.5k at sf0.1): probe cost is noise
    def qSupp() = spark.read.parquet(s"$sfDir/customer.parquet")
      .join(spark.read.parquet(s"$sfDir/supplier.parquet"),
        col("c_acctbal") >= col("s_acctbal") - 100 &&
          col("c_acctbal") <= col("s_acctbal") + 100)
      .groupBy("s_suppkey").agg(count(lit(1)).as("n_near"))
    // self band join (M = full customer table): the O(N·M) vs
    // O(N·log M + matches) separation becomes visible
    def qSelf() = {
      val a = spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey").as("ak"), col("c_acctbal").as("ab"))
      val b = spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey").as("bk"), col("c_acctbal").as("bb"))
      a.join(b, col("ab") >= col("bb") - 5 && col("ab") <= col("bb") + 5)
        .groupBy("bk").agg(count(lit(1)).as("n_near"))
    }
    def time(label: String, q: () => org.apache.spark.sql.DataFrame): Double = {
      q().count() // warm
      val s = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); q().count(); (System.nanoTime() - t0) / 1e9
      }.min
      println(s"""{"range_join":"$label","sec":$s,"sf":"$sfDir"}""")
      s
    }
    // the same self band join through the PARTITIONED tier (both sides
    // shuffled, per-partition index — the over-broadcast-threshold path)
    def qSelfPart() = {
      val a = spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey").as("ak"), col("c_acctbal").as("ab"))
      val b = spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey").as("bk"), col("c_acctbal").as("bb"))
      graft.plans.RangeJoinOp.rangePartitioned(a, b,
          a("ab"), b("bb") - 5, b("bb") + 5)
        .groupBy("bk").agg(count(lit(1)).as("n_near"))
    }
    // FACT×FACT (600k points × 150k intervals at sf0.1): the tier the
    // partitioned exec exists for. BroadcastNestedLoopJoin is ~10^11
    // comparisons here — deliberately not timed. The honest competitor
    // is the DataFrame-level banded equi-join rewrite (needs a KNOWN
    // max interval width; the exec handles arbitrary intervals).
    def qFactPart() = {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_extendedprice"))
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.plans.RangeJoinOp.rangePartitioned(li, ord,
          li("l_extendedprice"), ord("o_totalprice") - 5, ord("o_totalprice") + 5)
        .groupBy("o_orderkey").agg(count(lit(1)).as("n_near"))
    }
    def qFactBanded() = {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_extendedprice"),
          floor(col("l_extendedprice") / 10.0).cast("long").as("band"))
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_totalprice"),
          explode(array(
            floor(col("o_totalprice") / 10.0).cast("long") - 1,
            floor(col("o_totalprice") / 10.0).cast("long"),
            floor(col("o_totalprice") / 10.0).cast("long") + 1)).as("band"))
      li.join(ord, "band")
        .filter(col("l_extendedprice") >= col("o_totalprice") - 5 &&
          col("l_extendedprice") <= col("o_totalprice") + 5)
        .groupBy("o_orderkey").agg(count(lit(1)).as("n_near"))
    }
    val cs = time("supplier_graft", qSupp _)
    val cc = time("self_graft", qSelf _)
    val cp = time("self_graft_partitioned", qSelfPart _)
    val fp = time("fact_fact_partitioned", qFactPart _)
    val fb = time("fact_fact_banded_df", qFactBanded _)
    println(f"""{"fact_fact_partitioned_vs_banded":${fb / fp}%.2f}""")
    spark.conf.set(graft.plans.RangeJoinStrategy.EnabledKey, "false")
    val ns = time("supplier_nested_loop", qSupp _)
    val nc = time("self_nested_loop", qSelf _)
    println(f"""{"speedup_supplier":${ns / cs}%.2f,"speedup_self":${nc / cc}%.2f,"speedup_self_partitioned":${nc / cp}%.2f}""")
    spark.stop()
  }
}
