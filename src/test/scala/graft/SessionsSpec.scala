package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The session factory every entry point uses. TestSpark's shared
  * session is built by it, so these checks are on the configuration the
  * whole suite (and Verify, Bench) runs under. */
class SessionsSpec extends AnyFunSuite with Matchers {
  import TestSpark.{sf, spark}

  private def rangeJoinStrategies(s: org.apache.spark.sql.SparkSession): Int =
    s.sessionState.planner.strategies.count(_ == graft.plans.RangeJoinStrategy)

  test("graft SQL functions resolve") {
    val r = spark.sql(
      """SELECT vec_dot(array(1f, 2f), array(3f, 4f)) AS d,
        |       vec_dot_i8(array(1Y, 2Y), array(3Y, 4Y)) AS d8""".stripMargin)
      .collect().head
    r.getDouble(0) shouldBe 11.0
    r.getLong(1) shouldBe 11L
    spark.range(5).selectExpr("CAST(id AS DOUBLE) AS x")
      .selectExpr("topk(x, 2) AS t").collect().head.getSeq[Double](0) shouldBe
      Seq(4.0, 3.0)
  }

  test("VecDotRewrite turns the HOF dot product into vec_dot") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val hof = aggregate(zip_with(col("embedding"), col("embedding"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, x) => acc + x)
    val plan = e.select(hof.as("d")).queryExecution.optimizedPlan.toString
    plan should include("vec_dot")
    (plan should not).include("zip_with")
  }

  test("RangeJoinStrategy is installed once, also after a second getOrCreate") {
    rangeJoinStrategies(spark) shouldBe 1
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val again =
      try Sessions.builder(2).getOrCreate()
      finally spark.conf.set("spark.sql.shuffle.partitions", partitions)
    again should be theSameInstanceAs spark
    rangeJoinStrategies(again) shouldBe 1
  }

  test("time zone, nanosAsLong and NTZ inference read as configured") {
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
    spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") shouldBe "false"
  }

  test("the codegen cache is sized for a session's working set of classes") {
    spark.conf.get("spark.sql.codegen.cache.maxEntries") shouldBe
      Sessions.CodegenCacheEntries.toString
    Sessions.CodegenCacheEntries should be >= 1000
  }
}
