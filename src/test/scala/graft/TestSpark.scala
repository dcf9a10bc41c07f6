package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole ScalaTest run (JVM-forked),
  * built by the production factory [[Sessions]] so the suite runs on the
  * configuration Verify and Bench use. */
object TestSpark {
  val sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = Sessions.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
