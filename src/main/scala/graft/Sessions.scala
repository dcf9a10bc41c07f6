package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session's configuration is decided. Plans built
  * by graft only mean what they say inside this configuration: the
  * [[graft.expressions.GraftExtensions]] functions, rules, strategy and
  * parser; UTC; nanosecond parquet timestamps read as longs (`events`);
  * and no NTZ inference. Callers that really differ chain their own
  * settings on the returned builder before `getOrCreate()`. The
  * extensions are applied only when the session is first created, so a
  * second `getOrCreate()` returns the same session without installing
  * them twice (SessionsSpec).
  *
  * The codegen cache holds [[CodegenCacheEntries]] compiled classes
  * instead of Spark's 100. The cache is keyed by (context class loader,
  * source), so each generated class takes one entry on the driver and
  * one for the tasks; one pass of the LLM dedup and k-NN ops alone
  * generates ~75 distinct classes, and at 100 entries a session that
  * cycles through its queries recompiles every one of them each time.
  * The setting is static: it takes effect when the JVM's first session
  * is built. */
object Sessions {
  val CodegenCacheEntries = 2000

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
}
