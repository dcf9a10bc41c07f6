package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
/** Micro-bench: native vec_dot Expression vs zip_with/aggregate HOF over
  * the all-pairs cosine workload (embeddings sf0.1 = 2000 vecs → 2M pairs
  * × 64 dims). Prints warm best-of-2 for each formulation. */
object VecDotBench {
  def main(args: Array[String]): Unit = {
    val sf = "/root/testdata/sf0.1"
    // A bare session on purpose, not graft.Sessions: GraftExtensions'
    // VecDotRewrite would turn the HOF arm into vec_dot, and the
    // comparison this bench exists to measure would disappear.
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.expressions.FloatVectorDot.register(spark)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val pairs = a.join(b, col("va") < col("vb"))
    def hof = pairs.select(sum(
      aggregate(zip_with(col("ea"), col("eb"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)).as("s"))
    def native = pairs.select(sum(expr("vec_dot(ea, eb)")).as("s"))
    def time(f: => org.apache.spark.sql.DataFrame): (Double, Double) = {
      f.collect() // warm
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); val v = f.collect()(0).getDouble(0)
        ((System.nanoTime() - t0) / 1e9, v)
      }
      (ts.map(_._1).min, ts.head._2)
    }
    val (tHof, vHof) = time(hof)
    val (tNat, vNat) = time(native)
    println(f"VECDOT hof=$tHof%.3fs native=$tNat%.3fs speedup=${tHof / tNat}%.2fx valuesEqual=${vHof == vNat}")

    // int8 quantized kernel over the same all-pairs workload: quantize
    // once per vector, then the native long-accumulating byte dot vs its
    // HOF formulation (sums differ from the float sums by design — the
    // comparison here is q8-native vs q8-HOF)
    graft.expressions.Q8VectorDot.register(spark)
    val scale = array_max(transform(col("embedding"), x => abs(x.cast("double")))) / lit(127.0)
    val qe = e.select(col("vec_id"), scale.as("scale"), col("embedding"))
      .select(col("vec_id"),
        transform(col("embedding"), x =>
          round(x.cast("double") / col("scale"), 0).cast("byte")).as("qv"))
    val qa = qe.select(col("vec_id").as("va"), col("qv").as("qa"))
    val qb = qe.select(col("vec_id").as("vb"), col("qv").as("qb"))
    val qpairs = qa.join(qb, col("va") < col("vb"))
    def q8hof = qpairs.select(sum(
      aggregate(zip_with(col("qa"), col("qb"), (x, y) => x.cast("long") * y.cast("long")),
        lit(0L), (acc, x) => acc + x)).cast("double").as("s"))
    def q8native = qpairs.select(sum(expr("vec_dot_i8(qa, qb)")).cast("double").as("s"))
    val (tQHof, vQHof) = time(q8hof)
    val (tQNat, vQNat) = time(q8native)
    println(f"VECDOTQ8 hof=$tQHof%.3fs native=$tQNat%.3fs speedup=${tQHof / tQNat}%.2fx valuesEqual=${vQHof == vQNat} vsFloatNative=${tNat / tQNat}%.2fx")
    spark.stop()
  }
}
