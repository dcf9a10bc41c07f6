package graft.tools

import graft.dsl.{Alias, Df, Funcs, UserFuncs}
import graft.compile.Compiler

/** Usage example / manual smoke driver for the DSL surface: builds the
  * reference's signature query shapes through expression capture and
  * executes them. `sbt "runMain graft.tools.DslDemo [sfDir]"`. */
object DslDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Sessions.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val c = Compiler(spark, sfDir)

    // d[d.met > 50]-style row filter + arithmetic projection
    val li = Df.root("lineitem")
    val filtered = li(li.l_quantity > 45)
    println("— row filter d[d.l_quantity > 45], revenue projection:")
    c.toDF(Seq(
      filtered.l_orderkey,
      (filtered.l_extendedprice * (Df.lit(1.0) - filtered.l_discount)).as("revenue")))
      .show(5)

    // d.jets[d.jets.pt > 30]-style nested-collection filter
    val e = Df.root("embeddings")
    val emb = e.embedding
    println("— nested filter d.embedding[d.embedding > 0].count():")
    c.toDF(Seq(e.vec_id, emb(emb > 0f).count().as("n_pos"))).show(5)

    // alias + ufunc + user_func
    Alias.define("", "qty_root")(d => Funcs.sqrt(d.l_quantity))
    UserFuncs.register("plus_one",
      org.apache.spark.sql.functions.udf((x: Double) => x + 1.0))
    println("— alias (sqrt via ufunc registry) + user_func UDF:")
    c.toDF(Seq(li.l_orderkey, li.qty_root.as("root_q"),
      UserFuncs.call("plus_one", li.l_quantity).as("q1"))).show(5)

    // aggregate method capture
    println("— d.l_quantity.sum() aggregate capture:")
    c.toDF(Seq(li.l_quantity.sum().as("total_qty"))).show()

    // binary/ternary ufuncs incl. elementwise-over-collection lowering
    println("— np.minimum/np.where analogs; minimum maps elementwise over arrays:")
    c.toDF(Seq(
      Funcs.where(li.l_quantity > 25, li.l_quantity, Df.lit(0.0)).as("w"),
      Funcs.clip(li.l_quantity, Df.lit(10.0), Df.lit(40.0)).as("clipped"))).show(3)
    c.toDF(Seq(e.vec_id,
      Funcs.minimum(e.embedding, Df.lit(0f)).sum().as("neg_mass"))).show(3)

    // elementwise collection arithmetic (d.jets.px / d.jets.pt analog)
    println("— elementwise arithmetic over a collection leaf (zip_with/transform):")
    c.toDF(Seq(e.vec_id, (e.embedding * 2.0).max().as("max_x2"))).show(3)

    println("— corpus-side: quality filter over the documents table via DSL masks:")
    val d = Df.root("documents")
    c.toDF(d((d.n_chars > 200) && (d.lang === "en"))).show(3)

    println("— physical plan of the nested-filter query:")
    c.toDF(Seq(e.vec_id, emb(emb > 0f).count().as("n_pos"))).explain("formatted")
    spark.stop()
  }
}
