package graft

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.expressions.MinhashKernels
import graft.ops.LlmOps

/** The native shingle and signature kernels against the higher-order-
  * function forms they replaced, which survive here only as the
  * reference: the same shingle arrays (order included) and the same 16
  * signature slots on every edge case and on a seeded corpus, row for
  * row, through both the generated-code and the interpreted path. */
class MinhashKernelsSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark

  private val MP = 2147483647L

  /** The replaced shingle form: `array_distinct` over 5-token windows of
    * `split(text, " ")`, whole text under 5 tokens. */
  private def refShingles(text: Column): Column = {
    val t = split(text, " ")
    array_distinct(
      when(functions.size(t) >= 5,
        transform(sequence(lit(1), functions.size(t) - 4),
          i => concat_ws(" ", slice(t, i, lit(5)))))
        .otherwise(array(concat_ws(" ", t))))
  }

  /** The replaced signature fold: one md5Long per shingle masked to 31
    * bits, a 16-slot running minimum via `aggregate`/`zip_with`. */
  private def refSig(shs: Column): Column = {
    val baseHashes = transform(shs, x => LlmOps.md5Long(x).bitwiseAND(lit(0x7fffffffL)))
    val affines: Column => Column = h =>
      array(LlmOps.minhashAffine.map { case (a, b) => (lit(a) * h + lit(b)) % lit(MP) }: _*)
    aggregate(baseHashes, array_repeat(lit(MP), 16),
      (acc, h) => zip_with(acc, affines(h), (p, q) => least(p, q)))
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case v => v
    })

  /** (id, ref shingles, kernel shingles, ref sig, kernel sig) agree. */
  private def assertParity(docs: DataFrame): Unit = {
    // the exchange keeps the projection out of ConvertToLocalRelation's
    // optimizer-time evaluation, so it runs in the chosen code path
    val both = docs.repartition(2).select(col("id"),
        refShingles(col("text")).as("rs"), MinhashKernels.docShingles(col("text")).as("ks"))
      .select(col("id"), col("rs"), col("ks"),
        refSig(col("rs")).as("rsig"), LlmOps.minhashSig(col("ks")).as("ksig"))
    for (r <- rows(both.orderBy("id"))) {
      withClue(s"doc ${r.head}: ") {
        r(2) shouldBe r(1)
        r(4) shouldBe r(3)
      }
    }
  }

  /** Runs `body` with generated code only (whole-stage codegen on) or
    * with every expression interpreted. */
  private def withCodegen[T](mode: String)(body: => T): T = {
    spark.conf.set("spark.sql.codegen.factoryMode", mode)
    spark.conf.set("spark.sql.codegen.wholeStage", (mode == "CODEGEN_ONLY").toString)
    try body
    finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  private val edgeTexts: Seq[String] = Seq(
    null, "", " ", "     ", "a", "a b c d", "a b c d e",
    "a b c d e a b c d e a b c d e f", // repeated shingles, first occurrence kept
    "x y x y x y x y x y",
    "a  b c d e f", "a b c d e f ", " a b c d e f", "a b c d e f  ",
    "é ü 日本 語 ñ ß 🙂 ok", "naïve café", "日本 語")

  test("kernels match the higher-order forms on the edge cases, codegen and interpreted") {
    import spark.implicits._
    val docs = edgeTexts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) withClue(s"$mode: ") {
      withCodegen(mode)(assertParity(docs))
    }
  }

  test("NULL text gives the whole-text shingle of the empty string") {
    import spark.implicits._
    val r = Seq((1, null: String)).toDF("id", "text")
      .select(MinhashKernels.docShingles(col("text"))).head()
    r.getSeq[String](0) shouldBe Seq("")
  }

  test("empty shingle array signs 16 x (2^31 - 1); NULL array signs NULL; NULL elements are skipped") {
    import spark.implicits._
    val arrs = Seq((1, Seq.empty[String]), (2, null: Seq[String]),
        (3, Seq("a b c d e", null)), (4, Seq("a b c d e")))
      .toDF("id", "shs")
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) withClue(s"$mode: ") {
      val got = withCodegen(mode)(arrs.repartition(2)
        .select(col("id"), LlmOps.minhashSig(col("shs")).as("k"), refSig(col("shs")).as("r"))
        .orderBy("id").collect())
      got(0).getSeq[Long](1) shouldBe Seq.fill(16)(MP)
      got(1).isNullAt(1) shouldBe true
      got.foreach(r => Option(r.getSeq[Long](1)) shouldBe Option(r.getSeq[Long](2)))
      got(2).getSeq[Long](1) shouldBe got(3).getSeq[Long](1)
    }
  }

  test("kernels match the higher-order forms row for row on a seeded 500-doc corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261022)
    val vocab = Vector("the", "a", "of", "data", "frame", "spark", "über", "naïve",
      "日本", "graft", "", "x", "y", "z", "shingle", "hash")
    val texts = (0 until 500).map { i =>
      val n = rnd.nextInt(40)
      val body = (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
      // some docs repeat a phrase to exercise the first-occurrence order
      if (i % 7 == 0) (body ++ body.take(6)).mkString(" ") else body.mkString(" ")
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")
    assertParity(docs)
  }

  test("kernels match the higher-order forms on the documents fixture") {
    val d = graft.io.Tables.documents(spark, TestSpark.sf).withColumnRenamed("doc_id", "id")
    assertParity(d)
  }
}
