package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ColumnConversions.expression
import org.apache.spark.sql.graft.PlanBridge.column
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native per-row kernels of the MinHash near-dup chain (SURVEY B23):
  * the distinct 5-gram shingle set of a text and its 16-slot MinHash
  * signature. Each replaces a higher-order-function form that Spark runs
  * interpreted (`transform`, `aggregate` and `zip_with` are
  * `CodegenFallback`), allocating a 5-token slice, a joined string and
  * two 16-slot arrays per shingle. Here each row is one loop over the
  * text's bytes or the shingle array, and the expressions generate code,
  * so their projection stays inside whole-stage codegen.
  *
  * The results are bit-identical to the forms they replace (MinhashKernelsSpec
  * compares both on edge cases and a seeded corpus); the DuckDB oracle
  * spells the same arithmetic in SQL.
  *
  * They are built as Columns directly ([[MinhashKernels.docShingles]],
  * [[MinhashKernels.minhashSignature]]), so the operators need no
  * function registration. */
object MinhashKernels {
  /** 2³¹ − 1, the modulus of the affine hash family. */
  val MersennePrime: Long = 2147483647L

  /** Distinct 5-gram shingles of `text` as an `array<string>`, in
    * first-occurrence order: `array_distinct` over the 5-token windows of
    * `split(text, " ")`, each joined by single spaces; a text of fewer
    * than 5 tokens is one shingle, the whole text. Tokens keep Spark's
    * `split` semantics (every space separates, so empty tokens stay).
    * NULL text yields `[""]`, as `concat_ws` over the NULL split does. */
  def docShingles(text: Column): Column =
    column(DocShingles(expression(text)))

  /** 16-slot MinHash signature of an `array<string>` of shingles: one
    * base hash per shingle, the top 60 bits of the md5 of its UTF-8
    * bytes masked to 31 bits, then the running minimum of
    * (aᵢ·h + bᵢ) mod (2³¹−1) per slot. An empty array gives
    * 2³¹−1 in every slot; a NULL array gives NULL; NULL elements are
    * skipped. */
  def minhashSignature(shs: Column, affine: Seq[(Long, Long)]): Column =
    column(MinhashSignature(expression(shs), affine))

  private val Space: Byte = ' '.toByte

  /** [[DocShingles]]' kernel. A space byte never occurs inside a
    * multi-byte UTF-8 sequence, so splitting on it is `split(text, " ")`,
    * and a window of 5 tokens joined by spaces is the text's byte range
    * from the first token's start to the fifth token's end. */
  def shingles(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    var nTok = 1
    var i = 0
    while (i < n) { if (bytes(i) == Space) nTok += 1; i += 1 }
    if (nTok < 5) return new GenericArrayData(Array[Any](UTF8String.fromBytes(bytes)))
    // starts(k) is token k's first byte; starts(nTok) = n + 1 closes the last
    val starts = new Array[Int](nTok + 1)
    var k = 1
    i = 0
    while (i < n) { if (bytes(i) == Space) { starts(k) = i + 1; k += 1 }; i += 1 }
    starts(nTok) = n + 1
    val nWin = nTok - 4
    val seen = new java.util.HashSet[UTF8String](nWin * 2)
    val out = new Array[Any](nWin)
    var m = 0
    var w = 0
    while (w < nWin) {
      val from = starts(w)
      val sh = UTF8String.fromBytes(bytes, from, starts(w + 5) - 1 - from)
      if (seen.add(sh)) { out(m) = sh; m += 1 }
      w += 1
    }
    new GenericArrayData(if (m == nWin) out else out.take(m))
  }

  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))
  private val digestBuf = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](16))

  /** Top 60 bits of the md5 of `s`'s UTF-8 bytes, masked to 31 bits:
    * `md5Long(s) & 0x7fffffff`. */
  private def baseHash(s: UTF8String, md: MessageDigest, d: Array[Byte]): Long = {
    s.getBaseObject match {
      case arr: Array[Byte] =>
        md.update(arr, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
      case _ => md.update(s.getBytes)
    }
    md.digest(d, 0, 16)
    var top = 0L
    var i = 0
    while (i < 8) { top = (top << 8) | (d(i) & 0xffL); i += 1 }
    (top >>> 4) & 0x7fffffffL
  }

  /** [[MinhashSignature]]'s kernel. Every intermediate is below 2⁶², so
    * the long arithmetic is exact. */
  def signature(shs: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val md = md5.get()
    val d = digestBuf.get()
    val k = a.length
    val sig = Array.fill(k)(MersennePrime)
    val n = shs.numElements()
    var i = 0
    while (i < n) {
      if (!shs.isNullAt(i)) {
        val h = baseHash(shs.getUTF8String(i), md, d)
        var j = 0
        while (j < k) {
          val v = (a(j) * h + b(j)) % MersennePrime
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }
}

/** `doc_shingles(text)`: see [[MinhashKernels.docShingles]]. */
case class DocShingles(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"doc_shingles requires a string, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "doc_shingles"

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    MinhashKernels.shingles(if (t == null) UTF8String.EMPTY_UTF8 else t.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val k = MinhashKernels.getClass.getName.stripSuffix("$")
    ev.copy(code = code"""
      |${c.code}
      |${classOf[ArrayData].getName} ${ev.value} = $k.shingles(
      |  ${c.isNull} ? ${classOf[UTF8String].getName}.EMPTY_UTF8 : ${c.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): DocShingles =
    copy(child = newChild)
}

/** `minhash_sig(shs)` under a fixed affine family: see
  * [[MinhashKernels.minhashSignature]]. */
case class MinhashSignature(child: Expression, affine: Seq[(Long, Long)])
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"minhash_sig requires array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  // the family is a fixed parameter, not an argument: plans print the child only
  override protected def flatArguments: Iterator[Any] = Iterator(child)

  @transient private lazy val a: Array[Long] = affine.map(_._1).toArray
  @transient private lazy val b: Array[Long] = affine.map(_._2).toArray

  override def nullSafeEval(shs: Any): Any =
    MinhashKernels.signature(shs.asInstanceOf[ArrayData], a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", affine.map(_._1).toArray, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", affine.map(_._2).toArray, "long[]")
    val k = MinhashKernels.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, shs => s"$k.signature($shs, $aRef, $bRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}
