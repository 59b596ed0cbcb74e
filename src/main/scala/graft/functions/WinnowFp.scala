package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `winnow_fp(text)` — the d7 winnowing fingerprint set as a native
  * codegen'd expression.
  *
  * Bit-identical to the SQL formulation: per character position i a
  * 32-bit hash h_i = unsigned int of md5(substring(text, i+1, 5))'s
  * last four digest bytes (character positions, so multibyte text
  * hashes the same 5-char windows both engines see); then the distinct
  * minima of every 4-hash sliding window (first-occurrence order, like
  * array_distinct); fewer than 4 hashes → the distinct hashes
  * themselves; text shorter than 5 chars → empty. The SQL version pays
  * an interpreted lambda + hex/conv string round-trip per character
  * position; this computes digests in one compiled loop
  * (PERF.md round 6, "Native winnowing expression", has the gap).
  */
object WinnowFp {

  private val digestTl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(text: UTF8String): ArrayData = {
    val nChars = if (text == null) 0 else text.numChars()
    if (nChars < 5) return new GenericArrayData(Array.empty[Any])
    val m = nChars - 4
    val h = new Array[Long](m)
    val md = digestTl.get()
    var i = 0
    while (i < m) {
      md.reset()
      val d = md.digest(text.substring(i, i + 5).getBytes)
      h(i) = ((d(12) & 0xffL) << 24) | ((d(13) & 0xffL) << 16) |
        ((d(14) & 0xffL) << 8) | (d(15) & 0xffL)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (m < 4) {
      var j = 0
      while (j < m) { seen.add(h(j)); j += 1 }
    } else {
      var j = 0
      while (j + 3 < m) {
        var mn = h(j)
        if (h(j + 1) < mn) mn = h(j + 1)
        if (h(j + 2) < mn) mn = h(j + 2)
        if (h(j + 3) < mn) mn = h(j + 3)
        seen.add(mn)
        j += 1
      }
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next().longValue(); k += 1 }
    new GenericArrayData(out)
  }

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[WinnowFpExpression].getName, "winnow_fp")

  val builder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "winnow_fp takes (text string)")
    WinnowFpExpression(args.head)
  }
}

case class WinnowFpExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fp"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_fp expects string, got ${child.dataType}")

  override protected def nullSafeEval(text: Any): Any =
    WinnowFp.compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.WinnowFp.compute($t)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFpExpression =
    copy(child = newChild)
}
