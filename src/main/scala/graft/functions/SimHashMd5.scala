package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** `simhash_md5(words)` — the 32-bit md5-derived simhash the d4 gate
  * computes, as a native codegen'd expression.
  *
  * Bit-identical to the SQL formulation
  * `aggregate(sequence(0,31), 0L, (acc,b) -> acc + IF(aggregate(hs, 0L,
  * (a,h) -> a + (((h>>b)&1)*2-1)) > 0, 1L<<b, 0L))` with
  * `hs = transform(w, x -> conv(substring(md5(x),25,8),16,10))` — i.e.
  * per token the digest's last four bytes as an unsigned 32-bit value,
  * then a ±1 bit-majority vote over the token MULTISET. The SQL version
  * evaluates O(32·n) interpreted higher-order lambda calls per row and
  * hex-encodes every digest; this computes one digest per token, votes
  * all 32 bits in one pass over raw bytes, and allocates nothing per
  * token (PERF.md round 6, "Native simhash expression", has the gap).
  */
object SimHashMd5 {

  private val digestTl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Shared by eval and generated code. Null tokens are skipped (split
    * never produces them); an empty/null array votes no bits → 0L,
    * matching the SQL aggregate over an empty array.
    */
  def compute(words: ArrayData): Long = {
    val n = if (words == null) 0 else words.numElements()
    val counts = new Array[Int](32)
    val md = digestTl.get()
    var i = 0
    while (i < n) {
      val w = words.getUTF8String(i)
      if (w != null) {
        md.reset()
        val d = md.digest(w.getBytes)
        // hex chars 25..32 = digest bytes 12..15, read unsigned
        val h = ((d(12) & 0xffL) << 24) | ((d(13) & 0xffL) << 16) |
          ((d(14) & 0xffL) << 8) | (d(15) & 0xffL)
        var b = 0
        while (b < 32) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) { if (counts(b) > 0) out |= 1L << b; b += 1 }
    out
  }

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[SimHashMd5Expression].getName, "simhash_md5")

  val builder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "simhash_md5 takes (words array<string>)")
    SimHashMd5Expression(args.head)
  }
}

case class SimHashMd5Expression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_md5"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash_md5 expects array<string>, got $other")
    }

  override protected def nullSafeEval(words: Any): Any =
    SimHashMd5.compute(words.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, w => s"graft.functions.SimHashMd5.compute($w)")

  override protected def withNewChildInternal(newChild: Expression): SimHashMd5Expression =
    copy(child = newChild)
}
