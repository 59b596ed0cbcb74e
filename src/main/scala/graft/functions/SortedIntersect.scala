package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, IntegerType, NullType, ShortType}

/** `sorted_intersect_size(a, b)` — |a ∩ b| for two SORTED int arrays
  * (duplicate-free), as a native codegen'd two-pointer merge.
  *
  * This is the set-similarity verify hot path (SetSimJoin): built-in
  * `array_intersect` builds a hash set per evaluation and materializes
  * the intersection array just to take its size, and on string tokens
  * each probe pays UTF8String hashing — measured 3.3× slower than the
  * interned-int merge at sf0.1 (PERF.md "Round-8 late additions").
  * The merge does one linear pass over the two ArrayData buffers,
  * allocates nothing, and each comparison is a primitive int compare.
  *
  * CONTRACT: both arrays ascending-sorted and deduped — exactly what
  * SetSimJoin's `sort_array(collect_list(tid))` over distinct tokens
  * produces. Unsorted input under-counts; the operator owns the
  * invariant, the expression documents it. Element TYPES are enforced
  * at analysis (`checkInputDataTypes` rejects non-integral element
  * types — a blind Cast would turn string arrays into all-null arrays
  * and count garbage); NULL elements are skipped (they can't match
  * anything, and `sort_array` places nulls first so the non-null
  * suffix stays sorted).
  */
object SortedIntersect {

  /** Shared by eval and generated code: two-pointer merge count.
    * Null slots are advanced past — reading `getInt` on a null slot
    * would return garbage.
    */
  def size(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val x = a.getInt(i)
        val y = b.getInt(j)
        if (x == y) { c += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    }
    c
  }

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[SortedIntersectSizeExpression].getName, "sorted_intersect_size")

  val builder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, "sorted_intersect_size takes (array_a, array_b)")
    // widen NARROWER integral element types to int (lossless); anything
    // else passes through unchanged so checkInputDataTypes rejects it
    // at analysis instead of a Cast silently nulling the elements
    def norm(e: Expression): Expression =
      if (!e.resolved) e
      else e.dataType match {
        case ArrayType(IntegerType, _) => e
        case ArrayType(ByteType | ShortType, n) =>
          Cast(e, ArrayType(IntegerType, n))
        // empty/all-null literals (SQL `array()`) type as array<void>;
        // the cast yields null elements, which size() skips
        case ArrayType(NullType, _) =>
          Cast(e, ArrayType(IntegerType, containsNull = true))
        case _ => e
      }
    SortedIntersectSizeExpression(norm(args(0)), norm(args(1)))
  }
}

case class SortedIntersectSizeExpression(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  // reject non-int element types at ANALYSIS: the old blind Cast turned
  // string arrays into arrays of nulls and silently counted wrong
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<int> arguments (sorted, deduped); " +
          s"got ${l.catalogString}, ${r.catalogString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersect.size(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedIntersect.size($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSizeExpression =
    copy(left = newLeft, right = newRight)
}
