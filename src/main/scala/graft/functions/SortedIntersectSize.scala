package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `sorted_intersect_size(a, b)`: size of the intersection of two SORTED
  * arrays (string or long elements) via a single merge scan.
  *
  * Rationale (SURVEY §2 custom-op preference (b)): `array_intersect`
  * builds a hash set per row — on a pair-verification join evaluating
  * millions of candidate pairs (MinHash/Jaccard dedup), that allocation
  * dominates. Sortedness is established once per document
  * (`array_sort` at tokenize time), then every pairwise intersection is a
  * linear merge with zero allocation. Codegen'd (`doGenCode`), so the
  * loop inlines into the whole-stage-generated join consumer. The long
  * variant (pre-hashed token sets) compares primitives — no UTF8String
  * dereference — and is the dedup-verification hot path.
  *
  * Contract: both inputs ascending-sorted, distinct, non-null elements
  * (token/hash sets satisfy this by construction), same element type.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  // the merge scan dispatches on the LEFT element type; require both sides
  // to be the same supported array type so a mismatch fails analysis
  // instead of reading garbage via getLong on a non-long array
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_size requires two array<bigint> or two " +
          s"array<string> inputs, got (${l.simpleString}, ${r.simpleString})")
    }

  private lazy val isLongElems: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val nx = x.numElements(); val ny = y.numElements()
    if (isLongElems) {
      while (i < nx && j < ny) {
        val u = x.getLong(i); val v = y.getLong(j)
        if (u == v) { c += 1; i += 1; j += 1 }
        else if (u < v) i += 1
        else j += 1
      }
    } else {
      while (i < nx && j < ny) {
        val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (cmp == 0) { c += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val body = if (isLongElems) {
        val u = ctx.freshName("u"); val v = ctx.freshName("v")
        s"""
          final long $u = $a.getLong($i);
          final long $v = $b.getLong($j);
          if ($u == $v) { $c++; $i++; $j++; }
          else if ($u < $v) { $i++; } else { $j++; }
        """
      } else {
        val cmp = ctx.freshName("cmp")
        s"""
          final int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
          if ($cmp == 0) { $c++; $i++; $j++; }
          else if ($cmp < 0) { $i++; } else { $j++; }
        """
      }
      s"""
        int $i = 0; int $j = 0; int $c = 0;
        final int $nx = $a.numElements();
        final int $ny = $b.numElements();
        while ($i < $nx && $j < $ny) {
          $body
        }
        ${ev.value} = $c;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  /** Column API. */
  def sortedIntersectSize(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftShim.column(
      SortedIntersectSize(
        org.apache.spark.sql.GraftShim.expression(a),
        org.apache.spark.sql.GraftShim.expression(b)))
}
