package graft.functions

import org.apache.spark.sql.{Column, GraftInternals}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Threshold-aware [[SortedIntersectSize]]: returns `|A ∩ B|` exactly when
  * it is ≥ `need`, and −1 otherwise — EARLY-EXITING the merge the moment
  * the bound `matched + min(remaining_A, remaining_B) < need` proves the
  * threshold unreachable.
  *
  * This is the verify kernel for high-threshold similarity joins, where
  * candidates that FAIL dominate: a candidate sharing only a few rare
  * tokens exits after ~(1−t)·|A| steps instead of scanning |A| + |B| — at
  * t = 0.9 that is ~10× less work on exactly the pairs that are pure
  * overhead. Candidates that pass scan to completion and return the same
  * exact count as [[SortedIntersectSize]] (spec-pinned), so thresholded
  * callers lose nothing: filter on the return value ≥ 0, then apply the
  * exact rounding contract to the survivors.
  *
  * Same input contract: sorted ascending, distinct `array<bigint>`.
  */
case class SortedIntersectAtLeast(first: Expression, second: Expression,
                                  third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_at_least"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r, n) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>, int), " +
          s"got (${l.catalogString}, ${r.catalogString}, ${n.catalogString})")
    }

  override def nullSafeEval(l: Any, r: Any, k: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val need = k.asInstanceOf[Int]
    val la = a.numElements()
    val lb = b.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < la && j < lb) {
      if (n + math.min(la - i, lb - j) < need) return -1
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    if (n >= need) n else -1
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, k) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val la = ctx.freshName("la"); val lb = ctx.freshName("lb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val n = ctx.freshName("n"); val rem = ctx.freshName("rem")
      s"""
         |int $la = $a.numElements();
         |int $lb = $b.numElements();
         |int $i = 0; int $j = 0; int $n = 0;
         |while ($i < $la && $j < $lb) {
         |  int $rem = ($la - $i < $lb - $j) ? ($la - $i) : ($lb - $j);
         |  if ($n + $rem < $k) { $n = -1; break; }
         |  long $x = $a.getLong($i);
         |  long $y = $b.getLong($j);
         |  if ($x == $y) { $n++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |${ev.value} = ($n >= $k) ? $n : -1;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object SortedIntersectAtLeast {
  def apply(a: Column, b: Column, need: Column): Column =
    GraftInternals.column(SortedIntersectAtLeast(
      GraftInternals.expression(a), GraftInternals.expression(b),
      GraftInternals.expression(need)))
}
