package graft.functions

import org.apache.spark.sql.{Column, GraftInternals}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** `|A ∩ B|` for two SORTED, DISTINCT `array<bigint>` columns — a native
  * Catalyst expression with whole-stage codegen.
  *
  * Spark's `array_intersect` builds a hash set per invocation; in a pairwise
  * similarity loop that allocation dominates (measured ~70 s for 12.5M pairs
  * at sf0.1). A two-pointer merge over pre-sorted long arrays is
  * allocation-free and branch-cheap; sorting happens once per document, not
  * once per pair. This is the (b)-tier extension point from the design notes:
  * a scalar `Expression` with `doGenCode`, not a UDF.
  *
  * Inputs MUST be sorted ascending with distinct elements (e.g.
  * `array_sort(hashedShingles(...))`); behavior on unsorted input is an
  * undercount, exactly like a merge-join on unsorted runs.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  // Registered as a SQL function (GraftFunctions) — the long-slot ArrayData
  // reads below must be an analysis-time error for e.g. array<int> input,
  // not a silent misread of 4-byte slots. (checkInputDataTypes rather than
  // ExpectsInputTypes: AbstractDataType is private[sql].)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>), " +
          s"got (${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val la = a.numElements()
    val lb = b.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < la && j < lb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val la = ctx.freshName("la"); val lb = ctx.freshName("lb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val n = ctx.freshName("n")
      // ev.value is declared by nullSafeCodeGen's wrapper — assign, don't redeclare
      s"""
         |int $la = $a.numElements();
         |int $lb = $b.numElements();
         |int $i = 0; int $j = 0; int $n = 0;
         |while ($i < $la && $j < $lb) {
         |  long $x = $a.getLong($i);
         |  long $y = $b.getLong($j);
         |  if ($x == $y) { $n++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  def apply(a: Column, b: Column): Column =
    GraftInternals.column(SortedIntersectSize(
      GraftInternals.expression(a), GraftInternals.expression(b)))
}
