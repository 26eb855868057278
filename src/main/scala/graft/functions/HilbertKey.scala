package graft.functions

import org.apache.spark.sql.{Column, GraftInternals}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** 2-D Hilbert-curve index of `(x, y)` on a 2^bits × 2^bits grid — the
  * space-filling curve with STRICT cell adjacency: consecutive curve
  * positions are always Manhattan-distance-1 neighbors, which Morton
  * (Z-order) violates at every power-of-two boundary (the "Z jumps").
  * For zone-map layouts that adjacency means a range of curve positions
  * covers a tighter bounding box on average, so box predicates prune more
  * files at the same file size — the reason Databricks liquid clustering
  * and ClickHouse both moved from Morton keys to Hilbert.
  *
  * Algorithm: the classic iterative xy→d transform (Hamilton's compact
  * form as given in Wikipedia's "Hilbert curve" article, public domain):
  * walk bit planes from the top; at each scale `s` the quadrant index
  * `(3·rx) XOR ry` contributes `s²·q` to the distance, and the lower
  * plane is reflected/transposed into the quadrant's frame. A LOOP
  * codegen'd native expression (the [[PqAdcTable]] rule: `bits` is a
  * tuning knob, so an unrolled Column spelling — 31 chained
  * conditional-swap stages of CASE WHEN — would bloat generated code and
  * analysis time for zero gain).
  *
  * Contract: inputs must be integral, non-negative, and < 2^bits — out of
  * range fails loudly (silently masking high bits would alias distant
  * keys onto the same cell and quietly destroy locality, the exact bug
  * [[graft.operators.Layout.mortonKey]]'s 31-bit spread comment warns
  * about). Null in either input → null out.
  */
case class HilbertKey(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {

  require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")

  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_key"

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (integral(left.dataType) && integral(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires integral inputs, " +
        s"got (${left.dataType.catalogString}, ${right.dataType.catalogString})")

  private def toLong(v: Any): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
    case s: Short => s.toLong
    case b: Byte => b.toLong
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    var x = toLong(l)
    var y = toLong(r)
    val side = 1L << bits
    if (x < 0 || x >= side || y < 0 || y >= side)
      throw new IllegalArgumentException(
        s"$prettyName: ($x, $y) outside the 2^$bits grid")
    var d = 0L
    var s = side >> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val x = ctx.freshName("hx"); val y = ctx.freshName("hy")
      val d = ctx.freshName("hd"); val s = ctx.freshName("hs")
      val rx = ctx.freshName("rx"); val ry = ctx.freshName("ry")
      val t = ctx.freshName("ht")
      val side = 1L << bits
      s"""
         |long $x = (long) $l;
         |long $y = (long) $r;
         |if ($x < 0L || $x >= ${side}L || $y < 0L || $y >= ${side}L) {
         |  throw new IllegalArgumentException(
         |    "hilbert_key: (" + $x + ", " + $y + ") outside the 2^$bits grid");
         |}
         |long $d = 0L;
         |for (long $s = ${side >> 1}L; $s > 0L; $s >>= 1) {
         |  long $rx = (($x & $s) > 0L) ? 1L : 0L;
         |  long $ry = (($y & $s) > 0L) ? 1L : 0L;
         |  $d += $s * $s * ((3L * $rx) ^ $ry);
         |  if ($ry == 0L) {
         |    if ($rx == 1L) { $x = $s - 1L - $x; $y = $s - 1L - $y; }
         |    long $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HilbertKey {
  def apply(x: Column, y: Column, bits: Int): Column =
    GraftInternals.column(
      new HilbertKey(GraftInternals.expression(x),
        GraftInternals.expression(y), bits))
}
