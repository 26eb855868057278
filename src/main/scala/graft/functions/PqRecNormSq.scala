package graft.functions

import org.apache.spark.sql.{Column, GraftInternals}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** ‖centroid + decode(codes)‖² — the reconstruction-norm term of a
  * residual-encoded IVF-PQ index entry (IVFADC, Jégou, Douze & Schmid,
  * TPAMI 2011 §IV-B: each vector is stored as its coarse cell plus PQ
  * codes of the RESIDUAL x − c, so the reconstruction is x̂ = c + r̂ and
  * cosine scoring needs ‖x̂‖ once per stored vector).
  *
  * Inputs are the m-element `array<int>` code column and the probed cell's
  * `array<double>` centroid; the m×ks×subDim residual codebook rides as a
  * reference object hoisted out of the row loop (the [[PqEncode]] /
  * [[PqAdcTable]] shape). Computed ONCE at encode time and stored next to
  * the codes — at search time the scan reads it as a plain float column,
  * so the per-candidate cost stays at m table lookups regardless of dim.
  *
  * Why a native loop and not an unrolled `element_at` chain: the chain is
  * dim terms of (centroid lookup + codebook lookup + square) — 64 terms
  * today, but dim is a corpus property, not a compile-time constant, and
  * at production dims (768–4096) the unrolled spelling blows janino's
  * 64 KB method limit exactly like the composed ADC table did (see
  * [[PqAdcTable]]). The loop is a few hundred bytes of bytecode at any
  * dim and stays inside whole-stage codegen.
  *
  * Null contract: either input null → null; wrong lengths and null
  * elements fail loudly (a silent 0.0 would mis-norm the row and corrupt
  * every cosine against it — same rule as the rest of the PQ family).
  */
case class PqRecNormSq(left: Expression, right: Expression,
                       codebooks: Seq[Double], m: Int, subDim: Int, ks: Int)
    extends BinaryExpression {

  require(m > 0 && subDim > 0 && ks > 0 &&
    codebooks.length == m * ks * subDim,
    s"codebook length ${codebooks.length} != m=$m × ks=$ks × subDim=$subDim")

  private val dim: Int = m * subDim

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_rec_norm_sq"
  // m×ks×subDim doubles would otherwise print into every explain string
  override def toString: String =
    s"$prettyName($left, $right, m=$m, ks=$ks, subDim=$subDim)"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<int> codes, array<double> centroid), " +
          s"got (${l.catalogString}, ${r.catalogString})")
    }

  @transient private lazy val flat: Array[Double] = codebooks.toArray

  override def nullSafeEval(l: Any, r: Any): Any = {
    val codes = l.asInstanceOf[ArrayData]
    val cent = r.asInstanceOf[ArrayData]
    if (codes.numElements() != m) throw new IllegalArgumentException(
      s"$prettyName: ${codes.numElements()} codes, expected $m")
    if (cent.numElements() != dim) throw new IllegalArgumentException(
      s"$prettyName: centroid has ${cent.numElements()} elements, expected $dim")
    var s = 0.0
    var b = 0
    while (b < m) {
      if (codes.isNullAt(b)) throw new IllegalArgumentException(
        s"$prettyName: null code at block $b")
      val row = b * ks + codes.getInt(b)
      var i = 0
      while (i < subDim) {
        val idx = b * subDim + i
        if (cent.isNullAt(idx)) throw new IllegalArgumentException(
          s"$prettyName: null centroid element at index $idx")
        val v = cent.getDouble(idx) + flat(row * subDim + i)
        s += v * v
        i += 1
      }
      b += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqResidualCodebooks", flat, "double[]")
    nullSafeCodeGen(ctx, ev, (codes, cent) => {
      val s = ctx.freshName("s")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val row = ctx.freshName("row")
      val idx = ctx.freshName("idx")
      val v = ctx.freshName("v")
      s"""
         |if ($codes.numElements() != $m) {
         |  throw new IllegalArgumentException(
         |    "pq_rec_norm_sq: " + $codes.numElements() +
         |    " codes, expected " + $m);
         |}
         |if ($cent.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "pq_rec_norm_sq: centroid has " + $cent.numElements() +
         |    " elements, expected " + $dim);
         |}
         |double $s = 0.0;
         |for (int $b = 0; $b < $m; $b++) {
         |  if ($codes.isNullAt($b)) {
         |    throw new IllegalArgumentException(
         |      "pq_rec_norm_sq: null code at block " + $b);
         |  }
         |  int $row = $b * $ks + $codes.getInt($b);
         |  for (int $i = 0; $i < $subDim; $i++) {
         |    int $idx = $b * $subDim + $i;
         |    if ($cent.isNullAt($idx)) {
         |      throw new IllegalArgumentException(
         |        "pq_rec_norm_sq: null centroid element at index " + $idx);
         |    }
         |    double $v = $cent.getDouble($idx) + $cbRef[$row * $subDim + $i];
         |    $s += $v * $v;
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PqRecNormSq {
  def apply(codes: Column, centroid: Column, codebooks: Array[Double], m: Int,
            subDim: Int, ks: Int): Column =
    GraftInternals.column(
      new PqRecNormSq(GraftInternals.expression(codes),
        GraftInternals.expression(centroid), codebooks.toSeq, m, subDim, ks))
}
