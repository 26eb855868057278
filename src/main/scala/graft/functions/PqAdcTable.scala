package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Per-query ADC lookup table for PQ search (Jégou, Douze & Schmid, TPAMI
  * 2011): `dlut[b·ks + c] = q_b · cb[b][c]` — the query's dot product with
  * every codebook row, the table [[graft.operators.Similarity.pqTopK]]'s
  * scoring stage reads with `m` `element_at` lookups per candidate.
  *
  * Why a native expression and not a Column-composed `array(...)`: the
  * composed spelling unrolls to m×ks array elements of subDim products each
  * — 16 384 terms at the production m=8/ks=256 point — which blows janino's
  * 64 KB method limit (observed: "Code grows beyond 64 KB" followed by the
  * whole stage falling back to interpreted). A nested LOOP over a hoisted
  * codebook reference is a few hundred bytes of bytecode at ANY ks, stays
  * inside whole-stage codegen, and runs the same multiply-adds. This is the
  * expression-design rule the module follows everywhere: unroll only what
  * is small and shape-fixed ([[VectorFns]] at dim=64); loop what scales
  * with a tuning knob.
  *
  * Cost model (why the table lives on the QUERY relation): the m×ks×subDim
  * multiply-adds happen once per QUERY row; candidates then pay m array
  * lookups each. The corpus never touches the codebook at search time.
  *
  * Null contract: null vector → null table; null elements and wrong-length
  * vectors fail loudly (same as [[PqEncode]] — a silent 0.0 would mis-rank
  * every candidate of that query instead of surfacing the upstream bug).
  */
case class PqAdcTable(child: Expression, codebooks: Seq[Double], m: Int,
                      subDim: Int, ks: Int)
    extends UnaryExpression {

  require(m > 0 && subDim > 0 && ks > 0 &&
    codebooks.length == m * ks * subDim,
    s"codebook length ${codebooks.length} != m=$m × ks=$ks × subDim=$subDim")

  private val dim: Int = m * subDim

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_adc_table"
  override def toString: String =
    s"$prettyName($child, m=$m, ks=$ks, subDim=$subDim)"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${t.catalogString}")
  }

  @transient private lazy val flat: Array[Double] = codebooks.toArray

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (a.numElements() != dim) throw new IllegalArgumentException(
      s"$prettyName: vector has ${a.numElements()} elements, expected $dim")
    var chk = 0
    while (chk < dim) {
      if (a.isNullAt(chk)) throw new IllegalArgumentException(
        s"$prettyName: null element at index $chk")
      chk += 1
    }
    val out = new Array[Double](m * ks)
    var r = 0
    while (r < m * ks) {
      val b = r / ks
      var dot = 0.0
      var i = 0
      while (i < subDim) {
        dot += a.getFloat(b * subDim + i).toDouble * flat(r * subDim + i)
        i += 1
      }
      out(r) = dot
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqAdcCodebooks", flat, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("dlut")
      val r = ctx.freshName("r")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |if ($a.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "pq_adc_table: vector has " + $a.numElements() +
         |    " elements, expected " + $dim);
         |}
         |for (int $i = 0; $i < $dim; $i++) {
         |  if ($a.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "pq_adc_table: null element at index " + $i);
         |  }
         |}
         |double[] $out = new double[${m * ks}];
         |for (int $r = 0; $r < ${m * ks}; $r++) {
         |  int $b = $r / $ks;
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $subDim; $i++) {
         |    $dot += ((double) $a.getFloat($b * $subDim + $i))
         |      * $cbRef[$r * $subDim + $i];
         |  }
         |  $out[$r] = $dot;
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqAdcTable {
  import org.apache.spark.sql.{Column, GraftInternals}

  def apply(vec: Column, codebooks: Array[Double], m: Int, subDim: Int,
            ks: Int): Column =
    GraftInternals.column(
      new PqAdcTable(GraftInternals.expression(vec), codebooks.toSeq, m,
        subDim, ks))
}
