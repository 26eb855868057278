package graft.functions

import org.apache.spark.sql.{Column, GraftInternals}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Product-quantization encoder (Jégou, Douze & Schmid, TPAMI 2011): a
  * `dim`-dim float vector splits into `m` contiguous sub-blocks of
  * `subDim = dim/m` dims, and each block is replaced by the index of its
  * L2-NEAREST row in that block's `ks`-row codebook — one `array<int>` of
  * `m` codes per vector, 8 bits of information per code at ks=256 (the
  * shipped [[graft.operators.Similarity.pqTopK]] defaults are m=16/ks=32
  * on the dim=64 test corpus; the expression is ks-generic and the
  * battery also exercises the standard m=8/ks=256 8-bit point).
  *
  * This is the storage layer of the IVF-ADC family: at 100 TB of float32
  * embeddings, m=8 one-byte codes replace 256 bytes of floats (32×), and
  * search never decodes — [[graft.operators.Similarity.pqTopK]] scores by
  * table lookup against the SAME codebook this expression encodes with.
  *
  * Metric contract: argmin ‖x_b − c‖² per block (reconstruction-faithful —
  * PQ approximates x by the concatenation of its chosen rows, so encode
  * must minimize per-block L2 error; contrast [[NearestCentroid]], which
  * ranks whole vectors by cosine for IVF routing). The squared distance is
  * expanded as ‖c‖² − 2·x_b·c — ‖x_b‖² is constant within a block and
  * cannot change the argmin, so the hot loop is one fused multiply-add per
  * (dim, code) pair plus a precomputed row-norm table. Ties keep the
  * lowest code. The `m × ks × subDim` codebook and its `m × ks` row-norm
  * table ride along as two reference objects hoisted out of the row loop
  * (the [[NearestCentroid]] / [[LshBandBuckets]] shape). Null vectors
  * return null; null elements and wrong-length vectors fail loudly (the
  * module-wide parquet containsNull contract — a silent 0.0 would
  * mis-encode the row instead of surfacing the upstream bug).
  */
case class PqEncode(child: Expression, codebooks: Seq[Double], m: Int,
                    subDim: Int, ks: Int)
    extends UnaryExpression {

  require(m > 0 && subDim > 0 && ks > 0 &&
    codebooks.length == m * ks * subDim,
    s"codebook length ${codebooks.length} != m=$m × ks=$ks × subDim=$subDim")

  private val dim: Int = m * subDim

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  // m×ks×subDim doubles would otherwise print into every explain string
  override def toString: String =
    s"$prettyName($child, m=$m, ks=$ks, subDim=$subDim)"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${t.catalogString}")
  }

  @transient private lazy val flat: Array[Double] = codebooks.toArray

  /** ‖row‖² per codebook row, precomputed once per executor — the
    * query-independent half of the expanded distance.
    */
  @transient private lazy val rowNormSq: Array[Double] = {
    val out = new Array[Double](m * ks)
    var r = 0
    while (r < m * ks) {
      var s = 0.0
      var i = 0
      while (i < subDim) {
        val v = flat(r * subDim + i); s += v * v; i += 1
      }
      out(r) = s
      r += 1
    }
    out
  }

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
    val codes = new Array[Int](m)
    var b = 0
    while (b < m) {
      var best = 0; var bestD = Double.PositiveInfinity
      var c = 0
      while (c < ks) {
        val row = b * ks + c
        var dot = 0.0
        var i = 0
        while (i < subDim) {
          dot += a.getFloat(b * subDim + i).toDouble * flat(row * subDim + i)
          i += 1
        }
        val d = rowNormSq(row) - 2.0 * dot
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(b) = best
      b += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebooks", flat, "double[]")
    val nrmRef = ctx.addReferenceObj("pqRowNormSq", rowNormSq, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val codes = ctx.freshName("codes")
      val b = ctx.freshName("b")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val row = ctx.freshName("row")
      val dot = ctx.freshName("dot")
      val dst = ctx.freshName("dst")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      s"""
         |if ($a.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "pq_encode: vector has " + $a.numElements() +
         |    " elements, expected " + $dim);
         |}
         |for (int $i = 0; $i < $dim; $i++) {
         |  if ($a.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "pq_encode: null element at index " + $i);
         |  }
         |}
         |int[] $codes = new int[$m];
         |for (int $b = 0; $b < $m; $b++) {
         |  int $best = 0;
         |  double $bestD = Double.POSITIVE_INFINITY;
         |  for (int $c = 0; $c < $ks; $c++) {
         |    int $row = $b * $ks + $c;
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $subDim; $i++) {
         |      $dot += ((double) $a.getFloat($b * $subDim + $i))
         |        * $cbRef[$row * $subDim + $i];
         |    }
         |    double $dst = $nrmRef[$row] - 2.0 * $dot;
         |    if ($dst < $bestD) { $bestD = $dst; $best = $c; }
         |  }
         |  $codes[$b] = $best;
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncode {

  /** `codebooks` is block-major: row `(b, c)` starts at
    * `((b * ks) + c) * subDim`.
    */
  def apply(v: Column, codebooks: Array[Double], m: Int, subDim: Int,
            ks: Int): Column =
    GraftInternals.column(PqEncode(
      GraftInternals.expression(v), codebooks.toIndexedSeq, m, subDim, ks))
}
