package graft.functions

import org.apache.spark.sql.{Column, GraftInternals}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Index of the cosine-nearest centroid for a float vector — the assignment
  * step of Lloyd's algorithm ([[graft.operators.Similarity.kMeansCentroids]])
  * and of IVF cell routing, as a whole-stage-codegen'd Catalyst expression.
  *
  * The `k × dim` centroid matrix rides along as ONE row-major `double[]`
  * reference object (rows pre-normalized to unit L2 by [[NearestCentroid
  * .flatNormalized]]), hoisted out of the row loop by codegen — the same
  * shape as [[LshBandBuckets]]' hyperplane matrix. Against unit rows,
  * argmax dot == argmax cosine, so the vector's own norm never needs
  * computing. Declarative alternatives lose the same way they did for LSH:
  * HOF lambdas are interpreted per element, and a k × dim unroll blows the
  * codegen method limit.
  *
  * Ties (equal dot) keep the LOWEST cell index — deterministic on every
  * node. A zero-norm centroid row normalizes to all-zeros (dot 0), so it can
  * only win cells no real centroid wants. Null vectors return null; null
  * ELEMENTS and wrong-length vectors fail loudly (contract shared with
  * [[LshBandBuckets]] / [[VectorMeanAgg]] — parquet arrays are
  * containsNull=true even when no null occurs, and a silent 0.0 or a
  * truncated dot would mis-assign the row instead of surfacing the bug).
  */
case class NearestCentroid(child: Expression, cents: Seq[Double], dim: Int)
    extends UnaryExpression {

  require(dim > 0 && cents.nonEmpty && cents.length % dim == 0,
    s"centroid matrix (${cents.length}) must be a nonempty multiple of dim=$dim")

  val k: Int = cents.length / dim

  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"
  // k×dim doubles would otherwise print into every explain string
  override def toString: String = s"$prettyName($child, k=$k, dim=$dim)"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${t.catalogString}")
  }

  @transient private lazy val flat: Array[Double] = cents.toArray

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    // same loud-fail contract as null elements: a truncated/padded dot would
    // silently assign the row to a wrong cell, hiding an upstream dim bug
    if (a.numElements() != dim) throw new IllegalArgumentException(
      s"$prettyName: vector has ${a.numElements()} elements, expected $dim")
    val d = dim
    var chk = 0
    while (chk < d) {
      if (a.isNullAt(chk)) throw new IllegalArgumentException(
        s"$prettyName: null element at index $chk")
      chk += 1
    }
    var best = 0; var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      var dot = 0.0
      val off = c * dim
      var i = 0
      while (i < d) { dot += a.getFloat(i).toDouble * flat(off + i); i += 1 }
      if (dot > bestDot) { bestDot = dot; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("centroids", flat, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val d = ctx.freshName("d")
      val best = ctx.freshName("best")
      val bestDot = ctx.freshName("bestDot")
      val c = ctx.freshName("c")
      val dot = ctx.freshName("dot")
      val off = ctx.freshName("off")
      val i = ctx.freshName("i")
      s"""
         |if ($a.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "nearest_centroid: vector has " + $a.numElements() +
         |    " elements, expected " + $dim);
         |}
         |int $d = $dim;
         |for (int $i = 0; $i < $d; $i++) {
         |  if ($a.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "nearest_centroid: null element at index " + $i);
         |  }
         |}
         |int $best = 0;
         |double $bestDot = Double.NEGATIVE_INFINITY;
         |for (int $c = 0; $c < $k; $c++) {
         |  double $dot = 0.0;
         |  int $off = $c * $dim;
         |  for (int $i = 0; $i < $d; $i++) {
         |    $dot += ((double) $a.getFloat($i)) * $centsRef[$off + $i];
         |  }
         |  if ($dot > $bestDot) { $bestDot = $dot; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroid {

  /** Row-major `k × dim` matrix with every row scaled to unit L2 (zero rows
    * stay zero), so the expression's dot products rank by cosine without a
    * per-row norm.
    */
  def flatNormalized(cents: Array[Array[Double]], dim: Int): Array[Double] = {
    val flat = new Array[Double](cents.length * dim)
    var c = 0
    while (c < cents.length) {
      val row = cents(c)
      var nrm = 0.0
      var i = 0
      while (i < dim) { nrm += row(i) * row(i); i += 1 }
      nrm = math.sqrt(nrm)
      i = 0
      while (i < dim) {
        flat(c * dim + i) = if (nrm == 0.0) 0.0 else row(i) / nrm
        i += 1
      }
      c += 1
    }
    flat
  }

  def apply(v: Column, cents: Array[Array[Double]], dim: Int): Column =
    GraftInternals.column(NearestCentroid(
      GraftInternals.expression(v),
      flatNormalized(cents, dim).toIndexedSeq, dim))
}
